package graft

import org.apache.spark.sql.functions._

import graft.ops.{SpanDedup, SuffixDedup}

/** Suffix-ranking exact substring dedup (`ops/SuffixDedup.scala`,
  * q107): prefix-doubling equivalence classes replace q100's hashed
  * gram keys. The load-bearing assertion everywhere: the hash path and
  * the class path are INDEPENDENT algorithms that must produce
  * bitwise-identical span frames.
  */
class SuffixDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def spans(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("doc_id").cast("long"), col("span_start"),
        col("span_end"), col("span_len"))
      .as[(Long, Long, Long, Long)].collect().toSet

  test("hand case: one shared 30-char run yields the exact span in both docs") {
    val shared = "the quick brown fox jumps over" // 30 chars
    val docs = Seq(
      (0L, s"A$shared tail zero unique text."),
      (1L, s"prefix one $shared and more."),
      (2L, "completely unrelated content here.")).toDF("doc_id", "text")
    val got = spans(SuffixDedup.dupSpansExact(docs, gramLen = 24))
    // doc 0: the run starts at pos 2 (1-based), doc 1: at pos 12 — and
    // BOTH docs follow the run with a space, so the duplicated run is
    // 31 chars, not 30 (the gram pass finds the true maximal run, not
    // the planted string)
    assert(got === Set((0L, 2L, 32L, 31L), (1L, 12L, 42L, 31L)))
  }

  test("literal classes agree with the hash path on the sf0.001 corpus (L=24)") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val exact = spans(SuffixDedup.dupSpansExact(docs, gramLen = 24))
    val hashed = spans(SpanDedup.dupSpans(docs, gramLen = 24))
    assert(exact.nonEmpty, "fixture must contain duplicated spans")
    assert(exact === hashed)
  }

  test("power-of-two gram length (no asymmetric compose) agrees too") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
      .limit(60)
    val exact = spans(SuffixDedup.dupSpansExact(docs, gramLen = 16))
    val hashed = spans(SpanDedup.dupSpans(docs, gramLen = 16))
    assert(exact === hashed)
  }

  test("long gram (L=100): the full doubling chain + multi-bit compose agrees") {
    // L=100 = 64+32+4 exercises the doubling chain 8→16→32→64, a reused
    // intermediate level (32), and a sub-base direct level (4) — the
    // shuffle key never exceeds 8 chars no matter the L, which is the
    // long-span scale story. Hash path as the independent check.
    val rnd = new scala.util.Random(99)
    def junk(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar)
      .mkString
    val shared = junk(150)
    val docs = Seq(
      (0L, s"${junk(40)}$shared${junk(30)}"),
      (1L, s"${junk(7)}$shared${junk(55)}"),
      (2L, junk(260))).toDF("doc_id", "text")
    val exact = spans(SuffixDedup.dupSpansExact(docs, gramLen = 100))
    val hashed = spans(SpanDedup.dupSpans(docs, gramLen = 100))
    assert(exact.nonEmpty)
    assert(exact === hashed)
    // the planted 150-char run is recovered in both docs
    assert(exact.exists { case (d, s, _, l) => d == 0L && s == 41L && l >= 150L })
  }

  test("documents shorter than the gram contribute nothing") {
    val docs = Seq(
      (0L, "tiny"), (1L, "tiny"),
      (2L, "this is long enough to hold a full twenty-four gram"),
      (3L, "this is long enough to hold a full twenty-four gram"))
      .toDF("doc_id", "text")
    val got = spans(SuffixDedup.dupSpansExact(docs, gramLen = 24))
    assert(got.map(_._1) === Set(2L, 3L))
    // the two identical long docs are whole-document duplicates
    assert(got.forall { case (_, s, e, l) => s == 1L && l == e })
  }

  test("same-document repeats do NOT flag (cross-doc gate)") {
    val run = "abcdefghijklmnopqrstuvwxyz012345" // 32 chars
    val docs = Seq(
      (0L, s"$run middle $run"), // twice in ONE doc only
      (1L, "completely different content, nothing shared at all here."))
      .toDF("doc_id", "text")
    assert(spans(SuffixDedup.dupSpansExact(docs, gramLen = 24)).isEmpty)
  }

  test("class ids are literal: a hash-colliding layout cannot alias") {
    // Distinct 24-grams must land in distinct classes — check the class
    // count equals the distinct literal gram count on a real slice.
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001").limit(40)
    val classes = SuffixDedup.gramClasses(docs, 24)
      .agg(countDistinct(col("h"))).head().getLong(0)
    val literals = SpanDedup.grams(docs, 24)
      .agg(countDistinct(col("gram"))).head().getLong(0)
    assert(classes === literals)
    // the session memo: a repeat call is served the first build, and
    // that build equals the uncached classes
    val cached = SuffixDedup.gramClassesCached(docs, "spec#classes", 24)
    assert(SuffixDedup.gramClassesCached(docs, "spec#classes", 24) eq cached)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(cached) === rows(SuffixDedup.gramClasses(docs, 24)))
  }
}
