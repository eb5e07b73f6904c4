package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Similarity, SuffixDedup}

/** The session index memo (`util/IndexMemo.scala`) behind every
  * `*Cached` operator: a memo key names the input files' contents, not
  * just their path.
  */
class IndexMemoSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("a parquet path rewritten in place misses every DataFrame memo; " +
      "re-reading it unchanged still hits") {
    val path = java.nio.file.Files.createTempDirectory("graft-memo")
      .resolve("documents.parquet").toString
    def read() = spark.read.parquet(path)
    val key = "spec#stale"
    // (memo, cached call, fresh uncached build)
    val memos: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("minhash", Similarity.minhashNearDupCached(_, key, 0.4),
        Similarity.minhashNearDup(_, maxJaccardDist = 0.4)),
      ("pairs", Similarity.ngramJaccardPairsCached(_, key, minJaccard = 0.02, keepRaw = true),
        Similarity.ngramJaccardPairs(_, minJaccard = 0.02, keepRaw = true)),
      ("clusters", Similarity.nearDupClustersCached(_, key),
        d => Similarity.connectedComponents(Similarity.ngramJaccardPairs(d), "doc_a", "doc_b")),
      ("bm25 tf", Similarity.bm25TermFreqsCached(_, key), Similarity.bm25TermFreqs),
      ("bm25 trigram tf", Similarity.bm25TrigramTermFreqsCached(_, key),
        Similarity.bm25TrigramTermFreqs),
      ("gram classes", SuffixDedup.gramClassesCached(_, key, 8),
        SuffixDedup.gramClasses(_, 8)))

    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated words about spark query engines here"))
      .toDF("doc_id", "text").write.parquet(path)
    // collect every result BEFORE the rewrite deletes the files under it
    val before = memos.map { case (name, cached, _) =>
      val first = cached(read())
      assert(cached(read()) eq first, s"$name: re-reading an unchanged path must hit")
      rows(first)
    }

    Seq(
      (1L, "felix saw the lazy dog relaxing beside warm stones quietly"),
      (2L, "completely unrelated words about spark query engines here"),
      (3L, "felix saw the lazy dog relaxing beside warm stones calmly"),
      (4L, "another distinct sentence on columnar storage formats"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    memos.zip(before).foreach { case ((name, cached, fresh), old) =>
      val got = rows(cached(read()))
      assert(got === rows(fresh(read())), s"$name: stale after an in-place rewrite")
      assert(got !== old, s"$name: the rewrite must change this memo's result")
    }
  }
}
