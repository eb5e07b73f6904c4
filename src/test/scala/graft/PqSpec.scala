package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns.cosineSimilarity

/** L3 product quantization — codebook fit, byte-code encode, ADC
  * retrieve-and-refine (`ops/Similarity.scala` PQ family).
  */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  // 8 direction clusters × 5% jitter over the fixture's vec_ids — the
  // clusterable regime (same generator as q98).
  private lazy val clustered = {
    val cluster = pmod($"vec_id", lit(8))
    ops.Sources.embeddings(spark, "/root/testdata/sf0.001").select(
      $"vec_id",
      transform(sequence(lit(0), lit(63)), i =>
        (((pmod(hash(cluster, i), lit(2001)) - 1000) / 1000.0) +
          ((pmod(hash($"vec_id", i, lit(17)), lit(2001)) - 1000) / 1000.0)
            * 0.05).cast("float")).as("embedding"))
  }

  test("codes are m bytes per vector at 32x compression") {
    val idx = ops.Similarity.pqFit(clustered, m = 8, k = 16)
    assert(idx.m === 8 && idx.subDim === 8 && idx.k === 16)
    assert(idx.compressionRatio === 32.0)
    val enc = ops.Similarity.pqEncode(clustered, idx)
    val codes = enc.select($"codes").head().getSeq[Int](0)
    assert(codes.length === 8)
    assert(enc.filter(size($"codes") =!= 8).count() === 0)
    assert(enc.filter(!forall($"codes",
      c => c >= 0 && c < 16)).count() === 0, "codes outside [0, k)")
  }

  test("retrieve-and-refine recovers the exact top-10 on clustered data") {
    val idx = ops.Similarity.pqFit(clustered, m = 8, k = 64)
    val enc = ops.Similarity.pqEncode(clustered, idx).persist()
    val units = clustered
      .withColumn("vec", transform($"embedding", _.cast("double")))
    val recalls = Seq(0L, 33L, 77L).map { qid =>
      val q = units.filter($"vec_id" === qid)
        .select($"vec").head().getSeq[Double](0).toArray
      val approx = ops.Similarity
        .pqTopKRefined(enc.filter($"vec_id" =!= qid), clustered, idx, q,
          topK = 10, refine = 5)
        .collect().map(_.getLong(0)).toSet
      val qLit = typedlit(q.toSeq)
      val exact = units.filter($"vec_id" =!= qid)
        .select($"vec_id", cosineSimilarity($"vec", qLit).as("c"))
        .orderBy($"c".desc, $"vec_id").limit(10)
        .collect().map(_.getLong(0)).toSet
      (approx intersect exact).size
    }
    enc.unpersist(false)
    assert(recalls.sum >= 27, s"refined recall too low: $recalls /10 each")
  }

  test("raw ADC ranks the query's own cluster first even without refine") {
    // ADC's contract is coarse distance preservation: the quantization
    // error is far smaller than the inter-cluster gap, so every raw-ADC
    // top-10 member must share the query's planted cluster even when
    // the fine intra-cluster ordering is scrambled.
    val idx = ops.Similarity.pqFit(clustered, m = 8, k = 64)
    val enc = ops.Similarity.pqEncode(clustered, idx)
    val q = clustered.filter($"vec_id" === 16L)
      .select(transform($"embedding", _.cast("double")))
      .head().getSeq[Double](0).toArray
    val top = ops.Similarity
      .pqTopK(enc.filter($"vec_id" =!= 16L), idx, q, topK = 10)
      .collect().map(_.getLong(0))
    assert(top.length === 10)
    assert(top.forall(_ % 8 === 0), // 16's cluster = vec_id % 8 == 0
      s"ADC let another cluster into the top-10: ${top.toSeq}")
  }

  test("codebooks round-trip through CurationIndex: fit once, load in a " +
      "later session, encode a NEW batch with no refit") {
    val idx = ops.Similarity.pqFit(clustered, m = 8, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    ops.CurationIndex.writePq(spark, dir, idx)
    val loaded = ops.CurationIndex.loadPq(spark, dir)
    assert(loaded.m === idx.m && loaded.subDim === idx.subDim &&
      loaded.k === idx.k)
    // doubles round-trip exactly through parquet — bit-identical books
    for (s <- 0 until idx.m; c <- 0 until idx.k)
      assert(loaded.codebooks(s)(c).toSeq === idx.codebooks(s)(c).toSeq,
        s"codebook ($s, $c)")
    // the apply path: a batch the fit never saw encodes identically
    val newBatch = clustered.filter($"vec_id" % 3 === 0)
      .withColumn("vec_id", $"vec_id" + 100000L)
    val a = ops.Similarity.pqEncode(newBatch, idx)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    val b = ops.Similarity.pqEncode(newBatch, loaded)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(a === b, "encode parity under the loaded codebooks")
    // a marker-less directory fails descriptively
    val bad = java.nio.file.Files.createTempDirectory("graft-pq-bad").toString
    Seq((0, 0, Seq(1.0))).toDF("sub", "code", "centroid")
      .write.parquet(s"$bad/pq_codebooks")
    Seq((8, 8)).toDF("m", "sub_dim").write.parquet(s"$bad/pq_meta")
    val e = intercept[IllegalArgumentException] {
      ops.CurationIndex.loadPq(spark, bad)
    }
    assert(e.getMessage.contains("format"))
    // a truncated codebook grid fails loudly — code ids are positional
    val cut = java.nio.file.Files.createTempDirectory("graft-pq-cut").toString
    spark.read.parquet(s"$dir/pq_codebooks").filter($"code" > 0)
      .write.parquet(s"$cut/pq_codebooks")
    spark.read.parquet(s"$dir/pq_meta").write.parquet(s"$cut/pq_meta")
    val g = intercept[IllegalArgumentException] {
      ops.CurationIndex.loadPq(spark, cut)
    }
    assert(g.getMessage.contains("grid"))
  }

  test("fit and encode are deterministic under the fixed seed") {
    val a = ops.Similarity.pqFit(clustered, m = 8, k = 16, seed = 9L)
    val b = ops.Similarity.pqFit(clustered, m = 8, k = 16, seed = 9L)
    assert(a.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      b.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val ea = ops.Similarity.pqEncode(clustered, a)
      .orderBy($"vec_id").collect().map(_.getSeq[Int](1)).toSeq
    val eb = ops.Similarity.pqEncode(clustered, b)
      .orderBy($"vec_id").collect().map(_.getSeq[Int](1)).toSeq
    assert(ea === eb)
    // the session memo serves a repeat fit the first fit's index
    val c = ops.Similarity.pqFitCached(clustered, "spec#pq", m = 8, k = 16, seed = 9L)
    assert(ops.Similarity.pqFitCached(clustered, "spec#pq", m = 8, k = 16, seed = 9L) eq c)
    assert(c.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      a.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
