package graft

import org.apache.spark.sql.functions._

/** Similarity-op unit tests (SURVEY §2.11 L2/L3). */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("HOF dot product matches hand computation") {
    val out = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(dot($"a", $"b")).as[Double].head()
    assert(out === 32.0)
  }

  test("cosine similarity: parallel=1, orthogonal=0, antiparallel=-1") {
    val df = Seq(
      ("par", Seq(2.0, 0.0), Seq(1.0, 0.0)),
      ("orth", Seq(0.0, 3.0), Seq(1.0, 0.0)),
      ("anti", Seq(-1.0, 0.0), Seq(1.0, 0.0))).toDF("k", "a", "b")
    val out = df.select($"k",
      (dot($"a", $"b") / (sqrt(dot($"a", $"a")) * sqrt(dot($"b", $"b")))).as("c"))
      .as[(String, Double)].collect().toMap
    assert(out("par") === 1.0)
    assert(out("orth") === 0.0)
    assert(out("anti") === -1.0)
  }

  test("exact cosine top-k excludes the query vector and returns k rows") {
    val out = ops.Similarity.q22CosineTopK(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 10)
    assert(!out.map(_.getLong(0)).contains(0L))
    val cosines = out.map(_.getDouble(2))
    assert(cosines.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("ANN and exact top-k agree on most neighbors at this scale") {
    val exact = ops.Similarity.q22CosineTopK(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    val ann = ops.Similarity.q26AnnLsh(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    // LSH is approximate: require substantial overlap, not equality.
    assert((exact intersect ann).size >= 5, s"overlap too low: $exact vs $ann")
  }

  test("minhash near-dup pairs are symmetric-deduped and self-free") {
    val pairs = ops.Similarity.q25NearDup(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, _) => a < b })
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
    // The tightened 0.4 distance gate keeps only verified near-dups.
    assert(pairs.forall(_._3 <= 0.4))
  }

  test("near-dup queries leave no cached blocks behind (persist released)") {
    spark.catalog.clearCache() // isolate from other suites' caches
    ops.Similarity.q25NearDup(spark, "/root/testdata/sf0.001").count()
    ops.Similarity.q39NgramJaccard(spark, "/root/testdata/sf0.001").count()
    ops.Similarity.q40EmbeddingNearDup(spark, "/root/testdata/sf0.001").count()
    // CacheManager must be empty: an explicit persist that outlives its
    // query is never freed without unpersist and accumulates across a
    // bench session (the round-3 defect). Scope note: localCheckpoint
    // blocks live OUTSIDE the CacheManager and are not covered by this
    // guard — they are registered with the ContextCleaner and released
    // when their DataFrame is garbage-collected, which is the intended
    // lifecycle (bounded by caller reachability, not session length).
    assert(org.apache.spark.sql.graftshim.GraftColumns.cacheIsEmpty(spark),
      "a similarity query leaked a persisted DataFrame")
  }

  test("connected components releases every intermediate checkpoint block") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a 6-node path graph forces >1 propagation round, so intermediate
    // round checkpoints exist and must be freed by the loop itself (the
    // final labels RDD legitimately backs the returned frame)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = ops.Similarity.connectedComponents(pairs, "doc_a", "doc_b")
    assert(out.collect().map(_.getLong(1)).toSet === Set(1L))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // exactly the final round's checkpoint may remain (it IS the result)
    assert(leaked.size <= 1,
      s"connectedComponents left ${leaked.size} persisted RDDs behind")
  }

  test("IVF top-k: near-perfect recall on clusterable data probing 2/8 cells") {
    // IVF's contract is clusterable data (that's what the coarse
    // quantizer exploits). 8 well-separated direction clusters x 40
    // points: the true neighbors of any query share its cell, so
    // probing 2 of 8 cells must recover the full exact top-10. (On
    // isotropic data — like the embeddings fixture, measured
    // same-label mean cos ≈ 0 — ANY partition-based ANN degrades to
    // recall ≈ nProbe/nLists; that regime belongs to multi-table LSH,
    // q26.)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for (c <- 0 until 8; i <- 0 until 40) yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      (c * 40L + i, s"c$c", v.toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val ivf = ops.Similarity.ivfTopK(emb, queryVecId = 0L, k = 10,
      nLists = 8, nProbe = 2).collect()
    assert(ivf.length === 10)
    // exact top-10 via the oracle-grade brute force on the same frame
    val exact = {
      import org.apache.spark.sql.graftshim.GraftColumns.cosineSimilarity
      val vecs = emb.withColumn("vec", transform($"embedding", _.cast("double")))
      val q = vecs.filter($"vec_id" === 0L).select($"vec".as("qv"))
      vecs.filter($"vec_id" =!= 0L).crossJoin(broadcast(q))
        .select($"vec_id", cosineSimilarity($"vec", $"qv").as("c"))
        .orderBy($"c".desc, $"vec_id").limit(10)
        .collect().map(_.getLong(0)).toSet
    }
    val overlap = (ivf.map(_.getLong(0)).toSet intersect exact).size
    assert(overlap >= 9, s"IVF recall too low on clustered data: $overlap/10")
    // and the probe bound held: hits came from at most nProbe cells
    assert(ivf.map(_.getInt(2)).distinct.length <= 2)
  }

  test("kNN join with nProbe == nLists equals the brute-force kNN exactly") {
    import org.apache.spark.sql.graftshim.GraftColumns.cosineSimilarity
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    val rows = (0L until 120L).map(i => (i, s"l$i", Seq.fill(12)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    // full probe coverage: every (probe, neighbor) pair meets in the
    // neighbor's cell, so the blocked join must reproduce exact kNN
    val got = ops.Similarity.knnJoinIvf(emb, k = 5, nLists = 4, nProbe = 4)
      .select($"vec_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val vecs = emb.withColumn("vec", transform($"embedding", _.cast("double")))
      .select($"vec_id", $"vec")
    val want = vecs.as("a").join(
        broadcast(vecs.select($"vec_id".as("p_id"), $"vec".as("p_vec"))),
        $"p_id" =!= $"vec_id")
      .select($"p_id", $"vec_id".as("n_id"),
        cosineSimilarity($"p_vec", $"vec").as("c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"p_id").orderBy($"c".desc, $"n_id")))
      .filter($"rank" <= 5)
      .select($"p_id", $"n_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want)
  }

  test("kNN join output contract: k per probe, no self-pairs, ranks contiguous") {
    val rnd = new scala.util.Random(17)
    val rows = (0L until 150L).map(i => (i, s"l$i", Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val out = ops.Similarity.knnJoinIvf(emb, k = 3, nLists = 6, nProbe = 2)
      .select($"vec_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
    assert(out.forall { case (v, n, _) => v != n }, "self-pair leaked")
    val byProbe = out.groupBy(_._1)
    assert(byProbe.values.forall(_.length <= 3))
    // ranks are 1..m with no gaps (window over the candidate set)
    assert(byProbe.values.forall(g => g.map(_._3).sorted.sameElements(1 to g.length)))
    // every probe found SOME candidate (cells are never all empty)
    assert(byProbe.size === 150)
  }

  test("semantic dedup keeps one survivor per planted duplicate group, all singletons") {
    // 10 direction clusters; in each, vectors 0..3 are near-copies of a
    // base (planted duplicate group) and vector 4 points elsewhere
    // (singleton). Survivors must be the 10 min-id group members + the
    // 10 singletons.
    val rnd = new scala.util.Random(23)
    val rows = (for (g <- 0 until 10) yield {
      val base = Array.fill(16)(rnd.nextGaussian())
      val dups = (0 until 4).map { i =>
        (g * 5L + i, s"g$g", base.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat).toSeq)
      }
      val lone = (g * 5L + 4, s"s$g",
        Array.fill(16)(rnd.nextGaussian()).map(_.toFloat).toSeq)
      dups :+ lone
    }).flatten
    val emb = rows.toDF("vec_id", "label", "embedding")
    val kept = ops.Similarity.embDedupCorpus(emb, minCos = 0.9,
        k = 5, nLists = 8, nProbe = 8)
      .select($"vec_id").as[Long].collect().toSet
    val want = (0 until 10).flatMap(g => Seq(g * 5L, g * 5L + 4)).toSet
    assert(kept === want, s"expected one survivor per group + singletons: $kept")
    // idempotence: dedup of the survivors finds nothing more to drop
    val again = ops.Similarity.embDedupCorpus(
        emb.join(kept.toSeq.toDF("vec_id"), Seq("vec_id")), minCos = 0.9,
        k = 5, nLists = 8, nProbe = 8)
      .select($"vec_id").as[Long].collect().toSet
    assert(again === want)
  }

  test("fixpoint semantic dedup is idempotent ABOVE top-k saturation (k < multiplicity)") {
    // 6 near-copies per group with k = 2: each top-k list sees only 2
    // of its 5 fellow dups, so one pass can leave survivors that are
    // still mutual near-dups (the documented non-idempotence of
    // embDedupCorpus). The fixpoint variant must converge to exactly
    // the min-id per group regardless, and re-running it must be a
    // no-op.
    val rnd = new scala.util.Random(29)
    val rows = (for (g <- 0 until 8) yield {
      val base = Array.fill(16)(rnd.nextGaussian())
      (0 until 6).map { i =>
        (g * 6L + i, s"g$g", base.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat).toSeq)
      }
    }).flatten
    val emb = rows.toDF("vec_id", "label", "embedding")
    val kept = ops.Similarity.embDedupCorpusFixpoint(emb, minCos = 0.9,
        k = 2, nLists = 8, nProbe = 8)
      .select($"vec_id").as[Long].collect().toSet
    val want = (0 until 8).map(g => g * 6L).toSet
    assert(kept === want, s"fixpoint must leave exactly the min-id per group: $kept")
    val again = ops.Similarity.embDedupCorpusFixpoint(
        emb.join(kept.toSeq.toDF("vec_id"), Seq("vec_id")), minCos = 0.9,
        k = 2, nLists = 8, nProbe = 8)
      .select($"vec_id").as[Long].collect().toSet
    assert(again === want, "fixpoint survivors must be a fixpoint")
  }

  test("q89 collapses every planted duplicate onto its base on the driver fixture") {
    val out = SparkEntry.queries("q89_semantic_dedup")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect()
    val base = ops.Sources.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(out.toSeq === Seq((base, 0L, 0L)),
      s"want (survivors=$base, planted_survivors=0, missing_base=0), got ${out.toSeq}")
  }

  test("IVF index written partitionBy(ivf_list) prunes to the probed cells") {
    // The scale claim behind q45: persisting the index partitioned by
    // cell means a query reads ONLY the probed cells' files.
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map(i => (i, s"l$i", Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "label", "embedding")
      .withColumn("mlvec", org.apache.spark.ml.functions.array_to_vector(
        transform($"embedding", _.cast("double"))))
    val km = new org.apache.spark.ml.clustering.KMeans().setK(4).setSeed(42L)
      .setFeaturesCol("mlvec").setPredictionCol("ivf_list")
    val assigned = km.fit(emb).transform(emb).drop("mlvec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    assigned.write.partitionBy("ivf_list").mode("overwrite").parquet(s"$dir/index")
    val probed = spark.read.parquet(s"$dir/index").filter($"ivf_list".isin(0, 2))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    val files = probed.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty &&
      files.forall(f => f.contains("ivf_list=0") || f.contains("ivf_list=2")), files.mkString(","))
  }

  test("IVF registered query returns k deterministic rows on the fixture") {
    val out = ops.Similarity.q45AnnIvf(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 10)
    assert(!out.map(_.getLong(0)).contains(0L))
    val again = ops.Similarity.q45AnnIvf(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
  }

  test("cached IVF index gives the same answer as an uncached fit") {
    // q45 routes through the process-lifetime index cache; an explicit
    // uncached ivfTopK on the same data must produce identical rows —
    // KMeans under the fixed seed is deterministic, so the cache is a
    // pure cost optimization, not a semantics change.
    val dir = "/root/testdata/sf0.001"
    val cached = ops.Similarity.q45AnnIvf(spark, dir).collect().toSeq
    val uncached = ops.Similarity.ivfTopK(
      ops.Sources.embeddings(spark, dir), queryVecId = 0L, k = 10,
      nLists = 16, nProbe = 4, cacheKey = None).collect().toSeq
    assert(cached === uncached)
  }

  test("q103: MinHash candidate recall vs exact 5-shingle Jaccard clears the floor") {
    val out = ops.Similarity.q103MinhashRecall(spark, "/root/testdata/sf0.001")
      .as[(String, Boolean)].head()
    assert(out === ("minhash_lsh", true))
  }

  test("connected components: min-id propagation over a known graph") {
    // {1-2, 2-3, 3-4} chain + {7-9} pair + untouched singleton 5 (absent).
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = ops.Similarity.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components resolves a deep chain (pointer-doubling path)") {
    // 0-1-2-...-63 single chain: one-hop-per-round propagation needs 63
    // rounds; with doubling this must converge in ~log2(64) rounds (the
    // test asserts correctness; depth exercises the doubling join).
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = ops.Similarity.connectedComponents(chain, "doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(got.length === 64)
    assert(got.forall(_._2 == 0L), s"all 64 nodes must label to 0")
  }

  test("connected components matches union-find on random graphs (property)") {
    // The pointer-doubling loop is the subtlest code here: pit it
    // against a trivially-correct driver-side union-find on randomized
    // graphs (mixed shapes: chains, stars, cliques emerge at random).
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 8) {
      val n = 5 + rnd.nextInt(25)
      val edges = (0 until n + rnd.nextInt(2 * n)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        // reference: union-find with path compression
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
        val expected = inEdges.map(v => v -> {
          // min node id in v's component, restricted to nodes seen in edges
          val root = find(v.toInt)
          inEdges.filter(u => find(u.toInt) == root).min
        }).toMap
        val got = ops.Similarity.connectedComponents(
            edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .as[(Long, Long)].collect().toMap
        assert(got === expected, s"trial $trial, n=$n, edges=$edges")
      }
    }
  }

  test("connected components of an empty pair list is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(ops.Similarity.connectedComponents(pairs, "doc_a", "doc_b").count() === 0)
  }

  test("dedup clustering is idempotent: survivors contain no near-dup pairs") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val deduped = ops.Similarity.dedupCorpus(docs)
    // something was actually removed...
    assert(deduped.count() < docs.count())
    // ...and survivors of distinct components cannot share a
    // >=0.1-Jaccard edge (else they'd be one component), so a second
    // dedup pass finds nothing and removes nothing.
    assert(ops.Similarity.ngramJaccardPairs(deduped).count() === 0)
    assert(ops.Similarity.dedupCorpus(deduped).count() === deduped.count())
  }

  test("stop-shingle df cap drops boilerplate-only pairs, keeps true near-dups") {
    // 6 docs sharing one ubiquitous header shingle; docs 0/1 are real
    // near-dups (long shared body), the rest differ entirely after the
    // header.
    val header = "common header line"
    val body = (0 until 30).map(i => s"tok$i").mkString(" ")
    val docs = (0L until 6L).map { i =>
      val text =
        if (i <= 1) s"$header $body extra$i"
        else s"$header " + (0 until 30).map(j => s"doc${i}w$j").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    // Uncapped: the hot header shingle joins all 15 pairs (quadratic).
    val uncapped = ops.Similarity.ngramJaccardPairs(docs, dfCap = Int.MaxValue)
      .as[(Long, Long, Double)].collect()
    // Capped at 3 (< 6 docs sharing the header): only the true near-dup
    // pair survives; boilerplate-only pairs never reach the join.
    val capped = ops.Similarity.ngramJaccardPairs(docs, dfCap = 3)
      .as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet === Set((0L, 1L)))
    assert(uncapped.map(p => (p._1, p._2)).toSet.contains((0L, 1L)))
  }

  test("default df cap leaves the fixture result unchanged (oracle safety)") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val withCap = ops.Similarity.ngramJaccardPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
    val noCap = ops.Similarity.ngramJaccardPairs(docs, dfCap = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(withCap === noCap)
    assert(withCap.nonEmpty)
  }

  test("sq int8: codes in [-127,127], reconstruction within s/2 per dim") {
    val emb = ops.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val s = ops.Similarity.sqFit(emb)
    assert(s > 0)
    val rows = ops.Similarity.sqEncode(emb, s)
      .select($"embedding", $"codes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val xs = r.getSeq[Float](0)
      val cs = r.getSeq[Long](1)
      assert(xs.length === cs.length)
      cs.foreach(c => assert(math.abs(c) <= 127, s"code $c out of range"))
      xs.zip(cs).foreach { case (x, c) =>
        // floor(x/s + 0.5) is the nearest integer: |x - c*s| <= s/2
        assert(math.abs(x.toDouble - c * s) <= s / 2 + 1e-12)
      }
    }
  }

  test("sq int8 recall: planted clusters stay pure under SDC ranking") {
    // 4 well-separated direction clusters (the q98 technique). Within
    // a cluster the candidates are near-ties at int8 resolution (2%
    // jitter ≈ the quantization step), so exact top-k equality is not
    // the contract — cluster purity plus high overlap is: quantization
    // must never confuse clusters, and most of the exact set survives.
    val dim = 16
    val clustered = ops.Sources.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id",
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (((pmod(hash(pmod($"vec_id", lit(4)), i), lit(2001)) - 1000) / 1000.0) +
            ((pmod(hash($"vec_id", i, lit(17)), lit(2001)) - 1000) / 1000.0)
              * 0.02).cast("float")).as("embedding"))
    val s = ops.Similarity.sqFit(clustered)
    val enc = ops.Similarity.sqEncode(clustered, s).select($"vec_id", $"codes")
    val probe = enc.filter($"vec_id" === 0)
      .select($"codes".as("qcodes")).crossJoin(enc).filter($"vec_id" =!= 0)
      .select($"vec_id",
        aggregate(zip_with($"codes", $"qcodes", _ * _), lit(0L),
          (a, y) => a + y).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSet
    import org.apache.spark.sql.graftshim.GraftColumns.cosineSimilarity
    val units = clustered.select($"vec_id",
      transform($"embedding", _.cast("double")).as("v"))
    val exact = units.filter($"vec_id" === 0).select($"v".as("qv"))
      .crossJoin(units).filter($"vec_id" =!= 0)
      .select($"vec_id",
        aggregate(zip_with($"v", $"qv", _ * _), lit(0.0),
          (a, y) => a + y).as("dot"))
      .orderBy($"dot".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSet
    assert(probe.forall(_ % 4 === 0L), "every SDC hit is in the probe's cluster")
    assert(exact.forall(_ % 4 === 0L), "sanity: exact set is cluster-pure too")
    assert(probe.intersect(exact).size >= 7,
      s"SDC overlap with exact top-10 is high (got ${probe.intersect(exact).size})")
  }

  test("hard negatives: output contract — no same-label pair, ≤ k per anchor, ranks contiguous") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(12)(rnd.nextGaussian()))
    val rows = for (c <- 0 until 4; i <- 0 until 30) yield {
      val v = centers(c).map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
      (c * 30L + i, c, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val mined = ops.Similarity.hardNegativesIvf(emb, k = 5, nLists = 4, nProbe = 4)
    val withAnchor = mined.join(
      emb.select($"vec_id".as("anchor_id"), $"label".as("anchor_label")),
      Seq("anchor_id"))
    assert(withAnchor.filter($"neighbor_label" === $"anchor_label").count() === 0L,
      "a mined negative shares its anchor's label")
    val perAnchor = mined.groupBy($"anchor_id")
      .agg(count(lit(1)).as("n"), max($"rank").as("maxr"))
      .collect()
    perAnchor.foreach { r =>
      assert(r.getLong(1) <= 5L)
      assert(r.getInt(2).toLong === r.getLong(1), "ranks not contiguous from 1")
    }
    assert(perAnchor.length === 120, "every vector is an anchor")
  }

  test("hard negatives: label filter precedes truncation (crowded same-label cluster)") {
    // Anchor 0 sits in a TIGHT 30-point cluster of its own label, with
    // 10 far-away other-label points. knnJoinIvf's top-5 for it is all
    // same-label, so post-filtering the plain kNN join yields ZERO
    // negatives — the dense-cluster case the dedicated miner exists
    // for. hardNegativesIvf applies the mismatch filter before the
    // top-k window and must return the full 5. nProbe == nLists, so no
    // recall confound.
    val rnd = new scala.util.Random(23)
    val u = Array.fill(12)(rnd.nextGaussian())
    val v = Array.fill(12)(rnd.nextGaussian())
    val rows =
      (0 until 30).map { i =>
        (i.toLong, "same", u.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
      } ++ (0 until 10).map { i =>
        (100L + i, "other", v.map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
      }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val postFiltered = ops.Similarity.knnJoinIvf(emb, k = 5, nLists = 2, nProbe = 2)
      .filter($"vec_id" === 0L)
      .join(emb.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
        Seq("neighbor_id"))
      .filter($"n_label" === "other")
    assert(postFiltered.count() === 0L,
      "fixture sanity: post-filtering the plain kNN join must lose every negative")
    val mined = ops.Similarity.hardNegativesIvf(emb, k = 5, nLists = 2, nProbe = 2)
      .filter($"anchor_id" === 0L).collect()
    assert(mined.length === 5, s"expected 5 negatives, got ${mined.length}")
    assert(mined.forall(_.getString(2) === "other"))
  }

  test("semantic decontamination: flags copies, argmax tie-break, empty bench") {
    import org.apache.spark.sql.functions.{col => c}
    val bench = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 1.0f, 0.0f))).toDF("bench_id", "vec")
    val cand = Seq(
      (1L, Seq(2.0f, 0.0f, 0.0f)),   // scaled copy of bench 10 -> cos 1
      (2L, Seq(0.0f, 0.0f, 5.0f)),   // orthogonal to both -> clean
      (3L, Seq(1.0f, 1.0f, 0.0f))    // cos .707107 to BOTH benches
    ).toDF("cand_id", "vec")
    val flagged = ops.Similarity.semanticDecontaminate(
        cand, "cand_id", "vec", bench, "bench_id", "vec", minCos = 0.999)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(flagged.toSeq === Seq((1L, 10L, 1.0)),
      "only the planted copy is flagged, against its source benchmark")
    // lower the gate: the equidistant candidate resolves its tie to the
    // SMALLEST benchmark id
    val tied = ops.Similarity.semanticDecontaminate(
        cand, "cand_id", "vec", bench, "bench_id", "vec", minCos = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(tied.map(r => (r._1, r._2)).toSeq === Seq((1L, 10L), (3L, 10L)))
    assert(tied(1)._3 === 0.707107)
    // empty benchmark flags nothing (and does not error)
    val none = ops.Similarity.semanticDecontaminate(
      cand, "cand_id", "vec", bench.filter(c("bench_id") < 0L),
      "bench_id", "vec", minCos = 0.0)
    assert(none.count() === 0L)
  }

  test("tfidf decontamination: catches the word-order paraphrase the " +
      "n-gram containment gate provably misses") {
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    val scrambled = "today bridge stone old the near dog lazy the over jumps fox brown quick the"
    val bench = Seq((100L, base)).toDF("bench_id", "text")
    val cand = Seq(
      (1L, scrambled),                          // same multiset, new order
      (2L, "completely unrelated text about spark partitions and shuffles here now"),
      (3L, base)                                // verbatim copy
    ).toDF("doc_id", "text")
    // the 24-char-gram containment gate sees NOTHING in the scramble
    val gramHits = ops.SpanDedup.decontaminate(
      cand.filter($"doc_id" === 1L), bench.select($"bench_id".as("doc_id"), $"text"),
      gramLen = 24)
    assert(gramHits.filter($"contaminated_chars" > 0L).count() === 0L,
      "fixture sanity: word-order scramble must evade the n-gram gate")
    val flagged = ops.Similarity.tfidfDecontaminate(cand, bench, minCos = 0.999)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(flagged.map(_._1).toSeq === Seq(1L, 3L),
      s"verbatim AND scrambled copies must flag, clean must not: ${flagged.toSeq}")
    assert(flagged.forall(_._2 === 100L))
    assert(flagged.forall(_._3 === 1.0),
      "identical token multisets give identical TF-IDF vectors -> cos 1")
    // empty benchmark flags nothing
    assert(ops.Similarity.tfidfDecontaminate(
      cand, bench.filter($"bench_id" < 0L), 0.0).count() === 0L)
  }

  test("semantic decontamination plan: scoring is a map stage — the only " +
      "shuffle is the caller's own sort") {
    val emb = ops.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val bench = emb.filter($"vec_id" % 29 === 0)
      .select($"vec_id".as("bench_id"), $"embedding")
    val cand = emb.filter($"vec_id" % 29 =!= 0)
    // un-sorted: exactly as a 100 TB gate would run (flags feed a join,
    // not a display sort)
    val gate = ops.Similarity.semanticDecontaminate(
      cand, "vec_id", "embedding", bench, "bench_id", "embedding", 0.999)
    val plan = gate.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bench must scalar-attach via a broadcast join:\n$plan")
    // allowed exchanges: BroadcastExchange (the 1-row attach) and the
    // bench agg's own "Exchange SinglePartition" (bench-sized, tiny).
    // A candidate-side shuffle would print as hash/range partitioning.
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"candidate scoring must not shuffle:\n$plan")
  }

  test("lshPlan: recovers datasketch's optimum for 128 perms at t=0.5 and " +
    "responds to threshold/weight steering") {
    val plan = ops.Similarity.lshPlan(spark)
      .select($"b", $"r", $"is_opt").as[(Long, Long, Boolean)].collect()
    assert(plan.length === 128)
    val (ob, or_, _) = plan.filter(_._3) match { case Array(one) => one }
    // the public datasketch optimum for (128 hashes, t=0.5, 0.5/0.5)
    assert((ob, or_) === ((25L, 5L)))
    // a higher threshold needs a steeper curve -> more rows per band
    val hi = ops.Similarity.lshPlan(spark, threshold = 0.8)
      .filter($"is_opt").select($"r").as[Long].head()
    assert(hi > or_)
    // punishing false positives hard also pushes r up (fewer FP bands)
    val fpAverse = ops.Similarity.lshPlan(spark, fpWeight = 0.95,
      fnWeight = 0.05).filter($"is_opt").select($"r").as[Long].head()
    assert(fpAverse > or_)
  }

  test("delta dedup: byte-copies flag exact, mutated copies flag near " +
      "with the right match, genuinely new docs admit as fresh") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta")  // corpus dup
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // byte copy
      (101L, "one two three four five six seven nine"),        // 1 word off
      (102L, "totally different words about nothing at all here now")
    ).toDF("doc_id", "text")
    val got = ops.Similarity.deltaDedup(fresh, corpus)
      .select($"doc_id", $"verdict", $"match_id", $"near_jaccard")
      .as[(Long, String, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(100L)._2 === "exact_dup" && got(100L)._3.contains(10L),
      "byte copy matches the MIN corpus id of the dup family")
    assert(got(100L)._4.isEmpty, "exact verdicts ship no jaccard")
    assert(got(101L)._2 === "near_dup" && got(101L)._3.contains(11L))
    assert(got(101L)._4.exists(j => j > 0.5 && j < 1.0))
    assert(got(102L) === ((102L, "fresh", None, None)))
  }

  test("quality-aware survivors: exactly one survivor per cluster, and " +
      "it is the lowest-bits member, not the min id") {
    val out = ops.Similarity.q156QualitySurvivors(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"cluster_id", $"lm_bits", $"is_survivor")
      .as[(Long, Long, Option[Double], Boolean)].collect()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._4) === 1, s"cluster $c needs ONE survivor")
      val surv = members.find(_._4).get
      val best = members.filter(_._3.isDefined).map(_._3.get).min
      assert(surv._3.contains(best) || members.forall(_._3.isEmpty),
        s"cluster $c survivor must carry the lowest bits")
    }
    // the rule must actually differ from min-id somewhere on this corpus
    // (otherwise the test is vacuous)
    assert(byCluster.exists { case (_, ms) =>
      ms.find(_._4).get._1 != ms.map(_._1).min
    }, "fixture should contain a cluster where quality beats min-id")
  }

  test("contrastive pairs: positives are cluster-mates, negatives come " +
      "from a different cluster in the sub-threshold band, NULL when " +
      "nothing lexically close exists") {
    // docs 1/2: near-identical (same trigram set -> one cluster);
    // docs 3/4: another near-dup family sharing SOME trigrams with 1/2
    // (the hard-negative band); doc 5: unrelated singleton
    // families share exactly ONE trigram ("the lazy dog"): J = 1/15 ≈
    // 0.067 — inside [0.02, 0.1), so they are hard negatives for each
    // other, provably not cluster-mates
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "felix saw the lazy dog relaxing beside warm stones quietly"),
      (4L, "felix saw the lazy dog relaxing beside warm stones calmly"),
      (5L, "completely unrelated words about spark query engines here")
    ).toDF("doc_id", "text")
    val got = ops.Similarity.contrastivePairs(docs)
      .select($"anchor_id", $"cluster_id", $"positive_id", $"negative_id")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L), "singletons are not anchors")
    assert(got(1L)._3 === 2L && got(2L)._3 === 1L)
    assert(got(3L)._3 === 4L && got(4L)._3 === 3L)
    // negatives cross the cluster boundary
    assert(got(1L)._4.exists(n => n == 3L || n == 4L))
    assert(got(3L)._4.exists(n => n == 1L || n == 2L))
    // a corpus where the other family is lexically DISJOINT yields no
    // negative (band empty) but the anchor still ships
    val far = docs.withColumn("text",
      when($"doc_id" >= 3L && $"doc_id" <= 4L,
        concat(lit("zzz yyy xxx www vvv uuu ttt sss rrr "),
          $"doc_id".cast("string"))).otherwise($"text"))
    val got2 = ops.Similarity.contrastivePairs(far)
      .select($"anchor_id", $"negative_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got2(1L).isEmpty && got2(2L).isEmpty,
      "no lexically-close non-duplicate -> NULL negative")
  }

  test("contrastive pairs via the session memos equal the private build") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "felix saw the lazy dog relaxing beside warm stones quietly"),
      (4L, "felix saw the lazy dog relaxing beside warm stones calmly"),
      (5L, "completely unrelated words about spark query engines here")
    ).toDF("doc_id", "text")
    val plain = ops.Similarity.contrastivePairs(docs).collect().toSet
    val memoed = ops.Similarity.contrastivePairs(docs,
      cacheKey = Some("spec#contrastive")).collect().toSet
    assert(memoed === plain,
      "cacheKey path must be value-identical to the private build")
    // and a SECOND memoed call (a cache hit) still matches
    val hit = ops.Similarity.contrastivePairs(docs,
      cacheKey = Some("spec#contrastive")).collect().toSet
    assert(hit === plain)
  }

  test("band-floor pair memo: each threshold view equals a dedicated " +
      "build at that threshold") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "felix saw the lazy dog relaxing beside warm stones quietly"),
      (4L, "felix saw the lazy dog relaxing beside warm stones calmly"),
      (5L, "completely unrelated words about spark query engines here")
    ).toDF("doc_id", "text")
    val viewLo = ops.Similarity.ngramJaccardPairsCached(docs, "spec#band",
      minJaccard = 0.02, keepRaw = true).collect().toSet
    val dedLo = ops.Similarity.ngramJaccardPairs(docs,
      minJaccard = 0.02, keepRaw = true).collect().toSet
    assert(viewLo === dedLo, "floor view (0.02, keepRaw) != dedicated build")
    val viewHi = ops.Similarity.ngramJaccardPairsCached(docs, "spec#band")
      .collect().toSet
    val dedHi = ops.Similarity.ngramJaccardPairs(docs).collect().toSet
    assert(viewHi === dedHi, "0.1 view != dedicated 0.1 build")
    // the 0.1 view must be ordered like the dedicated build ships it
    // (q39 returns the view directly): sorted by (doc_a, doc_b)
    val ordered = ops.Similarity.ngramJaccardPairsCached(docs, "spec#band")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    assert(ordered === ordered.sorted, "banded view lost the global sort")
  }

  test("minhash memo hit is value-identical to a fresh build") {
    val dir = "/root/testdata/sf0.001"
    val docs = ops.Sources.documents(spark, dir)
    val fresh = ops.Similarity.minhashNearDup(docs, maxJaccardDist = 0.4)
      .collect().toSet
    val first = ops.Similarity.minhashNearDupCached(docs, "spec#mh", 0.4)
      .collect().toSet
    val hit = ops.Similarity.minhashNearDupCached(docs, "spec#mh", 0.4)
      .collect().toSet
    assert(first === fresh, "memo build != fresh build (seed determinism)")
    assert(hit === fresh, "memo hit != fresh build")
  }

  test("chunk neighbors: twin chunks are mutual rank-1 at cos 1, " +
      "same-document neighbors never appear") {
    val chunks = Seq(
      (1L, 0L, "alpha beta gamma delta"),
      (1L, 1L, "alpha beta gamma delta"),   // same-doc twin: must be excluded
      (2L, 0L, "alpha beta gamma delta"),   // cross-doc twin of (1,0)
      (3L, 0L, "iota kappa lambda mu")
    ).toDF("doc_id", "chunk_id", "chunk_text")
    val got = ops.Similarity.chunkNeighbors(chunks, k = 2)
      .select($"doc_id", $"chunk_id", $"rank", $"nb_doc", $"nb_chunk", $"cos")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.forall(r => r._1 != r._4), "same-doc neighbors excluded")
    val r1 = got.filter(r => r._3 == 1L)
      .map(r => (r._1, r._2) -> (r._4, r._5, r._6)).toMap
    assert(r1((1L, 0L)) === ((2L, 0L, 1.0)))
    assert(r1((1L, 1L)) === ((2L, 0L, 1.0)))
    assert(r1((2L, 0L))._3 === 1.0)
    assert(r1((2L, 0L))._1 === 1L, "twin doc wins by id tie-break")
  }

  test("source minhash jaccard: identical sources estimate 1, disjoint " +
      "estimate 0, and the 128-perm estimate tracks the exact value") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "alpha beta gamma delta", "s2"),      // identical vocab to s1
      (3L, "epsilon zeta eta theta", "s3"),      // disjoint from s1/s2
      (4L, "alpha beta epsilon zeta", "s4")      // half-overlaps everyone
    ).toDF("doc_id", "text", "source")
    val got = ops.Similarity.sourceMinhashJaccard(docs)
      .select($"source_a", $"source_b", $"est_jaccard", $"exact_jaccard")
      .as[(String, String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("s1", "s2")) === ((1.0, 1.0)),
      "identical vocabularies agree on every slot")
    assert(got(("s1", "s3"))._1 === 0.0 && got(("s1", "s3"))._2 === 0.0)
    assert(got(("s1", "s4"))._2 === BigDecimal(2.0 / 6.0 * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6)
    // 128 perms: standard error sqrt(J(1-J)/128) <= 0.045; allow 4 sigma
    got.values.foreach { case (est, exact) =>
      assert(math.abs(est - exact) <= 0.18, s"est $est vs exact $exact")
    }
    // pairs are canonical (a < b) and complete: C(4,2) = 6
    assert(got.size === 6)
  }

  test("bitext mining: every planted pair recovered, no unaligned source " +
      "ever counts as recovered, hub noise stays under the margin") {
    val out = ops.Similarity.q149BitextMine(spark, "/root/testdata/sf0.001")
      .select($"pair_id", $"mined_tid", $"margin", $"accepted", $"recovered")
      .as[(Long, Long, Double, Boolean, Boolean)].collect()
    val (aligned, unaligned) = out.partition(_._1 % 2 == 0)
    assert(aligned.nonEmpty && unaligned.nonEmpty)
    // the ratio margin recovers EVERY planted pair: argmax lands on the
    // partner and the margin clears 1.06 with room
    assert(aligned.forall(r => r._2 == r._1 && r._4 && r._5),
      s"unrecovered aligned pairs: ${aligned.filterNot(_._5).take(3).toSeq}")
    assert(aligned.forall(_._3 > 1.5), "planted margins should be decisive")
    // an unaligned source has no true partner: whatever it mines, it can
    // never be 'recovered'; most fall under the acceptance threshold
    assert(unaligned.forall(!_._5))
    assert(unaligned.count(_._4) < unaligned.length / 2,
      "hub noise should mostly sit below the 1.06 margin")
  }

  test("blocked bitext mining: recovers every planted pair the exact arm " +
      "recovers, identical cosines on shared pairs, identical ids") {
    val rnd = new scala.util.Random(31)
    val base = (0L until 60L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
    val src = base.toDF("sid", "sv")
    // even tids are planted translations (0.8 toward their source)
    val tgt = base.map { case (i, v) =>
      val noise = Seq.fill(16)(rnd.nextGaussian())
      val tv = if (i % 2 == 0) v.zip(noise).map(p => p._1 * 0.8 + p._2 * 0.2)
               else noise
      (i, tv)
    }.toDF("tid", "tv")
    val exact = ops.Similarity.marginMine(src, tgt)
      .select($"sid", $"mined_tid", $"cosine", $"accepted")
      .as[(Long, Long, Double, Boolean)].collect()
    val blocked = ops.Similarity
      .marginMineBlocked(src, tgt, nLists = 6, nProbe = 3)
      .select($"sid", $"mined_tid", $"cosine", $"accepted")
      .as[(Long, Long, Double, Boolean)].collect()
    val exactRec = exact.filter(r => r._4 && r._2 == r._1 && r._1 % 2 == 0)
      .map(_._1).toSet
    val blockedRec = blocked.filter(r => r._4 && r._2 == r._1 && r._1 % 2 == 0)
      .map(_._1).toSet
    assert(exactRec.nonEmpty)
    assert(exactRec.subsetOf(blockedRec),
      s"blocked arm missed planted pairs: ${(exactRec -- blockedRec).take(5)}")
    // shared (sid, mined_tid) choices carry bit-identical 6-decimal
    // cosines — the algebra is the same code over the same vectors
    val exCos = exact.map(r => (r._1, r._2) -> r._3).toMap
    blocked.foreach { r =>
      exCos.get((r._1, r._2)).foreach(c => assert(c === r._3,
        s"cosine drift on (${r._1}, ${r._2}): exact $c vs blocked ${r._3}"))
    }
  }

  test("delta dedup vs persisted shingle index: near-copy flagged against " +
      "its indexed source, hot shingles excluded from candidates AND " +
      "sizes, no-match and unshingleable rows ride through, meta guarded") {
    val idx = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    // index side (even ids): 10 shares a boilerplate line with 12/14
    // (df 3 > cap 2 → hot), and carries unique content; 16 is the
    // near-dup source
    val boiler = "copyright footer all rights reserved"
    val old = Seq(
      (10L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (12L, s"one two three four five six $boiler"),
      (14L, s"seven eight nine ten eleven twelve $boiler"),
      (16L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    ops.CurationIndex.writeDedupIndex(spark, idx, old, n = 3, dfCap = 2)
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // near-copy of 16
      (3L, "completely different subject matter entirely here now"), // no match
      (5L, "xy"),                                                // too short to shingle
      (7L, boiler)                                               // ONLY hot content
    ).toDF("doc_id", "text")
    val out = ops.CurationIndex
      .dedupDeltaAgainstIndex(spark, idx, batch, minJaccard = 0.5)
      .select($"doc_id", $"best_old_id", $"jaccard", $"is_dup")
      .as[(Long, Option[Long], Option[Double], Boolean)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 5L, 7L),
      "every batch row must appear in the manifest")
    val hit = out(0)
    assert(hit._2 === Some(16L) && hit._4,
      s"near-copy must match its indexed source as a dup, got $hit")
    assert(hit._3.get > 0.5 && hit._3.get < 1.0,
      "shared-minus-suffix overlap must land strictly inside (0.5, 1)")
    assert(out.drop(1).forall(r => r._2.isEmpty && !r._4),
      "disjoint, unshingleable, and all-boilerplate rows must ride " +
        s"through unmatched, got ${out.drop(1).toSeq}")
    // hot exclusion is symmetric: 7's shingles are all inside the hot
    // profile, so it must produce NO candidate despite 3 index docs
    // carrying the same line — already asserted above via out(3)
    // a foreign directory (right layout, wrong format stamp) fails the
    // marker check loudly instead of serving a silently-wrong manifest
    val foreign = java.nio.file.Files.createTempDirectory("dedup-bad").toString
    spark.read.parquet(s"$idx/dedup_postings")
      .write.parquet(s"$foreign/dedup_postings")
    Seq((3L, 2L, 4L, 999L)).toDF("n", "df_cap", "n_docs", "format")
      .write.parquet(s"$foreign/dedup_meta")
    val e = intercept[IllegalArgumentException] {
      ops.CurationIndex.dedupDeltaAgainstIndex(spark, foreign, batch)
    }
    assert(e.getMessage.contains("bad meta"))
  }

  test("dedup-index append: appended generation serves equivalently to a " +
      "rebuild, its docs are findable as dup sources, meta doc count " +
      "accumulates") {
    val oldA = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val oldB = Seq(
      (12L, "pack my box with five dozen liquor jugs right now please"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "pack my box with five dozen liquor jugs right now thanks"),
      (3L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    def manifest(path: String) = ops.CurationIndex
      .dedupDeltaAgainstIndex(spark, path, batch)
      .select($"doc_id", $"best_old_id", $"jaccard", $"is_dup")
      .as[(Long, Option[Long], Option[Double], Boolean)]
      .collect().sortBy(_._1).toSeq
    // appended index (dfCap high → hot profile empty, so frozen-profile
    // rebuild == plain rebuild and the equivalence is exact)
    val app = java.nio.file.Files.createTempDirectory("dedup-app").toString
    ops.CurationIndex.writeDedupIndex(spark, app, oldA, n = 3, dfCap = 100)
    ops.CurationIndex.appendDedupIndex(spark, app, oldB)
    // rebuilt-from-both index
    val reb = java.nio.file.Files.createTempDirectory("dedup-reb").toString
    ops.CurationIndex.writeDedupIndex(spark, reb, oldA.unionByName(oldB),
      n = 3, dfCap = 100)
    val m = manifest(app)
    assert(m === manifest(reb),
      "append must be serve-invisible vs the rebuild")
    // the APPENDED doc (12) is the near-dup source for batch doc 1
    assert(m.head._1 === 1L && m.head._2 === Some(12L) && m.head._4)
    assert(m(1)._2 === Some(10L) && m(1)._4)
    // meta accumulated both generations
    assert(ops.CurationIndex.dedupIndexParams(spark, app) === ((3, 100)))
    val nDocs = spark.read.parquet(s"$app/dedup_meta")
      .select($"n_docs".cast("long")).as[Long].head()
    assert(nDocs === 2L)
  }

  test("dedup-index frozen-hot staleness: boilerplate common only among " +
      "APPENDED docs inflates delta Jaccard vs a rebuilt profile (the " +
      "documented drift direction behind the 25% rebuild trigger)") {
    // gen-0: distinct content, no boilerplate -> hot profile is EMPTY
    val gen0 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "pack my box with five dozen liquor jugs right now please"))
      .toDF("doc_id", "text")
    // gen-1: three docs sharing NEW boilerplate (df 3 > cap 2) that the
    // frozen build-time profile has never seen
    val boiler2 = "generated by pipeline v2 standard footer"
    val gen1 = Seq(
      (20L, s"alpha bravo charlie delta echo foxtrot $boiler2"),
      (22L, s"golf hotel india juliet kilo lima $boiler2"),
      (24L, s"mike november oscar papa quebec romeo $boiler2"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"zulu yankee xray whiskey victor uniform $boiler2"))
      .toDF("doc_id", "text")
    def verdict(path: String) = ops.CurationIndex
      .dedupDeltaAgainstIndex(spark, path, batch, minJaccard = 0.2)
      .select($"best_old_id", $"jaccard", $"is_dup")
      .as[(Option[Long], Option[Double], Boolean)].head()
    val frozen = java.nio.file.Files.createTempDirectory("dedup-frz").toString
    ops.CurationIndex.writeDedupIndex(spark, frozen, gen0, n = 3, dfCap = 2)
    ops.CurationIndex.appendDedupIndex(spark, frozen, gen1)
    val rebuilt = java.nio.file.Files.createTempDirectory("dedup-reb2").toString
    ops.CurationIndex.writeDedupIndex(spark, rebuilt,
      gen0.unionByName(gen1), n = 3, dfCap = 2)
    val f = verdict(frozen)
    val r = verdict(rebuilt)
    // frozen profile: the shared boilerplate shingles count as content,
    // so the batch doc "matches" an appended doc above threshold
    assert(f._1.nonEmpty && f._3,
      s"frozen-profile delta must over-flag the boilerplate match, got $f")
    // rebuilt profile: the boilerplate is hot (df 3 > cap 2) and
    // excluded; no real content is shared
    assert(r._1.isEmpty && !r._3,
      s"rebuilt profile must see no match once boilerplate is hot, got $r")
    assert(f._2.getOrElse(0.0) > r._2.getOrElse(0.0),
      "drift direction: frozen-profile Jaccard must overstate")
  }

  test("blocked bitext mining: a cacheKey'd repeat serves the quantizer " +
      "from the process cache (no refit) and returns identical rows") {
    val rnd = new scala.util.Random(47)
    val src = (0L until 30L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("sid", "sv")
    val tgt = (0L until 30L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("tid", "tv")
    def run() = ops.Similarity
      .marginMineBlocked(src, tgt, nLists = 4, nProbe = 2,
        cacheKey = Some("spec_margin_cache"))
      .select($"sid", $"mined_tid", $"cosine", $"margin", $"accepted")
      .as[(Long, Long, Double, Double, Boolean)].collect().sortBy(_._1)
    val before = ops.Similarity.marginKmFitCount.get()
    val first = run()
    val afterFirst = ops.Similarity.marginKmFitCount.get()
    assert(afterFirst === before + 1,
      "first cacheKey'd invocation must fit the quantizer exactly once")
    val second = run()
    assert(ops.Similarity.marginKmFitCount.get() === afterFirst,
      "repeat invocation under the same cacheKey must not refit")
    assert(first.toSeq === second.toSeq,
      "cached quantizer must yield bit-identical mining output")
    // and the un-keyed path still refits every time (opt-in contract)
    ops.Similarity.marginMineBlocked(src, tgt, nLists = 4, nProbe = 2)
      .collect()
    assert(ops.Similarity.marginKmFitCount.get() === afterFirst + 1)
  }

  test("soft dedup: weights are 1/|cluster| in exact micro-units, " +
      "singletons keep full weight, cluster mass conserved") {
    // three copies of one doc, two of another, one unique — shingle
    // streams identical within a group, disjoint across groups
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (10L, "one two three four five six seven"),
      (11L, "one two three four five six seven"),
      (20L, "lonely text with no duplicate partner here")
    ).toDF("doc_id", "text")
    val out = ops.Similarity.softDedupWeights(docs)
      .select($"doc_id", $"cluster_id", $"cluster_size", $"weight_micro",
        $"sampled")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(Seq(1L, 2L, 3L).forall(d =>
      byDoc(d)._2 == 1L && byDoc(d)._3 == 3L && byDoc(d)._4 == 333333L))
    assert(Seq(10L, 11L).forall(d =>
      byDoc(d)._2 == 10L && byDoc(d)._3 == 2L && byDoc(d)._4 == 500000L))
    assert(byDoc(20L) === ((20L, 20L, 1L, 1000000L, true)),
      "a singleton keeps weight 1 and is always sampled")
    // expected sampling mass per cluster = size · (1e6 div size) ≤ 1e6,
    // within integer truncation of 1e6 — over-representation removed
    out.groupBy(_._2).foreach { case (c, ms) =>
      val mass = ms.map(_._4).sum
      assert(mass <= 1000000L && mass > 1000000L - ms.length, s"cluster $c")
    }
  }

  test("bm25: rare-term queries rank their doc first, common terms score " +
      "low, dfCap drops hot postings, ties break on doc_id") {
    val corpus = Seq(
      (1L, "alpha beta gamma zebra"),
      (2L, "alpha beta gamma quokka quokka"),
      (3L, "alpha beta gamma wombat"),
      (4L, "alpha beta gamma"),
      (5L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val queries = Seq(
      (101L, "zebra"),
      (102L, "quokka alpha"))
      .toDF("query_id", "text")
    val got = ops.Similarity.bm25TopK(corpus, queries, k = 3)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // the rare term dominates: its doc is rank 1 with a positive score
    assert(got(101L).head._3 === 1L && got(101L).head._4 > 0L)
    assert(got(102L).head._3 === 2L, "quokka (tf 2) doc must lead")
    // every corpus doc matches 'alpha', so query 102 fills k=3; the
    // non-quokka candidates tie on the alpha contribution alone and
    // must break upward on doc_id
    val rest = got(102L).drop(1)
    assert(rest.map(_._3) === rest.map(_._3).sorted,
      "tied candidates must order by doc_id")
    // dfCap = 2 drops the df-5 common terms: query 102 keeps only the
    // quokka doc, query 101 only the zebra doc
    val capped = ops.Similarity.bm25TopK(corpus, queries, k = 3, dfCap = 2L)
      .as[(Long, Int, Long, Long)].collect()
    assert(capped.map(r => (r._1, r._3)).toSet === Set((101L, 1L), (102L, 2L)),
      s"dfCap must drop the common-term candidates: ${capped.mkString(",")}")
  }

  test("bm25 derived stats: a cached index's memoized dl/df/stats equal " +
      "a fresh build on the same tf") {
    val docs = Seq(
      (1L, "alpha beta gamma zebra"),
      (2L, "alpha beta quokka quokka"),
      (3L, "beta gamma wombat wombat wombat"),
      (4L, "alpha"))
      .toDF("doc_id", "text")
    val tf = ops.Similarity.bm25TermFreqsCached(docs, "spec-bm25-derived")
    val memo = ops.Similarity.bm25DerivedStats(tf)
    assert(ops.Similarity.bm25DerivedStats(tf) eq memo,
      "a cache-owned tf must be served its memoized stats")
    // a second frame object over the same plan is not cache-owned, so
    // it takes the fresh-build path, and is never memoized
    val oneShot = tf.toDF()
    assert(oneShot ne tf)
    val fresh = ops.Similarity.bm25DerivedStats(oneShot)
    assert(ops.Similarity.bm25DerivedStats(oneShot) ne fresh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    Seq(memo._1 -> fresh._1, memo._2 -> fresh._2, memo._3 -> fresh._3)
      .foreach { case (a, b) =>
        assert(a.schema === b.schema)
        assert(rows(a) === rows(b))
      }
  }

  test("bm25 index round trip: persisted index serves queries exactly " +
      "like the fresh build; truncated index fails loudly") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val queries = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("query_id"),
        array_join(slice(split($"text", " "), 1, 5), " ").as("text"))
    val tf = ops.Similarity.bm25TermFreqs(docs)
    val direct = ops.Similarity.bm25TopKFrom(tf, queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(direct.nonEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-idx").toString
    ops.CurationIndex.writeBm25(spark, dir, tf)
    val loaded = ops.CurationIndex.loadBm25(spark, dir)
    val viaIndex = ops.Similarity.bm25TopKFrom(loaded, queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(viaIndex.toSeq === direct.toSeq,
      "the persisted round trip must be invisible in the ranks")
    // truncated tf table (doc count below the meta's) fails loudly;
    // collect BEFORE overwriting — writing a frame into the path it is
    // being read from races the scan against the delete
    val truncated = loaded.filter($"doc_id" % 2 === 0)
      .as[(Long, String, Long)].collect()
    truncated.toSeq.toDF("doc_id", "term", "tf")
      .write.mode("overwrite").parquet(s"$dir/bm25_tf")
    val err = intercept[IllegalArgumentException] {
      ops.CurationIndex.loadBm25(spark, dir)
    }
    assert(err.getMessage.contains("truncated index"))
    // verify=false skips the corpus-sized completeness recount (the
    // O(metadata) production-serving load) — the documented trade is
    // that the SAME truncation now loads silently; the format marker
    // still gates
    val unverified = ops.CurationIndex.loadBm25(spark, dir, verify = false)
    assert(unverified.count() === truncated.length.toLong)
    val err2 = intercept[IllegalArgumentException] {
      spark.range(1).selectExpr("CAST(0 AS BIGINT) AS n_docs",
          "CAST(-1 AS BIGINT) AS format")
        .write.mode("overwrite").parquet(s"$dir/bm25_meta")
      ops.CurationIndex.loadBm25(spark, dir, verify = false)
    }
    assert(err2.getMessage.contains("rebuild"))
  }

  test("bm25 append: incrementally appended index serves queries exactly " +
      "like a fresh full build, and meta doc counts accumulate") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val queries = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("query_id"),
        array_join(slice(split($"text", " "), 1, 5), " ").as("text"))
    val full = ops.Similarity.bm25TopKFrom(
        ops.Similarity.bm25TermFreqs(docs), queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-append").toString
    ops.CurationIndex.writeBm25(spark, dir,
      ops.Similarity.bm25TermFreqs(docs.filter($"doc_id" % 2 === 0)))
    ops.CurationIndex.appendBm25(spark, dir,
      ops.Similarity.bm25TermFreqs(docs.filter($"doc_id" % 2 === 1)))
    val loaded = ops.CurationIndex.loadBm25(spark, dir)
    val appended = ops.Similarity.bm25TopKFrom(loaded, queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(appended.toSeq === full.toSeq,
      "the incremental path must never drift from the batch path")
  }

  test("bm25 compaction: segment files shrink, rows/meta/ranks are " +
      "untouched, and the verifying load still passes") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val queries = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("query_id"),
        array_join(slice(split($"text", " "), 1, 5), " ").as("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-compact").toString
    // disjoint id slices (the append contract: ids must be NEW):
    // base %8==0, then three appended generations of two residues each
    ops.CurationIndex.writeBm25(spark, dir,
      ops.Similarity.bm25TermFreqs(docs.filter($"doc_id" % 8 === 0)))
    (1 to 3).foreach { g =>
      ops.CurationIndex.appendBm25(spark, dir,
        ops.Similarity.bm25TermFreqs(docs.filter($"doc_id" % 8 === g * 2 - 1
          || $"doc_id" % 8 === g * 2)))
    }
    def files(): Int = new java.io.File(s"$dir/bm25_tf")
      .listFiles().count(_.getName.endsWith(".parquet"))
    def rows(): Seq[(Long, String, Long)] =
      spark.read.parquet(s"$dir/bm25_tf")
        .as[(Long, String, Long)].collect().toSeq.sorted
    def meta(): (Long, Long) = spark.read.parquet(s"$dir/bm25_meta")
      .select($"n_docs".cast("long"), $"format".cast("long"))
      .as[(Long, Long)].head()
    val (filesBefore, rowsBefore, metaBefore) = (files(), rows(), meta())
    val ranksBefore = ops.Similarity.bm25TopKFrom(
        ops.CurationIndex.loadBm25(spark, dir), queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    ops.CurationIndex.compactBm25(spark, dir)
    assert(files() < filesBefore,
      s"compaction must shrink the segment count (was $filesBefore, " +
        s"now ${files()})")
    assert(rows() === rowsBefore, "row multiset must be untouched")
    assert(meta() === metaBefore, "meta must be untouched")
    assert(!new java.io.File(s"$dir/bm25_tf_old").exists(),
      "the staged-aside table must be cleaned up")
    val ranksAfter = ops.Similarity.bm25TopKFrom(
        ops.CurationIndex.loadBm25(spark, dir), queries, k = 4)
      .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(ranksAfter.toSeq === ranksBefore.toSeq,
      "compaction must be serve-invisible")
  }

  test("d4: planted copies fall to semdedup, each cluster sheds exactly " +
      "n div 4 survivors to de-prototyping, flags compose into kept") {
    val out = ops.Similarity.q202D4Prune(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Long, Boolean, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r._1 -> r).toMap
    val offset = 1000000L
    val copies = out.filter(_._1 >= offset)
    assert(copies.nonEmpty)
    copies.foreach { c =>
      // a scalar-scaled copy sits at cosine exactly 1 to its source:
      // same cluster, copy (larger id) dropped, source NOT dropped by
      // the copy (the smaller-id-wins rule is one-directional)
      val src = byId(c._1 - offset)
      assert(c._2 === src._2, s"copy ${c._1} changed cluster")
      assert(c._4, s"copy ${c._1} must be semdedup-dropped")
    }
    // de-prototyping drops exactly (n * 1) div 4 per cluster, the MOST
    // prototypical (highest centroid cosine) survivors first
    out.filter(!_._4).groupBy(_._2).foreach { case (cl, rows) =>
      val dropped = rows.filter(_._5)
      assert(dropped.length === rows.length / 4, s"cluster $cl")
      if (dropped.nonEmpty) {
        val minDroppedCos = dropped.map(_._3).min
        val maxKeptCos = rows.filter(r => !r._5).map(_._3)
          .foldLeft(Long.MinValue)(math.max)
        assert(minDroppedCos >= maxKeptCos,
          s"cluster $cl: a kept survivor is more prototypical than a dropped one")
      }
    }
    // flags compose; nothing semdedup-dropped is also proto-ranked
    out.foreach { r =>
      assert(r._6 === (!r._4 && !r._5), s"vec ${r._1}")
      if (r._4) assert(!r._5, s"vec ${r._1}: dropped rows are not proto-ranked")
    }
    // deterministic end to end (fixed seed, content-keyed plant)
    val again = ops.Similarity.q202D4Prune(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Long, Boolean, Boolean, Boolean)].collect()
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("hybrid rrf: fused score recomputes from the arm ranks, both-arm " +
      "docs dominate, single-arm docs survive with one term") {
    val out = ops.Similarity.q190HybridRrf(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    def micro(l: Option[Int], s: Option[Int]): Long = {
      val v = l.map(r => 1.0 / (60L + r)).getOrElse(0.0) +
        s.map(r => 1.0 / (60L + r)).getOrElse(0.0)
      math.floor(v * 1e6 + 0.5).toLong
    }
    var sawLexOnly = false
    var sawSemOnly = false
    out.foreach { r =>
      val lex = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val sem = if (r.isNullAt(5)) None else Some(r.getInt(5))
      assert(lex.isDefined || sem.isDefined)
      if (lex.isEmpty) sawSemOnly = true
      if (sem.isEmpty) sawLexOnly = true
      assert(r.getLong(3) === micro(lex, sem),
        s"query ${r.getLong(0)} doc ${r.getLong(2)}: rrf_micro mismatch")
    }
    assert(sawLexOnly && sawSemOnly,
      "the fixture must exercise both single-arm fusion paths")
    // a doc ranked 1 by BOTH arms can never lose the fused rank 1
    out.filter(r => !r.isNullAt(4) && !r.isNullAt(5) &&
        r.getInt(4) == 1 && r.getInt(5) == 1)
      .foreach(r => assert(r.getInt(1) === 1))
  }

  test("q191 retrieval eval: hybrid recall@5 strictly beats lexical on " +
      "the sf0.01 fixture and MRR sums recompute") {
    val r = ops.Similarity.q191RetrievalEval(spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Long, Long, Long, Boolean)].head()
    val (n, lexHits, hybHits, lexMrr, hybMrr, noWorse) = r
    assert(n === 10L)
    assert(hybHits > lexHits, s"hybrid must lift recall: $lexHits -> $hybHits")
    assert(hybHits === n, "every probe's source doc must fuse into the top 5")
    assert(noWorse && hybMrr > lexMrr)
    // rr values are floor(1e6/rank): both sums must decompose into at
    // most n such terms
    val valid = (1 to 5).map(rk => math.floor(1e6 / rk + 0.5).toLong).toSet
    assert(Seq(lexMrr, hybMrr).forall(_ <= n * 1000000L))
    assert(valid.contains(1000000L)) // sanity of the grid itself
  }

  test("q192: IVF-hybrid overlaps the exact hybrid within the oracled " +
      "floors on the fixture") {
    val r = ops.Similarity.q192HybridIvfRecall(spark, "/root/testdata/sf0.01")
      .as[(Long, Boolean, Boolean)].head()
    assert(r._1 === 10L)
    assert(r._2, "mean top-5 overlap must clear the 0.5 floor")
    assert(r._3, "every probe must share at least one fused result")
  }

  test("q193: trigram BM25 recovers typo'd probes the word arm loses") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.01")
    val typo = ops.Similarity.typoProbe(docs)
    // word arm on the SAME typo'd probe set
    val wordTf = ops.Similarity.bm25TermFreqs(docs)
    val wordHits = ops.Similarity.bm25TopKFrom(wordTf, typo, k = 5)
      .filter($"doc_id" === $"query_id").count()
    org.apache.spark.sql.graftshim.GraftColumns
      .checkpointRdd(wordTf).foreach(_.unpersist(false))
    val triHits = ops.Similarity.q193TrigramBm25(spark, "/root/testdata/sf0.01")
      .filter($"doc_id" === $"query_id").count()
    val n = typo.count()
    assert(n === 10L)
    assert(triHits === n,
      s"trigram arm must recover every typo'd probe, got $triHits/$n")
    assert(triHits > wordHits,
      s"fuzzy lift must be real: word $wordHits vs trigram $triHits")
  }

  test("q161: blocked-vs-exact recovery parity holds on the driver fixture") {
    val out = ops.Similarity
      .q161BitextBlockedParity(spark, "/root/testdata/sf0.001")
      .as[(String, Boolean)].collect()
    assert(out === Array(("margin_mine_blocked", true)))
  }
}
