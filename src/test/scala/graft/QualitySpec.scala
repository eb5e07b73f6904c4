package graft

import org.apache.spark.sql.functions._

/** Corpus-quality / repetition signal tests (SURVEY §2.11 L5/L6
  * extensions): Gopher-style repetition stats, cross-document shingle
  * contamination, bag-of-words dedup, and the pivot/unpivot/grouping
  * sets relational extensions.
  */
class QualitySpec extends SparkTestBase {
  import spark.implicits._

  /** Writes literal docs as a parquet `documents` table in a temp sf dir. */
  private def withTempDocs[A](docs: Seq[(Long, String)])(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    body(dir)
  }

  test("repetition: top-2-gram and duplicate-3-gram fractions on a known-repetitive doc") {
    withTempDocs(Seq(
      (1L, "a b a b a b"),   // 2-grams: "a b"x3 "b a"x2; 3-grams: "a b a"x2 "b a b"x2
      (2L, "p q r s"))) { dir =>  // all grams unique
      val out = ops.Quality.q56Repetition(spark, dir)
        .select($"doc_id", $"n_tok", $"n_2grams", $"top2_count", $"top2_frac",
          $"n_3grams", $"n_dup3", $"dup3_frac")
        .as[(Long, Int, Long, Long, Double, Long, Long, Double)]
        .collect().map(r => r._1 -> r).toMap
      assert(out(1L) === ((1L, 6, 5L, 3L, 0.6, 4L, 4L, 1.0)))
      assert(out(2L) === ((2L, 4, 3L, 1L, 0.333333, 2L, 0L, 0.0)))
    }
  }

  test("lm score: out-of-distribution text costs more bits than reference-like text") {
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "the lazy dog sleeps while the quick fox runs over the hill"),
      (102L, "a quick brown dog and a lazy fox over the hills we go"))
      .toDF("doc_id", "text")
    val candidates = Seq(
      (1L, "the quick brown dog jumps over the lazy fox"), // in-distribution
      (2L, "zxqj vwkp qqzz xjvw kpzx wqjz"))               // garbled
      .toDF("doc_id", "text")
    val got = ops.Quality.lmScore(candidates, reference)
      .select($"doc_id", $"bits_per_transition")
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(2L) > got(1L) + 1.0,
      s"garbled text must cost clearly more bits: $got")
    // scores are bits: positive, and bounded by log2 of the uniform
    // fallback's worst case (1/(V) with V <= alphabet)
    assert(got.values.forall(b => b > 0.0 && b < 16.0))
    // the call above broadcast the model into the memo: a memo read now
    // is served that broadcast (older than one made just before it),
    // and a second lmScore on the same reference reuses it
    val probe = spark.sparkContext.broadcast(0)
    val model = ops.Quality.charLmBroadcastCached(reference)
    assert(model.id < probe.id, "lmScore must broadcast through the memo")
    probe.destroy()
    val again = ops.Quality.lmScore(candidates, reference)
      .select($"doc_id", $"bits_per_transition")
      .as[(Long, Double)].collect().toMap
    assert(again === got)
    assert(ops.Quality.charLmBroadcastCached(reference) eq model)
  }

  test("moore-lewis: domain-affine text scores negative diff, crawl-like " +
      "positive; diff equals the two lmScore bits recomputed") {
    val inDomain = Seq(
      (100L, "the patient shows acute renal failure and elevated creatinine"),
      (101L, "renal biopsy confirms acute tubular necrosis in the patient"),
      (102L, "creatinine and urea elevated consistent with renal failure"))
      .toDF("doc_id", "text")
    val general = Seq(
      (200L, "the game last night went to overtime and the crowd roared"),
      (201L, "markets rallied today as tech stocks closed sharply higher"),
      (202L, "the recipe calls for two cups of flour and a pinch of salt"),
      (203L, "the patient shows some symptoms the doctor noted today"))
      .toDF("doc_id", "text")
    val cands = Seq(
      (1L, "patient with renal failure and elevated creatinine levels"),
      (2L, "stocks closed higher today as the markets rallied again"))
      .toDF("doc_id", "text")
    val got = ops.Quality.mooreLewisSelect(cands, inDomain, general)
      .select($"doc_id", $"bits_in", $"bits_gen", $"xent_diff", $"selected")
      .as[(Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // the medical candidate is cheaper under the in-domain LM; the
    // finance one cheaper under the general LM
    assert(got(1L)._4 < 0.0 && got(1L)._5, s"domain doc not selected: $got")
    assert(got(2L)._4 > 0.0 && !got(2L)._5, s"crawl doc selected: $got")
    // the diff is exactly lmScore twice (shared kernel, no re-derivation)
    val inBits = ops.Quality.lmScore(cands, inDomain)
      .select($"doc_id", $"bits_per_transition").as[(Long, Double)]
      .collect().toMap
    val genBits = ops.Quality.lmScore(cands, general)
      .select($"doc_id", $"bits_per_transition").as[(Long, Double)]
      .collect().toMap
    got.foreach { case (id, r) =>
      assert(r._2 === inBits(id) && r._3 === genBits(id))
      assert(math.abs(r._4 - (inBits(id) - genBits(id))) < 1e-6)
    }
  }

  test("duplicate-line battery: hand-checked fractions, char mass counts " +
      "repeats only, thresholds drop the spam shape") {
    // doc 1: 4 lines, "aa bb" repeated 3x -> dup_lines 2/4, dup chars
    // 2*5 of 5+5+5+4 = 10/19; doc 2: all distinct
    val lines = Seq(
      (1L, Seq("aa bb", "aa bb", "aa bb", "cc d")),
      (2L, Seq("one line", "two line", "three line"))
    ).toDF("doc_id", "lines")
    val out = ops.Quality.dupLineStats(lines)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4L, 2L, 2L, 19L, 10L, 500000L, 526316L, false)))
    assert(out(2L) === ((2L, 3L, 3L, 0L, 26L, 0L, 0L, 0L, true)))
    // boundary: exactly 30% duplicate lines is kept (<=, Gopher's rule)
    val edge = Seq((3L, Seq("a", "b", "c", "d", "e", "f", "g", "a", "b", "c")))
      .toDF("doc_id", "lines")
    val e = ops.Quality.dupLineStats(edge)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().head
    assert(e._7 === 300000L && e._9 === false,
      "char fraction 30% > 20% still drops it")
  }

  test("ngram repetition battery: top family sums occurrences, dup family " +
      "covers positions once, thresholds fire both ways") {
    val docs = Seq(
      // "x y" x3 dominates the 2-grams; no 5-gram repeats
      (1L, "x y x y x y"),
      // "a b c d e" repeats at 1/6/11 -> every word position covered
      (2L, "a b c d e a b c d e a b c d e"),
      // no repetition at all
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = ops.Quality.ngramRepetitionStats(docs)
      .as[(Long, Int, String, Long, Long, Long, Long, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // doc 1: w_chars 6; top-2 metric = 3 occurrences * 2 chars = 6 ->
    // frac 1.0, over the 0.20 threshold
    assert(out((1L, 2)) === ((1L, 2, "top", 6L, 6L, 1000000L, 200000L, false)))
    // doc 1 has 5-gram rows (6 words) but no duplicated 5-gram
    assert(out((1L, 5)) === ((1L, 5, "dup", 6L, 0L, 0L, 150000L, true)))
    // doc 2: every position covered by the repeated 5-gram -> frac 1.0
    assert(out((2L, 5))._5 === 15L && out((2L, 5))._6 === 1000000L
      && !out((2L, 5))._8)
    // doc 3: clean -> every family/threshold passes except tiny-doc top
    // fractions, which are a property of doc SIZE, not repetition
    assert(out((3L, 5))._5 === 0L && out((3L, 5))._8)
    assert(out((3L, 10))._5 === 0L && out((3L, 10))._8)
    // grid completeness: docs with >= n words carry a row for every n
    assert(out.keySet.count(_._1 == 3L) === 9)
  }

  test("repetition batteries: all-empty-line/word docs hit the zero-char " +
      "guard — fractions are 0, never NaN/null") {
    // doc 1: three empty lines -> n_chars = 0; the dup-char fraction
    // divides 0/0 without the greatest() clamp
    val lines = Seq((1L, Seq("", "", ""))).toDF("doc_id", "lines")
    val d = ops.Quality.dupLineStats(lines)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().head
    assert(d._5 === 0L && d._8 === 0L, "n_chars and dup_char_micro are 0")
    assert(d._7 === 666667L && !d._9, "line fraction still fires")
    // doc of empty words (double spaces split to "") -> w_chars = 0
    // with duplicated empty grams -> metric_chars = 0 and frac 0
    val docs = Seq((1L, "     ")).toDF("doc_id", "text")
    val out = ops.Quality.ngramRepetitionStats(docs)
      .as[(Long, Int, String, Long, Long, Long, Long, Boolean)]
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._4 === 0L, "w_chars is 0")
      assert(r._6 === 0L, s"frac_micro must clamp to 0, got ${r._6}")
    }
  }

  test("gopherFullBattery: keep conjoins the three batteries; short docs " +
      "pass n-gram rules vacuously") {
    val clean = "the and that have with " +
      (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, clean),
      (2L, clean + "\nsame line twice\nsame line twice\nsame line twice"),
      (3L, Array.fill(8)("the alpha beta gamma delta epsilon").mkString(" ")),
      (4L, "word")
    ).toDF("doc_id", "text")
    val out = ops.Quality.gopherFullBattery(docs, minWords = 5L, minStop = 1L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def b(id: Long, c: String) = out(id).getAs[Boolean](c)
    assert(b(1L, "rules_keep") && b(1L, "lines_keep") && b(1L, "ngrams_keep")
      && b(1L, "keep"), "clean doc passes every battery")
    assert(b(2L, "rules_keep") && !b(2L, "lines_keep") && !b(2L, "keep"),
      "duplicated lines drop the doc through the line battery alone")
    assert(b(3L, "rules_keep") && b(3L, "lines_keep") && !b(3L, "ok_n2") &&
      !b(3L, "ok_n6") && !b(3L, "ngrams_keep") && !b(3L, "keep"),
      "periodic text drops through both n-gram families alone")
    assert(!b(4L, "rules_keep") && (2 to 10).forall(n => b(4L, s"ok_n$n")) &&
      b(4L, "ngrams_keep") && !b(4L, "keep"),
      "a 1-word doc passes every n-gram rule vacuously, fails word count")
    out.keys.foreach { id =>
      assert(b(id, "keep") === (b(id, "rules_keep") && b(id, "lines_keep")
        && b(id, "ngrams_keep")), s"doc $id: keep must be the conjunction")
    }
  }

  test("ccnetBuckets sketch arm: GK cutoffs agree with the exact arm " +
      "except within rank-eps of a tercile boundary") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val cand = docs.filter($"doc_id" % 3 =!= 0)
    val ref = docs.filter($"doc_id" % 3 === 0)
    val exact = ops.Quality.ccnetBuckets(cand, ref)
      .as[(Long, Long, String)].collect()
    val sketch = ops.Quality.ccnetBuckets(cand, ref, exactCutoffs = false)
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    val n = exact.length
    assert(n > 100 && sketch.size === n)
    val sorted = exact.map(_._2).sorted
    // GK rank error eps*n, +2 for interpolated-vs-observed cutoffs
    val slack = n.toDouble / 10000 + 2
    val bands = Seq(n / 3.0, 2.0 * n / 3)
    val disagree = exact.filter(r => sketch(r._1) != r._3)
    disagree.foreach { case (id, bits, _) =>
      val lo = sorted.count(_ < bits) + 1
      val hi = sorted.count(_ <= bits)
      val near = bands.exists(b => lo <= b + slack && hi >= b - slack)
      assert(near, s"doc $id flipped bucket at rank [$lo,$hi] of $n — " +
        "outside every tercile band")
    }
    assert(disagree.length <= math.max(2, n / 100),
      s"${disagree.length} of $n flipped — more than boundary noise")
  }

  test("lmScoreByLang equals lmScore run on each language's slice; " +
      "unmodeled languages are dropped") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en"),
      (101L, "the lazy dog sleeps while the quick fox runs", "en"),
      (102L, "der schnelle braune fuchs springt ueber den hund", "de"),
      (103L, "der faule hund schlaeft den ganzen langen tag", "de"))
      .toDF("doc_id", "text", "lang")
    val cand = Seq(
      (1L, "the quick dog jumps over the fox", "en"),
      (2L, "der braune hund springt ueber den fuchs", "de"),
      (3L, "texto de otro idioma sin modelo entrenado", "es"))
      .toDF("doc_id", "text", "lang")
    val got = ops.Quality.lmScoreByLang(cand, ref)
      .select($"doc_id", $"lang", $"bits_per_transition")
      .as[(Long, String, Double)].collect()
    assert(got.map(_._1).toSet === Set(1L, 2L),
      "the es candidate has no reference model and must be dropped")
    val gotBits = got.map(r => r._1 -> r._3).toMap
    for (l <- Seq("en", "de")) {
      val single = ops.Quality.lmScore(
          cand.filter($"lang" === l), ref.filter($"lang" === l))
        .select($"doc_id", $"bits_per_transition")
        .as[(Long, Double)].collect().toMap
      single.foreach { case (id, bits) =>
        assert(math.abs(gotBits(id) - bits) < 1e-9,
          s"lang $l doc $id: per-lang score must equal the single-language fit")
      }
    }
  }

  test("ccnetBucketsByLang equals ccnetBuckets applied to each language's " +
      "slice; GK arm callable (real fixture)") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val cand = docs.filter($"doc_id" % 3 =!= 0)
    val ref = docs.filter($"doc_id" % 3 === 0)
    val byLang = ops.Quality.ccnetBucketsByLang(cand, ref)
      .as[(Long, String, Long, String)].collect()
    assert(byLang.nonEmpty)
    val langs = byLang.map(_._2).distinct
    assert(langs.length > 1, "fixture must be multilingual")
    for (l <- langs) {
      val expected = ops.Quality.ccnetBuckets(
          cand.filter($"lang" === l), ref.filter($"lang" === l))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val gotL = byLang.filter(_._2 == l)
      assert(gotL.length === expected.size, s"lang $l row count")
      gotL.foreach { case (id, _, bits, bucket) =>
        assert(expected(id) === ((bits, bucket)),
          s"lang $l doc $id: grouped fit must equal the single-language fit")
      }
      // within a language the terciles are balanced to within 2
      val sizes = gotL.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.keySet.subsetOf(Set("head", "middle", "tail")))
      assert(sizes.values.max - sizes.values.min <= 2,
        s"lang $l terciles unbalanced: $sizes")
    }
    val sketch = ops.Quality.ccnetBucketsByLang(cand, ref,
      exactCutoffs = false)
    assert(sketch.count() === byLang.length.toLong,
      "GK arm must score the same population")
  }

  test("ccnetNormalize: digit folding, punctuation mapping, whitespace " +
      "collapse, trim") {
    val rows = Seq(
      (1L, "  Call 555-1234 “now”—or wait\t till  2026! "),
      (2L, "‘quoted’ – dash"),
      (3L, "no change needed"))
      .toDF("doc_id", "text")
    val got = rows
      .select($"doc_id", ops.Quality.ccnetNormalize($"text").as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "call 000-0000 \"now\"-or wait till 0000!")
    assert(got(2L) === "'quoted' - dash")
    assert(got(3L) === "no change needed")
  }

  test("q182: normalized text keeps no digit but 0, no whitespace runs, " +
      "and buckets every scored doc") {
    val out = ops.Quality.q182CcnetNormBuckets(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, t, _, b) =>
      assert(!t.exists(c => c >= '1' && c <= '9'), s"doc $id keeps a digit")
      assert(!t.contains("  ") && !t.contains("\t") && !t.contains("\n"),
        s"doc $id keeps a whitespace run")
      assert(t == t.trim, s"doc $id not trimmed")
      assert(Set("head", "middle", "tail")(b))
    }
  }

  test("ccnet lang state round trip: persisted fit buckets a new batch " +
      "exactly like the in-session fit; corrupt state fails loudly") {
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val (cnt2, cuts) = ops.Quality.ccnetLangState(
      even.filter($"doc_id" % 3 =!= 0), even.filter($"doc_id" % 3 === 0))
    val direct = ops.Quality.ccnetBucketsByLangFrom(odd, cnt2, cuts)
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    assert(direct.nonEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ccnet-lang").toString
    ops.CurationIndex.writeCcnetLang(spark, dir, cnt2, cuts)
    val (lcnt2, lcuts) = ops.CurationIndex.loadCcnetLangState(spark, dir)
    val viaIndex = ops.Quality.ccnetBucketsByLangFrom(odd, lcnt2, lcuts)
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    assert(viaIndex.toSeq === direct.toSeq,
      "the persisted round trip must be invisible in the output")
    // the driver Map built from loaded state matches the fresh fit
    val fresh = ops.Quality.ccnetModelsFromState(cnt2, cuts)
    val loaded = ops.Quality.ccnetModelsFromState(lcnt2, lcuts)
    assert(loaded.keySet === fresh.keySet)
    loaded.foreach { case (l, (lm, c1, c2)) =>
      val (flm, fc1, fc2) = fresh(l)
      assert((c1, c2) === ((fc1, fc2)), s"lang $l cutoffs")
      assert(lm.bigramKeys.toSeq === flm.bigramKeys.toSeq &&
        lm.bigramCounts.toSeq === flm.bigramCounts.toSeq &&
        lm.vocab === flm.vocab, s"lang $l model")
    }
    // marker-less directory fails loudly
    val bad = java.nio.file.Files
      .createTempDirectory("graft-ccnet-bad").toString
    cnt2.write.mode("overwrite").parquet(s"$bad/ccnet_lang_bigrams")
    cuts.write.mode("overwrite").parquet(s"$bad/ccnet_lang_cuts")
    val err = intercept[IllegalArgumentException] {
      ops.CurationIndex.loadCcnetLangState(spark, bad)
    }
    assert(err.getMessage.contains("format marker"))
  }

  test("siteBoilerplateClean: source-scoped df threshold, blank-line " +
      "exemption, removal from every doc, total output") {
    val docs = Seq(
      (1L, "a", Seq("NAV", "one unique", "", "shared line")),
      (2L, "a", Seq("NAV", "two unique", "shared line")),
      (3L, "a", Seq("NAV", "three unique")),
      (4L, "b", Seq("NAV", "b unique")), // same bytes, df=1 in source b
      (5L, "a", Seq("NAV", "")),         // boilerplate + blank only
      (6L, "a", Seq("NAV")))             // all lines removed
      .toDF("doc_id", "source", "lines")
    val got = ops.Quality.siteBoilerplateClean(docs, minDocs = 3L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 6, "output must be total")
    // NAV df=5 in source a (removed from EVERY doc); df=1 in b (kept);
    // "shared line" df=2 < 3 (kept); blanks never count as boilerplate
    assert(got(1L) === ((1L, 4L, 3L, "one unique\n\nshared line")))
    assert(got(2L) === ((2L, 3L, 2L, "two unique\nshared line")))
    assert(got(3L) === ((3L, 2L, 1L, "three unique")))
    assert(got(4L) === ((4L, 2L, 2L, "NAV\nb unique")))
    assert(got(5L) === ((5L, 2L, 1L, "")))
    assert(got(6L) === ((6L, 1L, 0L, "")))
  }

  test("q184: every fixture doc loses exactly its nav and footer; promo " +
      "and content lines survive the threshold") {
    val out = ops.Quality.q184SiteBoilerplate(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, raw, kept, text) =>
      assert(raw - kept === 2L, s"doc $id must lose nav + footer only")
      assert(!text.contains("home | products"), s"doc $id keeps nav")
      assert(!text.contains("copyright"), s"doc $id keeps footer")
    }
    assert(out.exists(_._4.contains("subscribe to the")),
      "a rare promo line must survive the df threshold")
  }

  test("q170 releases its persists (CacheManager empty after the budgeted " +
      "capstone)") {
    spark.catalog.clearCache()
    val out = ops.Quality.q170BudgetedCorpus(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    assert(org.apache.spark.sql.graftshim.GraftColumns.cacheIsEmpty(spark),
      "q170 leaked a persisted DataFrame")
    // the budget decides both ways on the fixture
    assert(out.filter(col("kept")).count() > 0)
    assert(out.filter(!col("kept")).count() > 0)
  }

  test("q116 releases its persists (CacheManager empty after the capstone)") {
    spark.catalog.clearCache()
    val out = ops.Quality.q116ShippedCorpus(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    // kept/cleaned persist across their dual references inside the
    // plan and must be released once the eager output checkpoint lands
    assert(org.apache.spark.sql.graftshim.GraftColumns.cacheIsEmpty(spark),
      "q116 leaked a persisted DataFrame")
  }

  test("plan shapes: q112 semi-joins broadcast; q113 model joins broadcast") {
    val d = "/root/testdata/sf0.001"
    val p112 = ops.SpanDedup.q112Decontaminate(spark, d)
      .queryExecution.executedPlan.toString
    // the benchmark gram set is tiny by construction — the containment
    // gate must be a broadcast semi join, never a shuffle of the
    // training gram stream
    assert(p112.contains("BroadcastHashJoin") && p112.contains("LeftSemi"),
      p112.linesIterator.take(30).mkString("\n"))
    val p113 = ops.Quality.q113LmPerplexity(spark, d)
      .queryExecution.executedPlan.toString
    // round 21: scoring is the broadcast CharLm kernel — ONE map stage
    // over the candidate scan, no joins, no per-character explode, no
    // per-doc aggregate; the only exchange left is the output sort.
    // (Before: two broadcast model joins + a generator + a keyed agg.)
    assert(!p113.contains("SortMergeJoin") && !p113.contains("Join"),
      p113.linesIterator.take(30).mkString("\n"))
    assert(!p113.contains("Generate"),
      p113.linesIterator.take(30).mkString("\n"))
    assert("Exchange".r.findAllIn(p113).size == 1, p113)
  }

  test("lm score: bigram stream kernel matches the HOF multiplicity formulation") {
    import org.apache.spark.sql.graftshim.GraftColumns.charBigramStream
    val docs = Seq((1L, "abab"), (2L, "x"), (3L, ""), (4L, "hello world"))
      .toDF("doc_id", "text")
    val kernel = docs.select($"doc_id",
      charBigramStream($"text").as("b")).as[(Long, Seq[String])].collect().toMap
    // sliding(2) is the scala-side reference semantics: all adjacent
    // pairs in order, duplicates KEPT (what separates this from the
    // distinct CharBigrams kernel)
    assert(kernel(1L) === Seq("ab", "ba", "ab"))
    assert(kernel(2L) === Seq.empty)
    assert(kernel(3L) === Seq.empty)
    assert(kernel(4L) === "hello world".sliding(2).toSeq)
  }

  test("CharLm.bits reproduces the batch lmScore per document") {
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "The Lazy Dog sleeps WHILE the quick fox runs over the hill"))
      .toDF("doc_id", "text")
    val candidates = Seq(
      (1L, "the quick brown dog jumps over the lazy fox"),
      (2L, "zxqj vwkp qqzz xjvw kpzx wqjz"),
      (3L, "MIXED Case Text With The Usual Words Again"),
      // non-ASCII forces Spark's slow lowercase path — the kernel must
      // take the same branch (CharLm.sparkLower) or bits diverge
      (4L, "CAFÉ résumé QUALITÉ over the lazy dog"))
      .toDF("doc_id", "text")
    val batch = ops.Quality.lmScore(candidates, reference)
      .select($"doc_id", $"bits_per_transition")
      .as[(Long, Double)].collect().toMap
    val lm = ops.Quality.charLm(reference)
    candidates.as[(Long, String)].collect().foreach { case (id, text) =>
      assert(math.abs(lm.bits(text) - batch(id)) < 1e-6,
        s"doc $id: kernel ${lm.bits(text)} vs batch ${batch(id)}")
    }
    // degenerate inputs score 0, not NaN
    assert(lm.bits(null) === 0.0)
    assert(lm.bits("x") === 0.0)
  }

  test("char bigrams + CharLm are code-point exact on astral/CJK text " +
      "(batch kernel == stream kernel == code-point reference)") {
    import org.apache.spark.sql.graftshim.GraftColumns.charBigramStream
    // 🦀 U+1F980 and 𝒜 U+1D49C are astral (surrogate pairs in UTF-16);
    // the pre-fix UTF-16 kernel would split them into lone surrogates
    val crab = "🦀"
    val scriptA = "𝒜"
    // the kernel emits CODE-POINT pairs — an astral char is one unit
    val kernel = Seq((1L, s"a${crab}b"), (2L, s"$crab$crab"), (3L, crab),
        (4L, "你好世界"))
      .toDF("doc_id", "text")
      .select($"doc_id", charBigramStream($"text").as("b"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel(1L) === Seq(s"a$crab", s"${crab}b"))
    assert(kernel(2L) === Seq(s"$crab$crab"))
    assert(kernel(3L) === Seq.empty) // one code point -> no transition
    assert(kernel(4L) === Seq("你好", "好世", "世界"))
    val reference = Seq(
      (100L, s"the $crab jumps 你好 over the lazy $scriptA dog"),
      (101L, s"$crab$crab 你好世界 the quick $scriptA fox"))
      .toDF("doc_id", "text")
    val candidates = Seq(
      (1L, s"the $crab runs 你好"),
      (2L, s"$scriptA$crab$scriptA mixed with ASCII"),
      (3L, "plain ascii only here"),
      (4L, "你好世界你好"))
      .toDF("doc_id", "text")
    val batch = ops.Quality.lmScore(candidates, reference)
      .select($"doc_id", $"bits_per_transition")
      .as[(Long, Double)].collect().toMap
    val lm = ops.Quality.charLm(reference)
    // independent code-point reference model (the DuckDB oracle's
    // slicing): add-one-smoothed bigram counts over lowercased
    // code-point pairs — asserts BOTH kernels, not just their parity
    val refCps = reference.as[(Long, String)].collect().map(_._2.toLowerCase)
    def cps(s: String): Array[Int] = s.codePoints().toArray
    val allBi = refCps.flatMap(t => cps(t).sliding(2).filter(_.length == 2)
      .map(p => (p(0).toLong << 32) | p(1)).toSeq)
    val c2 = allBi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = allBi.groupBy(p => (p >>> 32).toInt).view
      .mapValues(_.length.toLong).toMap
    val v = allBi.map(_ & 0xffffffffL).distinct.length.toLong
    def refBits(text: String): Double = {
      val t = cps(text.toLowerCase)
      if (t.length < 2) return 0.0
      val logs = t.sliding(2).filter(_.length == 2).map { p =>
        val key = (p(0).toLong << 32) | p(1)
        math.log((c2.getOrElse(key, 0L) + 1.0) /
          (c1.getOrElse(p(0), 0L) + v))
      }.toSeq
      -(logs.sum / logs.size) / math.log(2.0)
    }
    candidates.as[(Long, String)].collect().foreach { case (id, text) =>
      assert(math.abs(lm.bits(text) - batch(id)) < 1e-6,
        s"doc $id: stream kernel ${lm.bits(text)} vs batch ${batch(id)}")
      assert(math.abs(refBits(text) - batch(id)) < 1e-6,
        s"doc $id: reference ${refBits(text)} vs batch ${batch(id)}")
    }
    // a lone astral char: 1 code point, 0 transitions, scores 0
    assert(lm.bits(crab) === 0.0)
  }

  test("quality classifier composes as admission gate #5 with the q114 gates") {
    val rnd = new scala.util.Random(7)
    val goodVocab = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "with", "morning", "light", "stone")
    val badVocab = Seq("zxq", "qjvv", "xkwz", "vqpx", "zzkj", "wxqv",
      "kqzx", "jvwq", "xzzp", "qkvj", "zwxk", "vjqz")
    def soup(v: Seq[String]) =
      (0 until 24).map(_ => v(rnd.nextInt(v.size))).mkString(" ")
    val trainGood = (0 until 60).map(i => (1000L + i, soup(goodVocab)))
    val trainBad = (0 until 60).map(i => (2000L + i, soup(badVocab)))
    val model = ops.Quality.fitQualityClassifier(
      trainGood.toDF("doc_id", "text"), trainBad.toDF("doc_id", "text"))
    val goodText = soup(goodVocab)
    val cands = Seq(
      (1L, goodText),            // clean, survivor -> admitted
      (2L, goodText),            // exact dup of 1 -> survivor gate drops
      (3L, soup(badVocab)),      // garbled -> quality gate drops
      (4L, "short text"))        // token floor drops
      .toDF("doc_id", "text")
    val surv = cands.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    val decisions = cands
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .withColumn("n_tok", size(split($"text", " ")))
      .withColumn("q", ops.Quality.qualityScoreCol(model)($"text"))
      .withColumn("keep",
        $"doc_id" === $"survivor_id" && $"n_tok" >= 5 && $"q" >= 0.5)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(decisions === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false))
  }

  test("shared shingles: fraction of a doc's distinct 3-grams seen in any other doc") {
    withTempDocs(Seq(
      (1L, "a b c d"),   // shingles: "a b c", "b c d"
      (2L, "a b c x"),   // shingles: "a b c", "b c x" -> shares "a b c" with doc 1
      (3L, "p q r s t"))) { dir =>  // disjoint
      val out = ops.Quality.q59SharedShingles(spark, dir)
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(out(1L) === ((1L, 2L, 1L, 0.5)))
      assert(out(2L) === ((2L, 2L, 1L, 0.5)))
      assert(out(3L) === ((3L, 3L, 0L, 0.0)))
    }
  }

  test("bow dedup: token order and multiplicity do not defeat the canonical key") {
    withTempDocs(Seq(
      (5L, "a b c"),
      (2L, "c b a"),       // reordered -> same bag
      (9L, "a b b c c"),   // repeated tokens -> same bag
      (4L, "x y"))) { dir =>
      val out = ops.Quality.q60BowDedup(spark, dir)
        .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
      assert(out(2L) === ((2L, 3L, 3)))  // min-id survivor of {5,2,9}
      assert(out(4L) === ((4L, 1L, 2)))
      assert(out.size === 2)
    }
  }

  test("bow dedup is idempotent on its survivors") {
    withTempDocs(Seq((5L, "a b c"), (2L, "c b a"), (4L, "x y"))) { dir =>
      val once = ops.Quality.q60BowDedup(spark, dir)
      // survivors all have distinct bag keys, so deduping them again is a no-op
      assert(once.count() === once.select($"doc_id").distinct().count())
    }
  }

  test("source-overlap matrix: near-dup pairs roll up to unordered source pair counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    Seq(
      (1L, "a b c d e", "web"),   // 1-2 dup across web/books; 1-3 dup within web
      (2L, "a b c d e", "books"),
      (3L, "a b c d x", "web"),
      (4L, "p q r s t", "books")) // no partner
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ops.Similarity.q64SourceOverlap(spark, dir)
      .as[(String, String, Long)].collect().toSet
    // pairs: (1,2) jacc 1.0 web/books; (1,3) 2/(3+3-2)=0.5 web/web;
    // (2,3) 0.5 books/web
    assert(out === Set(("books", "web", 2L), ("web", "web", 1L)))
  }

  test("unpivot plans an Expand (map-side row multiply), not a shuffle per metric") {
    val plan = ops.Relational.q58Unpivot(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected Expand in:\n$plan")
    // exactly one grouped exchange over the |metrics|-key aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  test("pivot equals the conditional-aggregation formulation") {
    val dir = "/root/testdata/sf0.001"
    val viaPivot = ops.Relational.q57Pivot(spark, dir)
      .collect().map(_.toSeq).toSet
    val viaCase = ops.Sources.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(when($"o_orderstatus" === "F", 1)).as("n_f"),
        coalesce(sum(when($"o_orderstatus" === "F",
          $"o_totalprice".cast("decimal(12,2)"))), lit(0).cast("decimal(12,2)"))
          .cast("double").as("rev_f"),
        count(when($"o_orderstatus" === "O", 1)).as("n_o"),
        coalesce(sum(when($"o_orderstatus" === "O",
          $"o_totalprice".cast("decimal(12,2)"))), lit(0).cast("decimal(12,2)"))
          .cast("double").as("rev_o"),
        count(when($"o_orderstatus" === "P", 1)).as("n_p"),
        coalesce(sum(when($"o_orderstatus" === "P",
          $"o_totalprice".cast("decimal(12,2)"))), lit(0).cast("decimal(12,2)"))
          .cast("double").as("rev_p"))
      .select($"o_orderpriority", $"n_f", $"rev_f", $"n_o", $"rev_o", $"n_p", $"rev_p")
      .collect().map(_.toSeq).toSet
    assert(viaPivot === viaCase)
  }

  test("tf-idf top terms: smoothed idf zeroes corpus-universal terms, ranks rare terms first") {
    withTempDocs(Seq((1L, "x x y"), (2L, "x z"))) { dir =>
      val out = ops.Text.q62TfidfTerms(spark, dir)
        .as[(Long, Int, String, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._6))).toMap
      // N=2: idf(x) = ln(3/3) = 0; idf(y) = idf(z) = ln(3/2)
      assert(out((1L, 1)) === (("y", 0.405465)))
      assert(out((1L, 2)) === (("x", 0.0)))
      assert(out((2L, 1)) === (("z", 0.405465)))
      assert(out((2L, 2)) === (("x", 0.0)))
    }
  }

  test("text normalization collapses case and punctuation runs to canonical spaced form") {
    val norm = Seq(("Brand#13", "PROMO BURNISHED   Tin!", "a--b"))
      .toDF("b", "t", "x")
      .select(
        trim(regexp_replace(lower($"b"), "[^a-z0-9]+", " ")).as("nb"),
        trim(regexp_replace(lower($"t"), "[^a-z0-9]+", " ")).as("nt"),
        trim(regexp_replace(lower($"x"), "[^a-z0-9]+", " ")).as("nx"))
      .as[(String, String, String)].head()
    assert(norm === (("brand 13", "promo burnished tin", "a b")))
    // full query on the fixture: every normalized column is canonical
    // (no leading/trailing/double spaces, [a-z0-9 ] alphabet only)
    val canonical = "^[a-z0-9]+( [a-z0-9]+)*$"
    val bad = ops.Relational.q63NormalizeText(spark, "/root/testdata/sf0.001")
      .filter(!$"norm_name".rlike(canonical) || !$"norm_brand".rlike(canonical) ||
        !$"norm_type".rlike(canonical))
      .count()
    assert(bad === 0L)
  }

  test("grouping sets emits exactly the two marginals plus the grand total") {
    val out = ops.Relational.q61GroupingSets(spark, "/root/testdata/sf0.001")
      .select($"g_status", $"g_prio").as[(Int, Int)].collect()
    // (status) rows: g=(0,1); (priority) rows: g=(1,0); (): g=(1,1); never (0,0)
    assert(out.count(_ == ((1, 1))) === 1)
    assert(!out.contains((0, 0)))
    assert(out.count(_ == ((0, 1))) > 0 && out.count(_ == ((1, 0))) > 0)
  }

  test("q108 curation decision: internal invariants hold at sf0.001") {
    val rows = ops.Quality.q108Curation(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length > 0)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId.size === rows.length, "one decision per document")
    rows.foreach { r =>
      val (nTok, stop, cov) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      val (surv, keep) = (r.getBoolean(4), r.getBoolean(6))
      assert(nTok >= 1)
      assert(stop >= 0.0 && stop <= 1.0)
      assert(cov >= 0.0 && cov <= 1.0)
      // the keep rule is exactly survivor && n_tok>=5 && coverage<=0.5
      assert(keep === (surv && nTok >= 5 && cov <= 0.5))
    }
    // survivor count must equal the distinct-text count (q21 contract),
    // and the decision is non-vacuous in the keep direction
    val distinctTexts = ops.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("text").distinct().count()
    assert(rows.count(_.getBoolean(4)).toLong === distinctTexts)
    assert(rows.exists(_.getBoolean(6)), "expect kept docs")
  }

  test("gopherRules: each §A1.1 rule fires on its hand-built breach doc") {
    val clean = (("alpha beta gamma delta epsilon zeta " * 9) +
      "the cat and that dog have fun with all of them be well").trim
    val docs = Seq(
      1L -> clean, // passes every rule
      2L -> "the of short doc", // word-count floor
      3L -> (clean + " ### ## # # ## ### # # ## # ##"), // symbol ratio
      4L -> (1 to 60).map(i => s"- item$i the of").mkString("\n"), // bullets
      5L -> (clean + "\n" + Seq.fill(30)("so they said...").mkString("\n")), // ellipses
      6L -> (clean + " " + (1 to 60).map(_.toString).mkString(" ")), // alpha
      7L -> clean.replaceAll("\\b(the|and|that|have|with|of|be)\\b", "xx"), // stops
      8L -> ("a b c d e f g h i j " * 6 + "the of").trim // mean word length
    ).toDF("doc_id", "text")
    val out = ops.Quality.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def rule(id: Long, name: String): Boolean =
      out(id).getBoolean(out(id).fieldIndex(name))
    assert(rule(1L, "keep"), "clean doc passes the whole battery")
    assert(!rule(2L, "r_wordcount") && !rule(2L, "keep"))
    assert(rule(1L, "r_symbol") && !rule(3L, "r_symbol"))
    assert(rule(1L, "r_bullet") && !rule(4L, "r_bullet"))
    assert(rule(1L, "r_ellipsis") && !rule(5L, "r_ellipsis"))
    assert(rule(1L, "r_alpha") && !rule(6L, "r_alpha"))
    assert(rule(1L, "r_stop") && !rule(7L, "r_stop"))
    assert(rule(1L, "r_meanlen") && !rule(8L, "r_meanlen"))
  }

  test("dsirWeights separates target-like from pool-like candidates") {
    val target = (1L to 40L)
      .map(i => i -> "alpha beta gamma delta epsilon zeta eta theta").toDF("doc_id", "text")
    val cands = ((101L to 110L).map(i => i -> "alpha beta gamma delta epsilon zeta")
      ++ (201L to 240L).map(i => i -> "omega psi chi phi upsilon tau sigma rho"))
      .toDF("doc_id", "text")
    val out = ops.Quality.dsirWeights(cands, target)
    val w = out.collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("log_weight"))).toMap
    assert((101L to 110L).forall(i => w(i) > 0), "target-vocab docs upweighted")
    assert((201L to 240L).forall(i => w(i) < 0), "pool-vocab docs downweighted")
    // weights are a pure function of the corpora — partition-invariant
    val w2 = ops.Quality.dsirWeights(cands.repartition(7), target.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("log_weight"))).toMap
    assert(w === w2)
  }

  test("q125 admission v2: keep is exactly the conjunction of its gates") {
    val rows = ops.Quality.q125AdmissionV2(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      def b(n: String) = r.getBoolean(r.fieldIndex(n))
      val nTok = r.getLong(r.fieldIndex("n_tok"))
      val contam = r.getLong(r.fieldIndex("contaminated_chars"))
      val bits = r.getDouble(r.fieldIndex("lm_bits"))
      assert(b("keep") === (b("is_survivor") && nTok >= 5 && contam == 0L &&
        bits <= 6.0 && b("gopher_keep") && b("dsir_ok")))
    }
    assert(rows.exists(_.getBoolean(rows.head.fieldIndex("keep"))), "kept docs exist")
    assert(rows.exists(r => !r.getBoolean(r.fieldIndex("keep"))), "dropped docs exist")
  }

  test("q129 ships exactly the q125-admitted, non-near-dup documents (excision replaces the contamination drop)") {
    val dir = "/root/testdata/sf0.001"
    val shipped = ops.Quality.q129ShippedCorpusFull(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    // q125's gates minus the contamination gate (q129 EXCISES the
    // contaminated text instead of dropping the document)
    val admitted = ops.Quality.q125AdmissionV2(spark, dir)
      .filter($"is_survivor" && $"n_tok" >= 5 && $"lm_bits" <= 6.0 &&
        $"gopher_keep" && $"dsir_ok")
      .select($"doc_id").as[Long].collect().toSet
    val docs = ops.Sources.documents(spark, dir)
    val losers = ops.Similarity.nearDupLosers(docs.filter($"doc_id" % 97 =!= 0))
      .select($"doc_id").as[Long].collect().toSet
    assert(shipped === (admitted -- losers))
    assert(shipped.nonEmpty && (admitted -- losers).size < 500)
  }

  test("stupid backoff: every chain level hand-checked; in-distribution " +
      "beats gibberish; short docs excluded; empty reference fails loudly") {
    val ref = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b d e"))
      .toDF("doc_id", "text")
    // counts: uni a:2 b:3 c:2 d:1 e:1 (N=9, V=5);
    // bi "a b":2 "b c":2 "b d":1 "d e":1; tri "a b c":2 "b d e":1
    val cand = Seq(
      (10L, "a b c"),   // trigram hit: S = c3/c2("a b") = 2/2 = 1
      (11L, "x b c"),   // tri miss, bigram "b c" hit: 0.4*(2/3)
      (12L, "x y c"),   // both miss: 0.4*(0.4*((2+1)/(9+5)))
      (13L, "x y z"),   // unseen unigram floor: 0.4*(0.4*(1/14))
      (14L, "a b")      // < 3 tokens: excluded
    ).toDF("doc_id", "text")
    val got = ops.Quality.stupidBackoffScore(cand, ref)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(14L), "short docs have no trigram positions")
    def bits(s: Double): Double =
      BigDecimal(-math.log(s) / math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) === ((1L, bits(1.0))))
    assert(got(11L) === ((1L, bits(0.4 * (2.0 / 3.0)))))
    assert(got(12L) === ((1L, bits(0.4 * (0.4 * ((2.0 + 1.0) / 14.0))))))
    assert(got(13L) === ((1L, bits(0.4 * (0.4 * ((0.0 + 1.0) / 14.0))))))
    // ordering: deeper chain level = more bits
    assert(got(10L)._2 < got(11L)._2 && got(11L)._2 < got(12L)._2 &&
      got(12L)._2 < got(13L)._2)
    val err = intercept[IllegalArgumentException] {
      ops.Quality.stupidBackoffScore(cand, ref.filter($"doc_id" < 0L))
    }
    assert(err.getMessage.contains("empty reference"))
  }

  test("kneser-ney: every branch hand-checked; continuation beats raw " +
      "frequency on the francisco effect; empty reference fails loudly") {
    // counts: uni a:2 b:3 c:2 d:1 e:1 (V=5);
    // bigram types: "a b" c=2, "b c" c=2, "b d" c=1, "d e" c=1 (B=4)
    // fwd: a→1, b→2, d→1; bwd: b→1, c→1, d→1, e→1; B+V = 9
    val ref = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b d e"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (10L, "a b"),  // seen bigram: (2-.75)/2 + (.75*1/2)*((1+1)/9)
      (11L, "b e"),  // unseen bigram, seen ctx b: 0 + (.75*2/3)*((1+1)/9)
      (12L, "x e"),  // unseen ctx: pcont(e) = (1+1)/9
      (13L, "x z"),  // unseen ctx AND word: pcont(z) = (0+1)/9
      (14L, "c a"),  // c seen (c1=2) but never starts a bigram (n1f=0):
                     // falls to pcont(a) = (0+1)/9 (a never ends one)
      (15L, "a")     // < 2 tokens: excluded
    ).toDF("doc_id", "text")
    val got = ops.Quality.kneserNeyScore(cand, ref)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(15L), "single-token docs have no transitions")
    def bits(p: Double): Double =
      BigDecimal(-math.log(p) / math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) === ((1L, bits((2.0 - 0.75) / 2.0 +
      (0.75 * 1.0 / 2.0) * (2.0 / 9.0)))))
    assert(got(11L) === ((1L, bits((0.75 * 2.0 / 3.0) * (2.0 / 9.0)))))
    assert(got(12L) === ((1L, bits(2.0 / 9.0))))
    assert(got(13L) === ((1L, bits(1.0 / 9.0))))
    assert(got(14L) === ((1L, bits(1.0 / 9.0))))
    // the KN property: the seen bigram scores best of all, and the
    // never-seen word (13) worse than the seen-in-context word (12)
    assert(Seq(11L, 12L, 13L, 14L).forall(d => got(10L)._2 < got(d)._2))
    assert(got(12L)._2 < got(13L)._2)
    val err = intercept[IllegalArgumentException] {
      ops.Quality.kneserNeyScore(cand, ref.filter($"doc_id" < 0L))
    }
    assert(err.getMessage.contains("empty reference"))
  }

  test("c4 line filter: every line rule and page rule hand-checked in " +
      "both directions") {
    val rows = Seq(
      (1L, Seq("one two three four five.", "six seven eight nine ten!",
        "does it end in question mark?")),          // 3 kept -> keep
      (2L, Seq("one two three four five", "six seven eight nine ten.",
        "third line of five words.")),              // bare line -> 2 kept
      (3L, Seq("enable javascript now please thanks.",
        "one two three four five.", "third line of five words.",
        "fourth line has five words.")),            // js line cut, 3 kept
      (4L, Seq("short line.", "one two three four five.",
        "third line of five words.", "fourth line has five words.")),
      (5L, Seq("lorem ipsum padding to five words.",
        "one two three four five.", "third line of five words.")),
      (6L, Seq("code { brace } five words.", "one two three four five.",
        "third line of five words.")),
      (7L, Seq("he said it ends quoted\"", "one two three four five.",
        "third line of five words."))               // quote terminal -> keep
    ).toDF("doc_id", "lines")
    val got = ops.Quality.c4LineFilter(rows)
      .select($"doc_id", $"n_kept", $"has_lorem", $"has_brace", $"keep",
        $"cleaned_text")
      .as[(Long, Long, Boolean, Boolean, Boolean, Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(got.filter(_._2._5).keySet === Set(1L, 3L, 4L, 7L))
    assert(got(2L)._2 === 2L, "unpunctuated line dropped")
    assert(got(3L)._2 === 3L &&
      !got(3L)._6.get.contains("javascript"), "banned line excised")
    assert(got(4L)._2 === 3L, "sub-5-word line dropped")
    assert(got(5L)._3 && !got(5L)._5, "lorem ipsum drops the page")
    assert(got(6L)._4 && !got(6L)._5, "curly brace drops the page")
    assert(got(7L)._2 === 3L, "closing quote counts as terminal")
    assert(got(5L)._6.isEmpty && got(6L)._6.isEmpty,
      "dropped pages ship no cleaned text")
    assert(got(1L)._6.get ===
      "one two three four five.\nsix seven eight nine ten!\n" +
        "does it end in question mark?")
  }

  test("paragraph dedup: min-(doc,idx) survivor across docs, within-doc " +
      "repeats drop, all-dup docs ship NULL, order preserved") {
    val rows = Seq(
      (1L, Seq("unique one", "cookie banner", "unique two")),
      (2L, Seq("cookie banner", "unique three", "cookie banner")),
      (3L, Seq("cookie banner")),                 // everything duplicated
      (4L, Seq("repeat me", "repeat me"))         // within-doc repeat
    ).toDF("doc_id", "lines")
    val got = ops.Quality.dedupParagraphs(rows)
      .select($"doc_id", $"n_lines", $"n_kept", $"cleaned_text")
      .as[(Long, Long, Long, Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 3L,
      Some("unique one\ncookie banner\nunique two"))))
    assert(got(2L) === ((2L, 3L, 1L, Some("unique three"))),
      "doc 1 owns the banner's min occurrence")
    assert(got(3L) === ((3L, 1L, 0L, None)),
      "a doc that is pure boilerplate ships nothing")
    assert(got(4L) === ((4L, 2L, 1L, Some("repeat me"))),
      "within-doc repeats keep only the first position")
  }

  test("curriculum manifest: stages mirror the tercile buckets, keys " +
      "are collision-free within a stage, all candidates covered") {
    val out = ops.Quality.q160Curriculum(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long)].collect()
    val buckets = ops.Quality.q120CcnetBuckets(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    assert(out.length === buckets.size)
    out.foreach { r =>
      assert(buckets(r._1) === r._2)
      assert(r._3 === Seq("head", "middle", "tail").indexOf(r._2).toLong)
    }
    out.groupBy(_._3).foreach { case (st, rows) =>
      assert(rows.map(_._4).distinct.length === rows.length,
        s"stage $st keys must be collision-free")
    }
  }

  test("line LM scoring: per-line keys round-trip, every plant line " +
      "scored independently, boilerplate differs from soup") {
    val dir = "/root/testdata/sf0.001"
    val out = ops.Quality.q158LineLm(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._2 >= 0 && r._2 <= 9), "idx in key range")
    // a doc's lines score differently (independent units)
    val perDoc = out.groupBy(_._1).filter(_._2.length >= 3)
    assert(perDoc.exists { case (_, ls) => ls.map(_._3).distinct.length > 1 })
    // the injected lorem line scores the SAME bits in every %11 doc
    // (same text, same model) — the signature of line granularity
    val lorem = out.filter(r => r._1 % 11 == 0 && r._1 % 13 != 0)
      .groupBy(_._1).map { case (_, ls) => ls.maxBy(_._2)._3 }.toSeq
    assert(lorem.distinct.length === 1,
      s"identical injected lines must score identically: $lorem")
  }

  test("line LM removal: flagged lines are excised, survivors keep " +
      "order, cleaned text equals the flag-filtered reassembly") {
    val dir = "/root/testdata/sf0.001"
    val flags = ops.Quality.q158LineLm(spark, dir)
      .filter($"lm_bits" > 4.2).select($"doc_id", $"idx")
      .as[(Long, Long)].collect().toSet
    assert(flags.nonEmpty, "the 4.2 cut must flag something")
    val out = ops.Quality.q159LineLmClean(spark, dir)
      .select($"doc_id", $"n_lines", $"n_kept", $"cleaned_text")
      .as[(Long, Long, Long, Option[String])].collect()
    assert(out.exists(r => r._3 < r._2), "some doc must lose lines")
    // no surviving line may be a flagged one
    out.foreach { r =>
      r._4.foreach { txt =>
        val survivors = txt.split("\n", -1)
        assert(survivors.length.toLong === r._3)
      }
      assert(r._2 - r._3 >= 0)
    }
    val cut = out.map(r => r._2 - r._3).sum
    assert(cut === flags.size.toLong,
      s"exactly the flagged lines are cut: $cut vs ${flags.size}")
  }

  test("q150 composition: dedup-then-filter flips decisions in BOTH " +
      "directions vs filter-alone — the order is load-bearing") {
    val dir = "/root/testdata/sf0.001"
    val composed = ops.Quality.q150CcnetC4Clean(spark, dir)
      .select($"doc_id", $"n_raw", $"n_dedup", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val alone = ops.Quality.q144C4Clean(spark, dir)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(composed.values.forall(r => r._3 <= r._2),
      "dedup never adds lines")
    assert(composed.values.exists(r => r._3 < r._2),
      "boilerplate families really deduped")
    // a non-min %11 doc loses its lorem line to dedup -> page no longer
    // dropped; a doc relying on boilerplate lines can fall under the
    // 3-line floor -> dropped only in the composed pass
    val rescued = composed.values.filter(r => r._4 && !alone(r._1))
    assert(rescued.nonEmpty, "dedup should rescue later lorem docs")
    assert(composed.values.count(_._4) > 0)
    // every doc accounted for in both passes
    assert(composed.size === alone.size)
  }

  test("q122 planted corpus exercises every rule in both directions") {
    val out = ops.Quality.q122GopherGate(spark, "/root/testdata/sf0.001")
    val n = out.count()
    val rules = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stop", "keep")
    val sums = out.agg(
      sum(when(col(rules.head), 1L).otherwise(0L)).as(rules.head),
      rules.tail.map(r => sum(when(col(r), 1L).otherwise(0L)).as(r)): _*
    ).collect()(0)
    rules.zipWithIndex.foreach { case (r, i) =>
      val c = sums.getLong(i)
      assert(c > 0 && (c < n || r == "keep"),
        s"$r fires both ways (pass=$c of $n)")
    }
  }

  test("doremiMixture: EG up-weights the high-excess-loss domain, keeps the " +
    "smoothing floor, and conserves the micro-mass budget") {
    val clean = "the quick brown fox jumps over the lazy dog near the river bank"
    val noise = "zq xv qj wk vz kx jq zx qv wq zk xj vw kq jz xq"
    // ids ≡ 0 (mod 3) are the LM reference split (clean text); the
    // candidates split into a reference-like domain and a garbled one.
    val docs = (Seq(3L, 6L, 9L, 12L).map(i => (i, clean + " again", "ref")) ++
      Seq(1L, 4L, 7L, 10L).map(i => (i, clean, "clean")) ++
      Seq(2L, 5L, 8L, 11L).map(i => (i, noise, "noise")))
      .toDF("doc_id", "text", "source")
    val out = ops.Quality.doremiMixture(docs)
      .as[(String, Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, _, _, lamClean, aClean, qClean) = out("clean")
    val (_, _, _, lamNoise, aNoise, qNoise) = out("noise")
    // the garbled domain has strictly higher excess bits -> higher α
    assert(lamNoise > lamClean && aNoise > aClean && qNoise > qClean)
    // below-average domain's excess is clipped at 0 (DoReMi's max(0,·))
    assert(lamClean === 0.0)
    // smoothing floor: every α ≥ c/k (integer-floored uniform mass)
    val k = out.size
    assert(out.values.forall(_._5 >= (1000L / k) / 1e6))
    // micro-mass conservation: Σα = 1 within k micro-units of dust
    val sumAlpha = out.values.map(_._5).sum
    assert(math.abs(sumAlpha - 1.0) <= k * 1e-6 + 1e-12)
    // quotas never exceed the corpus token budget
    val totTok = out.values.map(_._3).sum
    assert(out.values.map(_._6).sum <= totTok)
    // static-loss EG concentrates with more iterations
    val early = ops.Quality.doremiMixture(docs, iterations = 1)
      .as[(String, Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(aNoise > early("noise"))
  }

  test("corpusDatasheet: rollup levels reconcile and the Expand runs over " +
    "the bounded group table, not the corpus") {
    val out = ops.Quality.q138CorpusDatasheet(spark, "/root/testdata/sf0.001")
    // the ROLLUP's Expand must sit ABOVE the per-(lang, source)
    // aggregate — a corpus-side Expand would triple the scan at 100 TB
    val expands = out.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.size === 1)
    assert(expands.head.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "Expand must consume the pre-aggregated group table")
    val rows = out.select($"lang", $"source", $"n_docs", $"dup_docs",
        $"scored_docs", $"g_lang", $"g_source")
      .as[(Option[String], Option[String], Long, Long, Long, Int, Int)]
      .collect()
    val detail = rows.filter(r => r._6 == 0 && r._7 == 0)
    val byLang = rows.filter(r => r._6 == 0 && r._7 == 1)
    val grand = rows.filter(r => r._6 == 1 && r._7 == 1)
    assert(grand.length === 1)
    // grand total == table cardinality; dup count == n - distinct texts
    val docs = ops.Sources.documents(spark, "/root/testdata/sf0.001")
    assert(grand.head._3 === docs.count())
    assert(grand.head._4 ===
      docs.count() - docs.select($"text").distinct().count())
    // every per-lang subtotal is the sum of its detail rows
    byLang.foreach { l =>
      val det = detail.filter(_._1 == l._1)
      assert(det.map(_._3).sum === l._3 && det.map(_._4).sum === l._4 &&
        det.map(_._5).sum === l._5, s"subtotal mismatch for lang ${l._1}")
    }
  }

  test("data-constrained repeats: greedy admission by decayed marginal, " +
      "boundary fraction pro-rata, caps and exact token algebra by hand") {
    // two sources: A has 10 'w' tokens per doc x 2 docs = 20 tokens,
    // B has 10. Unique corpus = 30; budget 2.5x = 75 tokens.
    // Marginals (x1e6, decay 3/4): A: 20, 15, 11.25, 8.4375 | B: 10, 7.5, 5.625, 4.21875
    // Greedy order: A1(20) A2(15) A3(11.25) B1(10) A4(8.4375) B2(7.5) B3(5.625) B4(4.2)
    // Cum cost:        20    40     60       70     90(cap75)...
    // -> A: 3 full epochs + A4 partial (75-70)/20 = 0.25; B: 1 full (B1), rest 0.
    val docs = Seq(
      (1L, "A", Seq.fill(10)("w").mkString(" ")),
      (2L, "A", Seq.fill(10)("w").mkString(" ")),
      (3L, "B", Seq.fill(10)("w").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = ops.Quality.dataConstrainedRepeats(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val a = out(0); val b = out(1)
    assert(a._1 == "A" && a._2 === 20L)
    assert(a._3 === 3L, s"A full epochs: $a")
    assert(a._4 === 250000L, s"A boundary fraction: $a")
    // alloc A = 3 * 20 + 20 * 0.25 = 65
    assert(a._5 === 65L, s"A allocated: $a")
    // eff A = 20 + 15 + 11.25 + 8.4375 * 0.25 = 48.359375 -> micro floor
    // marg4 = (20e6 * 27) div 64 = 8437500; * 250000 div 1e6 = 2109375
    assert(a._6 === 20000000L + 15000000L + 11250000L + 2109375L, s"A eff: $a")
    assert(b._1 == "B" && b._2 === 10L && b._3 === 1L && b._4 === 0L &&
      b._5 === 10L && b._6 === 10000000L, s"B: $b")
    // degenerate: budget smaller than the first epoch -> single partial
    val tiny = ops.Quality.dataConstrainedRepeats(docs,
        budgetOfUniqueNum = 1L, budgetOfUniqueDen = 2L) // budget = 15
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // order: A1 (cost 20) boundary at 15/20 = 0.75; B gets nothing
    assert(tiny(0)._3 === 0L && tiny(0)._4 === 750000L && tiny(0)._5 === 15L)
    assert(tiny(1)._3 === 0L && tiny(1)._4 === 0L && tiny(1)._5 === 0L)
  }
}
