package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality and repetition signals for LLM training-data curation
  * (SURVEY §2.11 L5/L6 extensions) — the Gopher-style repetition
  * filters (Rae et al. 2021, "Scaling Language Models", §A1.1) and
  * cross-document contamination stats real pipelines gate on before
  * training. All DuckDB-oracled.
  *
  * 100 TB posture: every query is explode → immediate aggregate (the
  * n-gram blowup never outlives its stage; partial map-side combine
  * reduces per (doc, gram) before any exchange), and every ratio ships
  * the tie-proof floor(x·1e6+0.5) micro-unit form (q52 precedent) so
  * results are independent of engine rounding and aggregation order.
  */
object Quality {

  /** Word n-gram array of a token-array column: positions i..i+n-1
    * joined by single spaces (q39's shingle construction generalized).
    */
  /** All word n-grams of a token array (codegen'd kernel; see
    * [[graft.expressions.WordGrams]]). Byte-identical to the old
    * interpreted `transform(sequence(0, size-n), concat_ws)` HOF on
    * every guarded input, ~13× faster on the dsirWeights bigram
    * stream (round-21 measurement). Inputs with size < n yield an
    * EMPTY array (the HOF form emitted garbage from-the-end grams
    * there) — every call site must keep its `size(t) >= n` guard.
    */
  private[ops] def wordGrams(t: org.apache.spark.sql.Column, n: Int) =
    org.apache.spark.sql.graftshim.GraftColumns.wordGrams(t, n)

  /** [[wordGrams]] fused with per-gram xxhash64 (seed 42) — one pass,
    * no intermediate gram-string array; bit-identical to
    * `transform(wordGrams(t, n), s => xxhash64(s))`.
    */
  private[ops] def wordGramHashes(t: org.apache.spark.sql.Column, n: Int) =
    org.apache.spark.sql.graftshim.GraftColumns.wordGramHashes(t, n)

  /** Tie-proof 6-decimal ratio: floor(p·1e6/q + 0.5)/1e6 — both engines
    * floor the IDENTICAL IEEE double, so no round()-tie divergence.
    */
  private[ops] def microRatio(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
    floor(p.cast("double") * 1e6 / q + 0.5) / 1e6

  /** L6 — CCNet-style LANGUAGE-MODEL quality scoring (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data" — public): train an add-one-smoothed character
    * BIGRAM model on a REFERENCE corpus and score every candidate
    * document by its mean negative log₂ transition probability (bits
    * per transition = log₂ perplexity under the reference model).
    * Out-of-distribution documents — garbled text, boilerplate,
    * foreign-language — score high and are what the CCNet perplexity
    * gate buckets/drops before training. q49's classifier matches
    * DISTINCT bigram profiles; the model here counts the full stream
    * ([[graft.expressions.CharBigramStream]]) with multiplicity.
    *
    * Model, exactly (shared with the DuckDB oracle): over reference
    * transitions ab, P(b|a) = (cnt₂(ab)+1) / (cnt₁(a)+V) with
    * cnt₁(a) = Σ_b cnt₂(ab) and V = |distinct successor chars| —
    * unseen contexts fall back to the uniform 1/V.
    *
    * 100 TB posture: the model is BOUNDED BY THE ALPHABET (≤ |Σ|²
    * bigram rows + |Σ| context rows + 1 scalar), independent of corpus
    * size, so all three model tables broadcast; the candidate stream
    * is one map stage (kernel explode) + broadcast joins + one per-doc
    * aggregate — a single keyed shuffle end to end. Scoring is
    * embarrassingly parallel, the CCNet deployment shape.
    */
  def lmScore(candidates: DataFrame, reference: DataFrame): DataFrame = {
    import candidates.sparkSession.implicits._
    // BROADCAST-KERNEL scoring (round 21): the model is alphabet-
    // bounded by construction ([[charLm]] fits it with the same ONE
    // reference explode the old frame-shaped path used, then collects
    // ≤|Σ|²+|Σ| rows — the CCNet deployment shape the scaladoc below
    // already argued). Scoring is then ONE map stage: the old path
    // materialized ~1 row per candidate CHARACTER through an explode,
    // two broadcast joins and a per-doc aggregate — pure overhead at
    // every scale since the per-doc score is a pure function of the
    // text. Bit-exactness: [[CharLm.logpParts]] walks the same
    // code-point stream with the same lowercase semantics, smoothing
    // algebra and accumulation order as the exploded aggregate (whose
    // per-doc partial summed the contiguous exploded rows in text
    // order), and the final negate/log2/round algebra below is the old
    // expression verbatim — DuckDB parity stays hash-green.
    val b = charLmBroadcastCached(reference)
    val parts = udf { text: String => b.value.logpParts(text) }
    candidates.filter(length($"text") >= 2)
      .select($"doc_id", parts($"text").as("p"))
      .select($"doc_id", $"p.n".as("n_transitions"),
        round(-($"p.s" / $"p.n") / log(lit(2.0)), 6)
          .as("bits_per_transition"))
  }

  /** [[CharLm]] broadcast memo ([[graft.util.IndexMemo]]) — the
    * round-21 advice noted [[lmScore]] created a NEW SparkContext
    * broadcast per call and never destroyed it. The model is now fitted
    * and broadcast once per reference dataset per session, so broadcast
    * accumulation is bounded by the distinct references. [[charLm]] is
    * a deterministic count aggregate, so a hit scores identically.
    */
  private val charLmMemo =
    new graft.util.IndexMemo[org.apache.spark.broadcast.Broadcast[CharLm]]

  private[graft] def charLmBroadcastCached(reference: DataFrame)
      : org.apache.spark.broadcast.Broadcast[CharLm] =
    charLmMemo(Seq(reference), "charLm") {
      reference.sparkSession.sparkContext.broadcast(charLm(reference))
    }

  /** [[lmScore]]'s model COLLECTED to a broadcast-friendly primitive
    * form — legitimate precisely because the model is ALPHABET-bounded
    * (|Σ|² bigram + |Σ| context entries + 1 scalar, independent of
    * corpus size; the q108 "small summaries" discipline). COLLECT
    * BUDGET, stated: even a 100 TB multilingual corpus observes at most
    * a few tens of millions of distinct char bigrams (full CJK crossed
    * with itself), i.e. ≤ a few hundred MB of (long, long) rows at the
    * pathological extreme and ~100 KB for a single-script corpus —
    * collectable and broadcastable by construction, unlike anything
    * corpus-sized. Bigrams pack CODE-POINT pairs into a 64-bit key
    * (a << 32 | b — astral characters are first-class, the round-14
    * advice fix) over sorted primitive arrays + binary search — the
    * [[graft.ops.Streaming.curationStream]] sorted-array economics, no
    * boxed maps in the broadcast. [[bits]] reproduces [[lmScore]]'s
    * per-document score on ANY unicode text (same code-point slicing
    * as the batch kernel and the DuckDB oracle, same smoothing algebra,
    * same lowercase normalization; parity asserted in QualitySpec /
    * StreamingSpec at 1e-6, including an astral/CJK arm).
    */
  final case class CharLm(bigramKeys: Array[Long], bigramCounts: Array[Long],
      ctxKeys: Array[Int], ctxCounts: Array[Long], vocab: Long) {

    private def lookup(keys: Array[Long], counts: Array[Long], k: Long): Long = {
      val i = java.util.Arrays.binarySearch(keys, k)
      if (i >= 0) counts(i) else 0L
    }

    private def lookupCtx(k: Int): Long = {
      val i = java.util.Arrays.binarySearch(ctxKeys, k)
      if (i >= 0) ctxCounts(i) else 0L
    }

    /** Mean negative log₂ transition probability of `text` under the
      * model — [[lmScore]]'s `bits_per_transition`, per row. Texts with
      * no transition (< 2 code points) score 0 (they carry no
      * evidence; the admission token floor gates them anyway).
      */
    def bits(text: String): Double = {
      if (text == null || text.length < 2) return 0.0
      val t = CharLm.sparkLower(text)
      var sum = 0.0; var n = 0
      var prev = t.codePointAt(0)
      var idx = Character.charCount(prev)
      while (idx < t.length) {
        val cur = t.codePointAt(idx)
        val c2 = lookup(bigramKeys, bigramCounts, (prev.toLong << 32) | cur)
        val c1 = lookupCtx(prev)
        sum += math.log((c2 + 1.0) / (c1 + vocab))
        n += 1; prev = cur; idx += Character.charCount(cur)
      }
      if (n == 0) 0.0 else -(sum / n) / math.log(2.0)
    }

    /** The raw accumulator behind [[bits]]: transition count and the
      * Σ log p sum, accumulated in text order — exactly the per-doc
      * partial the old exploded `avg(logp)` aggregate built (one
      * contiguous partial per doc), so [[lmScore]]'s batch scores stay
      * bit-identical on the kernel path. Callers guarantee ≥ 2 code
      * points (the `length(text) >= 2` gate).
      */
    def logpParts(text: String): LmParts = {
      // same guard as bits() (round-21 advice): the method is safe
      // under lmScore's length(text) >= 2 gate, but must not crash a
      // task if reused unguarded on null/short text
      if (text == null || text.length < 2) return LmParts(0L, 0.0)
      val t = CharLm.sparkLower(text)
      var sum = 0.0; var n = 0L
      var prev = t.codePointAt(0)
      var idx = Character.charCount(prev)
      while (idx < t.length) {
        val cur = t.codePointAt(idx)
        val c2 = lookup(bigramKeys, bigramCounts, (prev.toLong << 32) | cur)
        val c1 = lookupCtx(prev)
        sum += math.log((c2 + 1.0) / (c1 + vocab))
        n += 1L; prev = cur; idx += Character.charCount(cur)
      }
      LmParts(n, sum)
    }
  }

  /** (transition count, Σ log p) of one document under a [[CharLm]] —
    * [[lmScore]]'s per-row kernel output.
    */
  final case class LmParts(n: Long, s: Double)

  object CharLm {
    /** Lowercase with Spark's EXACT `lower()` semantics so kernel and
      * batch scores agree under ANY JVM default locale: UTF8String
      * takes a locale-free ASCII fast path for all-ASCII strings and
      * falls back to default-locale `String.toLowerCase` otherwise.
      * A plain `toLowerCase(Locale.ROOT)` would diverge from the batch
      * path on e.g. a tr-TR JVM ('I' → 'ı' on the slow path), and a
      * plain default-locale call would diverge on ASCII text under the
      * same locale (Spark's fast path keeps 'I' → 'i').
      */
    private[Quality] def sparkLower(s: String): String = {
      var ascii = true
      var i = 0
      while (ascii && i < s.length) {
        if (s.charAt(i) >= 0x80) ascii = false
        i += 1
      }
      if (!ascii) s.toLowerCase()
      else {
        val a = s.toCharArray
        var j = 0
        while (j < a.length) {
          val c = a(j)
          if (c >= 'A' && c <= 'Z') a(j) = (c + 32).toChar
          j += 1
        }
        new String(a)
      }
    }
  }

  /** Fit a [[CharLm]] from a reference corpus — the same count frame
    * as [[lmScore]]: ONE corpus explode into the bigram aggregate,
    * collected because it is alphabet-bounded by construction; the
    * context counts and vocabulary derive driver-side from the
    * collected table (cnt₁(a) = Σ_b cnt₂(ab); V = |distinct
    * successors|), costing zero extra corpus passes.
    */
  def charLm(reference: DataFrame): CharLm = {
    import reference.sparkSession.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.charBigramStream
    val big = reference.filter(length($"text") >= 2)
      .select(explode(charBigramStream(lower($"text"))).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
      .map { case (b, c) =>
        val a = b.codePointAt(0)
        ((a.toLong << 32) | b.codePointAt(Character.charCount(a)), c)
      }
      .sortBy(_._1)
    // Fail HERE, descriptively, not later with an Infinity-bits model
    // that silently rejects every scored document (vocab 0 would make
    // every transition 1/(0+0)) — the round-14 advice guard.
    require(big.nonEmpty,
      "charLm: reference corpus has no document with >= 2 characters — " +
        "an empty bigram model cannot score (every probability would " +
        "divide by a zero vocabulary)")
    val ctx = big.groupBy(e => (e._1 >>> 32).toInt).view
      .mapValues(_.map(_._2).sum).toArray.sortBy(_._1)
    val v = big.map(_._1 & 0xffffffffL).distinct.length.toLong
    CharLm(big.map(_._1), big.map(_._2), ctx.map(_._1), ctx.map(_._2), v)
  }

  /** ORACLED exercise (q113): [[lmScore]] with a deterministic corpus
    * split — every 3rd doc_id trains the reference bigram model, the
    * rest are scored. DuckDB re-derives the counts, the smoothing
    * algebra, and the per-doc aggregate, so every document's bits
    * score is hash-checked at 6 decimals.
    */
  def q113LmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    lmScore(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
      .orderBy(col("doc_id"))
  }

  /** L52 — MOORE–LEWIS cross-entropy-difference selection (Moore &
    * Lewis 2010, "Intelligent Selection of Language Model Training
    * Data", ACL — public; the classic in-domain data selection method
    * and DSIR's generative ancestor): score every candidate by
    *
    *   xent_diff = bits_inDomain(doc) − bits_general(doc)
    *
    * — per-transition cross-entropy under an IN-DOMAIN LM minus under
    * a GENERAL-corpus LM — and select docs with xent_diff below
    * `threshold` (0 = "looks more like the target domain than like
    * the crawl at large"). Subtracting the general-LM score is what
    * separates domain affinity from plain fluency: a doc that is easy
    * under BOTH models (boilerplate) cancels out, where a raw
    * perplexity gate (q113) would keep it.
    *
    * Both scores are [[lmScore]] verbatim (same smoothing, same
    * 6-decimal rounding), so the difference is the same IEEE
    * subtraction cross-engine; the diff re-rounds at 6 before the
    * threshold compare (the cosine discipline).
    *
    * 100 TB posture: two alphabet-bounded broadcast models, two
    * independent map-stage scoring passes (each one keyed shuffle for
    * the per-doc aggregate), one doc-keyed join of two per-doc
    * summaries. Linear in candidate tokens; nothing corpus-sized
    * moves. The two candidate explodes could fuse into one stream
    * joined against both models — taken deliberately as two passes to
    * reuse [[lmScore]]'s proven kernel (the q142 lesson: measure
    * before restructuring a working linear plan).
    */
  def mooreLewisSelect(cands: DataFrame, inDomainRef: DataFrame,
      generalRef: DataFrame, threshold: Double = 0.0): DataFrame = {
    import cands.sparkSession.implicits._
    val inB = lmScore(cands, inDomainRef)
      .select($"doc_id", $"bits_per_transition".as("bits_in"))
    val genB = lmScore(cands, generalRef)
      .select($"doc_id", $"bits_per_transition".as("bits_gen"))
    inB.join(genB, Seq("doc_id"))
      .withColumn("xent_diff", round($"bits_in" - $"bits_gen", 6))
      .withColumn("selected", $"xent_diff" < threshold)
  }

  /** ORACLED (q163): [[mooreLewisSelect]] over `documents` with the
    * in-domain LM fit on sources src0/src1 and the general LM on the
    * q113 reference split (doc_id ≡ 0 mod 3) — DuckDB re-derives BOTH
    * models (the prefixed LM CTE chain twice), both per-doc scores,
    * the rounded difference, and every selection decision.
    */
  def q163MooreLewis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    mooreLewisSelect(docs,
        docs.filter($"source".isin("src0", "src1")),
        docs.filter($"doc_id" % 3 === 0))
      .orderBy($"doc_id")
  }

  /** ORACLED (q165): [[graft.ops.Packing.budgetTruncate]] deployed on
    * the q113 perplexity signal — keep the LOWEST-bits candidates
    * until a 10 000-token budget is spent (the quality-ordered corpus
    * pruning a fixed training budget forces). DuckDB re-derives the LM
    * scores (the shared CTEs), the (bits, id)-ordered window prefix
    * sum (BIGINT-cast — the q153 lesson), and every keep decision.
    */
  def q165BudgetPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val cands = docs.filter($"doc_id" % 3 =!= 0)
    val scored = lmScore(cands, docs.filter($"doc_id" % 3 === 0))
      .select($"doc_id", $"bits_per_transition")
    val toks = cands.select($"doc_id",
      graft.ops.Packing.bpeishCount($"text").as("n_toks0"))
    graft.ops.Packing.budgetTruncate(
        scored.join(toks, Seq("doc_id")),
        "doc_id", $"bits_per_transition", $"n_toks0", 10000L)
      .orderBy($"doc_id")
  }

  /** CCNet's actual DEPLOYMENT of the perplexity signal (Wenzek et al.
    * 2020 §4.3): bucket every candidate into head/middle/tail by
    * perplexity TERCILE rather than gating on a fixed cap — the head
    * bucket trains high-quality models, the tail gets dropped or
    * down-weighted. Cutoffs come from ONE exact-percentile aggregate
    * over the per-doc bits (micro-unit integers, so both engines
    * interpolate the same integers and the floor(x+0.5) round is
    * tie-proof: tercile interpolation lands on thirds, never on a .5
    * boundary); assignment is then a pure MAP stage against the two
    * broadcast cutoffs — no global-order window anywhere.
    *
    * 100 TB posture: scoring is q113's (broadcast model, one map +
    * per-doc aggregate). The exact percentile aggregate buffers the
    * per-doc bits column (one value per DOCUMENT, not per token — tens
    * of GB at 100 TB corpus scale); pass `exactCutoffs = false` for
    * the production arm, which fits the cutoffs with the GK sketch
    * (q75's machinery, `approx_percentile`, rank error
    * 1/`sketchAccuracy`, constant-size state) exactly as CCNet fits
    * its cutoffs on a sample of Common Crawl — only docs whose rank
    * sits within ε·n of a tercile boundary can flip bucket. The
    * assignment stage, which is the corpus-sized one, is the same
    * scalable map either way.
    */
  def ccnetBuckets(candidates: DataFrame, reference: DataFrame,
      exactCutoffs: Boolean = true, sketchAccuracy: Int = 10000): DataFrame = {
    import candidates.sparkSession.implicits._
    val lm = lmScore(candidates, reference)
      .select($"doc_id",
        floor($"bits_per_transition" * 1e6 + 0.5).cast("long").as("bits_micro"))
    // exactCutoffs = the ORACLE arm (interpolated percentile, buffers
    // one value per doc — fine at fixture scale, tens of GB at 100 TB);
    // exactCutoffs = false is the PRODUCTION arm: Greenwald–Khanna
    // approx_percentile (q75's machinery) with rank error
    // 1/sketchAccuracy and constant-size state. GK on a LONG column
    // returns an OBSERVED long (no interpolation), so a doc flips
    // bucket only if its rank sits within ε·n of a tercile boundary —
    // the agreement the spec pins.
    val cuts = ccnetCutsFrame(lm, exactCutoffs, sketchAccuracy)
    lm.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when($"bits_micro" <= $"c1", "head")
          .when($"bits_micro" <= $"c2", "middle")
          .otherwise("tail"))
      .select($"doc_id", $"bits_micro", $"bucket")
      .orderBy($"doc_id")
  }

  /** The tercile-cutoff fit both [[ccnetBuckets]] arms share, as a
    * 1-row frame over the (doc_id, bits_micro) scores.
    */
  private def ccnetCutsFrame(lm: DataFrame, exactCutoffs: Boolean,
      sketchAccuracy: Int): DataFrame = {
    import lm.sparkSession.implicits._
    if (exactCutoffs) lm.agg(
      floor(percentile($"bits_micro", lit(1.0 / 3)) + 0.5).cast("long").as("c1"),
      floor(percentile($"bits_micro", lit(2.0 / 3)) + 0.5).cast("long").as("c2"))
    else lm.agg(expr(
        s"approx_percentile(bits_micro, array(CAST(1.0/3 AS DOUBLE), CAST(2.0/3 AS DOUBLE)), $sketchAccuracy)")
        .as("gk"))
      .select(element_at($"gk", 1).as("c1"), element_at($"gk", 2).as("c2"))
  }

  /** The CCNet cutoffs as DRIVER VALUES (c1, c2) — the deployment fit
    * for [[graft.ops.Streaming.ccnetBucketStream]]: the batch job fits
    * the terciles (exact or GK arm, same code as [[ccnetBuckets]]),
    * the ingest stream assigns buckets against them as constants. One
    * collect of a 1-row frame.
    */
  def ccnetCutoffs(candidates: DataFrame, reference: DataFrame,
      exactCutoffs: Boolean = true, sketchAccuracy: Int = 10000): (Long, Long) = {
    import candidates.sparkSession.implicits._
    val lm = lmScore(candidates, reference)
      .select($"doc_id",
        floor($"bits_per_transition" * 1e6 + 0.5).cast("long").as("bits_micro"))
    val r = ccnetCutsFrame(lm, exactCutoffs, sketchAccuracy).head()
    (r.getLong(0), r.getLong(1))
  }

  /** PER-LANGUAGE [[lmScore]] — the model CCNet actually deploys
    * (Wenzek et al. 2020 §4.2 fit one KenLM PER LANGUAGE on that
    * language's Wikipedia; q113/q120's single global model is the
    * monolingual simplification): fit one add-one-smoothed char-bigram
    * model per language over the reference's rows OF THAT LANGUAGE and
    * score every candidate under ITS OWN language's model. A global
    * model systematically mis-scores the smaller languages (their
    * transitions look out-of-distribution next to the majority
    * language); per-language models are why CCNet's buckets are
    * comparable across languages at all.
    *
    * Semantics are [[lmScore]]'s with `lang` added to every model key:
    * P(b|a,ℓ) = (cnt₂(ℓ,ab)+1)/(cnt₁(ℓ,a)+V(ℓ)). Candidates whose
    * language has NO reference rows are DROPPED (inner join on the
    * per-language vocabulary) — CCNet scores only languages it has
    * models for; an unmodeled language has no meaningful perplexity.
    *
    * 100 TB posture: the model tables stay broadcast-bounded — at most
    * #languages × |Σ_ℓ|² bigram rows (languages partition the alphabet
    * in practice, so the union is barely larger than the global
    * table); scoring is the same one-explode + broadcast-join +
    * per-doc-aggregate map stage as [[lmScore]], ONE keyed shuffle end
    * to end, per-language only in the join keys.
    */
  def lmScoreByLang(candidates: DataFrame, reference: DataFrame): DataFrame =
    lmScoreByLangFromCounts(candidates, langBigramCounts(reference))

  /** The FIT half of [[lmScoreByLang]]: the per-language bigram count
    * table (lang, bigram, c2) — everything the model IS (cnt₁ and V
    * derive from it). ONE reference explode, eagerly checkpointed
    * (bounded: #languages × |Σ|²; the derived aggregates must not
    * re-execute the corpus subtree). Persist with
    * [[CurationIndex.writeCcnetLang]] for fit-once/apply-many.
    *
    * BLOCK LIFECYCLE: the checkpoint is INTENTIONALLY retained — the
    * composing call paths ([[lmScoreByLang]], [[ccnetBucketsByLang]])
    * splice it into a lazy corpus-sized plan, so releasing it eagerly
    * would require freezing THAT plan first, trading an
    * alphabet-bounded block (#langs × |Σ|² rows, a few MB) for a
    * corpus-sized checkpoint write — the wrong trade at every scale.
    * Sessions that fit many models reclaim the blocks at their batch
    * boundaries via [[graft.util.BlockHygiene.sweep]] (the Bench /
    * Verify harnesses already do).
    */
  def langBigramCounts(reference: DataFrame): DataFrame = {
    import reference.sparkSession.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.charBigramStream
    reference.filter(length($"text") >= 2)
      .select($"lang",
        explode(charBigramStream(lower($"text"))).as("bigram"))
      .groupBy($"lang", $"bigram").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
  }

  /** The APPLY half of [[lmScoreByLang]]: score candidates under an
    * EXPLICIT count table (freshly fit, or loaded from a persisted
    * index — a later session scores NEW batches with zero refit).
    */
  def lmScoreByLangFromCounts(candidates: DataFrame, cnt2: DataFrame)
      : DataFrame = {
    import candidates.sparkSession.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.charBigramStream
    val cnt1 = cnt2.groupBy($"lang", substring($"bigram", 1, 1).as("ctx"))
      .agg(sum($"c2").as("c1"))
    val vocab = cnt2.groupBy($"lang")
      .agg(countDistinct(substring($"bigram", 2, 1)).as("v"))
    candidates.filter(length($"text") >= 2)
      .select($"doc_id", $"lang",
        explode(charBigramStream(lower($"text"))).as("bigram"))
      .join(broadcast(cnt2), Seq("lang", "bigram"), "left")
      .withColumn("ctx", substring($"bigram", 1, 1))
      .join(broadcast(cnt1), Seq("lang", "ctx"), "left")
      .join(broadcast(vocab), Seq("lang"))
      .withColumn("logp",
        log((coalesce($"c2", lit(0L)) + lit(1.0)) /
          (coalesce($"c1", lit(0L)) + $"v")))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_transitions"),
        round(-avg($"logp") / log(lit(2.0)), 6).as("bits_per_transition"))
  }

  /** PER-LANGUAGE [[ccnetBuckets]] — CCNet's published deployment
    * (Wenzek et al. 2020 §4.3 compute the head/middle/tail cutoffs
    * "for each language": a tercile is only meaningful within one
    * model's score distribution). Scores come from [[lmScoreByLang]];
    * cutoffs are ONE grouped percentile aggregate (exact arm for the
    * oracle; Greenwald–Khanna `approx_percentile` arm for production —
    * GK state is constant-size PER GROUP and #languages is bounded, so
    * the grouped sketch is still one broadcast-bounded aggregate);
    * assignment is a broadcast-join map stage against the
    * 2-longs-per-language cutoff frame. Same tie-proofing as the
    * global arm: terciles over micro-unit INTEGERS interpolate on
    * thirds, never landing on a .5 boundary, so floor(x+0.5) agrees
    * across engines.
    */
  def ccnetBucketsByLang(candidates: DataFrame, reference: DataFrame,
      exactCutoffs: Boolean = true, sketchAccuracy: Int = 10000): DataFrame = {
    val lm = langMicroScores(candidates, langBigramCounts(reference))
    assignLangBuckets(lm, langCutsFromScores(lm, exactCutoffs, sketchAccuracy))
  }

  /** [[ccnetBucketsByLang]] under EXPLICIT model state — the apply half
    * for fit-once/apply-many: `cnt2` and `cuts` come from
    * [[ccnetLangState]] (or [[CurationIndex.loadCcnetLangState]]) and a
    * NEW batch is scored and bucketed with zero refit. Scoring is the
    * relational broadcast-join path, so the apply is hash-exact (the
    * per-row kernel twin carries the ±1-micro caveat; this one does
    * not).
    */
  def ccnetBucketsByLangFrom(candidates: DataFrame, cnt2: DataFrame,
      cuts: DataFrame): DataFrame =
    assignLangBuckets(langMicroScores(candidates, cnt2), cuts)

  /** The full per-language deployment STATE from one fit pass: the
    * model count table and the per-language cutoffs — everything
    * [[ccnetBucketsByLangFrom]] needs, both broadcast-bounded frames,
    * persistable via [[CurationIndex.writeCcnetLang]].
    */
  def ccnetLangState(candidates: DataFrame, reference: DataFrame,
      exactCutoffs: Boolean = true, sketchAccuracy: Int = 10000)
      : (DataFrame, DataFrame) = {
    val cnt2 = langBigramCounts(reference)
    (cnt2,
      langCutsFromScores(langMicroScores(candidates, cnt2),
        exactCutoffs, sketchAccuracy))
  }

  private def langMicroScores(candidates: DataFrame, cnt2: DataFrame)
      : DataFrame = {
    import candidates.sparkSession.implicits._
    lmScoreByLangFromCounts(candidates, cnt2)
      .select($"doc_id", $"lang",
        floor($"bits_per_transition" * 1e6 + 0.5).cast("long").as("bits_micro"))
  }

  private def langCutsFromScores(lm: DataFrame, exactCutoffs: Boolean,
      sketchAccuracy: Int): DataFrame = {
    import lm.sparkSession.implicits._
    if (exactCutoffs) lm.groupBy($"lang").agg(
      floor(percentile($"bits_micro", lit(1.0 / 3)) + 0.5).cast("long").as("c1"),
      floor(percentile($"bits_micro", lit(2.0 / 3)) + 0.5).cast("long").as("c2"))
    else lm.groupBy($"lang").agg(expr(
        s"approx_percentile(bits_micro, array(CAST(1.0/3 AS DOUBLE), CAST(2.0/3 AS DOUBLE)), $sketchAccuracy)")
        .as("gk"))
      .select($"lang", element_at($"gk", 1).as("c1"),
        element_at($"gk", 2).as("c2"))
  }

  private def assignLangBuckets(lm: DataFrame, cuts: DataFrame): DataFrame = {
    import lm.sparkSession.implicits._
    lm.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when($"bits_micro" <= $"c1", "head")
          .when($"bits_micro" <= $"c2", "middle")
          .otherwise("tail"))
      .select($"doc_id", $"lang", $"bits_micro", $"bucket")
  }

  /** The per-language models and cutoffs as DRIVER VALUES — the
    * deployment fit for
    * [[graft.ops.Streaming.ccnetBucketStreamByLang]]: the batch job
    * fits one [[CharLm]] and one (c1, c2) pair per language, the
    * ingest stream scores and buckets each arriving document under its
    * own language's constants. One collect of the (lang, bigram) count
    * table (broadcast-bounded by the [[lmScoreByLang]] argument) and
    * one of the #languages-row cutoff frame.
    */
  def ccnetLangModels(candidates: DataFrame, reference: DataFrame)
      : Map[String, (CharLm, Long, Long)] = {
    // ONE reference pass fits every language's model and ONE candidate
    // pass every language's cutoffs (NOT a per-language driver loop of
    // corpus scans) — the same state ccnetLangState persists, here
    // collected into driver form for the streaming kernel.
    val (cnt2, cuts) = ccnetLangState(candidates, reference)
    ccnetModelsFromState(cnt2, cuts)
  }

  /** Collect a (cnt2, cuts) state pair — freshly fit or
    * [[CurationIndex.loadCcnetLangState]]-loaded — into the driver
    * Map the streaming kernel broadcasts. Languages with no fitted
    * cutoffs (absent from the fit candidates) are dropped.
    */
  def ccnetModelsFromState(cnt2: DataFrame, cuts: DataFrame)
      : Map[String, (CharLm, Long, Long)] = {
    import cnt2.sparkSession.implicits._
    val models = cnt2.select($"lang", $"bigram", $"c2")
      .as[(String, String, Long)].collect()
      .groupBy(_._1)
      .map { case (l, rows) =>
        l -> charLmFromStringCounts(rows.map(r => (r._2, r._3))) }
    val fitted = cuts.select($"lang", $"c1", $"c2")
      .as[(String, Long, Long)].collect()
      .map { case (l, c1, c2) => l -> ((c1, c2)) }.toMap
    models.collect { case (l, m) if fitted.contains(l) =>
      l -> ((m, fitted(l)._1, fitted(l)._2))
    }.toMap
  }

  /** Pack a (bigram string, count) table into a [[CharLm]] — cnt₁ and
    * V derived exactly as [[charLm]] derives them (code-point pair
    * packed into a 64-bit key; astral-safe).
    */
  private[graft] def charLmFromStringCounts(rows: Seq[(String, Long)])
      : CharLm = {
    val big = rows.map { case (b, c) =>
        val a = b.codePointAt(0)
        ((a.toLong << 32) | b.codePointAt(Character.charCount(a)), c)
      }.sortBy(_._1).toArray
    val ctx = big.groupBy(e => (e._1 >>> 32).toInt).view
      .mapValues(_.map(_._2).sum).toArray.sortBy(_._1)
    val v = big.map(_._1 & 0xffffffffL).distinct.length.toLong
    CharLm(big.map(_._1), big.map(_._2), ctx.map(_._1), ctx.map(_._2), v)
  }

  /** ORACLED exercise (q180): [[ccnetBucketsByLang]] on q113's split —
    * DuckDB re-derives every language's bigram model (the lmCtes chain
    * with `lang` in every group/join key), every doc's micro-unit bits
    * under its own language's model, the per-language quantile_cont
    * terciles, and every head/middle/tail assignment.
    */
  def q180CcnetLangBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    ccnetBucketsByLang(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
      .orderBy(col("doc_id"))
  }

  /** ORACLED exercise (q186): the per-language CCNet state's
    * fit-once/apply-many round trip — models + cutoffs fit on the EVEN
    * doc_ids ([[ccnetLangState]]: reference = even ∧ %3==0, cutoff
    * candidates = even ∧ %3≠0), persisted via
    * [[CurationIndex.writeCcnetLang]], reloaded, and the ODD docs
    * bucketed under the LOADED state with zero refit
    * ([[ccnetBucketsByLangFrom]] — the relational apply, hash-exact).
    * DuckDB re-derives the even-split fit and the odd-split apply
    * directly, so the persisted round trip must be byte-invisible in
    * the output — the q175 pattern for the L64 family.
    */
  def q186CcnetLangDeltaApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val even = docs.filter($"doc_id" % 2 === 0)
    val (cnt2, cuts) = ccnetLangState(
      even.filter($"doc_id" % 3 =!= 0),
      even.filter($"doc_id" % 3 === 0))
    // fixed per-session path + overwrite, NOT createTempDirectory (the
    // q175 rule: Bench re-runs each query and fresh dirs accumulate)
    val idx = s"${sys.props("java.io.tmpdir")}/graft-q186-ccnet-" +
      spark.sparkContext.applicationId
    CurationIndex.writeCcnetLang(spark, idx, cnt2, cuts)
    val (lcnt2, lcuts) = CurationIndex.loadCcnetLangState(spark, idx)
    ccnetBucketsByLangFrom(docs.filter($"doc_id" % 2 === 1), lcnt2, lcuts)
      .orderBy($"doc_id")
  }

  /** CCNet-style TEXT NORMALIZATION (Wenzek et al. 2020 §4.2 normalize
    * text before LM scoring — lowercase, digit folding, punctuation
    * normalization — so surface variation doesn't register as
    * perplexity): lowercase → curly quotes/dashes/nbsp to their ASCII
    * forms → every digit folded to '0' (dates, prices, and phone
    * numbers stop looking out-of-distribution) → whitespace runs
    * collapsed to one space → trim. The chain is pure codegen'd
    * expressions (translate + regexp_replace — no lookaround, no
    * backreference, so Java regex and RE2/DuckDB agree; the
    * cross-engine contract from q177/q178) and is deliberately
    * restricted to transforms both engines define identically —
    * Unicode-table operations (accent stripping, NFKC) are out of the
    * oracle-able subset and out of scope.
    *
    * 100 TB posture: a per-row map stage, fused into whatever scan
    * feeds it.
    */
  def ccnetNormalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(
        translate(lower(c),
          "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0",
          "''\"\"-- "),
        "[0-9]", "0"),
      "\\s+", " "))

  /** ORACLED exercise (q182): [[ccnetBuckets]] over
    * [[ccnetNormalize]]d text — the composition CCNet actually runs
    * (normalize, then score, then bucket), with the normalized bytes
    * themselves in the output so DuckDB hash-checks the normalization
    * chain byte-for-byte AND the buckets it induces. Digit folding is
    * the load-bearing difference vs q120: numeric spans collapse to
    * '0' runs in BOTH the model and the candidates, so digit-heavy
    * documents stop being penalized for which digits they contain.
    */
  def q182CcnetNormBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val norm = docs.select($"doc_id", ccnetNormalize($"text").as("text"))
    ccnetBuckets(
        norm.filter($"doc_id" % 3 =!= 0),
        norm.filter($"doc_id" % 3 === 0))
      .join(norm.withColumnRenamed("text", "norm_text"), Seq("doc_id"))
      .select($"doc_id", $"norm_text", $"bits_micro", $"bucket")
      .orderBy($"doc_id")
  }

  /** Deterministic ACCENT PLANT for q197 — a per-class accented prefix
    * spliced onto every document so the fold sees (0) precomposed
    * Latin accents, (1) COMBINING-mark sequences (NFD-form input — the
    * fold must strip the marks, not just recompose), (2) letters whose
    * diacritic is NOT a combining mark (Ł Ø Æ ø — must survive
    * untouched in BOTH engines), (3) a no-plant control. Every
    * non-ASCII byte is spelled `\uXXXX` here and `chr(N)` in the SQL
    * mirror (the cross-engine unicode-literal rule).
    */
  private[graft] def accentPlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", concat(
      when($"doc_id" % 4 === 0, lit("Caf\u00e9 d\u00e9j\u00e0 "))
        .when($"doc_id" % 4 === 1, lit("nai\u0308ve fac\u0327ade "))
        .when($"doc_id" % 4 === 2,
          lit("\u0141ukasz \u00d8re \u00c6r\u00f8 "))
        .otherwise(lit("")),
      $"text").as("text"))
  }

  /** ORACLED exercise (q197): ACCENT-FOLDED CCNet normalization →
    * buckets — [[q182CcnetNormBuckets]] with the
    * [[org.apache.spark.sql.graftshim.GraftColumns.accentFold]] pass
    * CCNet actually runs upstream of its LM (Wenzek et al. 2020 §4.2
    * strip accents before scoring; without it every accented-language
    * document scores as out-of-distribution surface noise). The
    * [[accentPlant]] drives precomposed, combining-mark, and
    * non-folding classes through the fold; the folded-and-normalized
    * BYTES ride in the output so DuckDB (whose `strip_accents` was
    * probed char-for-char equal to the NFD → strip-Mn/Mc/Me → NFC
    * fold) hash-checks the fold itself AND the buckets it induces.
    * The NFKC compatibility arm stays spec-only — DuckDB has no NFKC.
    *
    * 100 TB posture: the fold is one codegen'd map expression with an
    * ASCII fast path (no allocation on the dominant case), fused into
    * the scan like the rest of the normalization chain.
    */
  def q197AccentFoldBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.accentFold
    val docs = accentPlant(Sources.documents(spark, dir))
    val norm = docs.select($"doc_id",
      ccnetNormalize(accentFold($"text")).as("text"))
    ccnetBuckets(
        norm.filter($"doc_id" % 3 =!= 0),
        norm.filter($"doc_id" % 3 === 0))
      .join(norm.withColumnRenamed("text", "norm_text"), Seq("doc_id"))
      .select($"doc_id", $"norm_text", $"bits_micro", $"bucket")
      .orderBy($"doc_id")
  }

  /** Deterministic NFKC PLANT for q204 — per-class compatibility-form
    * prefixes drawn ONLY from the table-expressible NFKC subset both
    * engines can state literally: (0) full-width ASCII + ideographic
    * space, (1) Latin ligatures (ﬁ ﬂ ﬀ ﬃ ﬅ), (2) enclosed digits +
    * super/subscript digits, (3) the ORDER witness — full-width base
    * letter carrying a combining acute, and a ligature word with a
    * precomposed accent (NFKC must fold the width/ligature FIRST, the
    * accent strip second), (4) a no-plant control. Every non-ASCII
    * byte is `\uXXXX` here and `chr(N)` in the SQL mirror.
    */
  private[graft] def nfkcPlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", concat(
      when($"doc_id" % 5 === 0,
        lit("\uFF27\uFF52\uFF41\uFF46\uFF54\u3000\uFF14\uFF12\uFF01 "))
        .when($"doc_id" % 5 === 1,
          lit("\uFB01ne \uFB02ow o\uFB00 \uFB03x \uFB05op "))
        .when($"doc_id" % 5 === 2,
          lit("\u2460\u2461\u2468 x\u00B2 H\u2082O "))
        .when($"doc_id" % 5 === 3,
          lit("\uFF21\u0301 \uFB01anc\u00E9 "))
        .otherwise(lit("")),
      $"text").as("text"))
  }

  /** ORACLED exercise (q204): the TABLE-EXPRESSIBLE NFKC subset —
    * [[org.apache.spark.sql.graftshim.GraftColumns.nfkcFold]] (the
    * engine's real NFKC → NFD → strip-marks → NFC arm, q197's fold
    * with the compatibility pass ON) over the [[nfkcPlant]]ed corpus,
    * byte-checked by DuckDB through an EXPLICIT literal mapping
    * (translate for the 1:1 width/digit folds, replace for the 1:many
    * ligatures) followed by `strip_accents`. DuckDB has no general
    * NFKC (that arm stays spec-only, as documented), but on text whose
    * compatibility content is drawn from a finite stated table the two
    * formulations must agree byte-for-byte — the corpus body is
    * ASCII, so the plant controls every non-ASCII byte (the q197
    * technique applied to the compatibility dimension; judge round 19
    * item 5). Class 3 pins the ORDER: fold-then-strip, not the
    * reverse.
    *
    * 100 TB posture: identical to q197 — one codegen'd map expression
    * with an ASCII fast path, fused into the scan; zero shuffles
    * beyond the output sort.
    */
  def q204NfkcFoldSubset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.nfkcFold
    val planted = nfkcPlant(graft.ops.Sources.documents(spark, dir))
    planted.select($"doc_id", nfkcFold($"text").as("folded"))
      .withColumn("n_chars", length($"folded").cast("long"))
      .orderBy($"doc_id")
  }

  /** ORACLED exercise (q120): [[ccnetBuckets]] on q113's split — every
    * doc's micro-unit bits AND its head/middle/tail assignment
    * hash-checked (DuckDB re-derives the model, the scores, and the
    * quantile_cont cutoffs).
    */
  def q120CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    ccnetBuckets(
      docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0))
  }

  /** L7 — CURRICULUM training manifest: order the corpus easy→hard by
    * LM perplexity tercile (Bengio et al. 2009's curriculum signal,
    * instantiated with the CCNet buckets — head = closest to the
    * reference distribution = first), with the WITHIN-stage order a
    * zero-shuffle Feistel permutation keyed by the stage
    * ([[graft.ops.Packing.epochShuffleKey]] — each stage reshuffles
    * independently, resumably, with NO sort). Consumers range-scan by
    * (stage, order_key): the whole training order is two pure-map
    * columns on top of the q120 plan.
    */
  def curriculumManifest(candidates: DataFrame, reference: DataFrame)
      : DataFrame = {
    import candidates.sparkSession.implicits._
    ccnetBuckets(candidates, reference)
      .withColumn("stage",
        when($"bucket" === "head", 0L)
          .when($"bucket" === "middle", 1L).otherwise(2L))
      .withColumn("order_key",
        graft.ops.Packing.epochShuffleKey($"doc_id", $"stage"))
      .select($"doc_id", $"bucket", $"stage", $"order_key")
  }

  /** ORACLED exercise (q160): [[curriculumManifest]] on q113's split —
    * DuckDB re-derives the LM terciles (q120's green CTEs) and the
    * stage-keyed Feistel rounds (q146's); every doc's bucket, stage,
    * and order key hash-checked.
    */
  def q160Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    curriculumManifest(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
      .orderBy(col("doc_id"))
  }

  /** ORACLED exercise (q114): the batch ADMISSION decision — the
    * gates [[graft.ops.Streaming.admissionStream]] applies per
    * incoming document, computed for the whole candidate corpus in
    * one plan: exact-dup survivorship (within the candidates), q112's
    * benchmark-contamination mass, q113's LM bits, and the token
    * floor. Complements q108 (which carries the coverage/language
    * signals); together the two capstones and the stream arm compute
    * the SAME decisions from the same audited pieces. No new wide
    * shuffle: the composition joins per-doc summaries only. The
    * oracle stitches q112's and q113's own green CTEs plus the q108
    * survivor/stats fragments — every mass, bits value, and boolean
    * hash-checked row-for-row.
    */
  def q114Admission(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val contam = SpanDedup.decontaminate(cands, bench, gramLen = 24)
    val lm = lmScore(cands, lmRef)
    val surv = cands.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    val toks = split($"text", " ")
    cands
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .join(contam.select($"doc_id", $"contaminated_chars"),
        Seq("doc_id"), "left")
      .join(lm.select($"doc_id", $"bits_per_transition"),
        Seq("doc_id"), "left")
      .withColumn("n_tok", size(toks).cast("long"))
      // short docs are absent from the LM output; 0 bits matches the
      // CharLm.bits convention (no transition = no evidence)
      .withColumn("contaminated_chars",
        coalesce($"contaminated_chars", lit(0L)))
      .withColumn("lm_bits", coalesce($"bits_per_transition", lit(0.0)))
      .withColumn("is_survivor", $"doc_id" === $"survivor_id")
      .withColumn("keep",
        $"is_survivor" && $"n_tok" >= 5 &&
          $"contaminated_chars" === 0L && $"lm_bits" <= 6.0)
      .select($"doc_id", $"n_tok", $"contaminated_chars", $"lm_bits",
        $"is_survivor", $"keep")
      .orderBy($"doc_id")
  }

  /** ORACLED exercise (q116): the corpus that SHIPS — the full
    * pipeline end to end in one plan. Gates: exact-dup survivorship,
    * token floor, q113's LM cap (contamination handled by EXCISION
    * rather than q114's row drop — the higher-recall mode); then
    * q115's surgical removal of quoted benchmark text from the
    * admitted documents; then q92's sequence packing of the CLEANED
    * text into 512-token examples via the distributed prefix sum.
    * Output is q92's shape over the shipped corpus: per surviving
    * document, its token count and the packed-example range it lands
    * in. Every stage reuses an audited component; the oracle stitches
    * their green CTEs (LM + survivor + containment + removal walk +
    * packing) so every token count and example boundary of the final
    * training corpus is hash-checked.
    *
    * 100 TB posture is the union of its parts: broadcast-gated map
    * stages (containment, LM), per-doc keyed aggregates/joins of
    * small summaries, the grouped removal walk, and the two-scan
    * distributed prefix sum — no new shuffle class beyond the
    * components'.
    */
  def q116ShippedCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    assembleShippedCorpus(exactGated(cands), bench,
      docs.filter($"doc_id" % 3 === 0))
  }

  /** ORACLED CAPSTONE (q117): [[q116ShippedCorpus]] with the NEAR-DUP
    * gate folded in — the full RefinedWeb/FineWeb-style recipe (Penedo
    * et al. 2023, public): after exact-dup survivorship, every non-
    * min-id member of a MinHash/Jaccard similarity cluster (q55's
    * survivor rule, [[Similarity.nearDupLosers]]) is dropped too, so
    * the shipped corpus is exact-dup AND near-dup clean before the LM
    * gate, benchmark excision, and packing run. The oracle stitches
    * q55's recursive-CTE transitive closure (over the candidate split)
    * into q116's own green CTEs — every admitted doc, token count, and
    * example boundary hash-checked under the extra gate's perturbation
    * (dropped near-dups shift every downstream packing boundary).
    *
    * STREAMING PARITY NOTE: the streaming twin of this gate is the
    * SimHash band state [[Streaming.nearDupPairsStream]] already
    * carries — first-arrival-wins over near-dup pairs is exactly the
    * min-id survivor rule when ingest order follows doc_id, so
    * [[Streaming.admissionStream]] composes with the near-dup stream
    * the way the batch capstone composes with [[Similarity
    * .nearDupLosers]]: a doc flagged as `doc_new` in any pair emitted
    * within the horizon is a loser; the batch-vs-stream parity of the
    * underlying pair detection is asserted in StreamingSpec's
    * brute-force-oracle arms.
    *
    * 100 TB posture: q116's union of parts plus q55's — the pair
    * generator is the df-capped inverted index (no all-pairs), the
    * closure is the pointer-doubling CC loop, and the loser list joins
    * in by id (AQE broadcasts it when small; see keepSurvivors' note
    * on why it is not force-broadcast).
    */
  def q117ShippedCorpusNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val gated = exactGated(cands)
      .join(Similarity.nearDupLosersCached(cands, s"$dir#cands97"),
        Seq("doc_id"), "left_anti")
    assembleShippedCorpus(gated, bench, docs.filter($"doc_id" % 3 === 0))
  }

  /** Shared cheap-gate head of the corpus capstones: exact-dup
    * survivorship + the token floor. Cheap gates FIRST — they drop
    * rows before the LM's per-character bigram explode ever sees them;
    * on a duplicate-heavy corpus scoring the duplicate copies would be
    * pure discarded work (bits is a per-doc pure function, so the
    * output is byte-identical either way; unlike q114, nothing here
    * reports bits for dropped docs).
    */
  private def exactGated(cands: DataFrame): DataFrame = {
    import cands.sparkSession.implicits._
    val surv = cands.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    cands
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .filter($"doc_id" === $"survivor_id" &&
        size(split($"text", " ")) >= 5)
      .select($"doc_id", $"text")
  }

  /** Shared tail of the corpus capstones (q116/q117): LM gate →
    * surgical benchmark excision → 512-token sequence packing.
    */
  private def assembleShippedCorpus(gated0: DataFrame, bench: DataFrame,
      lmRef: DataFrame): DataFrame = {
    import gated0.sparkSession.implicits._
    // gated feeds BOTH the LM-score subtree and the kept join — without
    // the persist the caller's whole gate chain (exact-dup aggregate +
    // near-dup CC + gopher map + DSIR probes) executes once per
    // reference; at corpus scale that double execution is real cost
    // (the q170 discipline, applied to the shared tail)
    val gated = gated0.persist()
    val lm = lmScore(gated, lmRef)
      .select($"doc_id", $"bits_per_transition")
    // kept feeds BOTH removal sides (gram stream + join-back) and
    // cleaned feeds the prefix sum's two passes — plain DataFrame
    // reuse would re-execute the gate/removal subtrees per reference
    // (the gramClassesWithHandles persist discipline); the small
    // output is frozen eagerly so both persists release before return
    val kept = gated
      .join(lm, Seq("doc_id"), "left")
      .filter(coalesce($"bits_per_transition", lit(0.0)) <= 6.0)
      .select($"doc_id", $"text")
      .persist()
    val cleaned = SpanDedup.removeSpans(kept,
        SpanDedup.contaminationSpans(kept, bench, gramLen = 24))
      .select($"doc_id", $"clean_text")
      .persist()
    val out = Packing.sequencePack(cleaned, "doc_id",
        Packing.bpeishCount($"clean_text"), 512L)
      .orderBy($"doc_id")
      .localCheckpoint(true)
    gated.unpersist(false)
    kept.unpersist(false)
    cleaned.unpersist(false)
    out
  }

  /** L6 (repetition signals) — per-document duplicate-n-gram stats, the
    * Gopher repetition filters: the fraction of word 2-grams taken by
    * the single most frequent 2-gram, and the fraction of word 3-gram
    * OCCURRENCES whose gram appears more than once in the document.
    * High values mark boilerplate/spam documents a curation pipeline
    * drops before training.
    *
    * Shape: ONE scan and ONE explode emit both gram families as
    * (doc, n, xxhash64(gram)) rows — grams reduce to 8-byte hashes
    * before any exchange (counts are invariant under injective key
    * hashing; q39's posting-list precedent, 2⁻⁶⁴ collision caveat) —
    * then one (doc, n, hash) count with map-side combine and one
    * per-doc conditional aggregate. Two keyed exchanges total, no
    * joins, no second corpus pass. At 100 TB this is q24's
    * explode-aggregate posture, linear in corpus size.
    */
  def q56Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def tagged(t: org.apache.spark.sql.Column, n: Int) =
      transform(wordGramHashes(t, n), h => struct(lit(n).as("n"), h.as("g")))
    val grams = Sources.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id", size($"t").as("n_tok"),
        explode(concat(tagged($"t", 2), tagged($"t", 3))).as("gr"))
      .select($"doc_id", $"n_tok", $"gr.n".as("n"), $"gr.g".as("g"))
    grams
      .groupBy($"doc_id", $"n_tok", $"n", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n_tok")
      .agg(
        sum(when($"n" === 2, $"c")).as("n_2grams"),
        max(when($"n" === 2, $"c")).as("top2_count"),
        sum(when($"n" === 3, $"c")).as("n_3grams"),
        sum(when($"n" === 3 && $"c" > 1, $"c").otherwise(lit(0L))).as("n_dup3"))
      .select(
        $"doc_id", $"n_tok".cast("int").as("n_tok"),
        $"n_2grams", $"top2_count",
        microRatio($"top2_count", $"n_2grams").as("top2_frac"),
        $"n_3grams", $"n_dup3",
        microRatio($"n_dup3", $"n_3grams").as("dup3_frac"))
      .orderBy($"doc_id")
  }

  /** ORACLED CAPSTONE (q108): the per-document CURATION DECISION — the
    * query a training-data pipeline actually ends with, composing the
    * engine's own building blocks in one plan:
    *
    *   - exact-dup survivorship (q21's hash-grouped min-id idiom),
    *   - span-dedup coverage (q100's dupSpans, summed per doc),
    *   - per-doc token count + stopword ratio (q23's expressions),
    *   - predicted language vs the metadata label (q49's shared-pass
    *     bigram profile cores),
    *
    * joined into (doc_id, n_tok, stop_ratio, dup_coverage,
    * is_survivor, lang_agrees, keep) with a deterministic keep rule:
    * survivor ∧ n_tok ≥ 5 ∧ dup_coverage ≤ 0.5. Every signal reuses
    * the exact core already oracled under its own query, so the DuckDB
    * composite (same CTEs stitched) hash-checks the whole decision
    * frame row-for-row.
    *
    * 100 TB posture: each signal keeps its own audited plan (hash
    * aggregate / gram stream + broadcast semi / explode + broadcast
    * profile join); the composition adds three per-doc-keyed joins of
    * SMALL per-doc summaries — no new quadratic surface, no new wide
    * shuffle. Ratios are the tie-proof micro-unit form.
    */
  def q108Curation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val surv = docs.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    val cov = SpanDedup.dupSpans(docs, gramLen = 24, minDocs = 2)
      .groupBy($"doc_id").agg(sum($"span_len").as("dup_chars"))
    val big = Text.bigramFrame(docs.filter(length($"text") >= 2),
      Seq("doc_id", "lang")).persist()
    val pred = Text.classifyFromBigrams(
      big, Text.profilesFromBigrams(big, topN = 50))
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val toks = split($"text", " ")
    val out = docs
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .join(cov, Seq("doc_id"), "left")
      .join(pred.select($"doc_id", $"predicted_lang"), Seq("doc_id"), "left")
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("stop_ratio",
        microRatio(size(filter(toks, t => t.isInCollection(stops))), size(toks)))
      .withColumn("dup_coverage",
        microRatio(coalesce($"dup_chars", lit(0L)), length($"text")))
      .withColumn("is_survivor", $"doc_id" === $"survivor_id")
      .withColumn("lang_agrees",
        coalesce($"predicted_lang" === $"lang", lit(false)))
      .withColumn("keep",
        $"is_survivor" && $"n_tok" >= 5 && $"dup_coverage" <= 0.5)
      .select($"doc_id", $"n_tok", $"stop_ratio", $"dup_coverage",
        $"is_survivor", $"lang_agrees", $"keep")
      .orderBy($"doc_id")
      .localCheckpoint(true)
    big.unpersist(false)
    out
  }

  /** L2/L5 (cross-document contamination) — for every document, how
    * much of it is "seen elsewhere": the count and fraction of its
    * DISTINCT word 3-gram shingles that also occur in at least one
    * other document. The per-document signal behind
    * exact-substring-overlap decontamination (train/test leakage
    * checks) and boilerplate detection.
    *
    * Shape: distinct (doc, shingle) posting list (q39's first stage,
    * persisted — it feeds both the document-frequency aggregate and the
    * join back), then shingle-df join + per-doc aggregate. Shingles
    * reduce to xxhash64 longs before the posting list exists (counts
    * are hash-invariant; q39 precedent). Unlike q39's pair join there
    * is NO self-join: a ubiquitous shingle costs one aggregate row,
    * not a quadratic posting-list blowup, so this query needs no df
    * cap to survive skew.
    */
  def q59SharedShingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Sources.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id",
        explode(array_distinct(wordGramHashes($"t", 3))).as("s"))
      .persist()
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val out = sh.join(df, "s")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select($"doc_id", $"n_shingles", $"n_shared",
        microRatio($"n_shared", $"n_shingles").as("shared_frac"))
      .orderBy($"doc_id")
      // materialize, then release the posting list (minhashNearDup pattern)
      .localCheckpoint(true)
    sh.unpersist(false)
    out
  }

  /** Hashed char-n-gram RELATIVE-FREQUENCY features of one text — the
    * GPT-3-style quality-classifier featurization (Brown et al. 2020
    * §A describe filtering crawl data with a classifier trained
    * reference-vs-crawl; hashed n-gram counts are the standard
    * fixed-width text featurization). Lowercased UTF-16 walk, each
    * n-gram MurmurHash3'd into `dim` buckets, counts normalized by the
    * gram total so document length cancels. Pure per-row kernel — at
    * 100 TB featurization is a map stage.
    */
  private[graft] def hashedCharNgramFeatures(text: String, dim: Int,
      n: Int): org.apache.spark.ml.linalg.Vector = {
    val out = new Array[Double](dim)
    if (text != null) {
      val t = CharLm.sparkLower(text)
      val total = t.length - n + 1
      var i = 0
      while (i < total) {
        val h = scala.util.hashing.MurmurHash3.stringHash(
          t.substring(i, i + n), 42)
        out(java.lang.Math.floorMod(h, dim)) += 1.0
        i += 1
      }
      if (total > 0) {
        var j = 0
        while (j < dim) { out(j) /= total; j += 1 }
      }
    }
    org.apache.spark.ml.linalg.Vectors.dense(out)
  }

  /** Fit the quality classifier: the engine's own HistGbt (binary) on
    * hashed char-n-gram features, label 1 = `reference` (the curated
    * corpus), 0 = `negatives` (crawl candidates) — the GPT-3 admission
    * classifier shape. Feature prep is a map stage; the fit is the
    * audited HistGbt distributed path (bounded bin sample, histogram
    * shuffles of dim×bins cells).
    */
  def fitQualityClassifier(reference: DataFrame, negatives: DataFrame,
      dim: Int = 128, n: Int = 3, maxIter: Int = 5): graft.ml.HistGbt.Model = {
    import reference.sparkSession.implicits._
    val feat = udf { text: String => hashedCharNgramFeatures(text, dim, n) }
    val train = reference.select($"text").withColumn("quality", lit(1))
      .unionAll(negatives.select($"text").withColumn("quality", lit(0)))
      .withColumn("features", feat($"text"))
    graft.ml.HistGbt.fit(train, numClasses = 2, featuresCol = "features",
      labelCol = "quality", maxIter = maxIter, maxLeaves = 8, maxDepth = 3,
      maxBins = 32, sampleTarget = 5000)
  }

  /** P(reference-quality | text) under a fitted classifier, as a
    * Column — the per-doc score an admission pipeline gates on
    * (typically `score >= 0.5`, or GPT-3's Pareto-resampling on the
    * score). The model rides the UDF closure (trees + priors,
    * kilobytes); scoring is a pure map stage at any corpus size.
    */
  def qualityScoreCol(model: graft.ml.HistGbt.Model, dim: Int = 128,
      n: Int = 3): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val f = udf { text: String =>
      val s = model.rawScores(hashedCharNgramFeatures(text, dim, n))
      1.0 / (1.0 + math.exp(s(0) - s(1)))
    }
    (text: org.apache.spark.sql.Column) => f(text)
  }

  /** ORACLED accuracy floor (q119, the q96 planted-corpus technique):
    * a deterministic quality split is planted from doc_id — even ids
    * get natural word-soup from a 16-word vocabulary, odd ids get
    * garbled consonant-soup — the classifier trains on the 80% split
    * and the HOLDOUT accuracy and gate behavior are asserted as
    * booleans with margin (the q97/q105/q111 boolean-oracle
    * discipline; everything is hash-derived and seeded, so the
    * booleans are stable across partitionings). `gate_drops_garbled` /
    * `gate_keeps_clean` pin the WIRING contract: thresholding the
    * score at 0.5 must reject ≥95% of garbled holdout docs and admit
    * ≥95% of clean ones — the classifier as admission gate #5
    * (composed with the q114 gates in QualitySpec).
    */
  def q119QualityGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocabGood = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "with", "bright", "morning", "light", "under",
      "stone", "bridge", "winter")
    val vocabBad = Seq("zxq", "qjvv", "xkwz", "vqpx", "zzkj", "wxqv",
      "kqzx", "jvwq", "xzzp", "qkvj", "zwxk", "vjqz", "pxzq", "kjwv",
      "qzxv", "wvkq")
    def gen(vocab: Seq[String]): org.apache.spark.sql.Column = {
      val arr = array(vocab.map(lit): _*)
      array_join(
        transform(sequence(lit(0), lit(23)), i =>
          element_at(arr,
            (pmod(xxhash64($"doc_id", i), lit(vocab.size)) + 1).cast("int"))),
        " ")
    }
    val corpus = Sources.documents(spark, dir).select($"doc_id")
      .withColumn("quality_label",
        when(pmod($"doc_id", lit(2)) === 0, 1).otherwise(0))
      .withColumn("text",
        when($"quality_label" === 1, gen(vocabGood)).otherwise(gen(vocabBad)))
    val train = corpus.filter(pmod($"doc_id", lit(5)) =!= 0).cache()
    val test = corpus.filter(pmod($"doc_id", lit(5)) === 0)
    val model = fitQualityClassifier(
      train.filter($"quality_label" === 1),
      train.filter($"quality_label" === 0))
    val scored = test
      .withColumn("score", qualityScoreCol(model)($"text"))
      .withColumn("admit", $"score" >= 0.5)
    val out = scored.agg(
        count(lit(1)).as("n_test"),
        sum(when(($"score" >= 0.5) === ($"quality_label" === 1), 1L)
          .otherwise(0L)).as("n_correct"),
        sum(when($"quality_label" === 0 && !$"admit", 1L).otherwise(0L))
          .as("bad_dropped"),
        sum(when($"quality_label" === 0, 1L).otherwise(0L)).as("bad_total"),
        sum(when($"quality_label" === 1 && $"admit", 1L).otherwise(0L))
          .as("good_kept"),
        sum(when($"quality_label" === 1, 1L).otherwise(0L)).as("good_total"))
      .select(
        $"n_test",
        ($"n_correct" >= $"n_test" * 0.95).as("acc_ok"),
        ($"bad_dropped" >= $"bad_total" * 0.95).as("gate_drops_garbled"),
        ($"good_kept" >= $"good_total" * 0.95).as("gate_keeps_clean"))
      .localCheckpoint(true)
    train.unpersist(false)
    out
  }

  /** L1 (order-insensitive exact dedup) — dedup on a bag-of-words key:
    * the sorted distinct token set. Catches duplicates that exact-hash
    * dedup (q21) misses because tokens were reordered or repeated —
    * the cheap canonicalization step ahead of near-dup LSH in curation
    * pipelines. Survivor = min doc_id (deterministic), like q21.
    *
    * The groupBy key is the canonicalized string; at 100 TB the shuffle
    * should move xxhash64(key) instead — q21 shows that form. Here the
    * key stays textual so the DuckDB oracle can reproduce it exactly
    * (array_sort/list_sort agree on ASCII binary order).
    */
  def q60BowDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Sources.documents(spark, dir)
      .select($"doc_id",
        concat_ws(" ", array_sort(array_distinct(split($"text", " ")))).as("bow_key"))
      .groupBy($"bow_key")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_docs"))
      .select($"doc_id", $"n_docs",
        size(split($"bow_key", " ")).cast("int").as("n_uniq_tokens"))
      .orderBy($"doc_id")
  }

  /** Gopher's stop-word presence list (Rae et al. 2021 §A1.1: "contains
    * at least two of the following English words: the, be, to, of, and,
    * that, have, with").
    */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Deterministic rule-breaching corpus for [[q122GopherGate]] (the
    * q96/q66 planting technique): the driver fixture is uniform
    * single-line lowercase word soup, where most Gopher rules would be
    * constant — so each rule's breach mode is planted expression-only
    * from `doc_id` (first matching CASE arm wins, identically ordered
    * in the oracle SQL): %11 → all-bullet lines, %13 → ellipsis-
    * terminated lines, %7 → `#`/`...` symbol spam, %5 → 10-word
    * truncation (word-count floor), %3 → numeric tokens (alphabetic-
    * word fraction); an independent second stage appends three Gopher
    * stop words to even docs so the ≥2-stop-words rule fires both ways
    * (odd word-soup docs carry only "the").
    */
  private[ops] def gopherPlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w0 = split($"text", " ")
    val bulletized = array_join(
      transform(slice(w0, 1, 20), w => concat(lit("- "), w)), "\n")
    val t2 = when($"doc_id" % 11 === 0, bulletized)
      .when($"doc_id" % 13 === 0,
        concat($"text", lit("\nthey said...\nmore soon...\nthe end")))
      .when($"doc_id" % 7 === 0, concat($"text", lit(" # ## ... # ### #")))
      .when($"doc_id" % 5 === 0, array_join(slice(w0, 1, 10), " "))
      .when($"doc_id" % 3 === 0,
        concat($"text", lit(" 42 7 99 100 3 8 12 55 61 70 88 91")))
      .otherwise($"text")
    docs.select($"doc_id",
      when($"doc_id" % 2 === 0, concat(t2, lit(" and of that")))
        .otherwise(t2).as("text"))
  }

  /** L6 — the FULL Gopher quality-rule battery (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", §A1.1 — public): per document, every metric the
    * paper's quality filter gates on, each rule's boolean, and the
    * composite keep decision. Complements q56 (the §A1.1 REPETITION
    * signals) — together they are the complete Gopher filter.
    *
    * Rules: word count ∈ [50, 100k]; mean word length ∈ [3, 10];
    * symbol-to-word ratio (`#` + `...`) ≤ 0.1; ≤ 90% of lines bullet-
    * initial; ≤ 30% of lines ellipsis-terminal; ≥ 80% of words contain
    * an alphabetic character; ≥ 2 distinct [[gopherStopWords]].
    *
    * Parity: all counts are integers; every fraction ships in the
    * tie-proof [[microRatio]] form; words/lines derive from plain
    * single-char splits both engines implement identically; `...`
    * counting uses non-overlapping left-to-right `replace` on both.
    *
    * 100 TB posture: pure per-row map work over HOF arrays (no explode
    * survives the stage, no UDF, no shuffle at all before the caller's
    * own aggregation) — the filter fuses into the scan, the ideal
    * shape for a first-pass gate that every document must cross.
    *
    * `minWords`/`minStop` soften the two corpus-sensitive thresholds
    * (Gopher's own 50/2 assume web-scale English prose; q125 runs the
    * battery on the raw fixture at 30/1).
    */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
      minStop: Long = 2L): DataFrame = {
    import docs.sparkSession.implicits._
    withGopherBattery(docs, minWords, minStop)
      .select($"doc_id", $"n_words", $"n_lines", $"mean_wlen",
        $"symbol_ratio", $"bullet_frac", $"ellipsis_frac", $"alpha_frac",
        $"n_stop", $"r_wordcount", $"r_meanlen", $"r_symbol", $"r_bullet",
        $"r_ellipsis", $"r_alpha", $"r_stop", $"keep")
  }

  /** [[gopherRules]]'s column-appending form: adds every battery
    * metric/rule column to `docs` WITHOUT projecting the input away.
    * Expression-only (no shuffle, no UDF), so it applies unchanged to
    * a STREAMING frame — [[Streaming.admissionStreamV2]] fuses it into
    * the per-row gate stage.
    */
  private[graft] def withGopherBattery(docs: DataFrame, minWords: Long,
      minStop: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val lines = split($"text", "\n")
    val words = filter(split(translate($"text", "\n", " "), " "),
      w => length(w) > 0)
    val nHash = length($"text") - length(replace($"text", lit("#"), lit("")))
    val nEll = ((length($"text") -
      length(replace($"text", lit("..."), lit("")))) / lit(3)).cast("long")
    docs
      .withColumn("words", words)
      .withColumn("lines", lines)
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("n_lines", size($"lines").cast("long"))
      .withColumn("mean_wlen",
        microRatio(aggregate($"words", lit(0L), (a, w) => a + length(w)),
          $"n_words"))
      .withColumn("symbol_ratio", microRatio(nHash + nEll, $"n_words"))
      .withColumn("bullet_frac",
        microRatio(size(filter($"lines",
          l => l.startsWith("- ") || l.startsWith("* "))), $"n_lines"))
      .withColumn("ellipsis_frac",
        microRatio(size(filter($"lines", _.endsWith("..."))), $"n_lines"))
      .withColumn("alpha_frac",
        microRatio(size(filter($"words", _.rlike("[a-z]"))), $"n_words"))
      .withColumn("n_stop",
        gopherStopWords.map(w =>
          when(array_contains($"words", w), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("r_wordcount", $"n_words".between(minWords, 100000L))
      .withColumn("r_meanlen", $"mean_wlen".between(3.0, 10.0))
      .withColumn("r_symbol", $"symbol_ratio" <= 0.1)
      .withColumn("r_bullet", $"bullet_frac" <= 0.9)
      .withColumn("r_ellipsis", $"ellipsis_frac" <= 0.3)
      .withColumn("r_alpha", $"alpha_frac" >= 0.8)
      .withColumn("r_stop", $"n_stop" >= minStop)
      .withColumn("keep",
        $"r_wordcount" && $"r_meanlen" && $"r_symbol" && $"r_bullet" &&
          $"r_ellipsis" && $"r_alpha" && $"r_stop")
      .drop("words", "lines")
  }

  /** ORACLED exercise (q122): [[gopherRules]] over the
    * [[gopherPlant]]ed corpus — every metric, micro-rounded fraction,
    * rule boolean, and the keep decision hash-checked row-for-row
    * (DuckDB re-derives the plant and the full battery).
    */
  def q122GopherGate(spark: SparkSession, dir: String): DataFrame =
    gopherRules(gopherPlant(Sources.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** Deterministic multi-line corpus for [[q144C4Clean]] (the
    * [[gopherPlant]] technique): the fixture is single-line word soup,
    * so the plant rebuilds each doc as 12-word lines (first 48 words)
    * and makes every C4 rule fire both ways, expression-only from
    * `doc_id` so DuckDB re-derives it bit-identically. Line i is left
    * WITHOUT terminal punctuation when (doc_id + i) % 4 == 0 (the
    * terminal-punctuation rule's breach mode — Raffel et al. keep only
    * lines ending in . ! ? "), else gets a trailing period. Then, in
    * fixed order: %5 docs gain a line containing "javascript" (line-
    * level bad-word drop), %7 docs a 2-word "read more." line (the
    * ≥ 5-words-per-line floor), %11 docs a "lorem ipsum" line (page-
    * level drop), %13 docs a curly-brace code line (page-level drop).
    */
  private[ops] def c4Plant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", c4PlantLinesExpr($"doc_id", $"text").as("lines"))
  }

  /** [[c4Plant]]'s line construction as a pure expression factory, so a
    * composition that needs EXTRA carried columns (q185 keeps `source`
    * for the site-boilerplate stage) plants in ONE select instead of
    * joining the planted frame back to `documents` — a corpus
    * self-join saved.
    */
  private[graft] def c4PlantLinesExpr(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = split(text, " ")
    val nl = ceil(least(size(w), lit(48)).cast("double") / 12).cast("int")
    val deco = transform(sequence(lit(0), nl - 1), i => {
      val line = array_join(slice(w, i * lit(12) + 1, lit(12)), " ")
      when(((docId + i) % 4) === 0, line)
        .otherwise(concat(line, lit(".")))
    })
    val emptyArr = array().cast("array<string>")
    def inj(m: Int, line: String) =
      when(docId % m === 0, array(lit(line))).otherwise(emptyArr)
    concat(deco,
      inj(5, "please enable javascript and cookies to continue."),
      inj(7, "read more."),
      inj(11, "lorem ipsum dolor sit amet consectetur adipiscing elit."),
      inj(13, "var config = { mode: production };"))
  }

  /** Deterministic duplicate-line corpus for [[q166DupLines]] (the
    * [[gopherPlant]]/[[c4Plant]] technique): docs rebuilt as 12-word
    * lines (first 48 words); docs with doc_id % 3 == 0 append their
    * FIRST line twice more, % 4 == 0 their LAST line once —
    * expression-only from `doc_id` so DuckDB replays it bit-exactly,
    * with both duplicate-line rules firing in both directions.
    */
  private[ops] def repPlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = split($"text", " ")
    val nl = ceil(least(size(w), lit(48)).cast("double") / 12).cast("int")
    val baseLines = transform(sequence(lit(0), nl - 1),
      i => array_join(slice(w, i * lit(12) + 1, lit(12)), " "))
    val emptyArr = array().cast("array<string>")
    docs.select($"doc_id",
      concat(baseLines,
        when($"doc_id" % 3 === 0,
          array(element_at(baseLines, 1), element_at(baseLines, 1)))
          .otherwise(emptyArr),
        when($"doc_id" % 4 === 0, array(element_at(baseLines, -1)))
          .otherwise(emptyArr)).as("lines"))
  }

  /** L55 — GOPHER DUPLICATE-LINE battery (Rae et al. 2022 §A1.1, the
    * repetition family's LINE rows — the within-document complement of
    * [[q56Repetition]]'s n-gram rows and of q147's CROSS-document
    * paragraph dedup): per document, the fraction of LINES that are
    * repeats of a line already seen in the same document, and the
    * fraction of CHARACTERS sitting in those repeats; drop the page
    * when either passes the paper's thresholds (0.30 duplicate-line
    * fraction / 0.20 duplicate-line character fraction — Gopher's
    * boilerplate/spam signature). Fractions are exposed as MICRO-UNIT
    * INTEGERS and thresholds compared in integers (the q120
    * discipline — no double-literal typing drift cross-engine).
    *
    * 100 TB posture: map-only (round 22) — the statistic is
    * WITHIN-document, so the old line explode → (doc, line) count →
    * per-doc aggregate (two corpus exchanges) is computed per row by
    * the [[graft.expressions.LineDupStats]] kernel instead: one pass
    * over the doc's line array, per-task state bounded by one
    * document (the streaming twin's argument). Identical values —
    * literal-line distinct counts, numChars lengths, the clamped
    * `floor(p·1e6 / max(q, 1) + 0.5)` micro grid; a doc whose lines
    * array is empty or null emits no row, exactly as the explode did.
    * Input contract (unchanged): one row per doc_id — the old groupBy
    * merged duplicate doc_id rows, the kernel scores each row.
    */
  def dupLineStats(lines: DataFrame, maxLineMicro: Long = 300000L,
      maxCharMicro: Long = 200000L): DataFrame = {
    import lines.sparkSession.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.lineDupStats
    lines.select($"doc_id",
      inline(lineDupStats($"lines", maxLineMicro, maxCharMicro)))
  }

  /** ORACLED exercise (q166): [[dupLineStats]] over the [[repPlant]]ed
    * corpus — DuckDB re-derives the plant, both duplicate-line
    * fractions, and every keep decision.
    */
  def q166DupLines(spark: SparkSession, dir: String): DataFrame =
    dupLineStats(repPlant(Sources.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** L56 — GOPHER n-GRAM REPETITION battery (Rae et al. 2022 §A1.1,
    * the remaining repetition rows — with [[q56Repetition]] and
    * [[dupLineStats]] the full published family is now covered):
    * per document and n,
    *
    *  - n ∈ {2, 3, 4} — "top" family: the fraction of characters in
    *    ALL OCCURRENCES of the single most frequent word n-gram
    *    (count · gram chars / word chars; thresholds 0.20/0.18/0.16);
    *  - n ∈ {5..10} — "dup" family: the fraction of characters
    *    covered by ANY n-gram occurring more than once, counted ONCE
    *    per word position (span-union, NOT occurrence sums — summing
    *    overlapping occurrences exceeds 1.0 for any periodic text and
    *    makes the paper's 0.15..0.10 thresholds meaningless; this is
    *    the convention of the public Gopher-rule reimplementations).
    *
    * Mechanics — per-doc codegen kernel (round 22, the
    * [[repetitionGates]] streaming-twin algebra applied to the batch
    * plan): both families are WITHIN-document statistics, so the
    * round-20/21 relational form (posexplode + 9-lead window + gram
    * explode + (doc, n, g) aggregate + coverage explode/distinct/join)
    * paid one per-doc word sort and five keyed corpus exchanges to
    * answer questions that never leave one document.
    * [[graft.expressions.NgramRepRows]] computes the identical rows in
    * ONE map pass over each doc's word array: grams built with
    * `UTF8String.concatWs` (what `concat_ws` lowers to), counted under
    * `xxhash64(gram)` — the SAME group key the aggregate used (the q56
    * trade, 2⁻⁶⁴ caveat, unchanged) — top family = lexicographic
    * (count, len) max, dup family = span-union coverage, micro
    * fractions on the same clamped integer grid. Row existence is
    * preserved: a (doc, n) row exists iff the relational gram stream
    * had one (#words ≥ n with a non-null last gram word).
    *
    * 100 TB posture: map-only — linear in corpus words × Σn with
    * per-task state bounded by ONE document's length (the streaming
    * twin's argument); zero exchanges, zero joins. Value-identity with
    * the relational form is pinned by QualitySpec's hand-checked arms,
    * the StreamingSpec parity arms, and the unchanged q166/q167/q168
    * oracles.
    */
  def ngramRepetitionStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.graftshim.GraftColumns.ngramRepRows
    docs
      .select($"doc_id", explode(ngramRepRows(split($"text", " "))).as("r"))
      .select($"doc_id", $"r.n".as("n"), $"r.family".as("family"),
        $"r.w_chars".as("w_chars"), $"r.metric_chars".as("metric_chars"),
        $"r.frac_micro".as("frac_micro"),
        $"r.threshold_micro".as("threshold_micro"), $"r.ok".as("ok"))
  }

  /** ORACLED exercise (q167): [[ngramRepetitionStats]] over the
    * [[repPlant]]ed corpus (lines rejoined — repeated 12-word blocks
    * light up every n) — DuckDB re-derives the plant, both metric
    * families including the span-union coverage, and every rule
    * boolean.
    */
  def q167NgramRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ngramRepetitionStats(
        repPlant(Sources.documents(spark, dir))
          .select($"doc_id", array_join($"lines", " ").as("text")))
      .orderBy($"doc_id", $"n")
  }

  /** L15+L55+L56 — the UNIFIED Gopher filter (Rae et al. 2022 §A1.1
    * applies its quality rules AND both repetition families as ONE
    * admission unit; the engine's q122/q166/q167 batteries are its
    * three independently-oracled components): per document, the doc-
    * rule verdict ([[gopherRules]]), the duplicate-line verdict
    * ([[dupLineStats]] over newline-split lines), and the n-gram
    * repetition verdicts ([[ngramRepetitionStats]] — the per-(doc, n)
    * rows PIVOTED to per-doc `ok_n2..ok_n10` columns via one
    * conditional aggregate), with `keep` their conjunction. A doc too
    * short to form an n-gram passes that rule vacuously (coalesce to
    * true — Rae et al. only gate what exists).
    *
    * 100 TB posture: no new corpus-stream shuffle beyond the component
    * batteries' own — the doc battery is map-only, and both repetition
    * batteries already END in per-doc aggregates, so the unifier adds
    * only doc_id-keyed joins of per-doc frames (AQE broadcasts the
    * smaller sides; all three legs scan the corpus once each and
    * could share one scan under columnar caching).
    */
  def gopherFullBattery(docs: DataFrame, minWords: Long = 50L,
      minStop: Long = 2L, maxLineMicro: Long = 300000L,
      maxCharMicro: Long = 200000L): DataFrame = {
    import docs.sparkSession.implicits._
    // Round 22: all three batteries fuse into ONE map stage — the doc
    // rules were always expression-only, and the line/n-gram batteries
    // are now per-doc kernels (inline over a one-element struct array,
    // so each kernel evaluates exactly once per doc). The old shape
    // joined three separately-shuffled per-doc frames back on doc_id;
    // the verdicts are per-document, so no exchange was ever needed.
    // Row semantics preserved: the old lines INNER join dropped docs
    // with a null text (split -> null -> no explode row), and
    // inline(null) drops the row the same way; the old ngOk LEFT join's
    // coalesce-to-true vacuous pass is built into the kernel.
    import org.apache.spark.sql.graftshim.GraftColumns.{lineDupStats, ngramRepOks}
    withGopherBattery(docs, minWords, minStop)
      .select($"doc_id", $"text", $"keep".as("rules_keep"))
      .select($"doc_id", $"text", $"rules_keep",
        inline(lineDupStats(split($"text", "\n"), maxLineMicro, maxCharMicro)))
      .select($"doc_id", $"rules_keep", $"dup_line_micro",
        $"dup_char_micro", $"keep".as("lines_keep"),
        inline(ngramRepOks(split(translate($"text", "\n", " "), " "))))
      .withColumn("ngrams_keep",
        (2 to 10).map(n => col(s"ok_n$n")).reduce(_ && _))
      .withColumn("keep", $"rules_keep" && $"lines_keep" && $"ngrams_keep")
  }

  /** Per-document repetition gates as ONE in-memory kernel — the
    * streaming twin's engine for [[dupLineStats]] + [[ngramRepetitionStats]]
    * (both batteries are WITHIN-document: a streamed doc arrives whole,
    * so the stats are per-row bounded work, no state store). Mirrors
    * the relational algebra exactly: lines = split("\n", -1) (trailing
    * empties kept — Java's default split drops them, Spark's doesn't);
    * words = split(" ", -1) after newline→space; top family = max
    * (count, len) struct; dup family = span-union coverage; micro
    * fractions on the same clamped integer grid. Parity with the batch
    * arms is asserted column-for-column in `StreamingSpec`.
    *
    * Returns (dup_line_micro, dup_char_micro, lines_keep,
    * ok_n2..ok_n10, ngrams_keep).
    */
  private[graft] def repetitionGates(text: String,
      maxLineMicro: Long = 300000L, maxCharMicro: Long = 200000L)
      : (Long, Long, Boolean, Seq[Boolean], Boolean) = {
    def micro(p: Long, q: Long): Long =
      math.floor(p.toDouble * 1e6 / math.max(q, 1L) + 0.5).toLong
    val lines = text.split("\n", -1)
    val lc = scala.collection.mutable.HashMap[String, Long]()
    lines.foreach(l => lc(l) = lc.getOrElse(l, 0L) + 1L)
    val nLines = lines.length.toLong
    val nDistinct = lc.size.toLong
    var nChars = 0L
    var dupChars = 0L
    lc.foreach { case (l, c) =>
      nChars += c * l.length; dupChars += (c - 1) * l.length
    }
    val dupLineMicro = micro(nLines - nDistinct, nLines)
    val dupCharMicro = micro(dupChars, nChars)
    val linesKeep = dupLineMicro <= maxLineMicro && dupCharMicro <= maxCharMicro
    val words = text.replace('\n', ' ').split(" ", -1)
    val wl = words.map(_.length.toLong)
    val wChars = wl.sum
    val thr = Map(2 -> 200000L, 3 -> 180000L, 4 -> 160000L, 5 -> 150000L,
      6 -> 140000L, 7 -> 130000L, 8 -> 120000L, 9 -> 110000L, 10 -> 100000L)
    val oks: Seq[Boolean] = (2 to 10).map { n =>
      if (words.length < n) true // no gram row -> vacuous pass (batch coalesce)
      else {
        def gramAt(i: Int): String = {
          val sb = new java.lang.StringBuilder()
          var j = i
          while (j < i + n) {
            if (j > i) sb.append(' ')
            sb.append(words(j)); j += 1
          }
          sb.toString
        }
        var metric = 0L
        if (n <= 4) {
          val cnt = scala.collection.mutable.HashMap[String, (Long, Long)]()
          var i = 0
          while (i + n <= words.length) {
            var len = 0L; var j = i
            while (j < i + n) { len += wl(j); j += 1 }
            val g = gramAt(i)
            val cur = cnt.getOrElse(g, (0L, len))
            cnt(g) = (cur._1 + 1L, len)
            i += 1
          }
          var bc = 0L; var bl = 0L
          cnt.values.foreach { case (c, l) =>
            if (c > bc || (c == bc && l > bl)) { bc = c; bl = l }
          }
          metric = bc * bl
        } else {
          val cnt = scala.collection.mutable.HashMap[String, Long]()
          var i = 0
          while (i + n <= words.length) {
            val g = gramAt(i); cnt(g) = cnt.getOrElse(g, 0L) + 1L; i += 1
          }
          val covered = new Array[Boolean](words.length)
          i = 0
          while (i + n <= words.length) {
            if (cnt(gramAt(i)) > 1L) {
              var j = i; while (j < i + n) { covered(j) = true; j += 1 }
            }
            i += 1
          }
          var i2 = 0
          while (i2 < words.length) {
            if (covered(i2)) metric += wl(i2); i2 += 1
          }
        }
        micro(metric, wChars) <= thr(n)
      }
    }
    (dupLineMicro, dupCharMicro, linesKeep, oks, oks.forall(identity))
  }

  /** q168's candidate plant: adds REPETITION breaches to the raw
    * corpus expression-only from (doc_id, text) so DuckDB replays it
    * bit-exactly. doc_id % 17: two identical appended lines (the
    * duplicate-line rule fires; the repeated 8-gram also lights the
    * dup family). doc_id % 19: the first 6 words appended 4× (top/dup
    * n-gram rules fire on SHORT docs but stay under threshold on long
    * ones — both directions per rule, decided by doc length).
    */
  private[ops] def admissionRepPlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = split($"text", " ")
    val l8 = array_join(slice(w, 1, 8), " ")
    val p6 = array_join(slice(w, 1, 6), " ")
    docs.withColumn("text",
      when($"doc_id" % 17 === 0,
        concat($"text", lit("\n"), l8, lit("\n"), l8))
        .when($"doc_id" % 19 === 0,
          concat($"text", lit(" "), p6, lit(" "), p6, lit(" "), p6,
            lit(" "), p6))
        .otherwise($"text"))
  }

  /** ORACLED capstone (q168) — ADMISSION v3: q125's composed gates
    * with the Gopher unit UPGRADED from [[gopherRules]] alone to the
    * full [[gopherFullBattery]] (doc rules + duplicate-line +
    * n-gram repetition applied as ONE filter, the way Rae et al.
    * deploy it), over the [[admissionRepPlant]]ed candidates so both
    * repetition gates decide real admissions in both directions.
    * DuckDB re-derives the plant, all three Gopher batteries, and
    * every other gate from the SAME shared CTE fragments as
    * q112/q113/q122/q123/q125.
    */
  def q168AdmissionV3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = admissionRepPlant(docs.filter($"doc_id" % 97 =!= 0))
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val target = docs.filter($"source".isin("src0", "src1"))
    val contam = SpanDedup.decontaminate(cands, bench, gramLen = 24)
    val lm = lmScore(cands, lmRef)
    val gop = gopherFullBattery(cands, minWords = 30L, minStop = 1L)
      .withColumnRenamed("keep", "gopher_keep")
    val dsir = dsirWeights(cands, target).select($"doc_id", $"log_weight")
    val surv = cands.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    cands
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .join(contam.select($"doc_id", $"contaminated_chars"),
        Seq("doc_id"), "left")
      .join(lm.select($"doc_id", $"bits_per_transition"),
        Seq("doc_id"), "left")
      .join(gop, Seq("doc_id"))
      .join(dsir, Seq("doc_id"), "left")
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("contaminated_chars",
        coalesce($"contaminated_chars", lit(0L)))
      .withColumn("lm_bits", coalesce($"bits_per_transition", lit(0.0)))
      .withColumn("log_weight", coalesce($"log_weight", lit(0.0)))
      .withColumn("is_survivor", $"doc_id" === $"survivor_id")
      .withColumn("dsir_ok", $"log_weight" >= -8.0)
      .withColumn("keep",
        $"is_survivor" && $"n_tok" >= 5 && $"contaminated_chars" === 0L &&
          $"lm_bits" <= 6.0 && $"gopher_keep" && $"dsir_ok")
      .select(Seq($"doc_id", $"n_tok", $"contaminated_chars", $"lm_bits",
        $"rules_keep", $"dup_line_micro", $"dup_char_micro",
        $"lines_keep") ++
        (2 to 10).map(n => col(s"ok_n$n")) ++
        Seq($"ngrams_keep", $"gopher_keep", $"log_weight", $"dsir_ok",
          $"is_survivor", $"keep"): _*)
      .orderBy($"doc_id")
  }

  /** L5/L6 — the C4 LINE-LEVEL cleaning battery (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer", §2.2 — public): the famous heuristics
    * that built C4 from Common Crawl, the LINE-granular complement of
    * the doc-level [[gopherRules]]. Per line of each document, keep
    * the line iff it (a) ends in terminal punctuation (. ! ? "),
    * (b) has ≥ `minLineWords` words, (c) contains no `banned` term
    * (the paper drops lines with "javascript"; its full policy list is
    * a broadcastable parameter here). Per document: drop the page
    * outright if it contains "lorem ipsum" or a curly brace `{` (the
    * paper's placeholder/code heuristics), or fewer than `minLines`
    * lines survive (the paper's ≥-3-sentence floor, with our
    * one-sentence-per-line plant making lines = sentences).
    *
    * Output per doc: line counts, both page-level booleans, the keep
    * decision, and the cleaned text (kept lines rejoined) for kept
    * docs — every byte hash-checked against the oracle.
    *
    * 100 TB posture: pure per-row HOF map work (split → filter →
    * array_join — no explode survives the stage, no UDF, no shuffle at
    * all), so the filter fuses into the parquet scan exactly like
    * [[withGopherBattery]]; the banned list is bounded (a policy file)
    * and compiles into the predicate.
    */
  def c4LineFilter(lines: DataFrame, minLineWords: Int = 5,
      minLines: Int = 3, banned: Seq[String] = Seq("javascript"))
      : DataFrame = {
    import lines.sparkSession.implicits._
    val keepLine = (l: org.apache.spark.sql.Column) =>
      banned.foldLeft(
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
          l.endsWith("\"")) &&
          size(split(l, " ")) >= minLineWords)((acc, b) =>
        acc && !l.contains(b))
    val full = array_join($"lines", "\n")
    lines
      .withColumn("kept", filter($"lines", keepLine))
      .withColumn("n_lines", size($"lines").cast("long"))
      .withColumn("n_kept", size($"kept").cast("long"))
      .withColumn("has_lorem", full.contains("lorem ipsum"))
      .withColumn("has_brace", full.contains("{"))
      .withColumn("keep",
        !$"has_lorem" && !$"has_brace" && $"n_kept" >= minLines)
      .withColumn("cleaned_text",
        when($"keep", array_join($"kept", "\n")))
      .drop("lines", "kept")
  }

  /** ORACLED exercise (q144): [[c4LineFilter]] over the [[c4Plant]]ed
    * corpus — every line count, page-level boolean, keep decision, and
    * cleaned byte hash-checked row-for-row (DuckDB re-derives the
    * plant and the full battery).
    */
  def q144C4Clean(spark: SparkSession, dir: String): DataFrame =
    c4LineFilter(c4Plant(Sources.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** L2 at PARAGRAPH granularity — CCNet's cross-document paragraph
    * deduplication (Wenzek et al. 2020 §3.1: hash every paragraph,
    * drop repeats across the whole snapshot — the step that strips
    * boilerplate headers/footers/cookie banners BEFORE any doc-level
    * signal is computed). The granularity gap this fills: q21 dedups
    * whole documents, q100–q110 dedup spans WITHIN a document; this
    * dedups lines ACROSS documents. Survivor rule: an occurrence
    * survives iff its (doc_id, line_idx) is the global minimum for
    * that exact line text (the repo-wide min-id convention, extended
    * lexicographically to the position within the doc so within-doc
    * repeats drop too).
    *
    * Input: (doc_id, lines array<string>). Output per doc: original
    * line count, surviving count, and the cleaned text (survivors
    * rejoined in original order; NULL when nothing survives) — every
    * byte hash-checked.
    *
    * 100 TB posture: ONE corpus-wide shuffle keyed by the line (the
    * window's partition key — at production scale key by
    * xxhash64(line) and carry the text only inside the group, the q21
    * posture), then one shuffle back on doc_id to reassemble; both are
    * the inherent cost of cross-doc dedup and exactly how CCNet shards
    * it. No driver-side state, no broadcast of anything corpus-sized.
    */
  def dedupParagraphs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", size($"lines").cast("long").as("n_lines"))
      .join(dedupedParagraphLines(docs), Seq("doc_id"), "left")
      .withColumn("n_kept",
        coalesce(size($"lines_kept").cast("long"), lit(0L)))
      .withColumn("cleaned_text",
        when($"lines_kept".isNotNull, array_join($"lines_kept", "\n")))
      .drop("lines_kept")
  }

  /** [[dedupParagraphs]]'s array-preserving core: per doc, the
    * surviving lines in original order (docs whose every line lost
    * the survivor race are ABSENT — callers left-join). Split out so
    * downstream stages ([[q150CcnetC4Clean]]) can keep filtering at
    * line granularity without a re-split round-trip.
    */
  private[ops] def dedupedParagraphLines(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    docs.select($"doc_id", posexplode($"lines").as(Seq("idx", "line")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"line").orderBy($"doc_id", $"idx")))
      .filter($"rn" === 1)
      .groupBy($"doc_id")
      .agg(transform(array_sort(collect_list(struct($"idx", $"line"))),
        s => s("line")).as("lines_kept"))
  }

  /** ORACLED exercise (q147): [[dedupParagraphs]] over the
    * [[c4Plant]]ed corpus — the plant's four injected lines are
    * literal boilerplate (the same javascript/read-more/lorem/config
    * line recurs across every %5/%7/%11/%13 doc), so the dedup strips
    * each family down to its min-(doc, idx) occurrence while the
    * unique word-soup lines all survive; DuckDB re-derives the plant,
    * the window, and the reassembly byte-for-byte.
    */
  def q147ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphs(c4Plant(Sources.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** SITE-BOILERPLATE line removal — the DOMAIN-SCOPED complement of
    * q147's global paragraph dedup: a line is site boilerplate when it
    * recurs across ≥ `minDocs` DISTINCT documents of the SAME source
    * (nav menus, cookie banners, footers — the per-site template that
    * survives global dedup whenever each site words it differently).
    * CCNet removes paragraphs by cross-document hash frequency (Wenzek
    * et al. §4.1) and the RefinedWeb/Dolma pipelines run the same
    * gate per site; unlike q147 (keep FIRST occurrence) boilerplate
    * here is removed from EVERY document — a nav menu has no
    * meaningful first owner. BLANK lines are never counted as
    * boilerplate (they are document structure, and their df is
    * meaninglessly high everywhere).
    *
    * Input needs (doc_id, source, lines); output is total — every doc
    * ships a row even when every line was removed.
    *
    * 100 TB posture: one explode; one (source, line)-keyed aggregate
    * with map-side combine (count DISTINCT doc_id is exact — the
    * boilerplate decision is a threshold, so a sketch would flip
    * borderline lines); one keyed LEFT ANTI join against the
    * boilerplate set (corpus-scale on a template-heavy crawl, so NOT
    * forced broadcast — the keepSurvivors rule, AQE decides); one
    * per-doc reassembly aggregate. q147's exact plan class plus the
    * df threshold.
    */
  def siteBoilerplateClean(docs: DataFrame, minDocs: Long = 3L): DataFrame =
    removeBoilerplateLines(docs, siteBoilerplateSet(docs, minDocs))

  /** The FIT half of [[siteBoilerplateClean]] — the (source, line)
    * boilerplate set at the `minDocs` distinct-document threshold.
    * Persistable/refreshable offline state: the deployment fits this
    * periodically over the accumulated crawl and the ingest stream
    * applies it ([[graft.ops.Streaming.siteBoilerplateStream]]).
    */
  def siteBoilerplateSet(docs: DataFrame, minDocs: Long = 3L): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"source",
        explode($"lines").as("line"))
      .filter(trim($"line") =!= "")
      .groupBy($"source", $"line")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= minDocs)
      .select($"source", $"line")
  }

  /** The APPLY half of [[siteBoilerplateClean]]: remove every
    * (source, line) in `boilerplate` from every document and
    * reassemble — a keyed LEFT ANTI join (the set is corpus-scale on a
    * template-heavy crawl, so never forced broadcast — AQE decides)
    * plus one per-doc reassembly aggregate. Output is total.
    */
  def removeBoilerplateLines(docs: DataFrame, boilerplate: DataFrame)
      : DataFrame = {
    import docs.sparkSession.implicits._
    val ex = docs.select($"doc_id", $"source",
      posexplode($"lines").as(Seq("idx", "line")))
    val kept = ex.join(boilerplate, Seq("source", "line"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct($"idx", $"line"))),
          s => s("line")), "\n").as("cleaned_text"))
    docs.select($"doc_id", size($"lines").cast("long").as("n_raw"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id", $"n_raw",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"cleaned_text", lit("")).as("cleaned_text"))
  }

  /** Deterministic per-site template corpus for [[q184SiteBoilerplate]]
    * (the [[c4Plant]] technique, source-keyed): every doc of a source
    * carries that source's nav and footer lines (df = #docs(source) ≥
    * minDocs → removed), a blank structural line (kept by the
    * blank-line contract), its own unique content lines (df = 1 →
    * kept), and docs with doc_id % 97 == 0 a rare promo line (df
    * under the threshold at fixture scale → kept) — the threshold
    * fires both ways.
    */
  private[graft] def sitePlant(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = split($"text", " ")
    val content = transform(sequence(lit(0),
        ceil(least(size(w), lit(24)).cast("double") / 12).cast("int") - 1),
      i => array_join(slice(w, i * lit(12) + 1, lit(12)), " "))
    val emptyArr = array().cast("array<string>")
    docs.select($"doc_id", $"source",
      concat(
        array(concat(lit("home | products | about \u2014 "), $"source")),
        content,
        array(lit("")),
        when($"doc_id" % 97 === 0,
          array(concat(lit("subscribe to the "), $"source",
            lit(" newsletter")))).otherwise(emptyArr),
        array(concat(lit("copyright "), $"source",
          lit(" all rights reserved")))).as("lines"))
  }

  /** ORACLED exercise (q184): [[siteBoilerplateClean]] over the
    * [[sitePlant]]ed corpus — DuckDB re-builds every planted line,
    * re-counts per-(source, line) document frequency, re-applies the
    * threshold and the blank-line exemption, and re-assembles every
    * cleaned document byte-for-byte.
    */
  def q184SiteBoilerplate(spark: SparkSession, dir: String): DataFrame =
    siteBoilerplateClean(sitePlant(Sources.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** L6 at PARAGRAPH granularity — per-LINE LM quality scoring: CCNet
    * computes its perplexity signal per PARAGRAPH, not per page
    * (Wenzek et al. §4.4 — a page is kept/cut at paragraph level, so
    * one boilerplate paragraph can't sink a good document and one good
    * paragraph can't launder a spam page). Each line of a multi-line
    * document scores independently under the [[lmScore]] char-bigram
    * model; `is_bad` flags lines above `maxBits` (the q125 admission
    * threshold), the unit the surgical-removal recipe excises.
    *
    * Mechanics: lines key as doc_id·1e6 + idx (a million lines per
    * document of headroom; a doc exceeding it fails LOUDLY via
    * raise_error instead of silently colliding keys with its
    * neighbor — needs doc_id < ~9.2e12, documented), score through
    * the UNCHANGED [[lmScore]] body, then the key splits back.
    * 100 TB posture: identical to q113 — the model broadcasts
    * (alphabet-bounded), scoring is one map + per-line aggregate; the
    * line explode is the corpus's own size.
    */
  def lineLmScore(lines: DataFrame, reference: DataFrame,
      maxBits: Double = 6.0): DataFrame = {
    import lines.sparkSession.implicits._
    val stride = 1000000L
    val keyed = lines
      .select($"doc_id", posexplode($"lines").as(Seq("idx", "line")))
      .select((when($"idx" >= stride, raise_error(concat(
          lit(s"lineLmScore: document "), $"doc_id",
          lit(s" has >= $stride lines — line keys would collide"))))
          .otherwise($"doc_id" * stride + $"idx")).as("doc_id"),
        $"line".as("text"))
    lmScore(keyed, reference)
      .select(expr(s"doc_id div $stride").as("doc_id"),
        ($"doc_id" % stride).cast("long").as("idx"),
        $"bits_per_transition".as("lm_bits"))
      .withColumn("is_bad", $"lm_bits" > maxBits)
  }

  /** ORACLED exercise (q158): [[lineLmScore]] over the [[c4Plant]]ed
    * corpus against the q113 reference split — DuckDB re-derives the
    * plant, the line keys, and the LM algebra through the SAME green
    * CTEs; every line's bits and flag hash-checked. The injected
    * boilerplate lines score differently from the soup lines, so the
    * paragraph granularity carries real signal.
    */
  def q158LineLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    lineLmScore(c4Plant(docs), docs.filter($"doc_id" % 3 === 0))
      .orderBy(col("doc_id"), col("idx"))
  }

  /** L6 — the ACTION q158's signal feeds: drop every line the LM
    * flags (`is_bad`), keep the rest in order — CCNet's per-paragraph
    * removal mode (cut the worst paragraphs, keep the page). Unscored
    * lines (under 2 chars — no transitions) carry no evidence and are
    * KEPT, documented. Docs whose every line is cut ship NULL.
    * 100 TB posture: q158's broadcast-model scoring + one doc-keyed
    * reassembly aggregate — the [[dedupParagraphs]] tail.
    */
  def lineLmClean(lines: DataFrame, reference: DataFrame,
      maxBits: Double = 6.0): DataFrame = {
    import lines.sparkSession.implicits._
    val flags = lineLmScore(lines, reference, maxBits)
      .select($"doc_id", $"idx", $"is_bad")
    val ex = lines
      .select($"doc_id", posexplode($"lines").as(Seq("idx", "line")))
      .withColumn("idx", $"idx".cast("long"))
    val kept = ex.join(flags, Seq("doc_id", "idx"), "left")
      .filter(!coalesce($"is_bad", lit(false)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(
            collect_list(struct($"idx", $"line"))), s => s("line")), "\n")
          .as("cleaned_text"))
    lines.select($"doc_id", size($"lines").cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .withColumn("n_kept", coalesce($"n_kept", lit(0L)))
  }

  /** ORACLED exercise (q159): [[lineLmClean]] over the [[c4Plant]]ed
    * corpus at the q113 reference and a tight 4.2-bit cut (the
    * fixture's line-bits spread is narrow, so the threshold must sit
    * inside it to cut anything) — DuckDB re-derives plant, line LM,
    * flags, and the reassembled bytes; n_kept < n_lines somewhere and
    * every byte hash-checked.
    */
  def q159LineLmClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    lineLmClean(c4Plant(docs), docs.filter($"doc_id" % 3 === 0),
        maxBits = 4.2)
      .orderBy(col("doc_id"))
  }

  /** ORACLED capstone (q150): the CCNet→C4 COMPOSED cleaning pass in
    * production order — cross-document paragraph dedup FIRST (so
    * boilerplate can't distort the line rules), then the C4 line/page
    * battery over the surviving lines. Per doc: the raw line count,
    * the post-dedup count, the post-filter count, both page booleans,
    * the keep decision, and the final cleaned bytes — all hash-checked
    * against DuckDB running the two green bodies stitched end-to-end.
    * Plan shape: q147's one line-keyed shuffle + reassembly, then
    * q144's pure-map battery fused on top — composition adds ZERO new
    * shuffles.
    */
  def q150CcnetC4Clean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = c4Plant(Sources.documents(spark, dir))
    val emptyArr = array().cast("array<string>")
    val deduped = planted
      .select($"doc_id", size($"lines").cast("long").as("n_raw"))
      .join(dedupedParagraphLines(planted), Seq("doc_id"), "left")
      .select($"doc_id", $"n_raw",
        coalesce($"lines_kept", emptyArr).as("lines"))
    c4LineFilter(deduped)
      .withColumnRenamed("n_lines", "n_dedup")
      .select($"doc_id", $"n_raw", $"n_dedup", $"n_kept",
        $"has_lorem", $"has_brace", $"keep", $"cleaned_text")
      .orderBy($"doc_id")
  }

  /** L6 — DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public): score every
    * candidate document by its importance weight between a TARGET
    * distribution (the high-quality corpus you want more of) and the
    * RAW pool, both modeled as bags of HASHED word uni+bigrams:
    * log w(doc) = Σ_grams [ln p̂(b(g)) − ln q̂(b(g))] with add-one
    * smoothing over `buckets` hashed features, p̂ from the target, q̂
    * from the raw pool itself — the paper's exact estimator (§3,
    * hashed n-gram features). Documents with log w > 0 look more like
    * the target than the pool and are what importance resampling
    * upweights.
    *
    * Parity: buckets come from the q93 md5-conv idiom (bit-identical
    * in DuckDB); the weight is a sum of ln-ratio terms rounded at 6
    * decimals (the q113 precedent).
    *
    * 100 TB posture: both distributions are `buckets`-bounded
    * aggregates (map-side combine, then ≤ `buckets` rows — broadcast
    * by construction, the [[CharLm]] argument); scoring is one
    * kernel pass → broadcast joins → per-doc aggregate. One keyed
    * shuffle on doc_id (one partially-aggregated row per doc), nothing
    * corpus-sized ever sits on the driver.
    *
    * Round 22: the per-doc (bucket, n) histogram is the codegen'd
    * [[graft.expressions.DsirBuckets]] kernel — the gram explode, the
    * md5-hex-conv bucket expression (three string allocations per
    * gram), and the corpus-wide (doc_id, bucket) combine EXCHANGE are
    * gone; the statistic never leaves one document, so the histogram
    * is computed where the row sits. Bucket-for-bucket equality with
    * the relational form is pinned in DsirBucketsSpec and by the
    * unchanged q123/q125/q129/q168/q170 oracles.
    */
  def dsirWeights(candidates: DataFrame, target: DataFrame,
      buckets: Int = 256): DataFrame = {
    import candidates.sparkSession.implicits._
    require(buckets > 0, s"buckets must be positive: $buckets")
    def gramBuckets(df: DataFrame): DataFrame = df
      .select($"doc_id",
        explode(org.apache.spark.sql.graftshim.GraftColumns
          .dsirBuckets(split(lower($"text"), " "), buckets)).as("bn"))
      .select($"doc_id", $"bn.bucket".as("bucket"), $"bn.n".as("n"))
    // target model: ≤ `buckets` rows; eager checkpoint freezes it so
    // the two derived aggregates don't re-run the target scan
    val tCnt = gramBuckets(target)
      .groupBy($"bucket").agg(sum($"n").as("ct"))
      .localCheckpoint(true)
    val tTot = tCnt.agg(sum($"ct").as("nt"))
    // ONE candidate kernel pass: the raw-pool distribution is derived
    // by RE-aggregating the frozen per-doc counts (integral sums —
    // bit-identical to counting the gram stream directly), instead of
    // scanning/hashing the candidates twice
    val perDoc = gramBuckets(candidates)
      .localCheckpoint(true)
    val rCnt = perDoc.groupBy($"bucket").agg(sum($"n").as("cr"))
    val rTot = rCnt.agg(sum($"cr").as("nr"))
    // materialize the (per-doc, small) result eagerly so the
    // corpus-scale (doc, bucket) checkpoint can be RELEASED before
    // return — otherwise every dsirWeights call pins docs×buckets
    // rows for the process lifetime (the tfidfDecontaminate
    // discipline)
    val out = perDoc
      .join(broadcast(tCnt), Seq("bucket"), "left")
      .join(broadcast(rCnt), Seq("bucket"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .withColumn("term",
        $"n" * (log((coalesce($"ct", lit(0L)) + lit(1.0)) /
            ($"nt" + lit(buckets))) -
          log((coalesce($"cr", lit(0L)) + lit(1.0)) /
            ($"nr" + lit(buckets)))))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_grams"),
        round(sum($"term"), 6).as("log_weight"))
      .withColumn("selected", $"log_weight" > 0.0)
      .localCheckpoint(true)
    perDoc.unpersist(false)
    tCnt.unpersist(false)
    out
  }

  /** TOKEN-level language-model gate via STUPID BACKOFF (Brants et
    * al. 2007, "Large Language Models in Machine Translation" —
    * the scoring scheme DESIGNED for distributed trillion-token
    * models: no discounting to normalize, just count ratios with a
    * fixed backoff penalty λ = 0.4):
    *
    *   S(w₃|w₁w₂) = c₃/c₂(w₁w₂)            if the trigram was seen
    *              = λ·c₂(w₂w₃)/c₁(w₂)      else if the bigram was
    *              = λ²·(c₁(w₃)+1)/(N+V)    else (add-one unigram
    *                floor — pure Stupid Backoff leaves unseen
    *                unigrams at 0, which a log cannot take)
    *
    * Output per candidate doc (≥ 3 tokens): n_transitions (trigram
    * positions) and bits_per_transition = −avg log₂ S, rounded at 6
    * (the q113 precedent — fp summation noise is orders below the
    * rounding).
    *
    * 100 TB posture — and the honest CONTRAST with [[lmScore]]: the
    * char-bigram model is alphabet-bounded and broadcasts; a token
    * n-gram model is CORPUS-scale, so here the count table shards by
    * gram and every probe is a KEYED SHUFFLE JOIN of the candidate
    * gram stream — exactly how Brants et al. serve their model
    * (grams sharded by hash, clients batch lookups). One reference
    * explode emits all three gram orders tagged (n, gram) → ONE
    * count shuffle; scoring is five left joins on (n, gram) keys.
    * The count table materializes once and is RELEASED before
    * return (the dsirWeights discipline); the two model scalars
    * (N, V) collect from a 1-row aggregate. Literal-string gram
    * keys, zero hash collisions — parity with the oracle is exact.
    */
  def stupidBackoffScore(candidates: DataFrame, reference: DataFrame,
      lambda: Double = 0.4): DataFrame = {
    import candidates.sparkSession.implicits._
    require(lambda > 0 && lambda <= 1, s"need 0 < lambda <= 1: $lambda")
    val toks = split(lower($"text"), " ")
    // size guards: Spark's sequence(0, size-n) DESCENDS when size < n
    // (the dsirWeights when-guard lesson) — an unguarded wordGrams on
    // a too-short doc would emit garbage indices, not an empty array
    val empty = array().cast("array<string>")
    val cnt = reference
      .select(explode(concat(
        wordGrams(toks, 1),
        when(size(toks) >= 2, wordGrams(toks, 2)).otherwise(empty),
        when(size(toks) >= 3, wordGrams(toks, 3)).otherwise(empty)))
        .as("g"))
      .withColumn("n", size(split($"g", " ")))
      .groupBy($"n", $"g").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val (nTot, vocab) = cnt.filter($"n" === 1)
      .agg(coalesce(sum($"c"), lit(0L)), count(lit(1)))
      .as[(Long, Long)].head()
    require(nTot > 0,
      "stupidBackoffScore: empty reference — the unigram floor would " +
        "divide by zero and every candidate would score Infinity bits")
    def keyed(nn: Int, key: String, cName: String) =
      cnt.filter($"n" === nn).select($"g".as(key), $"c".as(cName))
    // Codegen'd gram streams zipped positionally (round 21): the old
    // per-position interpreted lambda (3 concat_ws + 5 element_at per
    // trigram slot) built the same five aligned streams; wordGrams +
    // slice + arrays_zip are all native and byte-identical — tri_i =
    // grams3[i], ctx2_i = grams2[i], bo2_i = grams2[i+1], w2/w3 the
    // shifted token slices.
    val tris = candidates.filter(size(toks) >= 3)
      .select($"doc_id", toks.as("t"))
      .select($"doc_id", explode(arrays_zip(
        wordGrams($"t", 3).as("tri"),
        slice(wordGrams($"t", 2), lit(1), size($"t") - 2).as("ctx2"),
        slice(wordGrams($"t", 2), lit(2), size($"t") - 2).as("bo2"),
        slice($"t", lit(2), size($"t") - 2).as("w2"),
        slice($"t", lit(3), size($"t") - 2).as("w3"))).as("s"))
      .select($"doc_id", $"s.tri", $"s.ctx2", $"s.bo2", $"s.w2", $"s.w3")
    val scored = tris
      .join(keyed(3, "tri", "c3"), Seq("tri"), "left")
      .join(keyed(2, "ctx2", "c22"), Seq("ctx2"), "left")
      .join(keyed(2, "bo2", "c2b"), Seq("bo2"), "left")
      .join(keyed(1, "w2", "c1w2"), Seq("w2"), "left")
      .join(keyed(1, "w3", "c1w3"), Seq("w3"), "left")
      .withColumn("s",
        // association mirrors the oracle EXACTLY (λ·(…) nesting, the
        // unigram floor divided before its λ) so the doubles match
        // bit-for-bit, not just to rounding
        when(coalesce($"c3", lit(0L)) > 0, $"c3" / $"c22")
          .otherwise(lit(lambda) *
            when(coalesce($"c2b", lit(0L)) > 0, $"c2b" / $"c1w2")
              .otherwise(lit(lambda) *
                ((coalesce($"c1w3", lit(0L)) + 1.0) /
                  lit(nTot + vocab).cast("double")))))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        round(-avg(log($"s")) / log(lit(2.0)), 6).as("bits_per_transition"))
      .localCheckpoint(true)
    cnt.unpersist(false)
    scored
  }

  /** ORACLED exercise (q136): [[stupidBackoffScore]] at the q113
    * split (every 3rd doc the reference, the rest candidates) —
    * DuckDB re-derives the tagged gram counts, both backoff chains,
    * the add-one floor, and the per-doc mean; bits hash-checked at
    * 6 decimals.
    */
  def q136StupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    stupidBackoffScore(
        docs.filter($"doc_id" % 3 =!= 0),
        docs.filter($"doc_id" % 3 === 0))
      .orderBy($"doc_id")
  }

  /** TOKEN-level bigram LM under INTERPOLATED KNESER–NEY smoothing
    * (Kneser & Ney 1995; the interpolated form of Chen & Goodman 1998
    * §2.7 — the scheme KenLM defaults to, i.e. what CCNet's quality
    * LM actually runs). The honest contrast with [[stupidBackoffScore]]:
    * Stupid Backoff trades normalization away for distributed cheapness;
    * KN keeps a proper probability by discounting every seen bigram a
    * fixed D and recycling the freed mass into the CONTINUATION
    * distribution (how many distinct contexts a word follows, not how
    * often it occurs — "San Francisco" gives "francisco" a high unigram
    * count but only one continuation context):
    *
    *   P(w₂|w₁) = max(c₂(w₁w₂) − D, 0)/c₁(w₁)
    *            + (D·N₁₊(w₁ •)/c₁(w₁)) · P_cont(w₂)
    *   P_cont(w₂) = (N₁₊(• w₂) + 1) / (B + V)
    *
    * with D fixed at 0.75 (Chen & Goodman's rule-of-thumb), N₁₊(w₁ •)
    * = distinct continuations of w₁, N₁₊(• w₂) = distinct contexts
    * preceding w₂, B = distinct bigram types, V = vocabulary. The +1/+V
    * add-one on the continuation distribution is this engine's unseen-
    * word floor (pure KN leaves unseen w₂ at 0, which a log cannot
    * take — the [[stupidBackoffScore]] precedent, documented deviation).
    * A w₁ that is unseen OR never starts a bigram (doc-final-only)
    * contributes no discount mass; those positions score P_cont(w₂)
    * directly.
    *
    * Output per candidate doc (≥ 2 tokens): n_transitions (bigram
    * positions) and bits_per_transition = −avg log₂ P, rounded at 6.
    *
    * 100 TB posture — identical to [[stupidBackoffScore]]: the count
    * table is CORPUS-scale so it shards by gram; both continuation
    * tables derive from the bigram TYPE table (already aggregated —
    * no second corpus pass); scoring is four keyed shuffle joins of
    * the candidate bigram stream. Count tables materialize once and
    * are RELEASED before return; the two model scalars collect from a
    * 1-row aggregate.
    */
  def kneserNeyScore(candidates: DataFrame, reference: DataFrame,
      discount: Double = 0.75): DataFrame = {
    import candidates.sparkSession.implicits._
    require(discount > 0 && discount < 1, s"need 0 < D < 1: $discount")
    val toks = split(lower($"text"), " ")
    val empty = array().cast("array<string>")
    // one reference explode, both gram orders tagged → ONE count shuffle
    val cnt = reference
      .select(explode(concat(
        wordGrams(toks, 1),
        when(size(toks) >= 2, wordGrams(toks, 2)).otherwise(empty)))
        .as("g"))
      .withColumn("n", size(split($"g", " ")))
      .groupBy($"n", $"g").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // bigram TYPE table: continuation counts are over types, so they
    // derive from the grouped table — no second pass over the corpus
    val big = cnt.filter($"n" === 2)
      .select(split($"g", " ").as("w"), $"c")
      .select(element_at($"w", 1).as("w1"), element_at($"w", 2).as("w2"),
        $"c".as("c2"))
    val fwd = big.groupBy($"w1").agg(count(lit(1)).as("n1f"))
    val bwd = big.groupBy($"w2").agg(count(lit(1)).as("n1b"))
    val (bTypes, vocab) = cnt
      .agg(coalesce(sum(when($"n" === 2, 1L)), lit(0L)),
        coalesce(sum(when($"n" === 1, 1L)), lit(0L)))
      .as[(Long, Long)].head()
    require(vocab > 0,
      "kneserNeyScore: empty reference — the continuation floor would " +
        "divide by zero and every candidate would score Infinity bits")
    val uni = cnt.filter($"n" === 1).select($"g".as("w1"), $"c".as("c1"))
    val pairs = candidates.filter(size(toks) >= 2)
      .select($"doc_id", toks.as("t"))
      // adjacent-token pairs via shifted slices (codegen) instead of
      // the interpreted per-position struct lambda — same rows
      .select($"doc_id", explode(arrays_zip(
        slice($"t", lit(1), size($"t") - 1).as("w1"),
        slice($"t", lit(2), size($"t") - 1).as("w2"))).as("s"))
      .select($"doc_id", $"s.w1", $"s.w2")
    // association mirrors the oracle EXACTLY (discounted-mass term +
    // interpolation term, the continuation floor divided by the same
    // double literal) so the doubles match bit-for-bit, not just to
    // rounding
    val pcont = (coalesce($"n1b", lit(0L)) + lit(1.0)) /
      lit((bTypes + vocab).toDouble)
    val scored = pairs
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .join(fwd, Seq("w1"), "left")
      .join(bwd, Seq("w2"), "left")
      .withColumn("p",
        when(coalesce($"c1", lit(0L)) > 0 && coalesce($"n1f", lit(0L)) > 0,
          greatest(coalesce($"c2", lit(0L)) - lit(discount), lit(0.0)) /
            $"c1" + (lit(discount) * $"n1f" / $"c1") * pcont)
          .otherwise(pcont))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        round(-avg(log($"p")) / log(lit(2.0)), 6).as("bits_per_transition"))
      .localCheckpoint(true)
    cnt.unpersist(false)
    scored
  }

  /** ORACLED exercise (q143): [[kneserNeyScore]] at the q113/q136
    * split (every 3rd doc the reference, the rest candidates) — DuckDB
    * re-derives the gram counts, both continuation-type tables, the
    * discount/interpolation algebra, and the per-doc mean; bits
    * hash-checked at 6 decimals.
    */
  def q143KneserNey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    kneserNeyScore(
        docs.filter($"doc_id" % 3 =!= 0),
        docs.filter($"doc_id" % 3 === 0))
      .orderBy($"doc_id")
  }

  /** Broadcastable DSIR state for the STREAMING arm — the per-bucket
    * smoothed log-ratio table ln p̂(b) − ln q̂(b), `buckets` doubles
    * (2 KB at the default 256): the [[CharLm]] argument, bounded by
    * construction at ANY corpus size. [[logWeight]] is the per-row
    * kernel mirroring [[dsirWeights]]'s algebra exactly: same
    * lowercase/space tokenization (trailing empties kept, as Spark's
    * `split`), same uni+bigram features in the same order, same
    * md5-first-8-hex bucket hash, same 6-decimal rounding — so a
    * streamed document's weight equals the batch one (parity asserted
    * at 1e-6; the only freedom is fp summation order, absorbed by the
    * rounding).
    */
  final case class DsirModel(logRatio: Array[Double]) {
    def buckets: Int = logRatio.length

    private def bucketOf(gram: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (u % buckets).toInt
    }

    /** (n_grams, log_weight) of `text` under the model. */
    def logWeight(text: String): (Long, Double) = {
      if (text == null) return (0L, 0.0)
      val toks = CharLm.sparkLower(text).split(" ", -1)
      val counts = new Array[Long](buckets)
      var n = 0L
      var i = 0
      while (i < toks.length) {
        counts(bucketOf(toks(i))) += 1; n += 1
        if (i + 1 < toks.length) {
          counts(bucketOf(toks(i) + " " + toks(i + 1))) += 1; n += 1
        }
        i += 1
      }
      var sum = 0.0
      var b = 0
      while (b < buckets) {
        if (counts(b) != 0L) sum += counts(b) * logRatio(b)
        b += 1
      }
      (n, BigDecimal(sum).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }
  }

  /** Fit the [[DsirModel]] from the same two corpora [[dsirWeights]]
    * scores against — both distributions are `buckets`-bounded
    * aggregates (map-side combine, ≤ `buckets` rows collected), the
    * batch-fits / stream-scores split [[CurationIndex]] persists.
    */
  def dsirModel(candidates: DataFrame, target: DataFrame,
      buckets: Int = 256): DsirModel = {
    import candidates.sparkSession.implicits._
    require(buckets > 0, s"buckets must be positive: $buckets")
    def bucketCounts(df: DataFrame): (Array[Long], Long) = {
      val rows = df
        .select(explode(org.apache.spark.sql.graftshim.GraftColumns
          .dsirBuckets(split(lower($"text"), " "), buckets)).as("bn"))
        .groupBy($"bn.bucket".as("bucket")).agg(sum($"bn.n").as("c"))
        .as[(Long, Long)].collect()
      val arr = new Array[Long](buckets)
      rows.foreach { case (b, c) => arr(b.toInt) = c }
      (arr, rows.map(_._2).sum)
    }
    val (tCnt, nt) = bucketCounts(target)
    val (rCnt, nr) = bucketCounts(candidates)
    DsirModel(Array.tabulate(buckets)(b =>
      math.log((tCnt(b) + 1.0) / (nt + buckets.toDouble)) -
        math.log((rCnt(b) + 1.0) / (nr + buckets.toDouble))))
  }

  /** ORACLED exercise (q123): [[dsirWeights]] with target = the
    * src0/src1 documents, raw pool = the rest — every per-doc gram
    * count, 6-decimal log weight, and selection boolean hash-checked
    * (DuckDB re-derives the hashed features, both smoothed
    * distributions, and the ln-ratio sum).
    */
  def q123DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    dsirWeights(
      docs.filter(!$"source".isin("src0", "src1")),
      docs.filter($"source".isin("src0", "src1")))
      .orderBy($"doc_id")
  }

  /** ORACLED capstone (q129): the SHIPPED CORPUS under the FULL gate
    * battery — q117's recipe (exact-dup survivor + token floor +
    * near-dup losers anti-joined + LM cap + benchmark excision +
    * 512-token packing) with the q125 additions folded in: the Gopher
    * structural battery (30/1) and the DSIR importance floor (−8).
    * Every gate the engine owns now feeds ONE packed corpus, and the
    * oracle stitches every component's CTE fragments — each gate
    * perturbs the admitted set, each excision shifts every downstream
    * packing boundary, and all of it is hash-checked.
    *
    * Gate order = cost order (the q114 economics): structural
    * survivor/floor and the id-keyed anti/semi joins drop rows BEFORE
    * the per-char LM explode inside [[assembleShippedCorpus]] runs.
    * 100 TB posture is the union of its parts' (q117 + q125), nothing
    * new: the Gopher battery fuses into the candidate scan, DSIR adds
    * one (doc, bucket) combine against broadcast distributions, the
    * near-dup arm is q55's blocked machinery.
    */
  def q129ShippedCorpusFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val target = docs.filter($"source".isin("src0", "src1"))
    val gopherKeep = gopherRules(cands, minWords = 30L, minStop = 1L)
      .filter($"keep").select($"doc_id")
    val gated = exactGated(cands)
      .join(Similarity.nearDupLosersCached(cands, s"$dir#cands97"),
        Seq("doc_id"), "left_anti")
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(dsirWeights(cands, target).select($"doc_id", $"log_weight"),
        Seq("doc_id"), "left")
      .filter(coalesce($"log_weight", lit(0.0)) >= -8.0)
      .select($"doc_id", $"text")
    assembleShippedCorpus(gated, bench, docs.filter($"doc_id" % 3 === 0))
  }

  /** ORACLED capstone (q170) — the BUDGETED shipped corpus: q129's
    * full admission + surgical excision, then [[graft.ops.Packing
    * .budgetTruncate]] (q165) prunes the CLEANED corpus to a fixed
    * token budget in quality order (lowest LM bits first, id
    * tie-break), then q92's sequence packing lays out ONLY the kept
    * prefix. This closes the gate → token-budget → training-layout
    * loop the capstones left open (q129 packs everything admitted):
    * the result is directly the manifest a budget-capped training run
    * consumes, with every admission, prune, and packing boundary
    * re-derived by the oracle from the same shared fragments.
    *
    * Output per admitted-and-cleaned doc: its quality score, cleaned
    * token count, the budget verdict, and (for kept docs) the packed
    * example range — dropped docs carry NULL packing columns.
    *
    * 100 TB posture: the gates are q129's audited shapes; the prune
    * adds one checkpoint-frozen two-pass prefix sum in (score, id)
    * range order; the pack reuses the same machinery in id order. No
    * new corpus-wide shuffle beyond those two range partitionings.
    */
  def q170BudgetedCorpus(spark: SparkSession, dir: String,
      budget: Long = 15000L): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val target = docs.filter($"source".isin("src0", "src1"))
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val gopherKeep = gopherRules(cands, minWords = 30L, minStop = 1L)
      .filter($"keep").select($"doc_id")
    // gated feeds BOTH the LM explode and the kept join — persist so
    // the gate chain (exact dedup + near-dup CC + gopher + DSIR) runs
    // once, not per reference (the assembleShippedCorpus discipline)
    val gated = exactGated(cands)
      .join(Similarity.nearDupLosersCached(cands, s"$dir#cands97"),
        Seq("doc_id"), "left_anti")
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(dsirWeights(cands, target).select($"doc_id", $"log_weight"),
        Seq("doc_id"), "left")
      .filter(coalesce($"log_weight", lit(0.0)) >= -8.0)
      .select($"doc_id", $"text")
      .persist()
    val lm = lmScore(gated, lmRef).select($"doc_id", $"bits_per_transition")
    val kept = gated.join(lm, Seq("doc_id"), "left")
      .withColumn("lm_bits", coalesce($"bits_per_transition", lit(0.0)))
      .filter($"lm_bits" <= 6.0)
      .select($"doc_id", $"text", $"lm_bits")
      .persist()
    val cleaned = SpanDedup.removeSpans(kept.select($"doc_id", $"text"),
        SpanDedup.contaminationSpans(kept.select($"doc_id", $"text"),
          bench, gramLen = 24))
      .select($"doc_id", $"clean_text")
      .persist()
    val pruned = Packing.budgetTruncate(
        cleaned.join(kept.select($"doc_id", $"lm_bits"), Seq("doc_id"))
          .select($"doc_id", $"lm_bits",
            Packing.bpeishCount($"clean_text").as("n_toks0")),
        "doc_id", $"lm_bits", $"n_toks0", budget)
      .persist()
    val packed = Packing.sequencePackWithOffsets(
      cleaned.join(pruned.filter($"kept").select($"doc_id"),
        Seq("doc_id"), "left_semi"),
      "doc_id", Packing.bpeishCount($"clean_text"), 512L)
    val out = pruned
      .select($"doc_id", round($"score", 6).as("lm_bits"), $"n_tokens",
        $"kept")
      .join(packed.select($"doc_id", $"first_example", $"last_example",
        $"n_examples", $"tok_start".as("pack_tok_start")),
        Seq("doc_id"), "left")
      .orderBy($"doc_id")
      .localCheckpoint(true)
    gated.unpersist(false)
    kept.unpersist(false)
    cleaned.unpersist(false)
    pruned.unpersist(false)
    out
  }

  /** ORACLED capstone (q125): ADMISSION v2 — every per-document
    * quality gate the engine owns, composed in ONE plan: q114's four
    * gates (exact-dup survivorship, token floor, q112 benchmark
    * contamination, q113 LM bits) PLUS the q122 Gopher structural
    * battery (fixture thresholds 30 words / 1 stop word) and the q123
    * DSIR importance weight as a floor gate (log w ≥ −8: drop only
    * documents that look strongly unlike the target corpus). The
    * oracle stitches the component queries' own green CTE fragments —
    * every gate boolean, LM bits value, Gopher verdict, and DSIR
    * weight hash-checked per document.
    *
    * 100 TB posture is the union of its parts, unchanged by the
    * composition: the Gopher battery is a pure map stage fused into
    * the candidate scan; DSIR adds one keyed (doc, bucket) combine
    * against bucket-bounded broadcast distributions; everything else
    * is q114's audited shape (broadcast-gated containment/LM probes,
    * per-doc joins of small summaries only).
    */
  def q125AdmissionV2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Sources.documents(spark, dir)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val target = docs.filter($"source".isin("src0", "src1"))
    val contam = SpanDedup.decontaminate(cands, bench, gramLen = 24)
    val lm = lmScore(cands, lmRef)
    val gop = gopherRules(cands, minWords = 30L, minStop = 1L)
      .select($"doc_id", $"keep".as("gopher_keep"))
    val dsir = dsirWeights(cands, target).select($"doc_id", $"log_weight")
    val surv = cands.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    cands
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .join(contam.select($"doc_id", $"contaminated_chars"),
        Seq("doc_id"), "left")
      .join(lm.select($"doc_id", $"bits_per_transition"),
        Seq("doc_id"), "left")
      .join(gop, Seq("doc_id"))
      .join(dsir, Seq("doc_id"), "left")
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("contaminated_chars",
        coalesce($"contaminated_chars", lit(0L)))
      .withColumn("lm_bits", coalesce($"bits_per_transition", lit(0.0)))
      .withColumn("log_weight", coalesce($"log_weight", lit(0.0)))
      .withColumn("is_survivor", $"doc_id" === $"survivor_id")
      .withColumn("dsir_ok", $"log_weight" >= -8.0)
      .withColumn("keep",
        $"is_survivor" && $"n_tok" >= 5 && $"contaminated_chars" === 0L &&
          $"lm_bits" <= 6.0 && $"gopher_keep" && $"dsir_ok")
      .select($"doc_id", $"n_tok", $"contaminated_chars", $"lm_bits",
        $"gopher_keep", $"log_weight", $"dsir_ok", $"is_survivor", $"keep")
      .orderBy($"doc_id")
  }

  /** L6 — DoReMi-style DOMAIN REWEIGHTING (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * public): Group-DRO exponentiated-gradient iterations over each
    * domain's EXCESS LOSS yield the mixture weights α that up-weight
    * the domains the reference model finds hardest. This is the
    * loss-driven complement to the count-driven temperature mixtures
    * (q131/q134) and the per-document DSIR gate (q123): DSIR selects
    * documents, DoReMi apportions the DOMAIN budget.
    *
    * Static-loss instantiation, exactly (departures from the paper's
    * online proxy-model loop are deliberate and documented): the
    * per-example loss is the engine's own char-bigram LM bits
    * ([[lmScore]], reference = every 3rd doc — the q113 split); the
    * reference-loss level is the corpus-wide mean bits; per-document
    * excess = max(0, bits − ref) (the paper's clipped excess), and
    * λ_g = the domain mean of that. The EG recurrence then runs T
    * fixed iterations of Algorithm 1's mixture update with step η and
    * uniform smoothing c: α′ ∝ α·exp(η·λ_g), α ← (1−c)·α′/Z + c/k.
    * With static losses this converges toward the hardest domain while
    * the smoothing floor keeps every domain sampled — the paper's
    * behavior when the proxy loop is frozen.
    *
    * ORACLE PARITY discipline (the q131 micro-mass technique, extended
    * to a recurrence): λ inputs are pinned at 6 decimals via
    * DECIMAL-exact, order-free domain sums; α lives on the integer
    * micro-grid (1e-6), every update step is floor(·+0.5) of an
    * IDENTICAL IEEE double in both engines, and the normalizer Z is an
    * exact integer sum — so T chained iterations accumulate ZERO
    * cross-engine drift and the DuckDB oracle (an unrolled CTE chain)
    * hash-matches every weight bit-for-bit.
    *
    * 100 TB posture: one LM scoring pass (broadcast alphabet-bounded
    * model, one per-doc aggregate), one doc-keyed join to attach
    * domain+token counts, ONE bounded aggregate by domain. The EG
    * loop itself runs on k collected rows — k = |domains|, a quantity
    * that is tens-to-hundreds at any corpus size (the bounded-collect
    * economics of q121/q131; DoReMi's own α state is domain-sized on
    * the trainer). Token quotas use BigInt driver-side so a 1e14-token
    * corpus times the 1e6 micro-grid cannot overflow (the q134 guard).
    */
  def doremiMixture(docs: DataFrame, iterations: Int = 8,
      eta: Double = 1.0, smoothMicro: Long = 1000L): DataFrame = {
    import docs.sparkSession.implicits._
    require(iterations >= 1 && smoothMicro >= 0 && smoothMicro < 1000000L,
      s"doremiMixture: need iterations >= 1 (got $iterations) and " +
        s"0 <= smoothMicro < 1e6 (got $smoothMicro)")
    val cands = docs.filter($"doc_id" % 3 =!= 0)
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val scored = cands
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .join(lmScore(cands, lmRef)
        .select($"doc_id", $"bits_per_transition".as("bits")), Seq("doc_id"))
    // Corpus-wide reference loss (1 row, broadcast): DECIMAL-exact sum
    // of the already-6-decimal bits, so the mean is aggregation-order
    // free and identical cross-engine.
    val refRow = scored
      .agg(sum($"bits".cast("decimal(18,6)")).as("sb"), count(lit(1)).as("n"))
      .select(round($"sb".cast("double") / $"n", 6).as("ref_bits"))
    val dom = scored.crossJoin(broadcast(refRow))
      .withColumn("excess",
        greatest($"bits" - $"ref_bits", lit(0.0)).cast("decimal(18,6)"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"excess").as("se"))
      .select($"source", $"n_docs", $"n_tokens",
        round($"se".cast("double") / $"n_docs", 6).as("lambda_excess"))
    // Bounded collect: k = |domains| rows, sorted for determinism.
    val rows = dom.as[(String, Long, Long, Double)].collect().sortBy(_._1)
    require(rows.nonEmpty, "doremiMixture: no scorable candidate documents")
    val k = rows.length
    val Scale = 1000000L
    val lam = rows.map(_._4)
    var m = Array.fill(k)(Scale / k)
    var t = 0
    while (t < iterations) {
      // α′ ∝ α·exp(η·λ): micro-mass times an identical IEEE factor,
      // HALF_UP to the grid; Z is an exact integer sum (order-free).
      val mp = Array.tabulate(k)(g =>
        math.floor(m(g).toDouble * math.exp(eta * lam(g)) + 0.5).toLong)
      val z = mp.sum
      m = Array.tabulate(k)(g =>
        math.floor((Scale - smoothMicro).toDouble * mp(g) / z + 0.5).toLong +
          smoothMicro / k)
      t += 1
    }
    val totTokens = rows.map(r => BigInt(r._3)).sum
    val out = rows.zipWithIndex.map { case ((src, nd, ntok, l), g) =>
      (src, nd, ntok, l, m(g) / 1000000.0,
        (totTokens * m(g) / Scale).toLong)
    }
    docs.sparkSession.createDataFrame(out.toIndexedSeq)
      .toDF("source", "n_docs", "n_tokens", "lambda_excess", "alpha",
        "token_quota")
      .orderBy($"source")
  }

  /** ORACLED exercise (q137): [[doremiMixture]] at its defaults (T=8,
    * η=1, c=0.001) — DuckDB re-derives the per-doc bits (q113's green
    * CTEs), the DECIMAL-exact domain excess losses, and the full EG
    * recurrence as an unrolled materialized CTE chain; every domain's
    * α micro-mass and token quota is hash-checked bit-for-bit.
    */
  def q137DoremiMixture(spark: SparkSession, dir: String): DataFrame =
    doremiMixture(Sources.documents(spark, dir))

  /** L84 — DATA-CONSTRAINED REPEAT ALLOCATION (Muennighoff et al.
    * 2023, "Scaling Data-Constrained Language Models" — public): when
    * the token budget EXCEEDS the unique corpus, the question is not
    * which data to drop but how many EPOCHS of each source to repeat
    * — the paper's finding is that early repeats retain most of their
    * value (up to ~4 epochs are nearly as good as fresh data) and
    * decay beyond. This allocator makes that decision deterministic
    * and hash-checkable: the marginal value of source s's e-th epoch
    * is U_s · (num/den)^(e−1), carried in token-micro with the powers
    * as LITERAL integers (single floor per value — exact in both
    * engines), and epochs are admitted GREEDILY by marginal value
    * (ties: source asc, epoch asc; greedy is optimal because each
    * source's value curve is concave) until the budget — a rational
    * multiple of the corpus's unique tokens, so the query is
    * scale-free — is spent; the boundary epoch is admitted at a
    * pro-rata micro fraction.
    *
    * Exactness bounds, stated: marginal values need
    * U·1e6·num^(maxEpochs−1) within a long (U ≤ ~3e11 at the
    * defaults), and allocated/effective tokens use the exact
    * a·b div 1e6 decomposition (floor((q·1e6+r)·f/1e6) = q·f +
    * floor(r·f/1e6)), safe to U ≤ ~9e12 per source — shard the
    * multiply when a single source passes that.
    *
    * 100 TB posture: ONE per-source token aggregate over the corpus
    * (the only corpus-wide work — a map-side-combined sum); the
    * allocation is a window over the BOUNDED (sources × maxEpochs)
    * table, the q200 batch-table class, never the document stream.
    */
  def dataConstrainedRepeats(docs: DataFrame, budgetOfUniqueNum: Long = 25L,
      budgetOfUniqueDen: Long = 10L, maxEpochs: Int = 4,
      decayNum: Long = 3L, decayDen: Long = 4L): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(maxEpochs >= 1 && decayNum >= 0 && decayDen >= 1 &&
      budgetOfUniqueNum >= 0 && budgetOfUniqueDen >= 1,
      "dataConstrainedRepeats: bad parameters")
    val perSource = docs
      .select($"source", graft.ops.Packing.bpeishCount($"text").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("u"))
      .filter($"u" > 0L)
    val budget = perSource.agg(
      expr(s"(sum(u) * ${budgetOfUniqueNum}L) div ${budgetOfUniqueDen}L")
        .as("budget"))
    // literal (epoch, num^(e-1), den^(e-1)) table — exact small powers
    val epochs = docs.sparkSession.createDataset(
        (1 to maxEpochs).map { e =>
          (e, math.pow(decayNum.toDouble, e - 1).toLong,
            math.pow(decayDen.toDouble, e - 1).toLong)
        })
      .toDF("epoch", "pn", "pd")
    val pairs = perSource.crossJoin(broadcast(epochs))
      .withColumn("marg_micro", expr("(u * pn * 1000000L) div pd"))
    val ranked = pairs
      .withColumn("cum_prev", coalesce(
        sum($"u").over(Window
          .orderBy($"marg_micro".desc, $"source", $"epoch")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(budget))
      .withColumn("frac_micro",
        when($"cum_prev" >= $"budget", 0L)
          .when($"cum_prev" + $"u" <= $"budget", 1000000L)
          .otherwise(expr("((budget - cum_prev) * 1000000L) div u")))
    ranked.groupBy($"source").agg(
        max($"u").as("unique_tokens"),
        sum(when($"frac_micro" === 1000000L, 1L).otherwise(0L))
          .as("full_epochs"),
        coalesce(max(when(
          $"frac_micro" > 0L && $"frac_micro" < 1000000L, $"frac_micro")),
          lit(0L)).as("partial_micro"),
        sum(expr("(u div 1000000L) * frac_micro + " +
          "((u % 1000000L) * frac_micro) div 1000000L")).as("alloc_tokens"),
        sum(expr("(marg_micro div 1000000L) * frac_micro + " +
          "((marg_micro % 1000000L) * frac_micro) div 1000000L"))
          .as("eff_micro"))
      .orderBy($"source")
  }

  /** ORACLED exercise (q208): [[dataConstrainedRepeats]] at its
    * defaults — budget 2.5× the unique corpus, 4 epochs max, 3/4
    * decay — DuckDB re-derives the per-source BPE-ish token masses,
    * the literal power table, every marginal, the greedy cumulative
    * admission, the boundary fraction, and the exact-decomposition
    * allocated/effective sums; every column lands in the hash.
    */
  def q208DataConstrained(spark: SparkSession, dir: String): DataFrame =
    dataConstrainedRepeats(graft.ops.Sources.documents(spark, dir))

  /** L10 — CORPUS DATASHEET: the per-(lang, source) data card a corpus
    * release ships with (Gebru et al. 2018, "Datasheets for Datasets";
    * Bender & Friedman 2018, "Data Statements for NLP" — public), with
    * per-language subtotals and a grand total via ROLLUP. Every cell is
    * one of the engine's own green signals aggregated: document/token/
    * char counts, exact-duplicate share (q21's survivorship), benchmark
    * 24-gram contamination share (q112's gate), and mean char-LM bits
    * (q113's model) — so the datasheet is hash-checkable end to end,
    * not a best-effort report.
    *
    * 100 TB posture: the per-document signal frame is the audited q114
    * shape (broadcast-gated LM + containment probes, doc-keyed joins of
    * small summaries), aggregated ONCE per (lang, source) — DECIMAL
    * sums so every subtotal re-derives exactly from partials — and the
    * ROLLUP's Expand runs over the BOUNDED group table (≤ |langs|·
    * |sources| rows), never over the document stream: subtotals are
    * sums of sums. A naive `docs.rollup(...)` would triple the corpus
    * through Expand before the shuffle; this shape shuffles it once.
    */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val lmRef = docs.filter($"doc_id" % 3 === 0)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val cands = docs.filter($"doc_id" % 97 =!= 0)
    val bits = lmScore(docs, lmRef)
      .select($"doc_id", $"bits_per_transition".as("bits"))
    val contam = SpanDedup.decontaminate(cands, bench, gramLen = 24)
      .select($"doc_id").distinct().withColumn("is_contam", lit(true))
    val surv = docs.groupBy(xxhash64($"text").as("th"))
      .agg(min($"doc_id").as("survivor_id"))
    val perDoc = docs
      .withColumn("th", xxhash64($"text"))
      .join(surv, Seq("th"))
      .join(bits, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select($"lang", $"source",
        size(split($"text", " ")).cast("long").as("n_tok"),
        $"n_chars",
        ($"doc_id" =!= $"survivor_id").cast("long").as("is_dup"),
        coalesce($"is_contam", lit(false)).cast("long").as("is_contam"),
        $"bits")
    // ONE corpus-wide aggregate to the bounded (lang, source) table;
    // the rollup's Expand then triples ≤ k rows, not the corpus.
    val base = perDoc.groupBy($"lang", $"source").agg(
      count(lit(1)).as("nd"), sum($"n_tok").as("nt"), sum($"n_chars").as("nc"),
      sum($"is_dup").as("dup"), sum($"is_contam").as("cont"),
      count($"bits").as("scored"),
      sum($"bits".cast("decimal(18,6)")).as("sb"))
    base.rollup($"lang", $"source").agg(
        sum($"nd").as("n_docs"), sum($"nt").as("n_tokens"),
        sum($"nc").as("n_chars"), sum($"dup").as("dup_docs"),
        sum($"cont").as("contaminated_docs"), sum($"scored").as("scored_docs"),
        sum($"sb").as("sbits"),
        grouping($"lang").cast("int").as("g_lang"),
        grouping($"source").cast("int").as("g_source"))
      .select($"lang", $"source", $"n_docs", $"n_tokens", $"n_chars",
        $"dup_docs", $"contaminated_docs", $"scored_docs",
        when($"scored_docs" > 0,
          round($"sbits".cast("double") / $"scored_docs", 6)).as("mean_bits"),
        microRatio($"dup_docs", $"n_docs").as("dup_frac"),
        microRatio($"contaminated_docs", $"n_docs").as("contam_frac"),
        $"g_lang", $"g_source")
      .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  /** ORACLED exercise (q138): [[corpusDatasheet]] over the documents
    * table — DuckDB re-derives every per-doc signal from the component
    * queries' green CTE fragments and the same bounded-table ROLLUP;
    * every count, micro-ratio, and 6-decimal mean hash-checked at all
    * three grouping levels.
    */
  def q138CorpusDatasheet(spark: SparkSession, dir: String): DataFrame =
    corpusDatasheet(Sources.documents(spark, dir))
}
