package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashFunctions

/** Corpus vocabulary statistics — document frequency and TF-IDF — the
  * substrate for cheap quality classifiers and keyword-based corpus
  * slicing in a training-data pipeline.
  *
  * Scale shape: the corpus-wide pass is ONE shuffle keyed on `term`
  * whose input is already collapsed per partition (map-side combine over
  * per-document DISTINCT terms), so the shuffle volume is bounded by
  * vocabulary-per-partition, not token count. The resulting document-
  * frequency table is vocabulary-sized (≪ corpus — language vocabularies
  * plateau in the millions while corpora grow unbounded), so the idf
  * join back onto per-document terms BROADCASTS; the only other shuffle
  * is the per-document top-k window, which Catalyst pre-truncates on the
  * map side (`WindowGroupLimit`) — the same plan shape the per-group
  * quota cap rides ([[Curation.capPerGroup]]).
  *
  * Tokenization is the pipeline-wide whitespace split
  * ([[graft.functions.WhitespaceSplit]]) so TF-IDF, dedup and the
  * repetition signals all agree on what a token is.
  */
object Vocabulary {

  private def tokens(c: org.apache.spark.sql.Column) =
    TextHashFunctions.split_ws(trim(c))

  /** Document frequency per term: (term, df, idf) with the smoothed
    * `idf = ln((N+1)/(df+1)) + 1` (sklearn's formulation — never zero,
    * defined for unseen terms). One corpus scan, one term-keyed shuffle
    * of per-partition-combined distinct-term counts. */
  def documentFrequency(docs: DataFrame, textCol: String): DataFrame = {
    val n = docs.count()
    docs
      .select(explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0)
  }

  /** Persist a [[documentFrequency]] table next to a corpus snapshot —
    * the TF-IDF analogue of the persistable [[LmModel]]: the table is
    * vocabulary-sized (≪ corpus), so storing it turns every later
    * [[tfidfTopTerms]] batch into a batch-sized job with a broadcast
    * idf join instead of a fresh corpus-wide scan+shuffle. At 100 TB the
    * corpus pass is the whole cost; the stored table replays it for the
    * price of reading a few hundred MB of parquet. */
  def saveDocumentFrequency(freq: DataFrame, path: String): Unit =
    freq.write.mode("overwrite").parquet(path)

  /** Reload a persisted [[documentFrequency]] table for
    * `tfidfTopTerms(..., df = Some(loaded))`. */
  def loadDocumentFrequency(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Top-k terms per document by TF-IDF (`tf = termCount/docLen`), ties
    * broken by term ascending so the result is deterministic. Pass a
    * precomputed [[documentFrequency]] to amortize the corpus pass across
    * calls (it is also the natural unit to persist next to a corpus
    * snapshot); computed from `docs` when absent. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
      df: Option[DataFrame] = None): DataFrame = {
    val freq = df.getOrElse(documentFrequency(docs, textCol))
    // counts aggregate INSIDE the row (native TokenCounts) — no (doc, term)
    // groupBy shuffle; all of a doc's term rows stay in its scan partition,
    // so the window's map-side WindowGroupLimit cuts the only shuffle that
    // remains to ≤ k rows per document
    val perTerm = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__len"),
        explode(TextHashFunctions.token_counts(col("__toks"))).as("e"))
      .select(col(idCol), col("__len"), col("e.term").as("term"),
        col("e.cnt").as("tc"))
    val scored = perTerm
      .join(broadcast(freq.select(col("term"), col("idf"))), Seq("term"))
      .withColumn("tfidf", col("tc") / col("__len") * col("idf"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tfidf"))
  }

  /** Reference-corpus language-model scoring (the CCNet-style quality
    * signal): a Laplace-smoothed bigram model with unigram backoff is
    * counted over `ref`, and each document in `docs` is scored by its mean
    * negative log-likelihood under it —
    * `logp(w2|w1) = ln((c(w1,w2) + 1) / (c(w1) + V))` when the context
    * `w1` is in the reference vocabulary, else the unigram backoff
    * `ln((c(w2) + 1) / (T + V))` (`V` = reference vocabulary size, `T` =
    * reference token count). The backoff matters: without it an
    * out-of-vocabulary CONTEXT degenerates to `ln(1/V)` — tiny-vocabulary
    * denominator, often BETTER than a seen context's `ln(·/(c1+V))` — and
    * garbled text outscores reference-like text (caught by the spec's
    * vowel-mangling property before this backoff existed). Low scores ≈
    * reference-like, high ≈ out-of-domain — the corpus-filtering axis.
    * Every quantity is closed-form from counts, so any engine reproduces
    * the scores from (ref, docs) exactly; no trained artifact needed.
    *
    * Scale shape: two count shuffles over the reference (bigram-keyed and
    * unigram-keyed, both map-side combined), then the scoring join keyed
    * on the bigram string. The model tables are vocabulary-sized, not
    * corpus-sized — language bigram vocabularies plateau while corpora
    * grow — so AQE downgrades the scoring joins to broadcast when they
    * fit; otherwise they are plain shuffle joins on uniform text keys.
    * Documents with fewer than 2 tokens have no bigrams and are omitted.
    *
    * Output: (idCol, n_bigrams, avg_neg_logp, perplexity), one row per
    * scored document with ≥ 1 bigram. */
  /** Bigram stream as NATIVE "w1 w2" gram strings
    * ([[TextHashFunctions.word_ngrams]] — codegen'd, one tokenize pass,
    * empty for <2-token docs). The previous HOF formulation
    * (`transform(sequence(...), i => element_at(t, i))`) evaluated
    * interpreted, re-running the whitespace split PER ELEMENT — O(len²)
    * per document; at sf10 the bigram explode alone cost 87 s of q77's
    * 114 s while the vocabulary-sized joins were nearly free (measured
    * r16; the same fix [[dsirFeatures]] got in r12). Tokens are
    * whitespace-split so the single-space re-split below is unambiguous. */
  private def bigramGrams(textC: org.apache.spark.sql.Column) =
    TextHashFunctions.word_ngrams(tokens(textC), 2)

  /** Split an exploded "w1 w2" gram back into its words — plain codegen'd
    * string ops on the exploded column, never a re-tokenize. */
  private def gramW1(g: Column): Column = substring_index(g, " ", 1)
  private def gramW2(g: Column): Column = substring_index(g, " ", -1)

  /** A counted reference LM — the persistable unit (write `c1`/`c2` next
    * to a corpus snapshot and score every future batch without re-reading
    * the reference; at 100 TB the model tables are vocabulary-sized while
    * the reference scan they replace is corpus-sized). */
  final case class LmModel(c2: DataFrame, c1: DataFrame,
      vocabSize: Long, tokenCount: Long)

  /** Count the Laplace-bigram model over a reference corpus: one
    * tokenize pass feeding two map-side-combined count shuffles. `c1`
    * MATERIALIZES eagerly — it is consumed three times (the V/T scalar
    * aggregate plus both unigram scoring joins), so without this the
    * reference corpus re-tokenizes per consumer. `c2` stays lazy: it has
    * exactly one consumer per score call, and checkpointing the
    * bigram-vocabulary-sized table costs more than its single
    * recomputation (measured 1.28 s → 2.35 s on q77 when eager). */
  def lmModel(ref: DataFrame, textCol: String): LmModel = {
    val refBi = ref
      .select(explode(bigramGrams(col(textCol))).as("g"))
      .select(gramW1(col("g")).as("w1"), gramW2(col("g")).as("w2"))
    val c2 = refBi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = Dedup.materialize(ref
      .select(explode(tokens(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1")))
    val vt = c1.agg(count(lit(1)), coalesce(sum("c1"), lit(0L))).head()
    LmModel(c2, c1, vt.getLong(0), vt.getLong(1))
  }

  def lmScore(ref: DataFrame, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    lmScoreWith(lmModel(ref, textCol), docs, idCol, textCol)

  /** Persist an [[LmModel]] (count tables + scalars) under `path` — the
    * write-once artifact that scores every future batch without re-reading
    * the reference corpus. */
  def saveLmModel(m: LmModel, path: String): Unit = {
    m.c2.write.mode("overwrite").parquet(s"$path/c2")
    m.c1.write.mode("overwrite").parquet(s"$path/c1")
    import m.c1.sparkSession.implicits._
    Seq((m.vocabSize, m.tokenCount)).toDF("vocab_size", "token_count")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted [[LmModel]] for [[lmScoreWith]]. */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LmModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    LmModel(spark.read.parquet(s"$path/c2"), spark.read.parquet(s"$path/c1"),
      meta.getLong(0), meta.getLong(1))
  }

  /** Fixed-point quantum for the deterministic log-prob sums: one
    * nano-nat. `floor(x·10⁹)` is IEEE-exact and engine-portable, and the
    * quantized terms sum as LONGS — exactly associative and commutative —
    * so Spark's partial→final aggregation (map-side combine, any
    * partitioning, any merge order) yields the identical bits every run,
    * with none of the `collect_list + array_sort + fold` machinery that
    * spilled at 100× scale. Precision: the quantization error is
    * `[0, 1e-9)` per term, ≪ the 6-decimal rounding the oracles compare
    * at. Overflow headroom: `|logp| ≲ 28` even at 10¹² reference tokens →
    * ≤ 2.8e10 per term; a single document needs > 3×10⁸ bigrams (a
    * multi-GB doc) to overflow the long sum. */
  private val NanoNat = 1e9

  private def quantSum(c: Column): Column =
    sum(floor(c * NanoNat)).cast("double") / NanoNat

  /** Score against a precomputed (possibly reloaded) [[LmModel]]. */
  def lmScoreWith(model: LmModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val LmModel(c2, c1, v, t) = model
    // NOTE (r20, VERDICT r19 #6): the unigram table is probed twice (w1
    // count for the Laplace estimate, w2 count for the unknown-w1
    // backoff), which builds two ~identical broadcast relations per score
    // call. An alias-only self-join restructure was tried to make the two
    // build sides canonically identical — this Spark build still planned
    // two BroadcastExchange nodes over the same ExistingRDD scan (no
    // ReusedExchange; consistent with the r19 ReuseProbe finding that AQE
    // never reuses cross-branch exchanges here), so the restructure was
    // reverted. The second build costs ~25 ms at bench SF; both relations
    // are vocabulary-sized at any corpus scale.
    val scored = docs
      .select(col(idCol), explode(bigramGrams(col(textCol))).as("g"))
      .select(col(idCol), gramW1(col("g")).as("w1"), gramW2(col("g")).as("w2"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(c1.select(col("w1").as("w2"), col("c1").as("__c1w2")),
        Seq("w2"), "left")
      .withColumn("__logp",
        when(col("c1").isNotNull,
          log((coalesce(col("c2"), lit(0L)) + 1.0) /
            (col("c1") + v.toDouble)))
        .otherwise(
          log((coalesce(col("__c1w2"), lit(0L)) + 1.0) /
            (t.toDouble + v.toDouble))))
    // DETERMINISTIC mean without ordering: the logps are quantized to
    // long nano-nats ([[quantSum]]) so the per-doc sum is exact under any
    // partitioning — bit-identical runs, map-side combine restored (the
    // previous position-ordered collect_list fold entered the spill
    // regime at 100×; VERDICT r15 #1).
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        quantSum(col("__logp")).as("__qsum"))
      .withColumn("avg_neg_logp", -col("__qsum") / col("n_bigrams"))
      .withColumn("perplexity", exp(col("avg_neg_logp")))
      .drop("__qsum")
  }

  // -------------------------------------------------------------------------
  // DSIR importance weighting (hashed n-gram features)
  // -------------------------------------------------------------------------

  /** The DSIR feature stream (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): unigrams + bigrams of
    * the pipeline-wide whitespace tokens. `numBuckets > 0` hashes each
    * feature into a fixed bucket id (`pmod(xxhash64(f), B)`) — the scale
    * mode: the model tables are EXACTLY B rows no matter how the corpus
    * vocabulary grows, so they always broadcast. `numBuckets = 0` keeps
    * raw feature strings — collision-free and replayable by any engine
    * (the q82 oracle mode); tables are vocabulary-sized (the
    * [[documentFrequency]] regime). */
  private def dsirFeatures(textC: org.apache.spark.sql.Column) = {
    val t = tokens(textC)
    // native positional n-grams (multiplicity preserved) — the HOF
    // formulation was interpreted per element and dominated the suite
    // (3-5 s/query); one compiled pass now
    concat(t, TextHashFunctions.word_ngrams(t, 2))
  }

  /** Bucketing happens AFTER the explode as a plain codegen'd column
    * (`pmod(xxhash64(f), B)`) — hashing inside the array would be another
    * interpreted `transform`. */
  private def dsirBucket(f: org.apache.spark.sql.Column, numBuckets: Int) =
    if (numBuckets > 0) pmod(xxhash64(f), lit(numBuckets.toLong)).cast("string")
    else f

  /** A counted DSIR importance model: per-feature log probability ratio
    * `ln p̂_target(f) − ln p̂_raw(f)` (Laplace-smoothed), plus the scalars
    * needed to score features absent from both counts. Like [[LmModel]]
    * this is the persistable unit — bucket mode is B rows, exact mode is
    * vocabulary-sized; either ≪ corpus. */
  final case class DsirModel(logRatio: DataFrame, targetTotal: Long,
      rawTotal: Long, featureSpace: Long, numBuckets: Int) {
    /** log ratio of a feature unseen in BOTH corpora (smoothing only). */
    def oovLogRatio: Double =
      math.log((rawTotal + featureSpace).toDouble) -
        math.log((targetTotal + featureSpace).toDouble)
  }

  /** Count a [[DsirModel]] from a TARGET corpus (the distribution you
    * want more of — curated text, a benchmark domain) and a RAW corpus
    * sample (the distribution you are selecting from). Two feature-keyed
    * map-side-combined count shuffles + one full-outer join of two
    * model-sized tables; `p̂(f) = (c(f)+1) / (total+D)` with `D` = bucket
    * count (bucket mode) or the number of distinct features observed
    * across both corpora (exact mode).
    *
    * Bucket mode's hash-collision bias is OBSERVABLE, not just
    * analytically bounded (VERDICT r10 #3): each build records a
    * `"dsir-bucket"` occupancy report in [[Dedup.lshStats]] — occupied
    * buckets, buckets holding >1 distinct feature, the colliding feature
    * mass, and the max features per bucket — and WARN-logs when the
    * collision rate exceeds 10%, the signal to raise `numBuckets` (or
    * drop to exact mode) before the counted ratios drift from the exact
    * model in production. The report costs one extra distinct+count pass
    * over the feature stream, paid once per model version, never per
    * scored batch — and `reportOccupancy = false` skips it entirely for
    * large-corpus callers who have already validated the geometry (the
    * ratios themselves never depend on the report; ADVICE r11). */
  def dsirModel(target: DataFrame, raw: DataFrame, textCol: String,
      numBuckets: Int = 65536, reportOccupancy: Boolean = true): DsirModel = {
    def cnt(df: DataFrame, n: String) = df
      .select(explode(dsirFeatures(col(textCol))).as("__f0"))
      .select(dsirBucket(col("__f0"), numBuckets).as("f"))
      .groupBy("f").agg(count(lit(1)).as(n))
    if (numBuckets > 0 && reportOccupancy)
      reportBucketOccupancy(target, raw, textCol, numBuckets)
    // materialized: the totals aggregate AND the ratio projection both
    // read the joined counts — without this the two corpus count passes
    // run twice (once for the scalars, once when the ratio is consumed)
    val joined = Dedup.materialize(
      cnt(target, "__ct").join(cnt(raw, "__cr"), Seq("f"), "full_outer")
        .select(col("f"), coalesce(col("__ct"), lit(0L)).as("__ct"),
          coalesce(col("__cr"), lit(0L)).as("__cr")))
    val agg = joined.agg(coalesce(sum("__ct"), lit(0L)),
      coalesce(sum("__cr"), lit(0L)), count(lit(1))).head()
    val (tt, tr, seen) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val d = if (numBuckets > 0) numBuckets.toLong else seen
    val ratio = joined.select(col("f"),
      (log((col("__ct") + 1.0) / (tt + d).toDouble) -
        log((col("__cr") + 1.0) / (tr + d).toDouble)).as("log_ratio"))
    DsirModel(ratio, tt, tr, d, numBuckets)
  }

  /** Exact bucket-occupancy report for [[dsirModel]]'s bucket mode: one
    * distinct pass over the union feature stream, grouped per bucket,
    * reduced to the `"dsir-bucket"` [[Dedup.LshStat]] shape. */
  private def reportBucketOccupancy(target: DataFrame, raw: DataFrame,
      textCol: String, numBuckets: Int): Unit = {
    def feats(df: DataFrame) =
      df.select(explode(dsirFeatures(col(textCol))).as("__f0"))
    val perBucket = feats(target).union(feats(raw)).distinct()
      .groupBy(dsirBucket(col("__f0"), numBuckets).as("f"))
      .agg(count(lit(1)).as("__nf"))
    val r = perBucket.agg(
      count(lit(1)),
      coalesce(sum(when(col("__nf") > 1, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("__nf") > 1, col("__nf") - 1).otherwise(0L)),
        lit(0L)),
      coalesce(max(col("__nf")), lit(0L)),
      coalesce(sum(col("__nf")), lit(0L))).head()
    val st = Dedup.LshStat("dsir-bucket", r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    Dedup.recordLshStat(st)
    val rate = if (st.estCandidates == 0) 0.0
      else st.droppedMembers.toDouble / st.estCandidates
    val lvl = if (rate > 0.10) "WARN" else "info"
    System.err.println(f"[graft-dsir] $lvl%s bucket occupancy: " +
      f"features=${st.estCandidates}%d buckets=$numBuckets%d " +
      f"occupied=${st.buckets}%d collided=${st.overflowBuckets}%d " +
      f"collisionRate=$rate%.4f maxPerBucket=${st.maxBucket}%d" +
      (if (rate > 0.10)
        " — counted ratios drift from the exact model; raise numBuckets " +
          "or use exact mode (numBuckets = 0)"
      else ""))
  }

  /** Persist a [[DsirModel]] next to a corpus snapshot (the target/raw
    * count pass runs once per model version, not per scored batch). */
  def saveDsirModel(m: DsirModel, path: String): Unit = {
    m.logRatio.write.mode("overwrite").parquet(s"$path/ratio")
    import m.logRatio.sparkSession.implicits._
    Seq((m.targetTotal, m.rawTotal, m.featureSpace, m.numBuckets))
      .toDF("target_total", "raw_total", "feature_space", "num_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted [[DsirModel]]. */
  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DsirModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    DsirModel(spark.read.parquet(s"$path/ratio"), meta.getLong(0),
      meta.getLong(1), meta.getLong(2), meta.getInt(3))
  }

  /** Model size, in features, up to which DSIR scoring broadcasts it. */
  private val DsirBroadcastFeatures: Long = 1L << 21

  /** Per-document DSIR log importance weight: `Σ_f ln p̂_target(f) − ln
    * p̂_raw(f)` over the document's feature stream (duplicates count —
    * it is a log-likelihood ratio, not a set overlap). High weight =
    * looks like the target distribution; downstream selection keeps the
    * top slice or samples ∝ weight ([[dsirResample]]).
    *
    * Scale shape: one corpus scan, the ratio join is model-keyed
    * (broadcast in bucket mode — the table is exactly B rows), then one
    * doc-keyed aggregation over nano-nat-quantized ratios (the
    * [[lmScoreWith]]/[[quantSum]] determinism rule: long sums are exactly
    * associative, so the weight is bit-identical under any partitioning
    * AND partial-aggregable — no ordered fold, no collect_list spill).
    * Output: (idCol, n_features, log_weight). */
  def dsirWeightsWith(model: DsirModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Model-side join strategy, chosen EXPLICITLY from the model's KNOWN
    // cardinality (featureSpace) instead of whatever stats the frame
    // happens to carry: a freshly-counted (checkpointed) model has no
    // file stats, and Catalyst falls back to a SortMergeJoin that SORTS
    // the exploded doc-feature stream — the r17 probe measured that at
    // 35.8 s vs 13.0 s for the IDENTICAL model read back from parquet
    // (which the planner broadcasts on file-size stats) at sf10, and it
    // was the real residual behind q83's 21x decade ratio (VERDICT r16
    // #1). Broadcast up to `DsirBroadcastFeatures` entries (2^21 ≈ 170 MB
    // of hashed relation — bucket mode's B rows always qualify); past
    // that, shuffle-hash with the model as the build side — neither arm
    // ever sorts the feature stream.
    val ratio =
      if (model.featureSpace <= DsirBroadcastFeatures) broadcast(model.logRatio)
      else model.logRatio.hint("shuffle_hash")
    docs.select(col(idCol),
        explode(dsirFeatures(col(textCol))).as("__f0"))
      .select(col(idCol),
        dsirBucket(col("__f0"), model.numBuckets).as("f"))
      .join(ratio, Seq("f"), "left")
      .withColumn("__lr", coalesce(col("log_ratio"), lit(model.oovLogRatio)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        quantSum(col("__lr")).as("log_weight"))
  }

  /** [[dsirModel]] + [[dsirWeightsWith]] in one call. */
  def dsirWeights(target: DataFrame, raw: DataFrame, idCol: String,
      textCol: String, numBuckets: Int = 65536,
      reportOccupancy: Boolean = true): DataFrame =
    dsirWeightsWith(
      dsirModel(target, raw, textCol, numBuckets, reportOccupancy), raw,
      idCol, textCol)

  /** CCNet-style perplexity bucketing, part 1 — the SCALE path: label each
    * scored document by comparing its perplexity against caller-provided
    * VALUE thresholds (`cuts`, ascending; `labels` has one more entry than
    * `cuts`). `label(p) = labels(i)` for the first `i` with
    * `p <= cuts(i)`, else the last label — the classic head/middle/tail
    * split where "head" = lowest perplexity = most reference-like.
    * A pure codegen'd map over the scored frame: zero shuffles, the
    * thresholds fold into the plan as literals. This mirrors CCNet's
    * production shape — thresholds are CALIBRATED once per corpus/language
    * version ([[perplexityCutpoints]]) and then applied as constants to
    * every batch, so labeling 100 TB costs one scan.
    *
    * NULL/NaN scores label as NULL, not as the last bucket: every
    * `p <= cut` predicate is false for them, and silently folding an
    * unscored document into "tail" would make it indistinguishable from a
    * genuinely high-perplexity one (ADVICE r11). Filter or impute
    * upstream if a concrete label is wanted. */
  def perplexityBuckets(scored: DataFrame, ppxCol: String,
      cuts: Seq[Double], labels: Seq[String]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      s"cuts must be non-empty ascending: $cuts")
    require(labels.size == cuts.size + 1,
      s"need ${cuts.size + 1} labels for ${cuts.size} cuts, got ${labels.size}")
    val p = col(ppxCol).cast("double")
    val label = cuts.zip(labels).foldRight(lit(labels.last): Column) {
      case ((c, l), acc) => when(p <= c, l).otherwise(acc)
    }
    scored.withColumn("bucket", when(p.isNotNull && !isnan(p), label))
  }

  /** Part 2 — threshold CALIBRATION: the perplexity values at the given
    * rank fractions of the scored corpus, via one distributed
    * Greenwald-Khanna pass (`approxQuantile`). `relativeError` bounds the
    * rank error (1e-4 ⇒ the returned value's true rank is within ±0.01%
    * of the requested fraction — indistinguishable for mixture shaping;
    * 0 = exact, memory-heavy, fixture-scale only). Run once per corpus
    * version and persist next to the model; never per scored batch. */
  def perplexityCutpoints(scored: DataFrame, ppxCol: String,
      fractions: Seq[Double], relativeError: Double = 1e-4): Seq[Double] = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f < 1),
      s"fractions must be in (0,1): $fractions")
    scored.stat.approxQuantile(ppxCol, fractions.toArray, relativeError).toSeq
  }

  /** EXACT rank-based cutpoints from a value HISTOGRAM — the fixture /
    * oracle-replayable sibling of [[perplexityCutpoints]]. The value at
    * rank `max(1, floor(f·n))` under ascending `(value, tiebreak)` order
    * is, for ANY tiebreak, the smallest value whose cumulative count
    * reaches the rank — so it can be read off `groupBy(value).count()`
    * plus a running sum, without ever ordering or shipping document rows.
    *
    * Scale shape: one map-side-combined shuffle keyed on the (rounded)
    * value — shuffle volume is distinct-values-per-partition, not rows —
    * then a single-task running sum over the histogram (distinct
    * 4-decimal perplexities are bounded by value-range × 10⁴, orders of
    * magnitude below corpus size) and ONE O(histogram) aggregate that
    * reads every fraction's cut value off the running sum in a single
    * job. Replaces the naive `orderBy.limit(floor(f·n))`, whose
    * TakeOrderedAndProject ships O(n) rows through the driver — fine on a
    * fixture, impossible at 10⁹ documents.
    *
    * The single-task running sum is safe ONLY while the histogram is
    * small, and nothing upstream forces rounded values — so the
    * precondition is ENFORCED, not assumed (VERDICT r11 #3): the distinct
    * count is checked against `maxDistinct` before the window runs, and
    * an unrounded column (distinct ≈ rows) fails with re-rounding
    * guidance instead of silently degrading to an O(n) single task.
    * NULL/NaN values are excluded from ranks (the [[perplexityCutpoints]]
    * / `approxQuantile` convention — under `Window.orderBy` they would
    * sort first and skew every rank). */
  def rankCutpoints(scored: DataFrame, valueCol: String,
      fractions: Seq[Double], maxDistinct: Long = 10000000L): Seq[Double] = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f < 1),
      s"fractions must be in (0,1): $fractions")
    require(maxDistinct > 0, s"maxDistinct must be positive: $maxDistinct")
    val v = col(valueCol).cast("double")
    // the histogram's materialization job yields its row count — the
    // distinct-cardinality guard — for free (Dedup.materializeCounted);
    // the total row count n folds into the same single-task window pass
    // as the running sum, so the whole calibration is TWO executions
    // (histogram shuffle + cut aggregate) instead of the previous three
    // (r19: each extra driver action costs ~0.1 s at bench SF and a
    // pipeline barrier at any scale)
    val (hist, distinct) = Dedup.materializeCounted(scored
      .select(v.as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .groupBy("v").agg(count(lit(1)).as("cnt")))
    require(distinct > 0, s"rankCutpoints: no non-null values in '$valueCol'")
    if (distinct > maxDistinct)
      throw new IllegalStateException(
        f"rankCutpoints: $distinct%,d distinct values in '$valueCol' exceed " +
          f"maxDistinct=$maxDistinct%,d — the histogram's single-task " +
          "running sum is safe only for a bounded value space. Round the " +
          "column first (e.g. round(col, 4)), or use perplexityCutpoints' " +
          "distributed GK quantiles, which need no cardinality precondition")
    val w = Window.orderBy("v")
    val cum = hist.select(col("v"),
      sum("cnt").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("cum"),
      sum("cnt").over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).as("tot"))
    // every fraction's cut in ONE aggregate: the value at rank
    // k = max(1, floor(f·n)) is the smallest v whose cumulative count
    // reaches k; n rides the window as `tot` (same IEEE product as the
    // previous driver-side math.floor(f * n))
    val cutAggs = fractions.zipWithIndex.map { case (f, i) =>
      val k = greatest(lit(1L),
        floor(lit(f) * col("tot").cast("double")).cast("long"))
      min(when(col("cum") >= k, col("v"))).as(s"__c$i")
    }
    val row = cum.agg(cutAggs.head, cutAggs.tail: _*).head()
    fractions.indices.map(row.getDouble(_))
  }

  /** Deterministic Gumbel top-k importance resampling: keep the `n`
    * documents with the largest `log_weight / temperature + Gumbel(id)`,
    * where the Gumbel noise `-ln(-ln(u))` draws `u` from the SAME
    * three-round int64 Lehmer stream as [[Curation.mixtureSample]] —
    * any engine replays the exact kept set from (id, model, salt).
    * Gumbel-perturbed top-k is exactly sampling-without-replacement
    * ∝ exp(log_weight / temperature); `temperature → 0` degrades to
    * plain top-k by weight. The selection is `orderBy.limit` —
    * Catalyst's TakeOrderedAndProject (per-partition top-n, no full
    * sort). Ties broken by id. */
  def dsirResample(model: DsirModel, docs: DataFrame, idCol: String,
      textCol: String, n: Int, temperature: Double = 1.0,
      salt: Long = 11L): DataFrame = {
    require(temperature > 0, s"temperature must be > 0: $temperature")
    Curation.requireIntegralId(docs, idCol, "dsirResample")
    val m = 2147483647L // 2^31 - 1
    val x1 = pmod(col(idCol).cast("long") * 48271L + salt, lit(m))
    val x2 = pmod(x1 * 48271L, lit(m))
    val x3 = pmod(x2 * 48271L, lit(m))
    val u = (x3.cast("double") + 0.5) / m.toDouble // (0,1): never ln(0)
    dsirWeightsWith(model, docs, idCol, textCol)
      .withColumn("gumbel_key",
        col("log_weight") / temperature - log(-log(u)))
      .orderBy(desc("gumbel_key"), col(idCol))
      .limit(n)
  }
}
