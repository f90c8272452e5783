package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashFunctions

/** Benchmark decontamination — the training-data hygiene pass that flags
  * (or drops) training documents sharing verbatim word n-grams with an
  * evaluation/benchmark set, so held-out benchmarks stay held out.
  *
  * Scale shape (the part that must survive 100 TB): benchmark suites are
  * tiny relative to the corpus (MBs of eval text vs TBs of training text),
  * so the distinct benchmark n-gram set is built once and BROADCAST — the
  * corpus side then streams map-only through a broadcast hash join (no
  * corpus shuffle, no corpus n-gram materialization beyond the per-row
  * array), and only the matched (doc, gram) hits — a vanishingly small
  * fraction — shuffle into the per-document hit count. The corpus scan
  * reads exactly two columns (id, text).
  *
  * n-gram semantics are [[graft.functions.WordShingles]]': distinct
  * n-grams per document (so `n_hits` counts DISTINCT contaminated
  * n-grams), documents shorter than `n` tokens collapse to one n-gram of
  * the whole document.
  */
object Decontaminate {

  private def shingles(text: Column, n: Int): Column =
    TextHashFunctions.word_shingles(
      TextHashFunctions.split_ws(trim(text)), n)

  /** Per-document contamination hits: one row per training document that
    * shares ≥1 word `n`-gram with `bench`, with the distinct-overlap count
    * (`n_hits`). Anti-join the result against `docs` to decontaminate. */
  def contaminationHits(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .distinct()
    docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The corpus with contaminated documents removed (broadcast anti-join
    * on the same n-gram overlap). */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val hits = contaminationHits(docs, bench, idCol, textCol, n)
    docs.join(hits.select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** Uncapped fuzzy-decon candidate volume past which lshStats WARNs. */
  private val WarnCandidates: Long = 10000000L

  /** FUZZY decontamination — near-duplicate (not verbatim) benchmark
    * leakage: training documents whose word-shingle Jaccard against some
    * benchmark document reaches `threshold`, found via MinHash LSH
    * banding and verified on EXACT n-gram Jaccard. [[contaminationHits]]
    * catches verbatim n-gram overlap; this catches the
    * truncated/reformatted/lightly-edited benchmark copy that shares few
    * verbatim `n`-grams positionally but most of its shingle SET.
    *
    * Scale shape: the benchmark side is tiny (MBs vs TBs), so its banded
    * signature keys BROADCAST and the corpus streams map-only through the
    * (band, bucket) broadcast hash join — per corpus doc the work is one
    * signature (native [[graft.functions.MinHashSignature]], one byte
    * pass) and `bands` key probes; no corpus shuffle, no corpus shingle
    * materialization.
    *
    * `bucketCap` — DEFAULT UNCAPPED: decontamination is a safety pass, so
    * candidate generation is exhaustive unless the caller explicitly opts
    * into truncation (ADVICE r11; the r10 default of 256 silently traded
    * recall for boundedness on degenerate corpora). Setting a finite cap
    * bounds corpus rows at `bucketCap` per (band, bucket) (lowest ids
    * win — deterministic, the [[Dedup.minhashBandIndex]] rule), so the
    * candidate set is hard-bounded at |bench (band,bucket) keys| ×
    * `bucketCap` no matter how degenerate the corpus — the opt-in for a
    * corpus of short/boilerplate documents whose band signatures all
    * collide with one benchmark bucket, where exhaustive candidates grow
    * proportional to the CORPUS, not the benchmark (ADVICE r10). The cap
    * shuffles only the colliding rows (a benchmark-collision-sized frame,
    * not the corpus), and truncation is OBSERVABLE, not silent: each
    * capped run records a bucket-cap report in [[Dedup.lshStats]]
    * (`kind` = "fuzzy-decon") and WARN-logs when any bucket overflowed —
    * an overflowed bucket means capture degrades for the dropped members
    * (they keep `bands` − 1 other chances, and a dropped-in-every-band
    * document can remain contaminated in the output). Surviving
    * candidates proceed:
    * candidate doc texts are fetched by a second corpus scan through a
    * broadcast semi-join on the candidate ids, and exact verification
    * shingles only those. Banding geometry defaults to 32 bands × 2 rows
    * (q22's): capture ≥ 1-1e-4 for a true pair AT the 0.5 threshold and
    * ~1 above it, so LSH → exact-verify reproduces the brute-force pair
    * set (the q81 oracle proves it) — modulo cap-dropped members on
    * degenerate corpora, which the lshStats report surfaces.
    *
    * Tokenization is the near-dup family's (lowercased whitespace
    * tokens, distinct word shingles — [[Dedup.shingles]]).
    *
    * DETERMINISM PRECONDITION (ADVICE r19): `bench` must be a
    * deterministic frame (a file scan, or any plan free of `rand()` /
    * unseeded sampling / non-deterministic UDFs). Its banded keys are
    * intentionally NOT materialized — the benchmark side is tiny by this
    * operator's premise, so re-deriving it inside each of its two
    * broadcast builds (the bucket prefilter and the candidate join) is
    * cheaper than a checkpoint barrier at every scale — which means the
    * two builds evaluate the plan independently: a nondeterministic
    * benchmark slice could band differently per build and silently drop
    * hits. Callers sampling their benchmark must pass a seeded sample or
    * materialize it first ([[Dedup.materialize]]).
    *
    * Output: (`idCol`, `benchIdCol`, `jaccard`), exact Jaccard ≥
    * `threshold`. Anti-join `docs` on `idCol` to decontaminate, or use
    * [[fuzzyDecontaminate]]. */
  def fuzzyContaminationHits(docs: DataFrame, bench: DataFrame,
      idCol: String, benchIdCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 32,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(bucketCap > 0, s"bucketCap must be positive: $bucketCap")
    import org.apache.spark.sql.expressions.Window
    def banded(df: DataFrame, id: String) = df.select(col(id),
      posexplode(TextHashFunctions.band_keys(
        Dedup.minhashSignature(col(textCol), numHashes, shingleN), bands))
        .as(Seq("band", "bucket")))
    // NOT materialized: the benchmark side is tiny by this operator's own
    // premise (MBs vs TBs), so re-deriving it inside each of its two
    // broadcast builds costs less than a checkpoint barrier — the barrier
    // job + its driver gap dominated this operator's fixed overhead at
    // bench SF (r19 JobProbe), and at corpus scale both derivations are
    // noise next to the corpus banding pass
    val benchBanded = banded(bench, benchIdCol)
    // map-only prefilter: only corpus rows landing in a benchmark bucket
    // survive; with a finite cap, the bucketCap window then shuffles ONLY
    // those (ADVICE r10) — uncapped (the default) skips the window
    // entirely, so the exhaustive path pays no per-bucket ranking
    val colliding = banded(docs, idCol)
      .join(broadcast(benchBanded.select("band", "bucket").distinct()),
        Seq("band", "bucket"))
    val capped =
      if (bucketCap == Int.MaxValue) {
        // exhaustive (default) path: candidate volume grows with CORPUS
        // collisions, so make the blowup OBSERVABLE before the candidate
        // broadcast has to hold it (r12 advice) — materialize the colliding
        // frame once (downstream reads cached blocks; no extra corpus pass)
        // and record/WARN its volume through lshStats
        val c = Dedup.materialize(colliding)
        Dedup.reportUncappedCollisionVolume(c, "fuzzy-decon",
          warnAt = WarnCandidates)
        c
      } else {
        val byBucket = Window.partitionBy("band", "bucket")
        val c = Dedup.materialize(colliding
          .withColumn("__rk", row_number().over(byBucket.orderBy(col(idCol))))
          .withColumn("__n", count(lit(1)).over(byBucket))
          .where(col("__rk") <= bucketCap))
        Dedup.reportCappedIndexTruncation(c, bucketCap, "fuzzy-decon")
        c
      }
    val cand = capped
      .join(broadcast(benchBanded), Seq("band", "bucket"))
      .select(col(idCol), col(benchIdCol)).distinct()
    val hitDocs = docs.select(col(idCol), col(textCol))
      .join(broadcast(cand), Seq(idCol))
      .select(col(idCol), col(benchIdCol),
        Dedup.shingles(col(textCol), shingleN).as("__sh_d"))
    hitDocs
      .join(broadcast(bench.select(col(benchIdCol),
        Dedup.shingles(col(textCol), shingleN).as("__sh_b"))), Seq(benchIdCol))
      .select(col(idCol), col(benchIdCol),
        TextHashFunctions.set_jaccard(col("__sh_d"), col("__sh_b"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The corpus with fuzzily-contaminated documents removed (see
    * [[fuzzyContaminationHits]]). */
  def fuzzyDecontaminate(docs: DataFrame, bench: DataFrame,
      idCol: String, benchIdCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 32,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val hits = fuzzyContaminationHits(docs, bench, idCol, benchIdCol,
      textCol, shingleN, threshold, numHashes, bands, bucketCap)
    docs.join(hits.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** SURGICAL decontamination — maximal contaminated token SPANS instead
    * of whole-document verdicts: every `k`-token window of a training
    * document whose exact content occurs ANYWHERE in the benchmark set is
    * a hit; consecutive hit starts merge into maximal `[span_start,
    * span_end)` ranges ([[Dedup.duplicatedSpans]]' island merge, with
    * benchmark MEMBERSHIP replacing corpus frequency as the hit rule).
    * Dropping whole documents over one leaked sentence ([[decontaminate]])
    * wastes the rest of the document; stripping just the spans
    * ([[stripContaminatedSpans]]) keeps it.
    *
    * Scale shape: the benchmark window-key set is tiny and BROADCAST
    * (the [[contaminationHits]] rule); the corpus side is map-only
    * through the broadcast join — by default both sides key on the
    * 64-bit token-hash chain ([[graft.functions.WordWindowHashes]]), so
    * nothing string-shaped is built or shuffled; only hit positions
    * (vanishingly few) reach the island merge's doc-keyed shuffle.
    * `exactGrams = true` is the collision-free/oracle mode.
    *
    * Tokenization is case-sensitive `split("\\s+")` of `trim(text)`
    * (the passage-dedup family's; [[contaminationHits]]' shingles share
    * it). Output: (`idCol`, `span_start`, `span_end`, `n_windows`). */
  def contaminatedSpans(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, exactGrams: Boolean = false): DataFrame = {
    val wins = Dedup.windowFrame(docs, idCol, textCol, k, exactGrams)
    val benchKeys = Dedup.windowFrame(bench, idCol, textCol, k, exactGrams)
      .select("__w").distinct()
    val hits = wins.join(broadcast(benchKeys), Seq("__w"))
      .select(col("__id"), col("__pos"))
    Dedup.mergeWindowSpans(hits, k, idCol)
  }

  /** [[contaminatedSpans]] + [[Dedup.stripSpans]]: rebuild the corpus with
    * contaminated passages removed, keeping the rest of each document.
    * Output: (`idCol`, `text_clean`, `n_removed`). */
  def stripContaminatedSpans(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int,
      exactGrams: Boolean = false): DataFrame =
    Dedup.stripSpans(docs,
      contaminatedSpans(docs, bench, idCol, textCol, k, exactGrams),
      idCol, textCol)
}
