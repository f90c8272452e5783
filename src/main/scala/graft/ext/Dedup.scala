package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale deduplication operators (driver mandate, SURVEY §2.11/§7.1-8).
  *
  * All operators are pure DataFrame transforms — built-in `functions._`
  * plus the native single-pass hash expressions in `graft.functions`
  * (interpreted `CodegenFallback` bodies with primitive loops; no Scala
  * UDFs, no boxed lambdas) — and scale by shuffle on content keys:
  *
  *  - exact:   shuffle on content hash, one aggregation.
  *  - minhash: per-doc signature (map-side, no shuffle) → explode band
  *             KEYS (×B rows of (band, bucket, id) — the signature itself
  *             never replicates per band) → shuffle on (band, bucket) →
  *             within-bucket join → distinct pairs join the signature
  *             frame back for the estimate. Per-bucket pair blowup is
  *             bounded by the skew cap (`cappedBucketPairIds`): oversize
  *             buckets star-link to a representative instead of emitting
  *             m²/2 pairs. A small materialized signature frame skips
  *             the shuffles: one collect, and the same pairs are banded
  *             and scored on the driver.
  *  - simhash: per-doc 64-bit signature, band-grouped for candidate pairs.
  *
  * The pair operators materialize their signature frame internally
  * (`materialize`) before the banded self-join — signatures are tiny
  * relative to the corpus, and without it each join side (plus the skew-cap
  * window passes) would re-read AND re-hash the full corpus.
  */
object Dedup {

  // -------------------------------------------------------------------------
  // observable LSH runtime stats + candidate budget
  // -------------------------------------------------------------------------

  /** One observable LSH measurement: a pre-execution candidate estimate
    * for a banding self-join (`kind` = "minhash"/"simhash"/...), the
    * closed-form cheap tier of the same guard (`kind` ends in "-bound";
    * histogram fields are -1 = not measured, `estCandidates` is the
    * any-distribution post-cap upper bound), or a band-index build's
    * bucket-cap truncation report (`kind` ends in "-index").
    * `estCandidates` for an index build is the estimate of a full
    * self-join over the same banded keys — a capacity signal, not work
    * the index itself performs.
    *
    * Kind `"dsir-bucket"` ([[Vocabulary.dsirModel]] bucket mode) reuses
    * the fields for hash-collision occupancy: `buckets` = occupied
    * buckets, `overflowBuckets` = buckets holding >1 distinct feature,
    * `droppedMembers` = features sharing a bucket beyond the first (the
    * collision mass that biases the counted ratios), `maxBucket` = most
    * features in one bucket, `estCandidates` = total distinct features
    * observed. Collision rate = droppedMembers / estCandidates. */
  final case class LshStat(kind: String, buckets: Long, overflowBuckets: Long,
      droppedMembers: Long, maxBucket: Long, estCandidates: Long,
      // kind="multiband-arm" only (the q94 decision pin): the auto-switch
      // outcome as FIRST-CLASS fields (VERDICT r16 #4 — previously packed
      // into buckets/overflowBuckets/estCandidates, which a future edit to
      // those generic fields would silently break). armWide = Some(decision);
      // armCorpusDocs = the counted corpus when the decision needed a count
      // (-1 = forced or narrow signature); armThresholdDocs = the threshold
      // in force (0 = forced wide).
      armWide: Option[Boolean] = None, armCorpusDocs: Long = -1L,
      armThresholdDocs: Long = -1L,
      // minhash band-geometry decision (the r18 scale ladder): the bands ×
      // rows-per-band actually used for the minhash arm after corpus-
      // adaptive scaling; -1 = not a geometry-scaled execution
      geomBands: Int = -1, geomRows: Int = -1)

  private val lshStatsRing =
    new java.util.concurrent.ConcurrentLinkedDeque[LshStat]()
  private val lshStatsTotal = new java.util.concurrent.atomic.AtomicLong()

  private[ext] def recordLshStat(s: LshStat): Unit = {
    lshStatsRing.addLast(s)
    lshStatsTotal.incrementAndGet()
    while (lshStatsRing.size() > 64) lshStatsRing.pollFirst()
  }

  /** Monotonic count of stats ever recorded — a marker for
    * [[lshStatsSince]]. The ring's SIZE is not a usable marker: once 64
    * stats exist it stays 64 under eviction, so `lshStats.drop(sizeBefore)`
    * silently returns empty in any long-lived JVM (the full-suite test
    * failure mode this replaces). */
  def lshStatsSeen: Long = lshStatsTotal.get

  /** Stats recorded after `mark` (a prior [[lshStatsSeen]] value), newest
    * last — at most the ring's 64 retained entries. */
  def lshStatsSince(mark: Long): Seq[LshStat] = {
    val all = lshStats
    val newer = math.min(all.size.toLong, lshStatsSeen - mark).toInt
    all.drop(all.size - math.max(0, newer))
  }

  /** Recent LSH stats, newest last — the observable signal (ADVICE r8) that
    * bucket caps are truncating (capture degradation) or that a banding
    * self-join is about to emit a pathological candidate volume. Surfaced
    * for servers to republish (e.g. alongside an engine metrics ring). */
  def lshStats: Seq[LshStat] = {
    import scala.jdk.CollectionConverters._
    lshStatsRing.iterator().asScala.toSeq
  }

  /** Candidate budget for banding self-joins: estimates past this refuse to
    * execute (`spark.graft.lsh.candidateBudget`; `0` disables the check and
    * the estimate pass entirely). 2e9 pairs ≈ tens of GB of candidate
    * shuffle — past any sane single-query volume; a plan that big is a
    * mis-sized banding geometry, not a workload. */
  val DefaultCandidateBudget: Long = 2000000000L

  /** One cheap agg over a keys-only banded frame: per-(band,bucket) loads →
    * (bucket count, overflow count, members dropped by the cap, max load,
    * capped candidate estimate). The estimate mirrors the skew-cap algebra
    * exactly: m(m-1)/2 pairs for buckets within `bucketCap`, m-1 star pairs
    * past it. Runs on (band, bucket) only — payload columns prune away. */
  private[ext] def bandedStats(banded: DataFrame, bucketCap: Int,
      kind: String): LshStat = {
    val per = banded.groupBy("band", "bucket").agg(count(lit(1)).as("m"))
    val r = per.agg(
      count(lit(1)).as("buckets"),
      coalesce(sum(when(col("m") > bucketCap, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("m") > bucketCap, col("m") - bucketCap)
        .otherwise(0L)), lit(0L)),
      coalesce(max(col("m")), lit(0L)),
      coalesce(sum(when(col("m") > bucketCap, col("m") - 1)
        .otherwise(shiftright(col("m") * (col("m") - 1), 1))), lit(0L))).head()
    LshStat(kind, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))
  }

  /** Pre-execution candidate-volume gate for the banding self-joins,
    * recorded in `lshStats` + logged, then REFUSED past the configured
    * budget with sizing guidance. Turns the documented geometry ceilings
    * (64-bit simhash past ~1M docs, hyperplane banding on structure-less
    * vectors) from scaladoc caveats into runtime protection.
    *
    * TWO-TIER COST: the skew cap bounds what any ONE banded row can emit —
    * ≤ (bucketCap−1)/2 small-bucket pairs amortized, or one star link — so
    * `rows · bucketCap/2` bounds post-cap candidates for EVERY possible
    * bucket distribution. That bound needs only a count over the banded
    * frame (cached signature blocks — one cheap scan-only job), and at any
    * sane corpus size it clears the budget, so the common path never pays
    * the per-bucket histogram. The exact 2-stage histogram agg runs ONLY
    * when the bound crosses the budget — corpora within a factor of
    * bucketCap of a genuine flood — where its cost is noise against the
    * work it may refuse. (Round-9 lesson: running the histogram
    * unconditionally cost 0.5–0.6 s of fixed job overhead per dedup query,
    * 30–60% of whole-query time at bench SFs.)
    *
    * `knownRows ≥ 0` skips even the cheap count: banding derives from a
    * [[materializeCounted]] signature frame by exploding exactly `bands`
    * keys per signature, so every internal caller KNOWS the banded
    * cardinality at plan time — the common path pays ZERO extra jobs
    * (round-9 advice #2). */
  /** Returns (candidateEstimate, estimateIsMeasured, bandedRows):
    * the closed-form bound tier yields (ubound, false, rows); the
    * measured tier (ubound over budget) yields the exact post-cap
    * estimate (est, true, rows) — callers use the measured estimate to
    * pick the banding FORM (keys vs payload) in addition to the budget
    * refusal. Budget disabled → (-1, false, -1). */
  private def guardCandidates(banded: DataFrame, bucketCap: Int,
      kind: String, knownRows: Long = -1L): (Long, Boolean, Long) = {
    val budget = candidateBudget(banded.sparkSession)
    if (budget > 0) {
      val t0 = System.nanoTime()
      val rows = if (knownRows >= 0L) knownRows else banded.count()
      val ubound = rows * math.max(bucketCap, 2) / 2
      if (ubound <= budget) {
        // record the closed-form tier too (zero extra jobs — the count is
        // already paid): kind gets a "-bound" suffix and the unmeasured
        // histogram fields are -1, so the observability ring reflects
        // EVERY banding execution, not only the near-budget ones
        recordLshStat(LshStat(kind + "-bound", rows, -1L, -1L, -1L, ubound))
        System.err.println(s"[graft-lsh] $kind banding: rows=$rows " +
          s"postCapBound=$ubound budget=$budget (within budget for any " +
          f"bucket distribution; histogram skipped) boundSec=${
            (System.nanoTime() - t0) / 1e9}%.2f")
        (ubound, false, rows)
      } else {
        val st = bandedStats(banded, bucketCap, kind)
        recordLshStat(st)
        System.err.println(s"[graft-lsh] $kind banding: buckets=${st.buckets} " +
          s"overflow=${st.overflowBuckets} maxBucket=${st.maxBucket} " +
          s"estCandidates=${st.estCandidates} budget=$budget " +
          f"statsSec=${(System.nanoTime() - t0) / 1e9}%.2f")
        refuseOverBudget(kind, st.estCandidates, budget)
        (st.estCandidates, true, rows)
      }
    } else (-1L, false, -1L)
  }

  /** `spark.graft.lsh.candidateBudget`; `0` disables the banding guards. */
  private def candidateBudget(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.lsh.candidateBudget").map(_.toLong)
      .getOrElse(DefaultCandidateBudget)

  private def refuseOverBudget(kind: String, est: Long, budget: Long): Unit =
    if (budget > 0 && est > budget)
      throw new IllegalStateException(
        s"LSH $kind banding would emit ~$est candidate " +
          s"pairs (budget $budget): the banding geometry is mis-sized for " +
          "this corpus (fixed-keyspace bands flooded, or near-random " +
          "signatures). Use a wider fingerprint / adaptive banding, raise " +
          "spark.graft.lsh.candidateBudget, or set it to 0 to disable " +
          "this check.")

  /** Pair budget for the EXACT quadratic pair helpers
    * ([[ngramJaccardPairs]] / [[ngramContainmentPairs]]):
    * `spark.graft.ngram.pairBudget`, `0` disables. These helpers carry full
    * shingle arrays through an explicit cross join, so the sane ceiling is
    * far below the signature-pair budget: 10M pairs ≈ a ~4.5k-doc candidate
    * set, already seconds of array-intersect work. Larger corpora belong on
    * the banded paths ([[minhashDupPairs]] /
    * [[ngramContainmentPairsBanded]]). */
  val DefaultNgramPairBudget: Long = 10000000L

  /** Runtime gate for the deliberately-quadratic exact pair helpers (the
    * round-9 lesson applied to the last unguarded m² shape): ONE columnless
    * count of the input — parquet-footer cheap on file sources — then
    * refuse past the configured pair budget with routing guidance, and
    * record every execution in [[lshStats]] (`kind` = "ngram-*-exact",
    * `buckets` = docs, histogram fields unmeasured = -1, `estCandidates` =
    * the exact pair count the cross join would emit). Returns the counted
    * doc count (-1 when the guard is disabled) so the caller can size its
    * own plan from the already-paid job. */
  private def guardQuadraticPairs(df: DataFrame, kind: String,
      ordered: Boolean): Long = {
    val budget = df.sparkSession.conf
      .getOption("spark.graft.ngram.pairBudget").map(_.toLong)
      .getOrElse(DefaultNgramPairBudget)
    if (budget > 0) {
      val n = df.count()
      // n(n-1)(/2) overflows Long past ~3e9 docs; any such input is already
      // hopeless for an exact quadratic helper, so saturate and refuse.
      val pairs =
        if (n >= 3037000499L) Long.MaxValue
        else if (ordered) n * (n - 1) else n * (n - 1) / 2
      recordLshStat(LshStat(kind, n, -1L, -1L, -1L, pairs))
      System.err.println(s"[graft-lsh] $kind: docs=$n pairs=$pairs " +
        s"budget=$budget")
      if (pairs > budget)
        throw new IllegalStateException(
          s"$kind over $n docs would emit $pairs exact pairs (budget " +
            s"$budget): this helper is deliberately quadratic — pre-filter " +
            "the candidate set, feed it LSH candidates " +
            "(ngramContainmentPairsFromCandidates / minhashDupPairs), use " +
            "the banded path (ngramContainmentPairsBanded), raise " +
            "spark.graft.ngram.pairBudget, or set it to 0 to disable this " +
            "check.")
      n
    } else -1L
  }

  /** Materialize the quadratic helpers' shingle frame only when the input
    * is big enough that re-shingling both cross-join sides costs more than
    * a checkpoint job: under ~5k docs (the regime these helpers are FOR)
    * the shingle pass is microseconds and the extra job is pure overhead.
    * Unknown size (guard disabled) takes the safe big-corpus default. */
  private def materializeIfBig(sh: DataFrame, nDocs: Long): DataFrame =
    if (nDocs >= 0L && nDocs < 5000L) sh else materialize(sh)

  /** Index-build truncation report from a MATERIALIZED capped index frame
    * that still carries the build window's `__rk` (rank in bucket) and
    * `__n` (pre-cap bucket size) columns: counts buckets that hit
    * `bucketCap` (whose members past the cap were DROPPED from the index —
    * capture degradation the cap trades for boundedness), recorded in
    * `lshStats` and logged so degradation is detectable instead of silent
    * (ADVICE r8). Rows with `__rk == 1` stand in for buckets, so the whole
    * report is ONE cheap agg over cached index blocks — it shares the
    * build's window pass instead of running a second groupBy histogram
    * over the full banded frame (which doubled small-corpus build cost). */
  private[ext] def reportCappedIndexTruncation(matCapped: DataFrame,
      bucketCap: Int, kind: String): Unit = {
    val first = col("__rk") === 1
    val over = col("__n") > bucketCap
    val r = matCapped.agg(
      coalesce(sum(when(first, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(first && over, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(first && over, col("__n") - bucketCap)
        .otherwise(0L)), lit(0L)),
      coalesce(max(col("__n")), lit(0L)),
      coalesce(sum(when(first, when(over, col("__n") - 1)
        .otherwise(shiftright(col("__n") * (col("__n") - 1), 1)))
        .otherwise(0L)), lit(0L))).head()
    val st = LshStat(kind, r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    recordLshStat(st)
    val lvl = if (st.overflowBuckets > 0) "WARN" else "info"
    System.err.println(s"[graft-lsh] $lvl $kind build: buckets=${st.buckets} " +
      s"atCap=${st.overflowBuckets} droppedMembers=${st.droppedMembers} " +
      s"maxBucket=${st.maxBucket}" +
      (if (st.overflowBuckets > 0)
        " — capture degrades for members past the cap; raise bucketCap or " +
          "widen the banding keyspace if droppedMembers is material"
      else ""))
  }

  /** Uncapped-path twin of [[reportCappedIndexTruncation]]: records the
    * collision volume an EXHAUSTIVE candidate pass is about to feed
    * downstream (r12 advice — the uncapped default must not be silently
    * unbounded). `mat` is a materialized (band, bucket, id) collision
    * frame; one cheap aggregate off cached blocks → lshStats row with
    * `estCandidates` = total colliding rows, WARN past `warnAt` (the
    * volume is corpus-proportional on degenerate corpora and the next
    * stop is a driver-side broadcast). */
  private[ext] def reportUncappedCollisionVolume(mat: DataFrame,
      kind: String, warnAt: Long): Unit = {
    val per = mat.groupBy("band", "bucket").agg(count(lit(1)).as("m"))
    val r = per.agg(
      count(lit(1)),
      coalesce(max(col("m")), lit(0L)),
      coalesce(sum(col("m")), lit(0L))).head()
    val st = LshStat(kind, r.getLong(0), 0L, 0L, r.getLong(1), r.getLong(2))
    recordLshStat(st)
    val lvl = if (st.estCandidates > warnAt) "WARN" else "info"
    System.err.println(s"[graft-lsh] $lvl $kind uncapped candidates: " +
      s"rows=${st.estCandidates} buckets=${st.buckets} " +
      s"maxBucket=${st.maxBucket}" +
      (if (st.estCandidates > warnAt)
        " — exhaustive decontamination candidate volume is " +
          "corpus-proportional here; pass a finite bucketCap (opt-in " +
          "truncation) or widen the banding keyspace"
      else ""))
  }

  /** Materialize a signature frame once so downstream self-joins read
    * cached blocks instead of re-deriving it from the corpus.
    *
    * Two modes via `spark.graft.materialize.storage`:
    *  - `localCheckpoint` (default): eager (one job now), lineage-
    *    truncating, and the blocks are freed by Spark's ContextCleaner when
    *    the frame is GC'd — unlike `persist()`, nothing accumulates on a
    *    long-lived server. Tradeoff: localCheckpoint sacrifices
    *    recompute-on-executor-loss; losing an executor mid-query fails the
    *    query (re-run), which is the right trade for a frame this small on
    *    a query path with stable executors.
    *  - `persist`: MEMORY_AND_DISK with lineage kept, eagerly populated —
    *    on PREEMPTIBLE clusters a lost executor's blocks recompute instead
    *    of failing the query. Tradeoff: entries stay registered with the
    *    cache manager until unpersisted/GC'd, so a long-lived server should
    *    clear them (`spark.catalog.clearCache()`) between pipelines.
    *
    * A local frame (a `LocalRelation`, rows already on the driver) is
    * returned as it is in either mode: no job, no stored blocks. */
  def materialize(df: DataFrame): DataFrame =
    materializeCounted(df)._1

  /** Row counts recorded at materialization time, keyed by the materialized
    * frame's object identity (Dataset does not override equals). Weak keys:
    * entries vanish with the frames; nothing accumulates on a long-lived
    * server. */
  private val matRows = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  /** Stored block bytes (mem + disk) recorded at materialization time —
    * same lifecycle as [[matRows]]. -1 when the storage layer didn't
    * expose the size (persist mode, or no storage info yet). */
  private val matBytes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  /** [[materialize]] that also returns the frame's row count FOR FREE —
    * the single materialization job yields it (lazy localCheckpoint
    * triggered by a count; persist populated by its count), so callers that
    * need cardinality (the LSH candidate guard above all) don't pay a
    * second job over the cached blocks. Round-9 measured that separate
    * guard count at 0.1–0.3 s of fixed overhead per dedup query — 30–60%
    * of whole-query time at bench SFs. The count is also recorded for
    * [[materializedRows]] lookup so derived-frame consumers (banding
    * explodes exactly `bands` rows per signature) can compute their own
    * cardinality without any job. */
  private[ext] def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val storage = df.sparkSession.conf.getOption("spark.graft.materialize.storage")
    val pair = df.queryExecution.logical match {
      // rows already on the driver (the minhash driver finish's pairs):
      // nothing to store, and their count needs no job
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        (df, l.data.size.toLong)
      case _ if storage.contains("persist") =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (p, p.count()) // eager: populate before the self-join fans out
      case _ =>
        // LAZY checkpoint + count = ONE job that both stores the blocks and
        // returns the cardinality (eager localCheckpoint runs the same
        // internal count and throws the number away)
        val c = df.localCheckpoint(false)
        (c, c.count())
    }
    matRows.put(pair._1, java.lang.Long.valueOf(pair._2))
    // checkpointed frames carry no file stats, so downstream join-shape
    // decisions (joinSigs) need MEASURED bytes, not a row-count proxy —
    // the count above populated the blocks, so the storage registry has
    // the exact stored size for free (ADVICE r17: a row cap alone let
    // several-hundred-MB signature relations broadcast near the boundary)
    val storedBytes = pair._1.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id).map(i => i.memSize + i.diskSize)
          .getOrElse(-1L)
      case _ => -1L
    }
    matBytes.put(pair._1, java.lang.Long.valueOf(storedBytes))
    pair
  }

  /** Stored bytes recorded when `df` was produced by [[materialize]] /
    * [[materializeCounted]] in this JVM; -1 when unknown. */
  private[ext] def materializedBytes(df: DataFrame): Long = {
    val v = matBytes.get(df)
    if (v == null) -1L else v.longValue()
  }

  /** Eagerly free a [[materialize]]d frame's stored blocks. Normally the
    * ContextCleaner frees them when the frame is GC'd; a pipeline that
    * REPLACES a multi-GB frame mid-query (the cosine self-resize re-hash)
    * should not gamble scratch disk on driver GC timing. No-op for frames
    * not backed by a checkpointed RDD. */
  private[ext] def releaseMaterialized(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Row count recorded when `df` was produced by [[materialize]] /
    * [[materializeCounted]] in this JVM; -1 for frames materialized
    * elsewhere (callers fall back to counting). */
  private[ext] def materializedRows(df: DataFrame): Long = {
    val v = matRows.get(df)
    if (v == null) -1L else v.longValue()
  }

  /** Attach each candidate pair's two payload columns (shingle sets,
    * signatures, …) for exact verification WITHOUT shuffling the heavy
    * corpus frame. A plain `cand.join(frame).join(frame)` plans the
    * corpus side as shuffle input, and the shuffle WRITE of a multi-GB
    * payload column happens before AQE can re-plan the join — measured
    * at the 1000× SF: a 14 GB shingle frame written to shuffle twice
    * (38+ GB of spill) to verify ~50k pairs. Instead:
    *
    *  1. materialize the pair set (payload-light ids; its count comes
    *     free from the materialization job),
    *  2. BROADCAST the touched-id set and semi-reduce the frame to the
    *     rows that appear in any pair (map-side, no frame shuffle),
    *  3. run the two attach joins against the reduced frame — every
    *     shuffled byte is now ∝ pairs, which is the inherent cost of
    *     co-locating both payloads per pair.
    *
    * Past `maxBroadcastIds` distinct touched ids (default 2^24 ≈ 128 MB
    * of hashed long relation) the id set stops being broadcastable and
    * the plain shuffled joins are the right plan anyway — at that pair
    * volume the payload co-location dominates regardless of strategy.
    *
    * Output: the pair frame with `<payloadCol>_a` / `<payloadCol>_b`
    * attached. Column names follow the pair frame's own id columns. */
  def attachPairPayloads(cand: DataFrame, frame: DataFrame,
      idCol: String, payloadCol: String, aCol: String, bCol: String,
      maxBroadcastIds: Long = 1L << 24): DataFrame = {
    val (pairs, n) = materializeCounted(cand)
    val bc = 2 * n <= maxBroadcastIds
    // BOTH reduced key sets derive from the materialized pair frame — a
    // nested attachPayload(attachPayload(...)) fed the first join's OUTPUT
    // in as the second call's pair frame, so deriving the second key set
    // re-executed the first attach join (one extra full payload-frame
    // scan, e.g. re-shingling the corpus — ADVICE r17)
    def reduced(keyCol: String, outCol: String) = {
      val side = frame.select(col(idCol).as(keyCol), col(payloadCol).as(outCol))
      if (bc) side.join(broadcast(pairs.select(keyCol).distinct()), keyCol)
      else side
    }
    pairs.join(reduced(aCol, s"${payloadCol}_a"), aCol)
      .join(reduced(bCol, s"${payloadCol}_b"), bCol)
  }

  /** [[attachPairPayloads]] with a small-corpus fast path: when
    * `sizedFrame` (the materialized signature frame — its row count was
    * recorded for free) is at or under `directJoinMaxRows`, the plain
    * two-sided join is cheaper than materializing the pair set — the
    * extra checkpoint job dominates sub-second queries, and at these
    * sizes AQE broadcasts the pair side from runtime stats anyway. Past
    * the threshold the pair-side attach is the only shape whose shuffle
    * volume stays pair-proportional (the r17 sf100 find). */
  def attachPairPayloadsAuto(cand: DataFrame, sizedFrame: DataFrame,
      payloadFrame: DataFrame, idCol: String, payloadCol: String,
      aCol: String, bCol: String,
      directJoinMaxRows: Long = 200000L): DataFrame = {
    val n = materializedRows(sizedFrame)
    if (n >= 0 && n <= directJoinMaxRows)
      cand
        .join(payloadFrame.select(col(idCol).as(aCol),
          col(payloadCol).as(s"${payloadCol}_a")), aCol)
        .join(payloadFrame.select(col(idCol).as(bCol),
          col(payloadCol).as(s"${payloadCol}_b")), bCol)
    else attachPairPayloads(cand, payloadFrame, idCol, payloadCol, aCol, bCol)
  }

  /** One side of [[attachPairPayloads]] — for pair sets whose two key
    * columns resolve against DIFFERENT frames (the incremental paths:
    * increment side vs corpus side). `pairs` should be materialized so
    * deriving the touched-key set is a cached-blocks scan, and
    * `broadcastKeys` should be false once the pair count stops being
    * broadcast-sized. */
  def attachPayload(pairs: DataFrame, frame: DataFrame, idCol: String,
      payloadCol: String, keyCol: String, outCol: String,
      broadcastKeys: Boolean): DataFrame = {
    val side = frame.select(col(idCol).as(keyCol), col(payloadCol).as(outCol))
    val reduced =
      if (broadcastKeys)
        side.join(broadcast(pairs.select(keyCol).distinct()), keyCol)
      else side
    pairs.join(reduced, keyCol)
  }

  /** Corpus ceiling for [[nearDupPairs]]' eager shingle placement: at or
    * below it the verify shingle sets ride IN the signature checkpoint
    * (one scan, one shingling; the candidate step's fetch joins carry them
    * from cached blocks), above it the checkpoint stays signature-only
    * (shingles are ~20× the signature bytes — r17's 25 GB at the 1000×
    * SF). 200k docs ≈ ≤200 MB of checkpointed shingles, and matches
    * [[attachPairPayloadsAuto]]'s direct-join ceiling. */
  private val NearDupEagerMaxDocs: Long = 200000L

  /** Exactly verified shingle-Jaccard near-dup pairs — the one pipeline
    * behind the entries' candidate → verify queries:
    *
    *  1. spread `docs` over the cores (a single-file corpus reads as ONE
    *     partition; at real scale the scan is already split);
    *  2. materialize ONE checkpoint of `id` (= `idCol`) and `sigCols`, so
    *     every hash family reads one corpus scan's cached blocks;
    *  3. `candidates(frame, carry)` — an existing candidate operator over
    *     that checkpoint, emitting the pair ids in `aCol`/`bCol` and
    *     passing `carry` through to its own fetch joins;
    *  4. attach both docs' word 3-gram shingle sets (`sh_a`/`sh_b`) and
    *     keep the pairs whose exact Jaccard is ≥ `minJaccard`.
    *
    * Shingle placement follows the footer row count of `docs`: at or under
    * [[NearDupEagerMaxDocs]] the shingle set `sh` rides in the checkpoint
    * and the candidate step carries it (`carry = Seq("sh" -> "sh")` — two
    * broadcast builds instead of four, r19 JobProbe); above it, or when
    * `docs` is not a pure parquet scan, the checkpoint stays
    * signature-only and only candidate-touched docs are re-shingled,
    * through the broadcast-reduced [[attachPairPayloads]] (the r17 sf100
    * fix). Output: (`aCol`, `bCol`, jaccard), unordered. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      sigCols: Seq[Column],
      candidates: (DataFrame, Seq[(String, String)]) => DataFrame,
      aCol: String, bCol: String, minJaccard: Double): DataFrame =
    placedNearDupPairs(docs, idCol, textCol, sigCols, candidates, aCol, bCol,
      minJaccard, eagerShingles = graft.sources.ParquetFooters.scanRows(docs)
        .exists(_.total <= NearDupEagerMaxDocs))

  /** [[nearDupPairs]] with the shingle placement decided by the caller. */
  private[graft] def placedNearDupPairs(docs: DataFrame, idCol: String,
      textCol: String, sigCols: Seq[Column],
      candidates: (DataFrame, Seq[(String, String)]) => DataFrame,
      aCol: String, bCol: String, minJaccard: Double,
      eagerShingles: Boolean): DataFrame = {
    val spread =
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val sh = shingles(col(textCol), 3).as("sh")
    val frame = materialize(spread.select(
      (col(idCol).as("id") +: sigCols) ++
        (if (eagerShingles) Seq(sh) else Nil): _*))
    val withShingles =
      if (eagerShingles) candidates(frame, Seq("sh" -> "sh"))
      else attachPairPayloads(candidates(frame, Nil).select(aCol, bCol),
        spread.select(col(idCol).as("id"), sh), "id", "sh", aCol, bCol)
    withShingles
      .select(col(aCol), col(bCol),
        graft.functions.TextHashFunctions.set_jaccard(col("sh_a"), col("sh_b"))
          .as("__j"))
      .where(col("__j") >= minJaccard)
      .select(col(aCol), col(bCol), col("__j").as("jaccard"))
  }

  // -------------------------------------------------------------------------
  // shingling
  // -------------------------------------------------------------------------

  /** Lowercased whitespace tokens — native byte-pass tokenizer with
    * `split(lower(trim(text)), "\\s+")` semantics. The builtin `split`
    * recompiles the `\s+` pattern per ROW (String.split only fast-paths
    * single-char separators); the native expression scans bytes once. */
  def tokens(text: Column): Column =
    graft.functions.TextHashFunctions.split_ws(lower(trim(text)))

  /** Word n-gram shingles as strings ("w1 w2 ... wn"), distinct — native
    * one-pass expression. The previous HOF formulation
    * (`transform(sequence(...), i => concat_ws(" ", slice(t, i, n)))`)
    * was interpreted per element and re-evaluated the tokenizer subtree
    * once per shingle POSITION — O(tokens²) per document, which is what
    * blew q22/q23's verify-frame build up at 10× SF. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextHashFunctions.word_shingles(tokens(text), n)

  // -------------------------------------------------------------------------
  // exact dedup
  // -------------------------------------------------------------------------

  /** Exact duplicate groups by content hash: keeps the smallest id per
    * group. One shuffle on the 128-bit content hash. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // -------------------------------------------------------------------------
  // LSH bucket-skew cap (shared by MinHash / SimHash / cosine near-dup)
  // -------------------------------------------------------------------------

  /** Self-join banded signatures on (band, bucket) with a per-bucket skew cap.
    *
    * A pathological bucket of m rows (boilerplate dups, zero vectors —
    * guaranteed in web-scale text) would emit m²/2 candidate pairs in ONE
    * task; nothing in banding bounds m. Buckets over `bucketCap` therefore
    * emit a STAR instead: every member pairs with the bucket's smallest id
    * (the representative) — O(m) pairs, still one per member. The exact
    * similarity verification downstream applies unchanged, so false
    * positives cannot survive; the documented loss is member↔member pairs of
    * an oversize bucket where neither end matches the representative — at
    * bucket sizes that trip the cap the members are near-identical by
    * construction, so for the drop-the-duplicate decision the star is
    * equivalent.
    *
    * Input must carry (band, bucket, `idCol`, `payloadCol`) and should
    * derive from a `materialize`d signature frame (every caller in this
    * package does): the self-join sides and window passes below re-evaluate
    * `banded`, and with a checkpointed source that re-evaluation is a
    * cached-block re-explode, not a corpus re-scan. Output is
    * (id_a, id_b, payload_a, payload_b) with id_a < id_b, duplicated across
    * bands (caller dedups after its similarity filter, as before).
    */
  private[ext] def cappedBucketPairs(banded: DataFrame, idCol: String,
      payloadCol: String, bucketCap: Int, knownRows: Long = -1L,
      runGuard: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (runGuard)
      guardCandidates(banded.select("band", "bucket"), bucketCap,
        "payload-banding", knownRows): Unit
    if (aggPairsEligible(banded, knownRows))
      return aggBucketPairs(banded, idCol, Some(payloadCol), bucketCap)
    // Per-bucket size + representative via WINDOW functions, not a separate
    // groupBy+join branch — one fewer shuffle.
    val byBucket = Window.partitionBy("band", "bucket")
    val ordered = Window.partitionBy("band", "bucket").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val flagged = banded
      .withColumn("__n", count(lit(1)).over(byBucket))
      .withColumn("__rep_id", min(col(idCol)).over(byBucket))
      .withColumn("__rep_payload", first(col(payloadCol)).over(ordered))
    val small = flagged.where(col("__n") <= bucketCap)
    val l = small.select(col("band"), col("bucket"),
      col(idCol).as("id_a"), col(payloadCol).as("payload_a"))
    val r = small.select(col("band"), col("bucket"),
      col(idCol).as("id_b"), col(payloadCol).as("payload_b"))
    val smallPairs = l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("payload_a"), col("payload_b"))
    val starPairs = flagged.where(col("__n") > bucketCap)
      .where(col(idCol) =!= col("__rep_id"))
      .select(col("__rep_id").as("id_a"), col(idCol).as("id_b"),
        col("__rep_payload").as("payload_a"), col(payloadCol).as("payload_b"))
    smallPairs.unionByName(starPairs)
  }

  /** Skew-capped candidate pair IDs from banded KEYS — the payload-free twin
    * of `cappedBucketPairs`. Only (band, bucket, id) triples cross the
    * banding shuffle (~30 bytes/row), where the payload-carrying form
    * replicates the full signature once per band — measured at a 50k-doc SF
    * that is 423 MB shuffled (written twice, read three times) against
    * ~30 MB here, and the gap grows with signature width. The distinct
    * (id_a, id_b) pairs are joined back to the small, materialized
    * signature frame for their payloads by the caller (broadcast-sized at
    * test SFs; a plain id-keyed hash join at corpus scale). Semantics are
    * identical to `cappedBucketPairs` + per-pair dedup: the same star-link
    * cap applies, and the output carries each pair once. */
  private[ext] def cappedBucketPairIds(banded: DataFrame, idCol: String,
      bucketCap: Int, knownRows: Long = -1L,
      runGuard: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (runGuard)
      guardCandidates(banded.select("band", "bucket"), bucketCap,
        "keys-banding", knownRows): Unit
    if (aggPairsEligible(banded, knownRows))
      return aggBucketPairs(banded, idCol, None, bucketCap).distinct()
    val byBucket = Window.partitionBy("band", "bucket")
    val flagged = banded
      .withColumn("__n", count(lit(1)).over(byBucket))
      .withColumn("__rep_id", min(col(idCol)).over(byBucket))
    val small = flagged.where(col("__n") <= bucketCap)
    val l = small.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val r = small.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    val smallPairs = l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val starPairs = flagged.where(col("__n") > bucketCap)
      .where(col(idCol) =!= col("__rep_id"))
      .select(col("__rep_id").as("id_a"), col(idCol).as("id_b"))
    smallPairs.unionByName(starPairs).distinct()
  }

  /** Banded-row ceiling for the single-aggregation pair-enumeration fast
    * path (`spark.graft.lsh.aggPairsMaxBandedRows`, 0 disables). Below it,
    * `cappedBucketPairIds`/`cappedBucketPairs` enumerate bucket pairs from
    * ONE `collect_list` aggregation instead of the window+self-join shape —
    * r19 measurement: the window subtree (Exchange+Sort+Window) is planned
    * THREE times (small l, small r, star branch) plus the join and union,
    * ~5 shuffle stages whose fixed per-stage cost dominates bench-SF dedup
    * queries (q23 spent 1.5 of its 2.0 s in candidate generation at 100k
    * banded rows). The agg path is gated because its star branch holds one
    * full bucket's ids (or id+payload structs) in a single aggregation
    * buffer: at the 2M-row default the worst degenerate bucket is ≤2M ids
    * = 16 MB in one task — safe — while at corpus scale (knownRows far
    * past the gate) the spillable window path keeps memory bounded. */
  val DefaultAggPairsMaxBandedRows: Long = 2000000L

  private def aggPairsEligible(banded: DataFrame, knownRows: Long): Boolean = {
    val cap = banded.sparkSession.conf
      .getOption("spark.graft.lsh.aggPairsMaxBandedRows").map(_.toLong)
      .getOrElse(DefaultAggPairsMaxBandedRows)
    cap > 0 && knownRows >= 0 && knownRows <= cap
  }

  /** Pair enumeration for [[cappedBucketPairIds]] (payloadCol=None) and
    * [[cappedBucketPairs]] (payloadCol=Some) from a single groupBy
    * aggregation: per (band, bucket) collect the members sorted by id,
    * then emit all C(n,2) pairs for n ≤ bucketCap or the star
    * (min-id representative × each other member) past the cap — the exact
    * window-path semantics (star rep = bucket min id; its payload = the
    * min-id row's; strict id_a < id_b everywhere), spec-pinned equal.
    * One Exchange (the groupBy) replaces three windowed subtrees, a
    * self-join and a union. */
  private def aggBucketPairs(banded: DataFrame, idCol: String,
      payloadCol: Option[String], bucketCap: Int): DataFrame = {
    val member = payloadCol match {
      case Some(p) => struct(col(idCol).as("i"), col(p).as("p"))
      case None => struct(col(idCol).as("i"))
    }
    val grouped = banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list(member)).as("__ms"))
      .where(size(col("__ms")) >= 2)
    val ms = col("__ms")
    val n = size(ms)
    def pairOf(a: Column, b: Column) = payloadCol match {
      case Some(_) => struct(a.getField("i").as("id_a"),
        b.getField("i").as("id_b"), a.getField("p").as("payload_a"),
        b.getField("p").as("payload_b"))
      case None => struct(a.getField("i").as("id_a"),
        b.getField("i").as("id_b"))
    }
    // n ≤ cap: all (i < j) position pairs of the sorted array; past the
    // cap: the star. Sorted order makes position order = id order, so the
    // strict filter below reproduces the window path's `id_a < id_b` (and
    // drops degenerate equal-id pairs the same way).
    val pairsArr = when(n <= bucketCap,
      flatten(transform(ms, (a, i) =>
        transform(slice(ms, i + lit(2), n), b => pairOf(a, b)))))
      .otherwise(transform(slice(ms, lit(2), n - 1),
        b => pairOf(element_at(ms, 1), b)))
    val exploded = grouped.select(explode(pairsArr).as("__pr"))
      .where(col("__pr.id_a") < col("__pr.id_b"))
    payloadCol match {
      case Some(_) => exploded.select(col("__pr.id_a").as("id_a"),
        col("__pr.id_b").as("id_b"), col("__pr.payload_a").as("payload_a"),
        col("__pr.payload_b").as("payload_b"))
      case None => exploded.select(col("__pr.id_a").as("id_a"),
        col("__pr.id_b").as("id_b"))
    }
  }

  /** Collapse FULL-signature-identical documents to their min-id
    * representative BEFORE banding (VERDICT r18 #4): a group of m docs
    * with byte-identical signatures collides in EVERY band at EVERY
    * geometry, so below the bucket cap it pays m²/2 candidate pairs that
    * no geometry can thin — BandProbe's 4th-decade decomposition named
    * sig-identical groups a top component of the un-thinnable candidate
    * mass. This extends the proven star-link representative semantics
    * (`cappedBucketPairs`, exactness spec-pinned) from oversize buckets
    * to full-signature groups of ANY size: only distinct signatures are
    * banded, and each group member attaches to its representative as a
    * direct candidate pair (O(m) per group) that the caller's exact
    * verify then confirms — identical signatures make the members
    * interchangeable for the drop-the-duplicate decision, the same
    * documented equivalence the star link rests on.
    *
    * Group key = two independent xxhash64 passes over the signature
    * columns (128 bits — collision odds ~n²/2¹²⁹; a colliding pair would
    * only mis-route a doc to the member path, where exact verify still
    * gates the emitted pair). Cost: one keys-only shuffle (~24 B/row) +
    * one group-table join per side — paid only at/above the corpus gate
    * the callers set (`defaultScaleGeomMinDocs`), never at oracle SFs.
    *
    * Returns (bandSource, memberPairs, collapsedCount): `bandSource` =
    * `sigs` minus non-representative members; `memberPairs` =
    * (id_a = rep, id_b = member), disjoint from any banded pair since
    * members never band. */
  private[ext] def sigIdenticalCollapse(sigs: DataFrame, idCol: String,
      sigCols: Seq[Column], kind: String): (DataFrame, DataFrame, Long) = {
    val k1 = xxhash64(sigCols: _*)
    val k2 = xxhash64(lit("graft-sig-collapse") +: sigCols: _*)
    val keyed = sigs.select(col(idCol).as("__cid"), k1.as("__k1"), k2.as("__k2"))
    val (groups, nGroups) = materializeCounted(
      keyed.groupBy("__k1", "__k2")
        .agg(min(col("__cid")).as("__rep"), count(lit(1)).as("__m"))
        .where(col("__m") >= 2))
    // one tiny agg over the (materialized, dup-groups-only) table: the
    // member count sizes the banded cardinality exactly, so the banding
    // guard's cheap tier keeps its zero-extra-jobs property
    val collapsed =
      if (nGroups == 0) 0L
      else groups.agg(coalesce(sum(col("__m") - 1), lit(0L))).head().getLong(0)
    recordLshStat(LshStat(kind, buckets = nGroups, overflowBuckets = -1L,
      droppedMembers = collapsed, maxBucket = -1L, estCandidates = -1L))
    System.err.println(s"[graft-lsh] $kind: $nGroups sig-identical groups, " +
      s"$collapsed members collapsed to representatives before banding")
    if (nGroups == 0) {
      releaseMaterialized(groups)
      (sigs, null, 0L)
    } else {
      // group table join shape: broadcast while small (the common case —
      // one 32-byte row per DUP GROUP), else shuffle-hash with the groups
      // as build side (never sort-merge a pair-stream-sized probe)
      val g0 = groups.select("__k1", "__k2", "__rep")
      val g = if (nGroups <= (1L << 20)) broadcast(g0) else g0.hint("shuffle_hash")
      val memberPairs = keyed.join(g, Seq("__k1", "__k2"))
        .where(col("__cid") =!= col("__rep"))
        .select(col("__rep").as("id_a"), col("__cid").as("id_b"))
      val bandSource = sigs
        .withColumn("__k1", k1).withColumn("__k2", k2)
        .join(g, Seq("__k1", "__k2"), "left")
        .where(col("__rep").isNull || col(idCol) === col("__rep"))
        .drop("__k1", "__k2", "__rep")
      (bandSource, memberPairs, collapsed)
    }
  }

  /** Actual element count of a signature column, probed from ONE row of
    * the (cached) frame — the ladder-geometry validation the r18 advice
    * asked for: a caller whose real signature width disagrees with its
    * `numHashes` parameter must not get ladder rows computed from the
    * wrong width (slice()'s lenient semantics would silently band a
    * truncated or narrower-than-caller slice). Returns -1 for an empty
    * frame (nothing to band — any geometry is fine). */
  private def sigLength(sigs: DataFrame, sigCol: String): Int =
    sigs.select(size(col(sigCol)).as("__n")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(-1)

  /** Conservative serialized-size estimate of one PROJECTED row — the
    * one-row probe behind [[joinSigs]]'s broadcast gate. Per-field: value
    * bytes (element count for binaries/arrays, UTF-16 for strings, 8 for
    * primitives) + 16 B object/offset overhead, matching the fidelity of
    * the stored-block measurement it is compared against. */
  private def projectedRowBytes(row: org.apache.spark.sql.Row): Long =
    (0 until row.length).map { i =>
      row.get(i) match {
        case null => 8L
        case b: Array[Byte] => b.length + 16L
        case s: String => s.length * 2L + 16L
        case a: scala.collection.Seq[_] => a.length * 8L + 16L
        case r: org.apache.spark.sql.Row => projectedRowBytes(r) + 16L
        case _ => 8L
      }
    }.sum

  /** Join (id_a, id_b) pairs back to the signature frame for per-side
    * payload columns — the fetch half of the keys-only banding split.
    *
    * Join shape chosen from the signature frame's KNOWN cardinality (the
    * dsirWeightsWith rule — stats presence must not pick the plan):
    * broadcast while the frame is broadcast-sized, else SHUFFLE-HASH with
    * the sigs as build side. The default SortMergeJoin is the one shape
    * that cannot work at scale here: it SORTS the pairs×signature stream
    * — measured r17 at the 1000× SF, the second attach sorted a 26.7 GB
    * (pairs + sig_a) exchange and spilled past the box's disk, while the
    * hash join streams the same probe side with zero sort. */
  /** Carry out-name validation (ADVICE r19): a carry out name colliding
    * with the operators' own output/internal columns ("id" would emit a
    * second id_a/id_b; "__mb"/"__m"/"__s"/"payload" shadow the est/hamming
    * payload fetches; "est_jaccard"/"band"/"bucket" shadow outputs) yields
    * duplicate or ambiguous columns and a confusing downstream analysis
    * error — refuse up front with the actual constraint. */
  private def validateCarry(carry: Seq[(String, String)]): Unit = {
    val reserved = Set("id", "payload", "est_jaccard", "band", "bucket")
    carry.foreach { case (_, o) =>
      require(!reserved(o) && !o.startsWith("__"),
        s"carry out name '$o' collides with the operator's reserved " +
          "output/internal columns (id, payload, est_jaccard, band, " +
          "bucket, __*) — pick a different out name")
    }
    require(carry.map(_._2).distinct.size == carry.size,
      s"carry out names must be distinct: ${carry.map(_._2).mkString(", ")}")
  }

  /** `joinSigs` broadcast caps: measured projection bytes, and the row
    * count for frames with no recorded bytes. */
  private val BroadcastSigBytes: Long = 64L << 20
  private val BroadcastSigs: Long = 1L << 18

  private[ext] def joinSigs(pairs: DataFrame, sigs: DataFrame, idCol: String,
      cols: (Column, String)*): DataFrame = {
    val nSigs = materializedRows(sigs)
    // broadcast decision sized by MEASURED stored bytes when the
    // materialization recorded them (wide signatures make a row cap a bad
    // proxy: 64-hash minhash + 128-bit simhash rows near a 2^20 cap are
    // several hundred MB of hashed relation — ADVICE r17); the row cap is
    // the fallback for externally-materialized frames
    val sigBytes = materializedBytes(sigs)
    // the build side is a PRUNED projection of the stored frame — e.g.
    // 64-B minhash_bytes columns off a frame whose stored rows are
    // dominated by a never-shipped embedding/signature column — so gating
    // on the FULL stored bytes systematically refuses broadcast for tiny
    // build sides (ADVICE r18). Size the PROJECTION instead: probe ONE
    // row of it (signatures are fixed-width, so one row sizes them all;
    // ~ms against the cached frame), scale by the known cardinality, and
    // cap at the stored bytes — a projection cannot exceed its source.
    // The probe only runs when stored bytes EXCEED the cap: below it the
    // decision is broadcast either way, so small corpora pay no extra job.
    val projBytes =
      if (sigBytes < 0 || nSigs <= 0 || sigBytes <= BroadcastSigBytes) sigBytes
      else sigs.select(col(idCol) +: cols.map(_._1): _*)
        .limit(1).collect().headOption
        .map(r => math.min(sigBytes, (projectedRowBytes(r) + 24L) * nSigs))
        .getOrElse(sigBytes)
    val small =
      if (projBytes >= 0) projBytes <= BroadcastSigBytes else nSigs <= BroadcastSigs
    if (nSigs >= 0) System.err.println(
      s"[graft-lsh] joinSigs: rows=$nSigs storedBytes=$sigBytes " +
        s"projBytes=$projBytes -> " +
        (if (small) "broadcast" else "shuffle_hash"))
    def side(key: String, suffix: String) = {
      val s = sigs.select(col(idCol).as(key) +:
        cols.map { case (c, out) => c.as(s"$out$suffix") }: _*)
      if (nSigs < 0) s // unknown cardinality: leave the planner to stats
      else if (small) broadcast(s)
      else s.hint("shuffle_hash")
    }
    pairs.join(side("id_a", "_a"), "id_a").join(side("id_b", "_b"), "id_b")
  }

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  /** MinHash signature over word shingles — native one-pass expression
    * (graft.functions.MinHashSignature): tokens hashed once, shingles are
    * hash-chains (never materialized), k permutations by double hashing. */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int): Column =
    graft.functions.TextHashFunctions.minhash_signature(tokens(text), numHashes, shingleN)

  /** Estimated Jaccard from two minhash signatures — native one-pass
    * expression (the HOF formulation is interpreted per element and runs
    * once per banded candidate pair). */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    graft.functions.TextHashFunctions.minhash_jaccard(sigA, sigB)

  /** Near-duplicate pairs via MinHash LSH banding.
    *
    * numHashes = bands * rowsPerBand. A pair lands in the same bucket for a
    * band iff that band's rows all match; pairs are then verified on the
    * full signature against `threshold`.
    *
    * Output: (id_a, id_b, est_jaccard), id_a < id_b.
    *
    * CONTRACT CHANGE (r18): `est_jaccard` is the byte-folded estimate
    * ([[graft.functions.ByteJaccard]] over [[graft.functions.MinHashBytes]]
    * signatures — what the engine ships at scale), a DETERMINISTIC
    * OVERESTIMATE of the full-width slot fraction by at most
    * (1−j)/256 ≈ 0.4% absolute. Thresholding keeps every pair the
    * full-width estimate would keep (never fewer); consumers that report
    * or re-threshold on the value downstream should verify on the raw
    * signatures ([[minhashJaccard]]) if they need the full-width number.
    */
  def minhashDupPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.7, bucketCap: Int = 256): DataFrame =
    placedMinhashDupPairs(df, textCol, idCol, numHashes, bands, shingleN,
      threshold, bucketCap, driverFinish = true)

  /** [[minhashDupPairs]] with the finish chosen by the caller: `false`
    * always runs the distributed arm, `true` takes the driver finish
    * wherever [[minhashDupPairsFromSigs]] would. */
  private[graft] def placedMinhashDupPairs(df: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int, shingleN: Int,
      threshold: Double, bucketCap: Int, driverFinish: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")

    // one corpus scan + hash pass, reused by both self-join sides
    val sigs = materialize(df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, shingleN).as("sig")))
    placedMinhashDupPairsFromSigs(sigs, "id", "sig", bands, threshold,
      bucketCap, driverFinish = driverFinish)
  }

  /** Banding + verify over a pre-MATERIALIZED minhash signature frame.
    * Pipelines that run several hash families off one corpus scan (e.g.
    * simhash ∪ minhash candidates) compute all signatures in one
    * materialized select and feed each family here — the corpus is read and
    * hashed once instead of once per family. The caller owns
    * materialization; passing a lazy frame re-derives it per join side.
    *
    * `est_jaccard` is the BYTE estimator ([[graft.functions.MinHashBytes]]):
    * a ≤0.4%-absolute overestimate of the long-slot fraction, so a
    * threshold keeps every pair the full-width estimate would keep; callers
    * that need engine-independent output exact-verify downstream (all
    * entries do).
    *
    * `carry` — verify-payload columns of `sigs` to RIDE the existing
    * per-pair signature fetch (each ("col", "out") emits `out_a`/`out_b`):
    * when the caller's verify payload already lives in the signature
    * checkpoint (the entries' eager-shingle fast path), a separate
    * attach join pair would re-broadcast the same frame — two more
    * relation builds for columns the est fetch could have carried
    * (r19 JobProbe: the 4 broadcast builds were half of q22's final-stage
    * jobs). Carried columns ship with the est fetch BEFORE the est
    * filter, so only carry payloads the fetch exchange can afford —
    * callers gate on corpus size (the eager-shingle gate).
    *
    * DRIVER FINISH: when `sigs` was materialized here with at most
    * [[DriverFinishMaxDocs]] rows and the call uses no `carry`, no scale
    * ladder and no sig-identical collapse, the pairs are finished on the
    * driver ([[driverMinhashPairs]]): one collect instead of the banding
    * shuffle, the pair distinct and both signature fetches, whose fixed
    * per-stage cost is most of a small shard's dedup. The pairs, their
    * estimates, the `lshStats` record and the budget refusal are the
    * distributed arm's; the result is a local relation. */
  def minhashDupPairsFromSigs(sigs: DataFrame, idCol: String, sigCol: String,
      bands: Int, threshold: Double, bucketCap: Int = 256,
      numHashes: Int = -1, scaleGeomMinDocs: Long = 0L,
      collapseSigMinDocs: Long = defaultScaleGeomMinDocs,
      carry: Seq[(String, String)] = Nil): DataFrame =
    placedMinhashDupPairsFromSigs(sigs, idCol, sigCol, bands, threshold,
      bucketCap, numHashes, scaleGeomMinDocs, collapseSigMinDocs, carry,
      driverFinish = true)

  /** Signature rows at or under which [[minhashDupPairsFromSigs]] may
    * finish on the driver: 2^16 × 16 bands of (long key) plus 64-byte
    * estimates is a few MB of collected rows. At 65,000 documents the
    * finish still beat the distributed arm on a 4-core local[4] session
    * (2.9–3.4 s against 3.8–3.9 s for pairs plus clusters), by a margin
    * that narrows with size. */
  private val DriverFinishMaxDocs: Long = 1L << 16

  /** [[minhashDupPairsFromSigs]] with the finish chosen by the caller:
    * `false` always runs the distributed arm. */
  private[graft] def placedMinhashDupPairsFromSigs(sigs: DataFrame,
      idCol: String, sigCol: String, bands: Int, threshold: Double,
      bucketCap: Int = 256, numHashes: Int = -1, scaleGeomMinDocs: Long = 0L,
      collapseSigMinDocs: Long = defaultScaleGeomMinDocs,
      carry: Seq[(String, String)] = Nil,
      driverFinish: Boolean): DataFrame = {
    validateCarry(carry)
    lazy val nDocs: Long = {
      val m = materializedRows(sigs); if (m >= 0) m else sigs.count()
    }
    // OPT-IN corpus-adaptive geometry (numHashes + scaleGeomMinDocs > 0):
    // past the threshold the banding trades per-band recall for candidate
    // precision via the r18 scale ladder — see scaledMinhashGeometry for
    // the capture numbers. Off by default: a caller that sized its bands
    // for a LOW verify bar (q22's 32×2 at j≥0.5) must keep its capture
    // guarantee, including its documented budget refusal at corpus scale.
    val (gBands, gRows) =
      if (numHashes <= 0 || scaleGeomMinDocs <= 0L || nDocs < scaleGeomMinDocs)
        (bands, -1)
      else {
        // ladder width VALIDATION (ADVICE r18): a caller whose real
        // signature width disagrees with numHashes must keep its own
        // geometry — ladder rows computed from the wrong width could be
        // NARROWER than the caller's real rows/band, silently breaking
        // the never-narrower capture guarantee
        val width = sigLength(sigs, sigCol)
        if (width > 0 && width != numHashes) {
          System.err.println(s"[graft-lsh] minhash scale ladder DISABLED: " +
            s"numHashes=$numHashes but the signature column carries " +
            s"$width hashes — keeping the caller geometry " +
            "(never-narrower guarantee)")
          recordLshStat(LshStat("ladder-width-fallback", buckets = width,
            overflowBuckets = -1L, droppedMembers = -1L, maxBucket = -1L,
            estCandidates = -1L, geomBands = bands, geomRows = -1))
          (bands, -1)
        } else scaledMinhashGeometry(nDocs, numHashes, bands, scaleGeomMinDocs)
      }
    val collapse = collapseSigMinDocs > 0 && nDocs >= collapseSigMinDocs
    val sigRows = materializedRows(sigs)
    val finished =
      if (driverFinish && carry.isEmpty && gRows < 0 && !collapse &&
          sigRows >= 0 && sigRows <= DriverFinishMaxDocs)
        driverMinhashPairs(sigs, idCol, sigCol, bands, threshold, bucketCap)
      else None
    if (finished.isDefined) return finished.get
    // sig-identical pre-banding collapse (VERDICT r18 #4): distinct
    // signatures band, members attach to their representative directly —
    // see sigIdenticalCollapse for semantics + the star-link equivalence
    val (bandSrc, memberPairs, collapsed) =
      if (collapse)
        sigIdenticalCollapse(sigs, idCol, Seq(col(sigCol)),
          "minhash-sig-collapse")
      else (sigs, null, 0L)
    // one row per (doc, band), KEYS ONLY: bucket key = native band hash of
    // the slice; signatures are fetched per distinct pair afterwards, so
    // the banding shuffle never replicates a payload per band
    val keys =
      if (gBands == bands)
        graft.functions.TextHashFunctions.band_keys(col(sigCol), bands)
      else scaledBandKeys(col(sigCol), gBands, gRows, numHashes)
    val banded = bandSrc.select(col(idCol).as("id"),
      posexplode(keys).as(Seq("band", "bucket")))
    // banding emits exactly `gBands` rows per banded signature, so the
    // guard's cardinality is known from the materialization (minus the
    // collapsed members, whose count the collapse already measured) —
    // zero extra jobs
    val known = if (sigRows >= 0) (sigRows - collapsed) * gBands else -1L
    // the estimate travels as MinHashBytes (64 B vs the long array's
    // ~528 B) in BOTH forms — the est co-location, not the banding, is
    // what exhausted scratch at the 4th decade. Form choice mirrors
    // multiFamilyDupCandidates (see its cost-model comment).
    val mb = graft.functions.TextHashFunctions.minhash_bytes(col(sigCol))
    val (estPairs, estMeasured, bandedRows) =
      guardCandidates(banded.select("band", "bucket"), bucketCap,
        "minhash", known)
    val payloadForm = estMeasured && bandedRows > 0 &&
      estPairs > bandedRows / 2
    val carryCols = carry.map { case (c, o) => col(c) -> o }
    val carryOuts = carry.flatMap { case (_, o) => Seq(col(s"${o}_a"),
      col(s"${o}_b")) }
    val bandedPairs =
      if (!payloadForm)
        // carried columns ride the SAME per-pair fetch joins as the est
        joinSigs(cappedBucketPairIds(banded, "id", bucketCap, known,
            runGuard = false), sigs, idCol, (mb -> "__mb") +: carryCols: _*)
          .select(col("id_a") +: col("id_b") +:
            graft.functions.TextHashFunctions.byte_jaccard(
              col("__mb_a"), col("__mb_b")).as("est_jaccard") +:
            carryOuts: _*)
          .where(col("est_jaccard") >= threshold)
      else {
        val bandedP = bandSrc.select(col(idCol).as("id"), mb.as("__mb"),
          posexplode(keys).as(Seq("band", "bucket")))
        val p = cappedBucketPairs(bandedP, "id", "__mb", bucketCap, known,
            runGuard = false)
          .select(col("id_a"), col("id_b"),
            graft.functions.TextHashFunctions.byte_jaccard(
              col("payload_a"), col("payload_b")).as("est_jaccard"))
          .where(col("est_jaccard") >= threshold)
          .dropDuplicates("id_a", "id_b")
        // payload form co-locates the est with the banding, so carried
        // columns need their own fetch — the same join pair the caller's
        // separate attach would have paid, just operator-owned
        if (carry.isEmpty) p else joinSigs(p, sigs, idCol, carryCols: _*)
      }
    // member pairs are disjoint from banded pairs by construction
    // (members never band); est = 1.0 exactly — identical signatures
    if (memberPairs == null) bandedPairs
    else {
      val m0 = memberPairs
        .select(col("id_a"), col("id_b"), lit(1.0).as("est_jaccard"))
      bandedPairs.unionByName(
        if (carry.isEmpty) m0 else joinSigs(m0, sigs, idCol, carryCols: _*))
    }
  }

  /** The driver finish of [[minhashDupPairsFromSigs]]: one job collects
    * (id, band keys, [[graft.functions.MinHashBytes]]) and the driver
    * enumerates exactly the pairs `aggBucketPairs` emits — every pair of
    * a bucket within `bucketCap`, the min-id star past it, `id_a < id_b`
    * (a null id pairs with nothing, and a null id heading an oversize
    * bucket's sorted members empties its star), each pair once — scored
    * by [[graft.functions.ByteJaccard]]'s own `eval`.
    *
    * Before any pair is built, the exact post-cap candidate count from
    * the bucket sizes is recorded in `lshStats` (kind `minhash`, the
    * distributed guard's measured tier) and refused past the candidate
    * budget. A count past the driver union-find's edge bound
    * ([[driverMaxEdges]]) returns None: the caller runs the distributed
    * arm over the same checkpoint. So do ids of a non-integral type, whose
    * order this finish does not reproduce. */
  private def driverMinhashPairs(sigs: DataFrame, idCol: String,
      sigCol: String, bands: Int, threshold: Double,
      bucketCap: Int): Option[DataFrame] = {
    import scala.collection.mutable.{ArrayBuffer, LongMap}
    val spark = sigs.sparkSession
    val idType = sigs.select(col(idCol)).schema.head.dataType
    if (!Seq(LongType, IntegerType, ShortType, ByteType).contains(idType))
      return None
    val t0 = System.nanoTime()
    val rows = sigs.select(col(idCol),
      graft.functions.TextHashFunctions.band_keys(col(sigCol), bands),
      graft.functions.TextHashFunctions.minhash_bytes(col(sigCol))).collect()
    val hasId = rows.map(!_.isNullAt(0))
    val id = rows.map(r => if (r.isNullAt(0)) 0L else r.getAs[Number](0).longValue())
    val banded = rows.indices.filterNot(rows(_).isNullAt(1)).toArray
    val keys = banded.map(r => rows(r).getSeq[Long](1).toArray)
    // per band, one primitive sort finds the repeated keys; only buckets of
    // two or more members are gathered (most buckets are singletons)
    var nBuckets = 0L
    val groups = ArrayBuffer.empty[ArrayBuffer[Int]]
    (0 until bands).foreach { b =>
      val k = keys.map(_(b))
      val sorted = k.clone()
      java.util.Arrays.sort(sorted)
      val multi = LongMap.empty[ArrayBuffer[Int]]
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        nBuckets += 1
        if (j - i >= 2) multi(sorted(i)) = new ArrayBuffer[Int](j - i)
        i = j
      }
      if (multi.nonEmpty)
        k.indices.foreach(t => multi.get(k(t)).foreach(_ += banded(t)))
      groups ++= multi.values
    }
    // the measured guard tier, from the exact bucket sizes (singletons add
    // no candidates)
    val sizes = groups.map(_.size.toLong)
    val over = sizes.filter(_ > bucketCap)
    val est = sizes.iterator
      .map(m => if (m > bucketCap) m - 1 else m * (m - 1) / 2).sum
    recordLshStat(LshStat("minhash", nBuckets, over.size,
      over.iterator.map(_ - bucketCap).sum,
      if (sizes.nonEmpty) sizes.max else math.min(nBuckets, 1L), est))
    val budget = candidateBudget(spark)
    System.err.println(s"[graft-lsh] minhash driver finish: docs=${rows.length} " +
      s"buckets=$nBuckets overflow=${over.size} estCandidates=$est " +
      f"budget=$budget groupSec=${(System.nanoTime() - t0) / 1e9}%.2f")
    refuseOverBudget("minhash", est, budget)
    if (est > driverMaxEdges(spark)) return None
    val pairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    groups.foreach { ms =>
      if (ms.size <= bucketCap) {
        val ids = ms.filter(hasId).map(id)
        for (i <- ids.indices; j <- i + 1 until ids.size if ids(i) != ids(j))
          pairs += ((math.min(ids(i), ids(j)), math.max(ids(i), ids(j))))
      } else if (ms.forall(hasId)) {
        val rep = ms.iterator.map(id).min
        ms.iterator.map(id).filter(_ > rep).foreach(m => pairs += ((rep, m)))
      }
    }
    // every row of each id (an id repeated in `sigs` meets each of its
    // signatures, as the distributed arm's fetch joins do)
    val rowsOf = rows.indices.filter(hasId).groupBy(id)
    val jaccard = graft.functions.ByteJaccard(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0, BinaryType, true),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1, BinaryType, true))
    def typed(v: Long): Any = idType match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case _ => v.toByte
    }
    val out = new java.util.ArrayList[Row]()
    pairs.toSeq.sorted.foreach { case (a, b) =>
      for (ra <- rowsOf(a); rb <- rowsOf(b)) {
        val j = jaccard.eval(org.apache.spark.sql.catalyst.InternalRow(
          rows(ra).get(2), rows(rb).get(2)))
        if (j != null && j.asInstanceOf[Double] >= threshold)
          out.add(Row(typed(a), typed(b), j))
      }
    }
    Some(spark.createDataFrame(out, StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("est_jaccard", DoubleType)))))
  }

  /** Persistent LSH band index over a corpus signature frame: one row per
    * (band, bucket, id), at most `bucketCap` members per bucket (lowest
    * ids win — deterministic). This is the table an incremental pipeline
    * WRITES ONCE per corpus version (store it partitioned/bucketed by
    * band) and then joins every new batch against: ~(bands × 20 bytes) per
    * document instead of the document text, and no re-hashing of the
    * corpus per increment. The cap bounds the index's worst bucket the
    * same way banding's star-link cap does: an increment doc colliding
    * with an over-full bucket still meets that bucket's `bucketCap`
    * retained members — and has `bands` independent chances overall — so
    * pathological buckets (boilerplate shingles) degrade capture
    * gracefully instead of exploding the join. Truncation is OBSERVABLE,
    * not silent: each build records a bucket-cap report in `lshStats`
    * (buckets at cap, members dropped) and WARN-logs when any bucket
    * overflowed, so boilerplate-heavy corpora that degrade capture are
    * detectable at build time (ADVICE r8). */
  def minhashBandIndex(sigs: DataFrame, idCol: String, sigCol: String,
      bands: Int, bucketCap: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = sigs.select(col(idCol).as("id"),
      posexplode(graft.functions.TextHashFunctions.band_keys(col(sigCol), bands))
        .as(Seq("band", "bucket")))
    // ONE window pass computes both the cap rank and the pre-cap bucket
    // size; the frame materializes eagerly (it is the artifact a pipeline
    // persists per corpus version) and the truncation report reads the
    // cached blocks — no second histogram pass over the banded frame
    val byBucket = Window.partitionBy("band", "bucket")
    val mat = materialize(banded
      .withColumn("__rk", row_number().over(byBucket.orderBy(col("id"))))
      .withColumn("__n", count(lit(1)).over(byBucket))
      .where(col("__rk") <= bucketCap))
    reportCappedIndexTruncation(mat, bucketCap, "minhash-index")
    mat.select("band", "bucket", "id")
  }

  /** Near-duplicate pairs between a NEW increment and an EXISTING corpus —
    * the O(Δ)-shaped daily-batch dedup that makes a 100-TB corpus
    * maintainable. The full self-join pipeline re-reads and re-hashes the
    * whole corpus per run (O(N + Δ) at best); here the corpus appears only
    * as its band index (compact keys, built once per corpus version via
    * `minhashBandIndex`) and its signature frame (fetched per candidate).
    * Per increment the work is: hash Δ docs, explode Δ×bands keys, one
    * (band, bucket) equi-join against the index — Spark broadcasts the
    * banded increment when Δ is small, so the corpus index streams through
    * a map-side hash join with NO corpus shuffle — then an id-keyed fetch
    * of signatures for the surviving candidate pairs only.
    *
    * `incSigs`/`corpusSigs` must be materialized by the caller (same
    * contract as `minhashDupPairsFromSigs`). Geometry (`bands` over the
    * signature width) must match the index's. Output: (inc_id, corpus_id,
    * est_jaccard) with est ≥ `threshold`, one row per pair.
    */
  def incrementalMinhashDupPairs(incSigs: DataFrame, corpusIndex: DataFrame,
      corpusSigs: DataFrame, idCol: String, sigCol: String, bands: Int,
      threshold: Double, carry: Seq[(String, String)] = Nil): DataFrame = {
    val incBanded = incSigs.select(col(idCol).as("inc_id"),
      posexplode(graft.functions.TextHashFunctions.band_keys(col(sigCol), bands))
        .as(Seq("band", "bucket")))
    val cand = incBanded
      .join(corpusIndex.select(col("band"), col("bucket"),
        col("id").as("corpus_id")), Seq("band", "bucket"))
      .where(col("inc_id") =!= col("corpus_id"))
      .select("inc_id", "corpus_id").distinct()
    // carried verify-payload columns ride the two signature-fetch joins
    // (see minhashDupPairsFromSigs' carry doc) — `_a` = increment side,
    // `_b` = corpus side, matching the sig suffixes
    val a = incSigs.select(col(idCol).as("inc_id") +:
      col(sigCol).as("__sig_a") +:
      carry.map { case (c, o) => col(c).as(s"${o}_a") }: _*)
    val b = corpusSigs.select(col(idCol).as("corpus_id") +:
      col(sigCol).as("__sig_b") +:
      carry.map { case (c, o) => col(c).as(s"${o}_b") }: _*)
    // est_jaccard is the BYTE estimator — the same public contract as
    // minhashDupPairsFromSigs (r18). The two paths MUST share one
    // estimator: with the full path on byte-est and this one on the
    // full-width estimate, pairs inside the ≤0.4%-absolute overestimate
    // band at the threshold diverged between incremental and full runs
    // (ScaleInvariants q63 caught 3 such pairs at the 100× corpus on the
    // r19 fixture). Exact-verify downstream absorbs the inflation.
    cand.join(a, "inc_id").join(b, "corpus_id")
      .select(col("inc_id") +: col("corpus_id") +:
        graft.functions.TextHashFunctions.byte_jaccard(
          graft.functions.TextHashFunctions.minhash_bytes(col("__sig_a")),
          graft.functions.TextHashFunctions.minhash_bytes(col("__sig_b")))
          .as("est_jaccard") +:
        carry.flatMap { case (_, o) => Seq(col(s"${o}_a"),
          col(s"${o}_b")) }: _*)
      .where(col("est_jaccard") >= threshold)
  }

  /** [[multiFamilyDupCandidates]]' auto-switch threshold — the crossover
    * is measured, not guessed (r15 full-suite sf10): at 55k docs the two
    * arms tie (1.75 s vs 1.67 s), at 545k the 64-bit arm's n²/2¹⁶
    * candidate volume already costs 3.7× the wide arm (43.9 s vs 11.8 s) —
    * switch well before the gap opens, far above any corpus where the
    * narrow arm's smaller constant still matters. */
  val defaultWideArmMinDocs: Long = 250000L

  /** Corpus threshold where minhash banding starts trading per-band recall
    * for candidate precision (the r18 scale ladder, [[scaledMinhashGeometry]]).
    * Set from the r17 fourth-decade measurement: at 545k shared-vocab docs
    * the 16×4 geometry's background-collision mass was still cheap (11.8 s
    * whole-query), at 5.45M it admitted 123.7M est-floor candidates — a
    * 26.7 GB signature co-location exchange that grew ~quadratically with
    * the corpus. 2M sits between the measured-fine and measured-flooded
    * decades with ~3× margin on the flooded side. */
  val defaultScaleGeomMinDocs: Long = 2000000L

  /** Corpus-adaptive minhash band geometry — the minhash twin of the
    * simhash wide-arm switch. Background-similarity collisions admit a
    * pair per band with probability j^r, so candidate mass grows
    * ~quadratically with the corpus at FIXED r; growing r with the corpus
    * keeps the admitted mass near-linear (each extra row multiplies a
    * background pair's admit probability by its jaccard, ≤0.2 on the
    * measured corpora, while a true near-dup's by ≥0.8). The ladder:
    *
    *  - below `scaleMinDocs`: the caller's geometry (bit-for-bit legacy —
    *    small corpora keep their oracle);
    *  - [scaleMinDocs, 25×scaleMinDocs): 5 rows/band — with 64 hashes that
    *    is 12 bands × 5 (60 hashes banded; the estimate still uses all
    *    64). Capture per TRUE pair: 0.99998 at j=0.9, 0.9989 at 0.85,
    *    0.9915 at the 0.8 verify bar; admitted background mass shrinks
    *    ~E[j_bg]·(12/16) ≈ 5-10× per decade of headroom.
    *  - at/above 25×scaleMinDocs: 6 rows/band (10 bands × 6 with 64
    *    hashes). Capture 0.99987 at j=0.9, 0.95 at 0.8 — the 64-hash
    *    signature's honest ceiling; corpora past ~1e9 docs should raise
    *    numHashes (the signature is caller-owned) rather than climb the
    *    ladder further, which is why it stops at 6.
    *
    * Returns (bands, rowsPerBand). Never DROPS rows below the caller's
    * geometry (a caller that picked 2-row bands for a low verify bar keeps
    * its capture guarantee — and its documented budget refusal at scale). */
  def scaledMinhashGeometry(nDocs: Long, numHashes: Int, baseBands: Int,
      scaleMinDocs: Long): (Int, Int) = {
    val baseRows = math.max(1, numHashes / baseBands)
    val rows =
      if (scaleMinDocs <= 0L || nDocs < scaleMinDocs) baseRows
      else if (nDocs < 25L * scaleMinDocs) math.max(baseRows, 5)
      else math.max(baseRows, 6)
    if (rows == baseRows) (baseBands, baseRows) else (numHashes / rows, rows)
  }

  /** Band keys for a possibly geometry-scaled minhash signature: when the
    * scaled geometry uses fewer hashes than the signature carries
    * (e.g. 12×5 = 60 of 64), band over the PREFIX — the remaining hashes
    * still serve the full-signature jaccard estimate. */
  private def scaledBandKeys(sig: Column, bands: Int, rows: Int,
      numHashes: Int): Column = {
    val used = bands * rows
    val s = if (used == numHashes) sig else slice(sig, 1, used)
    graft.functions.TextHashFunctions.band_keys(s, bands)
  }

  /** Candidate pairs from BOTH hash families in ONE banding pass: minhash
    * band keys and simhash bit-slices explode together (simhash bands
    * indexed after the minhash ones, so the (band, bucket) keyspaces stay
    * disjoint), a single skew-capped self-join yields every pair colliding
    * in ANY band of either family, and the per-family prefilters apply as
    * one OR, at HALF the shuffle/window stages of running the families
    * separately and unioning.
    *
    * The hamming fast-path additionally requires the minhash estimate to
    * clear `estFloor`: on short-doc corpora simhash at small hamming admits
    * arbitrarily dissimilar pairs (measured sf0.1: all 26.4k h≤3 collisions
    * had est<0.75 and NONE survived exact verify at 0.9 — pure verify
    * load), while a true j≥0.9 pair fails est≥0.5 with probability ~1e-26
    * (Binomial(64, 0.9) below 32/64). The floor costs nothing in capture
    * and removes the quadratic-ish junk the loose family lets through.
    * `sigs` must be pre-materialized (see `minhashDupPairsFromSigs`).
    *
    * CORPUS CEILING, ROUTED AROUND: a 64-bit simhash arm's bucket keys are
    * fixed 2^(64/sBands)-value bit-slices, so past ~bucketCap·2^16 ≈ 1M
    * docs its random bucket load floods the est-floor join (measured at a
    * 6.15M-doc corpus: ~370M junk candidates, ~100 GB of spill). Like the
    * cosine family's `adaptiveNearDupBanding`, the operator now sizes its
    * own geometry instead of making callers know the ceiling: pass the
    * 128-bit `simhash128` signature (array<long>; its LOW long IS
    * `simhash64`, same seed — ExtSpec-proven) and the simhash arm bands
    *  - BELOW `wideArmMinDocs`: `sBands` slices of the low long — bit-for-
    *    bit the legacy 64-bit behavior (small corpora keep their oracle);
    *  - AT/ABOVE it (corpus count read from the materialized frame; set 0
    *    to force): 4 slices of 32 bits over the full fingerprint — bucket
    *    load n/2^32, pigeonhole-lossless for hamming ≤ 3 over 128 bits —
    *    with the hamming fast-path verified over all 128 bits.
    * A plain LONG `ssigCol` keeps the legacy fixed 64-bit arm (no count).
    * Output: distinct (id_a, id_b), id_a < id_b. */
  def multiFamilyDupCandidates(sigs: DataFrame, idCol: String,
      msigCol: String, ssigCol: String,
      mBands: Int, estThreshold: Double, maxHamming: Int,
      sBands: Int = 4, bucketCap: Int = 256, estFloor: Double = 0.5,
      wideArmMinDocs: Long = defaultWideArmMinDocs,
      numHashes: Int = 64,
      scaleGeomMinDocs: Long = defaultScaleGeomMinDocs,
      collapseSigMinDocs: Long = defaultScaleGeomMinDocs,
      carry: Seq[(String, String)] = Nil): DataFrame = {
    validateCarry(carry)
    val wideSig = sigs.schema(ssigCol).dataType.isInstanceOf[ArrayType]
    // corpus size from the materialization record when available (free);
    // a count job only for externally-materialized frames
    lazy val nDocs: Long = {
      val m = materializedRows(sigs); if (m >= 0) m else sigs.count()
    }
    val useWide = wideSig && (wideArmMinDocs <= 0L || nDocs >= wideArmMinDocs)
    // the minhash arm self-sizes the same way (the r18 scale ladder):
    // more rows per band past scaleGeomMinDocs so background-collision
    // candidate mass stays near-linear in the corpus — see
    // scaledMinhashGeometry for the capture ladder. The ladder only
    // engages after VALIDATING numHashes against the signature's actual
    // width (ADVICE r18): a mismatched width could yield ladder rows
    // NARROWER than the caller's real rows/band, silently breaking the
    // never-narrower capture guarantee — fall back to caller geometry.
    val (gBands, gRows) =
      if (scaleGeomMinDocs <= 0L || nDocs < scaleGeomMinDocs)
        (mBands, math.max(1, numHashes / mBands))
      else {
        val width = sigLength(sigs, msigCol)
        if (width > 0 && width != numHashes) {
          System.err.println(s"[graft-lsh] multiband minhash ladder " +
            s"DISABLED: numHashes=$numHashes but the signature column " +
            s"carries $width hashes — keeping the caller geometry " +
            "(never-narrower guarantee)")
          recordLshStat(LshStat("ladder-width-fallback", buckets = width,
            overflowBuckets = -1L, droppedMembers = -1L, maxBucket = -1L,
            estCandidates = -1L, geomBands = mBands, geomRows = -1))
          (mBands, math.max(1, width / mBands))
        } else scaledMinhashGeometry(nDocs, numHashes, mBands, scaleGeomMinDocs)
      }
    val geomScaled = gBands != mBands
    if (geomScaled) System.err.println(
      s"[graft-lsh] multiband minhash geometry scaled: docs=$nDocs " +
        s"${mBands}x${numHashes / mBands} -> ${gBands}x$gRows")
    val mKeys: Column =
      if (!geomScaled)
        graft.functions.TextHashFunctions.band_keys(col(msigCol), mBands)
      else scaledBandKeys(col(msigCol), gBands, gRows, numHashes)
    // the ARM DECISION is observable (VERDICT r15 #3) through DEDICATED
    // LshStat fields (VERDICT r16 #4): kind="multiband-arm", armWide = the
    // decision, armCorpusDocs = the count when the decision needed one
    // (-1 = forced or narrow-sig), armThresholdDocs = the threshold.
    // The generic banding fields stay -1: they describe bucket geometry,
    // which this record does not measure. geomBands/geomRows pin the
    // minhash geometry ladder the same way armWide pins the simhash arm.
    recordLshStat(LshStat("multiband-arm", buckets = -1L,
      overflowBuckets = -1L, droppedMembers = -1L, maxBucket = -1L,
      estCandidates = -1L, armWide = Some(useWide),
      armCorpusDocs = if (wideSig && wideArmMinDocs > 0L) nDocs else -1L,
      armThresholdDocs = wideArmMinDocs,
      geomBands = gBands, geomRows = gRows))
    if (useWide) require(maxHamming <= 3,
      "the 4x32-bit wide arm is pigeonhole-lossless only for maxHamming <= 3")
    // the 64-bit arm of a wide signature reads its low long (== simhash64)
    val s64: Column = if (wideSig) element_at(col(ssigCol), 1) else col(ssigCol)
    val sKeyCols: Seq[Column] =
      if (useWide) (0 until 4).map { b =>
        val word = element_at(col(ssigCol), b / 2 + 1)
        shiftright(word, (b % 2) * 32).bitwiseAND((1L << 32) - 1)
      }
      else {
        require(64 % sBands == 0, "sBands must divide 64")
        val width = 64 / sBands
        val mask = if (width == 64) -1L else (1L << width) - 1
        (0 until sBands).map(b => shiftright(s64, b * width).bitwiseAND(mask))
      }
    // sig-identical pre-banding collapse (VERDICT r18 #4) — grouped on
    // BOTH family signatures, so a member is interchangeable with its
    // representative in every band of either family
    val (bandSrc, memberPairs, collapsed) =
      if (collapseSigMinDocs > 0 && nDocs >= collapseSigMinDocs)
        sigIdenticalCollapse(sigs, idCol, Seq(col(msigCol), col(ssigCol)),
          "multiband-sig-collapse")
      else (sigs, null, 0L)
    val banded = bandSrc.select(col(idCol).as("id"),
      posexplode(concat(mKeys, array(sKeyCols: _*)))
        .as(Seq("band", "bucket")))
    val ham =
      if (useWide) hamming128(col("__s_a"), col("__s_b"))
      else if (wideSig) hamming(element_at(col("__s_a"), 1), element_at(col("__s_b"), 1))
      else hamming(col("__s_a"), col("__s_b"))
    val totalBands = gBands + (if (useWide) 4 else sBands)
    val known = {
      val m = materializedRows(sigs)
      if (m >= 0) (m - collapsed) * totalBands else -1L
    }
    // FORM choice, decided by the same stats pass the budget guard runs
    // (VERDICT r16 #3's sf100 measurement found this): keys-banding
    // shuffles ~30 B/row and materializes one row per candidate pair —
    // optimal while candidates are few relative to banded rows; past that
    // the per-pair payload co-location dominates, so band WITH the
    // payloads instead and let the est/hamming floor evaluate INSIDE the
    // bucket-join stage (junk dies without a second exchange).
    //
    // The estimate payload travels as MinHashBytes in BOTH forms — the
    // r18 sf100 finding: geometry cannot thin this corpus's collision
    // mass (143M candidates at 5.45M docs are high-prefix-agreement
    // pairs, only ~0.75× per extra band row), so the per-candidate BYTES
    // are the lever. 64 B + the wide simhash vs ~528 B of long-array
    // signature; byte-est is a ≤0.4%-absolute overestimate (see
    // MinHashBytes), so floors keep every pair the full estimate keeps
    // and the exact verify downstream absorbs the inflation.
    //
    // Cost model for the switch: keys-form pays ~(16 B + 2×payload) per
    // CANDIDATE in the fetch exchange; payload-form pays ~payload per
    // BANDED row. Crossover at est ≈ banded/2.
    val (estPairs, estMeasured, bandedRows) =
      guardCandidates(banded.select("band", "bucket"), bucketCap,
        "multiband", known)
    val payloadForm = estMeasured && bandedRows > 0 &&
      estPairs > bandedRows / 2
    if (payloadForm) System.err.println(
      s"[graft-lsh] multiband banding FORM=payload: estCandidates=$estPairs" +
        s" >> bandedRows=$bandedRows — est floor moves inside the bucket join")
    val mb = graft.functions.TextHashFunctions.minhash_bytes(col(msigCol))
    def estOf(a: Column, b: Column) =
      graft.functions.TextHashFunctions.byte_jaccard(a, b)
    val carryCols = carry.map { case (c, o) => col(c) -> o }
    val carryOuts = carry.flatMap { case (_, o) => Seq(col(s"${o}_a"),
      col(s"${o}_b")) }
    val outCols = col("id_a") +: col("id_b") +: carryOuts
    val bandedPairs =
      if (!payloadForm)
        // carried columns ride the SAME per-pair fetch joins as the
        // est/hamming payloads (see minhashDupPairsFromSigs' carry doc)
        joinSigs(cappedBucketPairIds(banded, "id", bucketCap, known,
            runGuard = false), sigs, idCol,
            (mb -> "__m") +: (col(ssigCol) -> "__s") +: carryCols: _*)
          .withColumn("__est", estOf(col("__m_a"), col("__m_b")))
          .where(col("__est") >= estThreshold ||
            (ham <= maxHamming && col("__est") >= estFloor))
          .select(outCols: _*)
      else {
        val bandedP = bandSrc.select(col(idCol).as("id"),
          struct(mb.as("m"), col(ssigCol).as("s")).as("__pl"),
          posexplode(concat(mKeys, array(sKeyCols: _*)))
            .as(Seq("band", "bucket")))
        val p = cappedBucketPairs(bandedP, "id", "__pl", bucketCap, known,
            runGuard = false)
          .withColumn("__s_a", col("payload_a.s"))
          .withColumn("__s_b", col("payload_b.s"))
          .withColumn("__est", estOf(col("payload_a.m"), col("payload_b.m")))
          .where(col("__est") >= estThreshold ||
            (ham <= maxHamming && col("__est") >= estFloor))
          .select("id_a", "id_b").distinct()
        if (carry.isEmpty) p
        else joinSigs(p, sigs, idCol, carryCols: _*).select(outCols: _*)
      }
    // member pairs: disjoint from banded pairs (members never band);
    // identical signatures pass every per-family prefilter by definition
    if (memberPairs == null) bandedPairs
    else bandedPairs.unionByName(
      if (carry.isEmpty) memberPairs.select("id_a", "id_b")
      else joinSigs(memberPairs.select("id_a", "id_b"), sigs, idCol,
        carryCols: _*).select(outCols: _*))
  }

  /** Connected-component-free dedup decision: drop any doc that pairs with a
    * smaller-id near-duplicate. Returns the surviving ids. */
  def minhashSurvivors(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.7, bucketCap: Int = 256): DataFrame = {
    val dups = minhashDupPairs(df, textCol, idCol, numHashes, bands, shingleN,
        threshold, bucketCap)
      .select(col("id_b").as("drop_id")).distinct()
    df.join(dups, df(idCol) === dups("drop_id"), "left_anti")
  }

  // -------------------------------------------------------------------------
  // n-gram Jaccard (exact)
  // -------------------------------------------------------------------------

  /** Exact Jaccard similarity over word n-gram shingle sets for all pairs of
    * a (pre-filtered, small) candidate set. Quadratic BY DESIGN and
    * runtime-guarded: refuses past `spark.graft.ngram.pairBudget` exact
    * pairs (see [[DefaultNgramPairBudget]]) instead of silently emitting an
    * m² shuffle; every execution is recorded in [[lshStats]]. The shingle
    * frame is materialized once so both cross-join sides read cached
    * signature blocks instead of re-shingling the corpus. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val n = guardQuadraticPairs(df, "ngram-jaccard-exact", ordered = false)
    val sh = materializeIfBig(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")), n)
    val l = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.crossJoin(r).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.TextHashFunctions.set_jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Directed n-gram CONTAINMENT pairs: `|sh(a) ∩ sh(b)| / |sh(a)|` ≥
    * threshold, emitted per ordered pair (a contained-in b). Symmetric
    * Jaccard misses the quote/forward/superset shape — a short doc fully
    * embedded in a long one scores `|a|/|b|` Jaccard (tiny) but
    * containment 1.0. Quadratic like [[ngramJaccardPairs]] and guarded the
    * same way (`spark.graft.ngram.pairBudget`, recorded in [[lshStats]]);
    * at corpus scale use [[ngramContainmentPairsBanded]] (inverted-index
    * candidate generation, identical results up to the documented df-cap)
    * or feed externally-generated candidates to
    * [[ngramContainmentPairsFromCandidates]]. */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val n = guardQuadraticPairs(df, "ngram-containment-exact", ordered = true)
    val sh = materializeIfBig(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")), n)
    val l = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.crossJoin(r).where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(col("sh_a"))).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Exact containment scoring over a SUPPLIED candidate-pair frame
    * (`id_a` = the possibly-contained fragment, `id_b` = the container):
    * joins each side back to a once-materialized shingle frame, computes
    * `|sh(a) ∩ sh(b)| / |sh(a)|` exactly, and keeps pairs ≥ `threshold`.
    * Work is O(|candidates|), never O(m²) — this is the verification half
    * of [[ngramContainmentPairsBanded]], public so LSH-derived or
    * externally-mined candidates can reuse it. */
  def ngramContainmentPairsFromCandidates(df: DataFrame, candidates: DataFrame,
      textCol: String, idCol: String, shingleN: Int,
      threshold: Double): DataFrame = {
    val sh = materialize(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")))
    containmentOnPairs(sh, candidates, threshold)
  }

  private def containmentOnPairs(sh: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame =
    candidates.select("id_a", "id_b").distinct()
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(col("sh_a"))).as("containment"))
      .where(col("containment") >= threshold)

  /** Banded directed-containment pairs: the scale path for the
    * quote/forward/superset dedup shape, replacing [[ngramContainmentPairs]]'s
    * m² cross join with an inverted-index join where EACH WORD-SHINGLE IS
    * ITS OWN BAND KEY (the "band the fragment's shingles" plan the exact
    * helper's scaladoc promises). Shape:
    *
    *  1. shingle postings `(shingle, id, |sh(id)|)` — one explode, shuffled
    *     on the shingle key only (strings, no arrays move);
    *  2. shingle document frequencies via map-side-combined groupBy;
    *     shingles with `df > dfCap` (boilerplate n-grams — license lines,
    *     navigation chrome) are EXCLUDED from candidate generation, so any
    *     one join key matches ≤ dfCap² row pairs — per-key work is bounded
    *     by a constant, independent of corpus size;
    *  3. self-join surviving postings on the shingle → per ordered pair the
    *     exact uncapped-intersection size `c`;
    *  4. sound candidate cut: exact `|sh_a ∩ sh_b| ≤ c + capped(a)` (a's
    *     capped shingles could ALL hit), so keeping
    *     `c + capped(a) ≥ threshold·|sh(a)|` NEVER drops a pair that
    *     brute-force would emit — provided the pair shares ≥1 uncapped
    *     shingle. The documented capture loss is therefore PER PAIR: a
    *     pair whose ENTIRE overlap consists of df-capped shingles is never
    *     generated, even when the fragment also has uncapped (unshared)
    *     shingles — such an overlap is wall-to-wall boilerplate by
    *     definition, and a qualifying one additionally requires
    *     `capped(a) ≥ threshold·|sh(a)|` (a mostly-boilerplate fragment).
    *     The cap pressure is observable in the [[lshStats]] record
    *     (`droppedMembers` = capped posting rows, `overflowBuckets` =
    *     capped shingles): a high capped share on a low-threshold run is
    *     the signal to raise `dfCap`.
    *  5. exact verification of candidates against the materialized shingle
    *     frame ([[ngramContainmentPairsFromCandidates]]) — false positives
    *     cannot survive, so the result equals brute force whenever every
    *     qualifying pair shares ≥1 uncapped shingle (q78b proves equality
    *     on the planted corpus).
    *
    * 100×: postings shuffle linearly in corpus shingle volume; the df-cap
    * bounds every join key; candidate volume ≤ docs · avgShingles · dfCap.
    * No cross join anywhere (plan-gated by PlanQualitySpec's no-cartesian
    * check on q78b). */
  def ngramContainmentPairsBanded(df: DataFrame, textCol: String,
      idCol: String, shingleN: Int, threshold: Double,
      dfCap: Int = 256): DataFrame = {
    val sh = materialize(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")))
    val post = sh.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val dfreq = post.groupBy("s").agg(count(lit(1)).as("df"))
    // one cheap agg for the observability record (mirrors bandedStats):
    // kept shingles, capped shingles, capped posting volume, hottest
    // shingle, and the post-cap candidate-pair bound Σ df·(df-1)
    val st = dfreq.agg(
      coalesce(sum(when(col("df") <= dfCap, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("df") > dfCap, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("df") > dfCap, col("df")).otherwise(0L)), lit(0L)),
      coalesce(max(col("df")), lit(0L)),
      coalesce(sum(when(col("df") <= dfCap, col("df") * (col("df") - 1))
        .otherwise(0L)), lit(0L))).head()
    recordLshStat(LshStat("ngram-containment-banded", st.getLong(0),
      st.getLong(1), st.getLong(2), st.getLong(3), st.getLong(4)))
    val withDf = post.join(dfreq, Seq("s"))
    val kept = withDf.where(col("df") <= dfCap)
    // per-fragment count of df-capped shingles — the slack term of the
    // sound candidate cut (missing = 0 capped shingles)
    val cappedPerDoc = withDf.where(col("df") > dfCap)
      .groupBy(col("id").as("id_a")).agg(count(lit(1)).as("__capped"))
    val fr = kept.select(col("s"), col("id").as("id_a"), col("n").as("n_a"))
    val co = kept.select(col("s"), col("id").as("id_b"))
    val cands = fr.join(co, Seq("s")).where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "n_a").agg(count(lit(1)).as("__c"))
      .join(cappedPerDoc, Seq("id_a"), "left")
      .where(col("__c") + coalesce(col("__capped"), lit(0L)) >=
        lit(threshold) * col("n_a"))
      .select("id_a", "id_b")
    containmentOnPairs(sh, cands, threshold)
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 64-bit SimHash over tokens: bit b is set iff the sum over tokens of
    * ±1 (per token-hash bit b) is positive. Packed into a long.
    * One pass over tokens: per-token hash folded into 64 bit-sums via an
    * array accumulator, then packed (bit positions are compile-time ints,
    * so the whole thing stays a codegen'd expression). */
  def simhash(text: Column): Column =
    graft.functions.TextHashFunctions.simhash64(array_distinct(tokens(text)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 128-bit SimHash (array<long> of 2) — the wide fingerprint for corpora
    * past the 64-bit family's banding ceiling (see `simhashDupPairsFromSigs`
    * scaladoc): 4 bands of 32 bits keep pigeonhole capture for hamming ≤ 3
    * with a 2^32 bucket keyspace per band. */
  def simhash128(text: Column): Column =
    graft.functions.TextHashFunctions.simhash128(array_distinct(tokens(text)))

  /** Hamming distance between two 128-bit signatures (array<long> of 2). */
  def hamming128(a: Column, b: Column): Column =
    bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
      bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2)))

  /** SimHash near-dup pairs: candidates share one of `bands` equal-width
    * bit-bands of the 64-bit signature, then verified by Hamming distance
    * <= maxHamming. Pigeonhole: banding is LOSSLESS for pairs with
    * hamming <= bands - 1 (some band must be untouched), so choose
    * bands > maxHamming when exact capture at the threshold matters —
    * BUT the guarantee only holds while every (band, bucket) group stays
    * under `bucketCap`: the skew-cap star fallback drops member↔member
    * pairs of oversize buckets. Each band's bucket keyspace is
    * 2^(64/bands) values, so corpora beyond ~bucketCap · 2^(64/bands) docs
    * trip the cap on random data alone. With bands=16 that is ~4k docs
    * (16 bucket values/band); prefer few wide bands (bands=4 → 65k values)
    * and a low maxHamming, or raise bucketCap knowingly.
    *
    * CORPUS-SIZE GUARD: above `wideArmMinDocs` documents (corpus size from
    * parquet footers when the plan allows — no counting job — else one
    * columnless count) the fixed 2^(64/bands) keyspace floods on random
    * load alone (measured: ~370M junk candidates, ~100 GB of spill at a
    * 6.15M-doc corpus), so the call AUTO-ROUTES to `simhash128DupPairs`
    * (4×32-bit banding, bucket load n/2^32) instead of silently building
    * the pathological plan — same auto-switch `multiFamilyDupCandidates`
    * performs. The wide arm needs maxHamming ≤ 3 (pigeonhole); a larger
    * maxHamming on a too-large corpus fails fast with guidance rather
    * than flooding. Set `wideArmMinDocs = Long.MaxValue` to pin the
    * legacy 64-bit arm knowingly. */
  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bucketCap: Int = 256, bands: Int = 4,
      wideArmMinDocs: Long = 1000000L): DataFrame = {
    val n =
      if (wideArmMinDocs <= 0L) Long.MaxValue // force the wide arm
      else if (wideArmMinDocs == Long.MaxValue) 0L // pinned legacy: skip count
      else graft.sources.ParquetFooters.scanRows(df).filter(_.exact)
        .map(_.total).getOrElse(df.count())
    if (n >= wideArmMinDocs) {
      if (maxHamming > 3)
        throw new IllegalArgumentException(
          s"simhashDupPairs: corpus has $n docs (>= wideArmMinDocs=" +
            s"$wideArmMinDocs) — the 64-bit banding keyspace floods at this " +
            "size and the 128-bit wide arm is pigeonhole-lossless only for " +
            s"maxHamming <= 3 (got $maxHamming). Lower maxHamming, or pin " +
            "the 64-bit arm with wideArmMinDocs = Long.MaxValue if you " +
            "accept the candidate flood.")
      System.err.println(s"[graft-lsh] simhashDupPairs: $n docs >= " +
        s"$wideArmMinDocs — routing to the 128-bit wide arm (4x32-bit " +
        "banding); pin wideArmMinDocs = Long.MaxValue to force 64-bit")
      simhash128DupPairs(df, textCol, idCol, maxHamming, bucketCap)
    } else {
      // one corpus scan + hash pass, reused by both self-join sides
      val sigs = materialize(
        df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")))
      simhashDupPairsFromSigs(sigs, "id", "sig", maxHamming, bucketCap, bands)
    }
  }

  /** Banding + Hamming verify over a pre-MATERIALIZED simhash frame — see
    * `minhashDupPairsFromSigs` for when to use the FromSigs form. */
  /** SCALE CEILING: bucket keys are fingerprint bit-slices, so the
    * keyspace is fixed at 2^(64/bands) per band — random bucket load is
    * n/2^16 at the 4-band default, crossing `bucketCap` (star-link
    * degradation, same failure mode the cosine family's adaptive banding
    * fixed) at n ≈ cap·2^16 ≈ 16.7M docs. The pigeonhole guarantee needs
    * bands > maxHamming, so bands can't grow at fixed width: past that
    * corpus size the scale fix is a WIDER fingerprint (128-bit simhash →
    * 4 bands of 32 bits, load n/2^32), not more bands of this one. */
  def simhashDupPairsFromSigs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, bucketCap: Int = 256, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = sigs.select(col(idCol).as("id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col(sigCol), b * width).bitwiseAND(mask)): _*))
        .as(Seq("band", "bucket")))
    // keys-only banding; signatures fetched per distinct pair for the
    // hamming verify (see cappedBucketPairIds)
    val known = { val m = materializedRows(sigs); if (m >= 0) m * bands else -1L }
    joinSigs(cappedBucketPairIds(banded, "id", bucketCap, known), sigs, idCol,
        col(sigCol) -> "__sig")
      .select(col("id_a"), col("id_b"),
        hamming(col("__sig_a"), col("__sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 128-bit SimHash near-dup pairs: 4 bands of 32 bits (pigeonhole-
    * lossless for hamming ≤ 3), keys-only banding, exact hamming verify.
    * The wide-fingerprint successor to `simhashDupPairs` for corpora past
    * its ~16.7M-doc ceiling: random bucket load is n/2^32 per band, so the
    * skew cap only ever engages on genuinely duplicated fingerprints
    * (which the star-link handles), never on random load. */
  def simhash128DupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bucketCap: Int = 256): DataFrame = {
    val sigs = materialize(
      df.select(col(idCol).as("id"), simhash128(col(textCol)).as("sig")))
    simhash128DupPairsFromSigs(sigs, "id", "sig", maxHamming, bucketCap)
  }

  /** Banding + hamming verify over a pre-materialized 128-bit frame.
    * maxHamming is capped at 3: with 4 bands the pigeonhole guarantee
    * (some band untouched) needs bands > maxHamming — at 4+ flipped bits
    * the banding would silently return a SUBSET (recall < 1). */
  def simhash128DupPairsFromSigs(sigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3, bucketCap: Int = 256): DataFrame = {
    require(maxHamming <= 3,
      "4x32-bit banding is pigeonhole-lossless only for maxHamming <= 3; " +
        "recall would silently drop at maxHamming >= 4")
    val mask = (1L << 32) - 1
    val banded = sigs.select(col(idCol).as("id"),
      posexplode(array((0 until 4).map { b =>
        val word = element_at(col(sigCol), b / 2 + 1)
        shiftright(word, (b % 2) * 32).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bucket")))
    val known = { val m = materializedRows(sigs); if (m >= 0) m * 4 else -1L }
    joinSigs(cappedBucketPairIds(banded, "id", bucketCap, known), sigs, idCol,
        col(sigCol) -> "__sig")
      .select(col("id_a"), col("id_b"),
        hamming128(col("__sig_a"), col("__sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------------
  // duplicate clustering (connected components over a pair frame)
  // -------------------------------------------------------------------------

  /** Group a duplicate-PAIR frame (`id_a`, `id_b` — the output shape of
    * every `*DupPairs` operator here) into duplicate CLUSTERS: the
    * connected components of the undirected pair graph, labeled by each
    * component's minimum id. `minhashSurvivors`' greedy drop-the-larger-id
    * rule keeps a doc whose only link is to an already-dropped doc;
    * cluster-then-keep-one is the transitive-closure-correct decision a
    * curation pipeline needs ("keep ONE doc per duplicate set").
    *
    * Algorithm: distributed min-label propagation — every node repeatedly
    * takes the min of its own label and its neighbors' (one shuffle join +
    * one `groupBy(id).min` per round), converging in DIAMETER rounds.
    * Near-dup graphs are star/clique-shaped (LSH buckets star-link via
    * `cappedBucketPairIds`, so a bucket's diameter is ≤ 2), making the
    * practical round count 2–5 even at corpus scale; the O(log n)
    * large-star/small-star scheme only pays on adversarial long chains.
    * Each round `materialize`s the label frame (lineage truncation — the
    * round-k plan must not replay rounds 1..k-1) and convergence is read
    * from a checksum aggregate (labels only decrease, so the label sum is
    * strictly monotone until the fixed point) instead of a change-count
    * join. Shuffle volume per round is O(|E|) longs — payload-free.
    *
    * SMALL pair graphs (count from the materialized pair frame at or
    * under `spark.graft.cc.driverMaxEdges`, default 1M ≈ 16 MB of longs)
    * take a driver union-find fast path instead — one bounded collect
    * replaces diameter+1 rounds of fixed job cost (r19; the same
    * bounded-pull class as the ANN centroid fetches). Min-id-root unions
    * reproduce the propagation labels exactly (spec-pinned, chains
    * included) and the fast path converges for any diameter. A local
    * pair frame (`isLocal`, as the minhash driver finish returns) within
    * that bound goes straight to the union-find: no checkpoint, no job.
    *
    * Returns (`id`, `cluster`) for every id that appears in a pair;
    * unpaired corpus ids are their own singleton clusters and are not
    * emitted (join back with a left join + coalesce to label a corpus).
    * Throws after `maxIter` non-converged rounds rather than returning a
    * partially-propagated (silently wrong) labeling. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val directed = pairs.select(col("id_a").cast(LongType).as("src"),
      col("id_b").cast(LongType).as("dst"))
    // SMALL pair graphs (`spark.graft.cc.driverMaxEdges`, default 1M ≈
    // 16 MB of longs — the bounded-driver-pull class the centroid fetches
    // already sit in): a driver union-find labels components in one
    // collect instead of diameter+1 rounds of (materialize + checksum) —
    // at bench SFs those fixed per-round jobs WERE the query (r19: q71
    // spent ~0.8 s on ~8 jobs for a 3-round graph). Min-id roots keep the
    // iterative path's labels exactly (spec-pinned equal, chains incl.).
    // A local pair frame (the minhash driver finish) is already on the
    // driver: its collect runs no Spark job and needs no checkpoint.
    if (pairs.isLocal) {
      val es = directed.collect().distinct
      if (es.length <= driverMaxEdges(spark)) return unionFindLabels(spark, es)
    }
    val (dedupedPairs, nPairs) = materializeCounted(directed.distinct())
    if (nPairs <= driverMaxEdges(spark)) {
      val es = dedupedPairs.collect()
      releaseMaterialized(dedupedPairs)
      return unionFindLabels(spark, es)
    }
    // large path: undirect the CHECKPOINTED directed pairs (the pair plan
    // ran exactly once, into the checkpoint — the old two-branch union
    // evaluated the candidate pipeline twice) and release the directed
    // frame once the undirected edge frame is materialized
    val edges = materialize(
      dedupedPairs.union(dedupedPairs.select(col("dst").as("src"),
        col("src").as("dst"))).distinct())
    releaseMaterialized(dedupedPairs)
    def checksum(labels: DataFrame): (Long, java.math.BigDecimal) = {
      val r = labels.agg(count(lit(1)), sum(col("label").cast(DecimalType(38, 0))))
        .head()
      (r.getLong(0), r.getDecimal(1))
    }
    var labels = materialize(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var prev = checksum(labels)
    var iter = 0
    while (iter < maxIter) {
      val next = materialize(
        edges.join(labels.hint("shuffle_hash"),
            edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"))
          .union(labels)
          .groupBy("id").agg(min("label").as("label")))
      val cur = checksum(next)
      labels = next
      if (cur == prev) return labels.select(col("id"), col("label").as("cluster"))
      prev = cur
      iter += 1
    }
    throw new IllegalStateException(
      s"dupClusters did not converge within $maxIter rounds — the pair " +
        "graph has a path longer than maxIter; raise maxIter (rounds " +
        "needed = graph diameter) or pre-split the input")
  }

  /** `spark.graft.cc.driverMaxEdges`: the pair count up to which
    * [[dupClusters]] labels on the driver, and past which the minhash
    * driver finish hands its candidates to the distributed arm. */
  private def driverMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.driverMaxEdges").map(_.toLong)
      .getOrElse(1000000L)

  /** Union-find over (src, dst) long edges: (`id`, `cluster`) for every
    * endpoint, labelled by its component's min id (min-id roots), as a
    * local relation. */
  private def unionFindLabels(spark: SparkSession, es: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nx = parent.getOrDefault(c, c); parent.put(c, r); c = nx
      }
      r
    }
    es.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min-id root: labels match the iterative path
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val ids = es.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
      .toArray.distinct
    import spark.implicits._
    ids.map(i => (i, find(i))).toSeq.toDF("id", "cluster")
  }

  // -------------------------------------------------------------------------
  // passage-level exact substring dedup (duplicated k-token spans)
  // -------------------------------------------------------------------------

  /** Case-SENSITIVE whitespace tokens for passage dedup. [[tokens]]
    * lowercases because fuzzy near-dup matching wants case folding;
    * exact-substring dedup is byte-faithful, so passages keep case. */
  private def exactTokens(text: Column): Column =
    graft.functions.TextHashFunctions.split_ws(trim(text))

  /** Maximal duplicated token spans — the passage-level exact-substring
    * dedup shape (word-level variant of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every `k`-token window
    * whose exact content occurs in ≥ `minDf` DISTINCT documents is
    * "duplicated"; per document, runs of consecutive duplicated window
    * starts merge into maximal `[span_start, span_end)` token ranges
    * (0-based, end-exclusive — a single duplicated window yields
    * `span_end - span_start = k`).
    *
    * Scale shape (what survives 100 TB): by default each window is
    * identified by its 64-bit token-hash chain (native
    * [[graft.functions.WordWindowHashes]] — tokens byte-hashed once, no
    * gram strings ever built), so the corpus-wide frequency count
    * shuffles (id, pos, 8-byte key) rows instead of k-token gram strings
    * (~k× corpus bytes). Two window-keyed shuffles (df count + the hits
    * join-back, the [[graft.ext.TextAnalysis.stripBoilerplate]] shape)
    * plus one doc-keyed shuffle for the island merge; nothing quadratic,
    * no budget guard needed. `exactGrams = true` shuffles the literal
    * gram strings instead — collision-free and replayable by any engine
    * (the DuckDB oracle runs this mode); the spec pins both modes to
    * identical spans on the fixture corpus.
    *
    * Tokenization is case-sensitive `split("\\s+")` of `trim(text)` —
    * exact-substring dedup is byte-faithful (unlike the case-folded
    * near-dup family). Documents under `k` tokens have no windows.
    *
    * Output: (`idCol`, `span_start`, `span_end`, `n_windows`), one row
    * per maximal duplicated span. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Int = 2, exactGrams: Boolean = false): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2: $minDf")
    val wins = windowFrame(df, idCol, textCol, k, exactGrams)
    // The window subtree (scan + tokenize + window-hash, the dominant cost)
    // is evaluated ONCE: the corpus-frequency count rides the SAME branch
    // as the hit positions instead of a second evaluation under a separate
    // df-count subtree (AQE stage reuse cannot rescue the two-branch shape
    // — column pruning specializes each branch's projection below its
    // exchange, de-canonicalizing them; measured, not assumed). One __w
    // shuffle, one (w, id, pos) sort; the df count is sum(first-occurrence
    // flag) over the __w partition, and the second window pass reuses the
    // first's sort order (its partition key is a prefix).
    import org.apache.spark.sql.expressions.Window
    val byWid = Window.partitionBy("__w", "__id").orderBy("__pos")
    val byW = Window.partitionBy("__w")
    val hits = wins.repartition(col("__w"))
      .withColumn("__first",
        when(row_number().over(byWid) === 1, 1L).otherwise(0L))
      .withColumn("__df", sum(col("__first")).over(byW))
      .where(col("__df") >= minDf)
      .select(col("__id"), col("__pos"))
    mergeWindowSpans(hits, k, idCol)
  }

  /** Positional k-token window frame `(__id, __pos, __w)`: `__pos` is the
    * 0-based window start, `__w` identifies the window content — literal
    * gram string (`exactGrams`) or the 64-bit token-hash chain
    * ([[graft.functions.WordWindowHashes]], the scale key). Shared by
    * [[duplicatedSpans]] (corpus-frequency keys) and
    * [[Decontaminate.contaminatedSpans]] (benchmark-membership keys). */
  private[ext] def windowFrame(df: DataFrame, idCol: String, textCol: String,
      k: Int, exactGrams: Boolean): DataFrame = {
    require(k >= 2, s"window size k must be >= 2: $k")
    val toks = df.select(col(idCol).as("__id"), exactTokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k)
    // posexplode index = 0-based window start position
    if (exactGrams)
      toks.select(col("__id"),
        posexplode(transform(sequence(lit(0), size(col("__t")) - k),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(k)))))
          .as(Seq("__pos", "__w")))
    else
      toks.select(col("__id"),
        posexplode(graft.functions.TextHashFunctions
          .word_window_hashes(col("__t"), k)).as(Seq("__pos", "__w")))
  }

  /** Gaps-and-islands merge of matched window starts `(__id, __pos)` into
    * maximal `[span_start, span_end)` token ranges (one doc-keyed window
    * pass + aggregation). */
  private[ext] def mergeWindowSpans(hits: DataFrame, k: Int,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("__id").orderBy("__pos")
    hits.withColumn("__g", col("__pos") - row_number().over(byDoc))
      .groupBy(col("__id"), col("__g"))
      .agg(min("__pos").cast(LongType).as("span_start"),
        (max("__pos") + k).cast(LongType).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Rebuild documents with the given `[span_start, span_end)` token
    * ranges removed (a `spans` frame shaped like [[duplicatedSpans]]'
    * output). Split out from [[stripDuplicatedSpans]] so removal POLICY
    * composes: to keep one occurrence of each passage (the Lee et al.
    * policy) filter the span frame down to non-keeper documents first,
    * then strip. Spans per document are few (collect_list is bounded by
    * spans-per-doc, not corpus size); the token filter is one O(tokens ×
    * spans_per_doc) map. Output text is whitespace-normalized (tokens
    * re-joined with single spaces); `n_removed` counts removed tokens.
    * Documents with no spans pass through (re-joined) with
    * `n_removed = 0`. */
  def stripSpans(df: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spanArr = spans.groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = df.select(col(idCol), exactTokens(col(textCol)).as("__t"))
    toks.join(spanArr, toks(idCol) === spanArr("__sid"), "left")
      .select(col(idCol), col("__t"),
        coalesce(col("__spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("__sp"))
      // ONE O(tokens × spans) membership pass: n_removed derives from the
      // kept array's size (Catalyst does not CSE higher-order lambdas, so
      // a second negated filter would pay the whole scan again)
      .select(col(idCol), col("__t"),
        filter(col("__t"), (tok, i) =>
          !exists(col("__sp"), s =>
            i.cast(LongType) >= s.getField("span_start") &&
              i.cast(LongType) < s.getField("span_end"))).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_clean"),
        (size(col("__t")) - size(col("__kept"))).cast(LongType)
          .as("n_removed"))
  }

  /** [[duplicatedSpans]] + [[stripSpans]]: every occurrence of every
    * duplicated `k`-token passage removed corpus-wide (the
    * boilerplate-strip policy; compose [[stripSpans]] with a filtered
    * span frame for keep-one-occurrence semantics). */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Int = 2, exactGrams: Boolean = false): DataFrame =
    stripSpans(df, duplicatedSpans(df, idCol, textCol, k, minDf, exactGrams),
      idCol, textCol)
}
