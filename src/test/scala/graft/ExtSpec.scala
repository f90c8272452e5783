package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Pipeline-extension operators: dedup recall/precision on planted
  * duplicates, ANN LSH recall vs the exact baseline, text analysis. */
class ExtSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs =
    graft.sources.TableLoader.load(spark, "/root/testdata/sf0.01", "documents")

  private lazy val emb =
    graft.sources.TableLoader.load(spark, "/root/testdata/sf0.01", "embeddings")

  test("minhash LSH finds the exact-jaccard near-dup pairs (recall on planted dups)") {
    // ground truth: exact n-gram jaccard >= 0.7 over all pairs
    val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleN = 3,
      threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-duplicates")

    val found = Dedup.minhashDupPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} true pairs")
  }

  test("minhash survivors drop one side of each dup pair") {
    val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect()
    val survivors = Dedup.minhashSurvivors(docs, "text", "doc_id", threshold = 0.5)
    val ids = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    pairs.foreach { p =>
      assert(!ids.contains(p.getAs[Long]("id_b")), "larger id of a dup pair must be dropped")
    }
    assert(survivors.count() == docs.count() - pairs.map(_.getAs[Long]("id_b")).distinct.length)
  }

  test("byte estimator dominates the long-slot estimate (floor-capture safety)") {
    // minhash_bytes keeps the low byte per slot: equal slots stay equal,
    // unequal slots coincide w.p. 1/256 — so byte_jaccard >= minhash_jaccard
    // per PAIR, which is what makes est floors capture-safe after the
    // byte-compact co-location switch
    val rnd = new scala.util.Random(7)
    val sigs = Seq.tabulate(200) { i =>
      val base = Array.fill(64)(rnd.nextLong())
      (i.toLong, base.toSeq)
    }.toDF("id", "sig")
    val l = sigs.select(col("id").as("ia"), col("sig").as("sa"))
    val r = sigs.select(col("id").as("ib"), col("sig").as("sb"))
    val viol = l.crossJoin(r).where(col("ia") < col("ib"))
      .select(
        graft.functions.TextHashFunctions.byte_jaccard(
          graft.functions.TextHashFunctions.minhash_bytes(col("sa")),
          graft.functions.TextHashFunctions.minhash_bytes(col("sb"))).as("be"),
        graft.functions.TextHashFunctions.minhash_jaccard(
          col("sa"), col("sb")).as("le"))
      .where(col("be") < col("le")).count()
    assert(viol == 0L)
  }

  test("minhash geometry ladder: step thresholds + never-narrower rule") {
    // the r18 scale ladder (VERDICT r17 #1): 16×4 below the threshold,
    // 12×5 to 25× it, 10×6 past that — and a caller whose base geometry
    // already has MORE rows per band keeps it (rows only ever grow)
    val t = Dedup.defaultScaleGeomMinDocs
    assert(Dedup.scaledMinhashGeometry(t - 1, 64, 16, t) == ((16, 4)))
    assert(Dedup.scaledMinhashGeometry(t, 64, 16, t) == ((12, 5)))
    assert(Dedup.scaledMinhashGeometry(25 * t - 1, 64, 16, t) == ((12, 5)))
    assert(Dedup.scaledMinhashGeometry(25 * t, 64, 16, t) == ((10, 6)))
    assert(Dedup.scaledMinhashGeometry(1000 * t, 64, 16, t) == ((10, 6)))
    // 8×8 base: 8 rows/band already exceeds every ladder step
    assert(Dedup.scaledMinhashGeometry(1000 * t, 64, 8, t) == ((8, 8)))
    // disabled (scaleMinDocs = 0) → caller geometry verbatim
    assert(Dedup.scaledMinhashGeometry(1000 * t, 64, 16, 0L) == ((16, 4)))
  }

  test("geometry-scaled banding: exact-verified pairs match legacy; decision observable") {
    // force the 12×5 step on the fixture corpus: the CANDIDATE set may
    // legitimately differ (that is the point — fewer background
    // collisions), but after exact verification at the 0.8 bar the output
    // must be the same pairs the legacy 16×4 geometry yields (capture at
    // the bar ≥0.9915 per pair, deterministic for a fixed corpus+seed)
    val frame = Dedup.materialize(docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
        .as("sig"),
      Dedup.simhash128(col("text")).as("ssig")))
    val shf = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    def verified(cand: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.attachPairPayloadsAuto(cand.select("id_a", "id_b"), frame, shf,
          "id", "sh", "id_a", "id_b")
        .where(graft.functions.TextHashFunctions.set_jaccard(
          col("sh_a"), col("sh_b")) >= 0.8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // pure minhash family (q96's path) — scaleGeomMinDocs=1 puts the 500-doc
    // corpus past 25× the threshold: the TOP (10×6) step is exercised here
    val legacy = verified(Dedup.minhashDupPairsFromSigs(
      frame, "id", "sig", bands = 16, threshold = 0.65))
    val scaled = verified(Dedup.minhashDupPairsFromSigs(
      frame, "id", "sig", bands = 16, threshold = 0.65,
      numHashes = 64, scaleGeomMinDocs = 1L))
    assert(legacy.nonEmpty && scaled == legacy,
      s"legacy=${legacy.size} scaled=${scaled.size} " +
        s"missed=${(legacy -- scaled).size} extra=${(scaled -- legacy).size}")

    // multi-family operator: forced MIDDLE (12×5) step — 500 docs lands in
    // [400, 25×400) — plus the LshStat geometry pin
    val mfScaled = verified(Dedup.multiFamilyDupCandidates(frame, "id",
      "sig", "ssig", mBands = 16, estThreshold = 0.65, maxHamming = 3,
      scaleGeomMinDocs = 400L))
    val stScaled = Dedup.lshStats.reverse.find(_.kind == "multiband-arm").get
    assert(stScaled.geomBands == 12 && stScaled.geomRows == 5,
      s"forced ladder not recorded: $stScaled")
    val mfLegacy = verified(Dedup.multiFamilyDupCandidates(frame, "id",
      "sig", "ssig", mBands = 16, estThreshold = 0.65, maxHamming = 3))
    val stLegacy = Dedup.lshStats.reverse.find(_.kind == "multiband-arm").get
    assert(stLegacy.geomBands == 16 && stLegacy.geomRows == 4,
      s"sub-threshold corpus must keep the caller geometry: $stLegacy")
    assert(mfScaled == mfLegacy,
      s"missed=${(mfLegacy -- mfScaled).size} extra=${(mfScaled -- mfLegacy).size}")
  }

  test("bucket skew cap: 10k identical docs dedup without an m² task") {
    // 10k copies of one doc → every band bucket holds all 10k rows; without
    // the cap that is 16 bands × 50M pairs in single tasks. With the cap the
    // oversize buckets star-link to the min id: O(m) pairs, seconds not hours.
    val clones = spark.range(0, 10000).toDF("doc_id")
      .withColumn("text", lit("the same boilerplate sentence repeated in every document of this corpus"))
    val pairs = Dedup.minhashDupPairs(clones, "text", "doc_id",
      numHashes = 64, bands = 16, shingleN = 3, threshold = 0.7, bucketCap = 64)
    // star topology: every doc pairs with the representative (id 0)
    assert(pairs.count() == 9999L)
    val survivors = Dedup.minhashSurvivors(clones, "text", "doc_id",
      threshold = 0.7, bucketCap = 64)
    assert(survivors.count() == 1L)

    val sPairs = Dedup.simhashDupPairs(clones, "text", "doc_id",
      maxHamming = 3, bucketCap = 64)
    assert(sPairs.count() == 9999L)
  }

  test("agg-pairs fast path == window path (keys + payload forms, star cap)") {
    // r19: below spark.graft.lsh.aggPairsMaxBandedRows the bucket pair
    // enumeration runs from ONE collect_list aggregation instead of the
    // window+self-join shape. Exactness pin on a corpus that exercises
    // BOTH branches: small buckets (all-pairs) and an oversize cluster
    // (star-link at bucketCap=16), on both the keys form and the payload
    // form (candidateBudget forced into the measured tier so payloadForm
    // engages), against the window path (fast path disabled via conf).
    // Both runs are pinned to the distributed arm: at 300 documents the
    // default call would finish on the driver and skip both sub-arms.
    val texts = (0 until 300).map { i =>
      if (i < 60) s"shared boilerplate header number ${i / 3} repeated for the cluster body tail"
      else if (i < 200) "one giant oversize cluster every document identical beyond the cap"
      else s"unique document $i with its own words ${i * 7} and ${i * 13} trailing"
    }
    val corpus = texts.zipWithIndex.toDF("text", "i")
      .select(col("i").cast("long").as("doc_id"), col("text"))
    def run(aggRows: String, budget: String): Set[(Long, Long)] = {
      spark.conf.set("spark.graft.lsh.aggPairsMaxBandedRows", aggRows)
      spark.conf.set("spark.graft.lsh.candidateBudget", budget)
      try Dedup.placedMinhashDupPairs(corpus, "text", "doc_id", numHashes = 64,
          bands = 16, shingleN = 3, threshold = 0.5, bucketCap = 16,
          driverFinish = false)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally {
        spark.conf.unset("spark.graft.lsh.aggPairsMaxBandedRows")
        spark.conf.unset("spark.graft.lsh.candidateBudget")
      }
    }
    // keys form (histogram skipped at the default budget)
    val aggKeys = run("2000000", "2000000000")
    val winKeys = run("0", "2000000000")
    assert(aggKeys == winKeys,
      s"keys form diverged: agg-only=${(aggKeys -- winKeys).size} " +
        s"win-only=${(winKeys -- aggKeys).size}")
    // payload form: a tight (but sufficient) budget forces the measured
    // tier (4800 banded rows -> ubound 38400 > 20000); the 140-doc star
    // cluster puts est (~3.2k) past bandedRows/2 = 2400, flipping the form
    val aggPl = run("2000000", "20000")
    assert(Dedup.lshStats.reverse.exists(s =>
      s.kind == "minhash" && s.estCandidates > 2400),
      "payload toggle did not reach the measured tier / form switch")
    val winPl = run("0", "20000")
    assert(aggPl == winPl,
      s"payload form diverged: agg-only=${(aggPl -- winPl).size} " +
        s"win-only=${(winPl -- aggPl).size}")
    assert(aggKeys == aggPl, "form switch must not change the pair set")
    assert(aggKeys.nonEmpty)
  }

  test("bucket skew cap: constant embeddings near-dup without pair blowup") {
    val vec = (0 until 16).map(_ => 0.5f).toArray
    val clones = spark.range(0, 5000).toDF("id")
      .withColumn("emb", typedLit(vec))
    val pairs = Similarity.cosineNearDupPairs(clones, "id", "emb",
      dim = 16, threshold = 0.9, bucketCap = 64)
    assert(pairs.count() == 4999L) // star against the representative
  }

  test("q28 banding stays under the skew cap at sf0.1 (no star fallback on real data)") {
    // the q28 entry's exact oracle relies on banding capture; the star
    // fallback would silently drop member↔member pairs, so the bench-scale
    // corpus must keep every (band, bucket) group under the operator's
    // default bucketCap at its default banding — this is the assertion that
    // the benched plan IS the scale plan. Corpus and config come from the
    // SAME places the entry uses (SparkEntry.q28PlantedUnion + the
    // Similarity.NearDup* defaults), so a config change re-points this gate.
    val all = SparkEntry.q28PlantedUnion(spark, "/root/testdata/sf0.1")
    val nBits = Similarity.NearDupBands * Similarity.NearDupRowsPerBand
    val banded = all.select(
      posexplode(graft.functions.TextHashFunctions.band_keys(
        Similarity.lshSignature($"embedding", Similarity.NearDupSeed, nBits, 64),
        Similarity.NearDupBands))
        .as(Seq("band", "bucket")))
    val maxBucket = banded.groupBy("band", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket <= Similarity.NearDupBucketCap,
      s"largest (band,bucket) group is $maxBucket > bucketCap=" +
        s"${Similarity.NearDupBucketCap} — star fallback would fire")
  }

  test("multi-family candidates: one banding pass verifies to the same pairs as the two-pipeline union") {
    import org.apache.spark.sql.DataFrame
    val frame = docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3).as("msig"),
      Dedup.simhash(col("text")).as("ssig"),
      Dedup.shingles(col("text"), 3).as("sh"))
      .localCheckpoint(true)
    def verified(cand: DataFrame): Set[(Long, Long)] = cand
      .join(frame.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(frame.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .where(col("j") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = verified(Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3, sBands = 4))
    val separate = verified(
      Dedup.minhashDupPairsFromSigs(frame, "id", "msig", bands = 16, threshold = 0.75)
        .select("id_a", "id_b")
        .union(Dedup.simhashDupPairsFromSigs(frame, "id", "ssig",
          maxHamming = 3, bands = 4).select("id_a", "id_b"))
        .distinct())
    assert(multi.nonEmpty, "fixture should contain verified near-dup pairs")
    // the combined pass (incl. the est floor on the hamming arm) must not
    // change what survives exact verification — the floor only drops pairs
    // that cannot verify at 0.9
    assert(multi == separate)
  }

  test("multiband payload form (candidates >> banded rows) emits exactly " +
      "the keys-form pairs") {
    import spark.implicits._
    // 20 groups of 60 identical docs: candidate mass (20·C(60,2)·20 bands
    // ≈ 708k) dwarfs the banded volume (24k rows) — the r17 sf100 shape.
    // A budget below the closed-form bound (24k·128 ≈ 3.07M) but above
    // the measured estimate forces the stats pass without a refusal, so
    // the payload form engages; the default budget keeps the keys form.
    val rows = (0 until 1200).map { i =>
      (i.toLong, (0 until 30).map(j => s"tok${i % 20}w$j").mkString(" "))
    }
    val frame = rows.toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
          .as("msig"),
        Dedup.simhash128(col("text")).as("ssig"))
      .localCheckpoint(true)
    def pairs(): Set[(Long, Long)] =
      Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
          mBands = 16, estThreshold = 0.75, maxHamming = 3,
          wideArmMinDocs = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keysForm = pairs()
    spark.conf.set("spark.graft.lsh.candidateBudget", "1000000")
    val payloadForm =
      try pairs() finally spark.conf.unset("spark.graft.lsh.candidateBudget")
    assert(keysForm.nonEmpty && payloadForm == keysForm,
      s"keys=${keysForm.size} payload=${payloadForm.size}")
    // the guard's measured tier ran and recorded the multiband estimate
    assert(Dedup.lshStats.exists(s => s.kind == "multiband" &&
      s.estCandidates > 0L))
  }

  test("multi-family arm decision is recorded in lshStats (the q94 pin)") {
    val frame = docs.where(col("doc_id") < 101)
      .select(col("doc_id").as("id"),
        Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3).as("msig"),
        Dedup.simhash128(col("text")).as("ssig"))
      .localCheckpoint(true)
    def lastArm(): Dedup.LshStat =
      Dedup.lshStats.reverse.find(_.kind == "multiband-arm").get
    // sub-threshold corpus under the DEFAULT threshold → narrow, with the
    // counted corpus and the threshold both visible in the DEDICATED arm
    // fields (VERDICT r16 #4); the generic banding fields stay unmeasured
    Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3)
    val narrow = lastArm()
    assert(narrow.armWide.contains(false) && narrow.armCorpusDocs > 0L &&
      narrow.armCorpusDocs < Dedup.defaultWideArmMinDocs &&
      narrow.armThresholdDocs == Dedup.defaultWideArmMinDocs &&
      narrow.buckets == -1L && narrow.estCandidates == -1L, narrow.toString)
    // past the threshold → wide
    Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3, wideArmMinDocs = 10L)
    val wide = lastArm()
    assert(wide.armWide.contains(true) && wide.armCorpusDocs >= 10L,
      wide.toString)
    // forced wide (0) records without paying a count (-1)
    Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3, wideArmMinDocs = 0L)
    val forced = lastArm()
    assert(forced.armWide.contains(true) && forced.armCorpusDocs == -1L &&
      forced.armThresholdDocs == 0L, forced.toString)
  }

  test("multi-family wide arm: engages past the doc threshold, same verified pairs as the hand-composed union") {
    import org.apache.spark.sql.DataFrame
    // the frame q23/q59 build: wide (128-bit) simhash signature
    val frame = docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3).as("msig"),
      Dedup.simhash128(col("text")).as("ssig"),
      Dedup.shingles(col("text"), 3).as("sh"))
      .localCheckpoint(true)
    def verified(cand: DataFrame): Set[(Long, Long)] = cand
      .join(frame.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(frame.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .where(col("j") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // below the threshold the operator bands the LOW long — the legacy
    // 64-bit geometry (16-bit slices, mask 65535) must appear in the plan
    val low = Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3,
      wideArmMinDocs = 1000000L)
    assert(low.queryExecution.analyzed.toString.contains("65535") &&
      !low.queryExecution.analyzed.toString.contains("4294967295"),
      "sub-threshold corpus must band the legacy 16-bit slices of the low long")

    // past the threshold (forced here via a tiny wideArmMinDocs, and via 0)
    // the 4×32-bit slices of the full fingerprint band instead
    val wide = Dedup.multiFamilyDupCandidates(frame, "id", "msig", "ssig",
      mBands = 16, estThreshold = 0.75, maxHamming = 3, wideArmMinDocs = 100L)
    assert(wide.queryExecution.analyzed.toString.contains("4294967295"),
      "past the doc threshold the wide 32-bit-slice arm must engage")

    // verified output equals the hand-composed union the scaladoc used to
    // prescribe: minhash pairs ∪ (simhash128 hamming pairs ∩ est floor)
    val est = Dedup.minhashJaccard _
    val handComposed =
      Dedup.minhashDupPairsFromSigs(frame, "id", "msig", bands = 16, threshold = 0.75)
        .select("id_a", "id_b")
        .union(Dedup.simhash128DupPairsFromSigs(frame, "id", "ssig", maxHamming = 3)
          .join(frame.select(col("id").as("id_a"), col("msig").as("__m_a")), "id_a")
          .join(frame.select(col("id").as("id_b"), col("msig").as("__m_b")), "id_b")
          .where(est(col("__m_a"), col("__m_b")) >= 0.5)
          .select("id_a", "id_b"))
        .distinct()
    val multiSet = verified(wide)
    assert(multiSet.nonEmpty, "fixture should contain verified near-dup pairs")
    assert(multiSet == verified(handComposed))
    // and the arms agree after verification (the low arm's oracle parity)
    assert(multiSet == verified(low))
  }

  test("simhash128 banding refuses maxHamming >= 4 (pigeonhole guarantee bound)") {
    val frame = docs.limit(10).select(col("doc_id").as("id"),
      Dedup.simhash128(col("text")).as("sig")).localCheckpoint(true)
    val e = intercept[IllegalArgumentException](
      Dedup.simhash128DupPairsFromSigs(frame, "id", "sig", maxHamming = 4))
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("materialize modes agree: persist(MEMORY_AND_DISK) matches localCheckpoint") {
    // cluster-safe mode for preemptible executors: same pair set, and the
    // persisted frame keeps its lineage (recompute instead of query failure)
    val defaultPairs = Dedup.minhashDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.materialize.storage", "persist")
    try {
      val persistedPairs = Dedup.minhashDupPairs(docs, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(persistedPairs == defaultPairs)
    } finally {
      spark.conf.unset("spark.graft.materialize.storage")
      spark.catalog.clearCache() // documented cleanup for the persist mode
    }
  }

  test("IVF sample sizing reads parquet footers — no Spark job, no corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footers").toString
    spark.range(0, 12345).toDF("id").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select($"id") // projected scan: fast path
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    import graft.sources.ParquetFooters
    try {
      assert(ParquetFooters.scanRows(df).contains(
        ParquetFooters.ScanRows(12345L, exact = true)))
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(jobs == 0, s"footer row count must not run a Spark job (ran $jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a filter only removes rows: the footer total is then an upper bound,
    // never an exact count (a filtered count from footers would be WRONG)
    assert(ParquetFooters.scanRows(df.where($"id" < 10)).contains(
      ParquetFooters.ScanRows(12345L, exact = false)))
    // any other row-reshaping plan refuses the footer path
    assert(ParquetFooters.scanRows(df.groupBy($"id" % 3).count()).isEmpty)
    assert(ParquetFooters.scanRows(df.limit(5)).isEmpty)
  }

  test("IVF centroid build: direct path == distributed path on a parquet corpus") {
    // the small-corpus direct path (one collect, driver-side seeds + Lloyd)
    // must reproduce the distributed build bit-for-bit: same first-k-by-id
    // seeds, same rows in the same order through the same local step
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    (0 until 600).map { i =>
      val rnd = new scala.util.Random(i * 31L + 5)
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def build(): (Seq[Seq[Double]], Int) = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      val before = jobs
      val c = Similarity.buildIvfCentroids(corpus, "vec_id", "embedding",
        nClusters = 8)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      (c.map(_.toSeq).toSeq, jobs - before)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (direct, directJobs) = build()
      spark.conf.set("spark.graft.ivf.directBuildMaxRows", "0")
      val (distributed, distributedJobs) =
        try build() finally spark.conf.unset("spark.graft.ivf.directBuildMaxRows")
      assert(direct.size == 8 && direct == distributed)
      // the default build really took the direct path (fewer jobs)
      assert(directJobs < distributedJobs,
        s"direct=$directJobs distributed=$distributedJobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("simhash hamming: identical docs → distance 0") {
    val d = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDupPairs(d, "text", "doc_id", maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("LSH ANN recall vs exact brute force") {
    val qs = emb.where($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(qs, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(qs, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, dim = 64, bands = 32, rowsPerBand = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall (bands=32,r=2)") // random vectors: modest recall OK
  }

  test("IVF ANN: high recall on clustered vectors, touches only probed clusters") {
    // synthetic clustered corpus: 8 well-separated centers, 40 points each
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, 16)(rnd.nextGaussian() * 10)
    val rows = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.where($"vec_id" < 16)

    val exact = Similarity.bruteForceTopK(qs, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(qs, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 5, nClusters = 8, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // 0.95 bound (raised from 0.9 with the multi-iteration Lloyd build):
    // on well-separated clusters the settled centroids must recover nearly
    // all true neighbors at nProbe=2
    assert(recall >= 0.95, s"IVF recall $recall on clustered data")
  }

  test("leakFreeSplit demotes held-out near-dups of train docs") {
    import graft.ext.{Curation, TextAnalysis}
    val out = Curation.leakFreeSplit(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(out.size == docs.count())
    // brute-force ground truth over the fixture (bounded corpus — fine in
    // a test): cross-split exact-Jaccard pairs decide the demotion set
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lab = docs.select(col("doc_id"),
        TextAnalysis.splitLabel(col("doc_id")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectDemoted = pairs.flatMap { case (a, b) =>
      (lab(a) == "train", lab(b) == "train") match {
        case (true, false) => Some(b)
        case (false, true) => Some(a)
        case _ => None
      }
    }.toSet
    assert(expectDemoted.nonEmpty, "fixture should produce demotions")
    assert(out.filter(_._2._2).keySet == expectDemoted)
    out.foreach { case (id, (split, demoted)) =>
      val expected = if (expectDemoted(id)) "train" else lab(id)
      assert(split == expected && demoted == expectDemoted(id),
        s"doc $id: ($split,$demoted) vs ($expected,${expectDemoted(id)})")
    }
  }

  test("driver-side Lloyd assignment == nearest_centroids expression") {
    // the two centroid-refinement venues share one assignment rule
    // (NearestCentroids companion); this pins the expression against the
    // helper so neither can drift without failing here
    val rnd = new scala.util.Random(5)
    val cents = Array.fill(6, 8)(rnd.nextGaussian())
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val exprAssign = vecs.toDF("id", "v")
      .select(col("id"), element_at(
        graft.functions.VectorFunctions.nearest_centroids(col("v"), cents, 1),
        1).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val normed = graft.functions.NearestCentroids.normalize(cents)
    vecs.foreach { case (id, v) =>
      val helper = graft.functions.NearestCentroids.bestCentroid(
        v.map(_.toDouble).toArray, normed)
      assert(exprAssign(id) == helper, s"vec $id: ${exprAssign(id)} vs $helper")
    }
  }

  test("nearest_centroids: p == 0 returns an empty array, not AIOOBE") {
    // probe bounded to min(probe, k): a zero-probe request (or an empty
    // centroid matrix) must return [] like the old sort-based path — the
    // bounded top-p selection indexed topScore(-1) here (ADVICE r17)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
      .select(
        graft.functions.VectorFunctions.nearest_centroids(col("v"), cents, 0)
          .as("z"),
        graft.functions.VectorFunctions.nearest_centroids(col("v"),
          Array.empty[Array[Double]], 3).as("e"))
      .head()
    assert(out.getSeq[Int](0).isEmpty && out.getSeq[Int](1).isEmpty)
  }

  test("knnJoin: exhaustive mode == brute-force graph; recall + budget guard") {
    // exhaustive (nProbe = nClusters) must equal brute force regardless of
    // centroid placement — the q85 oracle property, checked here on the
    // fixture embeddings with self-joined brute force as truth
    val corpus = emb.where($"vec_id" < 150).select($"vec_id", $"embedding")
    def graph(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graph(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 4))
    val exhaustive = graph(Similarity.knnJoin(corpus, "vec_id", "embedding",
      k = 4, nClusters = 8, nProbe = 8))
    assert(exact.nonEmpty && exhaustive == exact,
      s"missed=${(exact -- exhaustive).size} extra=${(exhaustive -- exact).size}")

    // recall trade on clustered vectors at nProbe << nClusters
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8, 16)(rnd.nextGaussian() * 10)
    val clustered = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val truth = graph(Similarity.bruteForceTopK(clustered, "vec_id",
      "embedding", clustered, "vec_id", "embedding", k = 5))
    val approx = graph(Similarity.knnJoin(clustered, "vec_id", "embedding",
      k = 5, nClusters = 8, nProbe = 2))
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.95, s"knnJoin recall $recall on clustered data")

    // the volume guard must refuse pathological geometry with guidance
    val e = intercept[IllegalStateException] {
      Similarity.knnJoin(corpus, "vec_id", "embedding", k = 4,
        nClusters = 2, nProbe = 2, maxPairBudget = 100L)
    }
    assert(e.getMessage.contains("increase nClusters"), e.getMessage)
  }

  test("unicode normalization: NFC composes, NFKC folds, control strip") {
    val d = Seq(
      (1L, "cafe\u0301"),           // decomposed: e + combining acute
      (2L, "\uFB01le \uFF21"),      // fi-ligature + fullwidth A
      (3L, "a\u0001bc\td\n\u009f") // C0 + C1 controls; tab/newline kept
    ).toDF("id", "t")
    def run(form: String, strip: Boolean) = d.select(col("id"),
        TextAnalysis.normalizeText(col("t"), form, strip).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nfc = run("NFC", strip = false)
    assert(nfc(1L) == "caf\u00e9", nfc(1L))       // composed e-acute
    assert(nfc(2L) == "\uFB01le \uFF21")          // NFC keeps compat chars
    val nfkc = run("NFKC", strip = false)
    assert(nfkc(2L) == "file A", nfkc(2L))        // ligature + width folded
    val stripped = run("NFC", strip = true)
    assert(stripped(3L) == "abc\td\n", stripped(3L))
    // unknown form is a type-check error, not a runtime surprise
    val e = intercept[Exception] {
      d.select(TextAnalysis.normalizeText(col("t"), "NOPE")).collect()
    }
    assert(e.getMessage.contains("NOPE") ||
      Option(e.getCause).exists(_.getMessage.contains("NOPE")), e.getMessage)
  }

  test("blocklist stats count repeats; filter composes strict and ratio policies") {
    val d = Seq(
      (1L, "clean text only"),
      (2L, "bad BAD good"),        // case-folded: 2 hits of 3 tokens
      (3L, "bad"),                 // ratio 1.0
      (4L, "")                     // empty: n_blocked 0, ratio 0
    ).toDF("doc_id", "text")
      .union(Seq(5L).toDF("doc_id") // null text behaves like empty text
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    val s = TextAnalysis.blocklistStats(col("text"), Seq("bad"))
    val rows = d.select(col("doc_id"), s.getField("n_blocked").as("n"),
        s.getField("blocked_ratio").as("r"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(rows == Map(1L -> (0L, 0.0), 2L -> (2L, 2.0 / 3), 3L -> (1L, 1.0),
      4L -> (0L, 0.0), 5L -> (0L, 0.0)), rows.toString)
    val strict = TextAnalysis.blocklistFilter(d, "text", Seq("bad"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L, 4L, 5L))
    val lenient = TextAnalysis.blocklistFilter(d, "text", Seq("bad"),
        maxBlocked = 10L, maxRatio = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lenient == Set(1L, 2L, 4L, 5L))
  }

  test("blocklist entries are case-folded like the tokens (ADVICE r10)") {
    val d = Seq((1L, "bad Bad BAD good")).toDF("doc_id", "text")
    // a mixed-case blocklist entry must match the lowercased tokens
    // instead of silently matching nothing
    val n = d.select(TextAnalysis.blocklistStats(col("text"), Seq("BaD"))
        .getField("n_blocked")).head().getLong(0)
    assert(n == 3L, s"mixed-case entry matched $n of 3 'bad' tokens")
  }

  test("language ID classifies constructed en/es/zh text") {
    // NOTE: the fixture's `lang` column is a synthetic label — its "zh"
    // docs contain English word-salad — so the heuristic is tested on
    // real-language snippets instead.
    val d = Seq(
      (1L, "the cat sat on the mat and the dog is part of the story"),
      (2L, "el perro corre por la calle y la casa de los vecinos es una maravilla"),
      (3L, "这是一个中文句子，里面有很多汉字用来测试语言检测功能。"),
      (4L, "zzz qqq xxx"),
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.languageId($"text").as("lid"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "zh", 4L -> "und"))
  }

  test("quality score is in [0,1] and penalizes junk") {
    val d = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the river bank today. " * 5),
      (2L, "x"),
    ).toDF("doc_id", "text")
    val scores = d.select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(1L) > scores(2L))
  }

  test("text-hash expressions: generated code compiles and matches interpreted eval") {
    // CODEGEN_ONLY + fallback=false make a broken doGenCode throw instead of
    // silently reverting to nullSafeEval; NO_CODEGEN is the interpreted
    // reference the generated code must agree with byte-for-byte.
    import graft.functions.TextHashFunctions._
    import org.apache.spark.sql.expressions.Window
    val base = docs.limit(200)
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .select(col("doc_id"),
        minhash_signature(col("toks"), 64, 3).as("sig"),
        simhash64(col("toks")).as("sh"))
      .withColumn("bk", band_keys(col("sig"), 16))
      .withColumn("prev", lag("sig", 1).over(Window.orderBy("doc_id")))
      .withColumn("jac", when(col("prev").isNotNull,
        minhash_jaccard(col("sig"), col("prev"))).otherwise(lit(-1.0)))
      .drop("prev")

    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try base.orderBy("doc_id").collect().toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    val gen = run("CODEGEN_ONLY")
    val interp = run("NO_CODEGEN")
    assert(gen.nonEmpty && gen == interp)
  }

  test("native split_ws/word_shingles/set_jaccard match the builtin formulations") {
    import graft.functions.TextHashFunctions._
    // edge zoo: empty, all-whitespace, leading/trailing tabs and newlines
    // (trim() only strips spaces!), runs of mixed whitespace, fewer tokens
    // than the shingle width, duplicate shingles, non-ASCII text
    val texts = Seq(
      "", " ", "\t", "a", "a b", "a  b\tc", "\ta b c d", "a b c d\n",
      "x y x y x y x y", "ONE Two  three\r\nfour", "héllo wörld düp düp düp",
      "ab", "  lots   of \t space  ", "w1 w2 w3 w1 w2 w3 w1 w2 w3")
    val df = texts.toDF("text")
      .withColumn("t_old", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("t_new", split_ws(lower(trim(col("text")))))
    assert(df.where(not(col("t_old") === col("t_new"))).count() == 0,
      df.select("text", "t_old", "t_new").collect().mkString("\n"))

    // old HOF shingle formulation, verbatim from the pre-native Dedup.shingles
    def oldShingles(t: org.apache.spark.sql.Column, n: Int) =
      array_distinct(
        when(size(t) < n, array(concat_ws(" ", t)))
          .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
            i => concat_ws(" ", slice(t, i, lit(n))))))
    val sh = df
      .withColumn("sh_old", oldShingles(col("t_old"), 3))
      .withColumn("sh_new", word_shingles(col("t_new"), 3))
    assert(sh.where(not(col("sh_old") === col("sh_new"))).count() == 0,
      sh.select("text", "sh_old", "sh_new").collect().mkString("\n"))

    // set_jaccard vs intersect/union over every pair of the zoo's shingle sets
    val l = sh.select(col("sh_new").as("a"))
    val r = sh.select(col("sh_new").as("b"))
    val pairs = l.crossJoin(r)
      .withColumn("j_old", size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))))
      .withColumn("j_new", set_jaccard(col("a"), col("b")))
    assert(pairs.where(not(col("j_old") === col("j_new"))).count() == 0)

    // and the three must agree between codegen'd and interpreted eval
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try sh.select("t_new", "sh_new").collect().toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("simhash128: banding EQUALS brute-force hamming pairs (pigeonhole-lossless)") {
    // 4 bands of 32 bits with maxHamming=3: any pair at hamming <= 3 leaves
    // >= 1 band untouched, so banded candidates + exact verify must equal
    // the all-pairs hamming result EXACTLY (not a recall bound)
    val sigs = docs.select(col("doc_id").as("id"),
      Dedup.simhash128(col("text")).as("sig")).localCheckpoint(true)
    val l = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val r = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val brute = l.crossJoin(r).where(col("id_a") < col("id_b"))
      .where(Dedup.hamming128(col("sig_a"), col("sig_b")) <= 3)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val banded = Dedup.simhash128DupPairs(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain hamming<=3 pairs")
    assert(banded == brute)
  }

  test("simhash128 low long is exactly simhash64 (same seed-42 bit assignment)") {
    val mismatches = docs.select(
      Dedup.simhash(col("text")).as("s64"),
      element_at(Dedup.simhash128(col("text")), 1).as("lo"))
      .where(col("s64") =!= col("lo")).count()
    assert(mismatches == 0L)
    // and codegen'd eval agrees with interpreted eval
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try docs.select(Dedup.simhash128(col("text"))).collect().toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("simhash128 clones: skew cap star-links without pair blowup") {
    val clones = spark.range(0, 5000).toDF("id")
      .withColumn("text", lit("all these documents share one identical text body"))
    val pairs = Dedup.simhash128DupPairs(clones, "text", "id",
      maxHamming = 3, bucketCap = 64)
    assert(pairs.count() == 4999L) // star against the representative
  }

  test("adaptive near-dup banding: oracle identity at fixture scale, bounded load + capture at 100x") {
    // fixture scale must resolve to EXACTLY the oracle-proven 16x8 geometry
    assert(Similarity.adaptiveNearDupBanding(5125, 0.9) ==
      (Similarity.NearDupBands, Similarity.NearDupRowsPerBand))
    // at 100x corpus the bucket keyspace must grow with the corpus (the
    // fixed-keyspace collapse: 500k docs / 2^8 buckets = ~2k/bucket, all
    // star-linked) while holding the 99% capture target at the threshold
    val n = 512500L
    val (b, r) = Similarity.adaptiveNearDupBanding(n, 0.9)
    assert(r > Similarity.NearDupRowsPerBand, s"rows/band must widen, got $r")
    val load = n.toDouble / (1L << r)
    assert(load <= 2.0 * Similarity.TargetBucketLoad,
      s"expected random bucket load $load exceeds target")
    val p = 1.0 - math.acos(0.9) / math.Pi
    val capture = 1.0 - math.pow(1.0 - math.pow(p, r), b)
    assert(capture >= 0.99, s"capture $capture below target at ($b, $r)")
    // band count grows monotonically with corpus size (the n^rho law)
    val b10x = Similarity.adaptiveNearDupBanding(10 * n, 0.9)._1
    assert(b10x >= b)
  }

  test("hot-path expressions stay off CodegenFallback (per-row interpreted dispatch)") {
    // CodegenFallback expressions still sit inside WholeStageCodegen spans —
    // the plan string can't catch a regression to interpreted dispatch, so
    // pin it at the class level: every expression on the dedup/ANN hot paths
    // must implement real doGenCode.
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val hot = Seq(
      classOf[MinHashSignature], classOf[SimHash64], classOf[SimHash128],
      classOf[SignatureBandKeys],
      classOf[MinHashJaccard], classOf[WhitespaceSplit], classOf[WordShingles],
      classOf[SetJaccard], classOf[CosineSimilarity], classOf[HyperplaneSignBits],
      classOf[PackBits], classOf[AlphanumericSortKey])
    val fallen = hot.filter(classOf[CodegenFallback].isAssignableFrom(_))
    assert(fallen.isEmpty,
      s"hot-path expressions regressed to CodegenFallback: ${fallen.map(_.getSimpleName)}")
    // codegen/interpreted agreement for the sort key (the others are pinned
    // by the dedicated generated-code test above)
    val in = Seq("file2", "file10", "a01b2", "x#5y", "z", "00", "9a10")
      .toDF("s").repartition(2)
    val viaPlan = in.select(TextHashFunctions.alphanumeric_sort_key(col("s")))
      .collect().map(_.getString(0)).sorted.toSeq
    val direct = Seq("file2", "file10", "a01b2", "x#5y", "z", "00", "9a10")
      .map(s => AlphanumericSortKey.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
      .sorted
    assert(viaPlan == direct)
  }

  test("multimodal decode is deterministic and handles nulls/empties") {
    val media = Multimodal.syntheticMedia(spark, 50)
      .union(Seq((98L, Array.empty[Byte])).toDF("media_id", "content"))
    val d1 = Multimodal.decode(media, "media_id", "content", 8).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    val d2 = Multimodal.decode(media, "media_id", "content", 8).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    assert(d1 == d2)
    assert(d1(98L).contains("null")) // empty content → null metadata
  }

  test("multimodal imageio codec decodes real PNGs (and rejects junk gracefully)") {
    def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gray = png(8, 6)((_, _) => 0x808080)           // luma 128 everywhere
    val halves = png(8, 8)((x, _) => if (x < 4) 0x000000 else 0xffffff)
    val media = Seq(
      (1L, gray), (2L, halves),
      (3L, Array.tabulate[Byte](64)(i => (i * 7).toByte)), // junk bytes
      (4L, Array.empty[Byte]))
      .toDF("media_id", "content")
    val out = Multimodal.decode(media, "media_id", "content", 4, codec = "imageio")
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(out(1L).getString(1) == "png")
    assert(out(1L).getInt(2) == 8 && out(1L).getInt(3) == 6)
    assert(out(1L).getInt(4) == 1) // single-frame
    val grayFeat = out(1L).getSeq[Float](5)
    assert(grayFeat.size == 4 && grayFeat.forall(f => math.abs(f) < 1e-6),
      s"solid 128-gray must map to feature 0.0, got $grayFeat") // 128/128-1
    // 2x2 grid over a left-black/right-white image: column parity decides
    val hf = out(2L).getSeq[Float](5)
    assert(hf(0) == -1.0f && hf(2) == -1.0f, s"left cells black: $hf")
    assert(math.abs(hf(1) - (255.0 / 128 - 1)) < 1e-6 &&
      math.abs(hf(3) - (255.0 / 128 - 1)) < 1e-6, s"right cells white: $hf")
    // junk and empty bytes both yield the null-metadata row, id preserved
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(5))
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(5))
    // the stub path is untouched by the codec seam (q27's oracle contract)
    val stub = Multimodal.decode(media, "media_id", "content", 4).collect()
    assert(stub.length == 4)
    intercept[IllegalArgumentException] {
      Multimodal.decode(media, "media_id", "content", 4, codec = "nope")
    }
  }

  test("stripMarkup: block tags with contents, entities, double-escapes") {
    import graft.ext.TextAnalysis
    val cases = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      ("<script>if (a<b) {x}</script>after", "after"),
      ("<style type=\"a\">p { color: red }</style>text", "text"),
      ("a &amp;amp; b", "a &amp; b"), // double-escape stays literal (amp last)
      ("&lt;not a tag&gt; &quot;q&quot; &#39;s&#39;", "<not a tag> \"q\" 's'"),
      ("  spaced\n\nout\ttext  ", "spaced out text"),
      ("<ScRiPt>x</sCrIpT>done", "done")) // case-insensitive block match
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }
      .toDF("i", "html")
    val got = df.select(col("i"), TextAnalysis.stripMarkup(col("html")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"stripMarkup('$in') = '${got(i)}', want '$want'")
    }
  }

  test("SQL surface exposes the text-hash scalar family") {
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    val r = spark.sql(
      """SELECT
        |  set_jaccard(word_shingles(split_ws('a b c d'), 3),
        |              word_shingles(split_ws('a b c e'), 3)) AS j,
        |  minhash_jaccard(minhash_signature(split_ws('x y z w'), 64, 3),
        |                  minhash_signature(split_ws('x y z w'), 64, 3)) AS mj,
        |  size(simhash128(split_ws('a b c'))) AS w128""".stripMargin).head()
    // shingles: {"a b c","b c d"} vs {"a b c","b c e"} → 1 of 3
    assert(math.abs(r.getDouble(0) - 1.0 / 3) < 1e-9, s"set_jaccard ${r.getDouble(0)}")
    assert(r.getDouble(1) == 1.0, "identical docs must estimate jaccard 1.0")
    assert(r.getInt(2) == 2, "simhash128 is an array of 2 longs")
    // quantization family: SQL roundtrip recovers the max element exactly
    val qv = spark.sql(
      """SELECT
        |  element_at(dequantize_int8(
        |    quantize_int8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT)))), 1) AS d1,
        |  vector_max_abs_diff(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                      array(CAST(1.0 AS FLOAT), CAST(0.25 AS FLOAT))) AS md
        |""".stripMargin).head()
    assert(math.abs(qv.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(qv.getDouble(1) - 0.25) < 1e-9)
  }

  test("incremental dedup: band-index path equals the full self-join's cross-split pairs") {
    import graft.ext.Dedup
    // synthetic corpus with planted near-dups: base docs + every 5th doc
    // duplicated with a small tail edit (high but non-1.0 jaccard)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0 until 200).map { i =>
      val body = (0 until 30).map(j => words((i * 7 + j * 3) % 10)).mkString(" ")
      (i.toLong, if (i % 5 == 0) body + " tail" else body)
    }.toDF("doc_id", "text")
    val frame = docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), 64, 3).as("sig"))
      .localCheckpoint(true)
    val inc = frame.where(col("id") % 10 === 0)
    val corpus = frame.where(col("id") % 10 =!= 0)

    val index = Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32)
    val incPairs = Dedup.incrementalMinhashDupPairs(inc, index, corpus,
        "id", "sig", bands = 32, threshold = 0.35)
      .select("inc_id", "corpus_id").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet

    // ground truth: the full self-join pipeline on the UNION, restricted
    // to pairs that straddle the split
    val fullPairs = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 32, threshold = 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(incPairs == fullPairs,
      s"incremental != full cross-split: only-inc=${incPairs -- fullPairs} only-full=${fullPairs -- incPairs}")
    assert(incPairs.nonEmpty, "fixture must plant at least one cross-split dup")

    // index bucket cap: lowest ids retained, bucket size bounded
    val capped = Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32,
      bucketCap = 1)
    val overCap = capped.groupBy("band", "bucket").count()
      .where(col("count") > 1).count()
    assert(overCap == 0, "bucketCap must bound index bucket membership")

    // the advertised persistence shape: write the index partitioned by
    // band, reload it cold, and get the identical pair set — what a daily
    // pipeline does between corpus versions
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    index.write.mode("overwrite").partitionBy("band").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val reloadedPairs = Dedup.incrementalMinhashDupPairs(inc, reloaded, corpus,
        "id", "sig", bands = 32, threshold = 0.35)
      .select("inc_id", "corpus_id").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(reloadedPairs == incPairs, "persisted index must round-trip")
  }

  test("incremental cosine: index path equals the full self-join's cross-split pairs") {
    import graft.ext.{Dedup, Similarity}
    // deterministic corpus with planted near-dups: base vectors + slightly
    // perturbed copies (ids offset by 10000)
    val dim = 16
    val base = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(dim)(j =>
        (math.sin(i * 31 + j * 7) * 2).toFloat))
    }
    val planted = base.filter(_._1 % 3 == 0).map { case (id, v) =>
      (id + 10000L, v.zipWithIndex.map { case (x, j) =>
        x + ((id * 13 + j) % 5 - 2) * 0.01f })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val sigs = Similarity.nearDupSignatures(
      df, "vec_id", "embedding", dim, bands = 16, rowsPerBand = 8)
      .localCheckpoint(true)
    val inc = sigs.where(col("id") >= 10000L)
    val corpus = sigs.where(col("id") < 10000L)
    val index = Similarity.cosineBandIndex(corpus, bands = 16)
    val incPairs = Similarity.incrementalCosineNearDupPairs(inc, index, corpus,
        threshold = 0.9, bands = 16, rowsPerBand = 8)
      .select("inc_id", "corpus_id").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val fullPairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
        dim, threshold = 0.9, bands = 16, rowsPerBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a >= 10000L) != (b >= 10000L) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(incPairs == fullPairs,
      s"incremental != full cross-split: onlyInc=${incPairs -- fullPairs} onlyFull=${fullPairs -- incPairs}")
    assert(incPairs.nonEmpty, "fixture must plant at least one cross-split near-dup")
  }

  test("cosine near-dup self-resize: flooded adaptive banding retries wider and stays exact") {
    import graft.ext.{Dedup, Similarity}
    // near-random corpus + planted perturbed copies: at the adaptive-law
    // geometry (16×8 for 3k docs) a tiny budget forces the probe histogram
    // and the resize retry (VERDICT r17 #2); the resized run must emit the
    // same exact-verified pairs as an unbudgeted pinned-geometry run
    val dim = 16
    // hash-based uniform components — a periodic construction (sin(i·31))
    // plants dense TRUE-similarity clusters, which no banding geometry can
    // thin (that regime is the guard's honest refusal, not the retry's)
    val base = (0 until 3000).map { i =>
      val rnd = new scala.util.Random(i * 7919L + 13)
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    }
    val planted = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 10000L, v.zipWithIndex.map { case (x, j) =>
        x + ((id * 13 + j) % 5 - 2) * 0.01f })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding").localCheckpoint(true)
    def pairs(d: org.apache.spark.sql.DataFrame) = d
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val conf = spark.conf
    val statsMark = Dedup.lshStatsSeen
    val resizedRun =
      try {
        conf.set("spark.graft.lsh.candidateBudget", "100000")
        pairs(Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
          dim, threshold = 0.9))
      } finally conf.unset("spark.graft.lsh.candidateBudget")
    val runStats = Dedup.lshStatsSince(statsMark)
    val st = runStats.reverse.find(_.kind == "cosine-neardup-resize")
      .getOrElse(fail("resize did not fire / record"))
    assert(st.geomRows > 8 && st.geomBands >= 16 &&
      st.estCandidates <= 100000 / 4,
      s"resize must widen rows and predict within budget/4: $st")
    // the resized banding is RE-PROBED (VERDICT r18 #2) and that
    // measurement IS the guard: the downstream skew-cap must not re-run
    // the identical histogram (no keys-/payload-banding guard stat)
    assert(runStats.exists(_.kind == "cosine-neardup-reprobe"),
      s"post-resize re-probe missing: ${runStats.map(_.kind)}")
    assert(!runStats.exists(s => s.kind.startsWith("keys-banding") ||
      s.kind.startsWith("payload-banding")),
      s"downstream guard re-ran the probed histogram: ${runStats.map(_.kind)}")
    val pinned =
      try {
        conf.set("spark.graft.lsh.candidateBudget", "0") // guard off
        pairs(Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
          dim, threshold = 0.9, bands = 16, rowsPerBand = 8))
      } finally conf.unset("spark.graft.lsh.candidateBudget")
    assert(resizedRun.nonEmpty && resizedRun == pinned,
      s"resized=${resizedRun.size} pinned=${pinned.size} " +
        s"missed=${(pinned -- resizedRun).size} extra=${(resizedRun -- pinned).size}")
  }

  test("ExtendSignBits: extended signature == full re-hash, bit-for-bit") {
    import graft.ext.Similarity
    // the prefix-chain contract the self-resize retry's extend path rests
    // on: planes(seed, n1, dim) is a strict prefix of planes(seed, n2, dim)
    // (row-major from one LCG), so unpack(pack(sig_n1)) ++ delta-plane bits
    // must equal the full n2-bit signature for every vector — including
    // non-64-aligned prefix lengths (the measured flood geometries: 1054
    // probe bits extended to 2304)
    val dim = 24
    val vecs = (0 until 64).map { i =>
      val rnd = new scala.util.Random(i * 104729L + 7)
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "vec")
    for ((n1, n2) <- Seq((130, 210), (64, 128), (1054, 1150))) {
      val full = vecs.select(col("id"),
        Similarity.lshSignature(col("vec"), seed = 42L, n = n2, dim = dim)
          .as("sig"))
      val extended = vecs.select(col("id"),
        graft.functions.VectorFunctions.pack_bits(
          Similarity.lshSignature(col("vec"), seed = 42L, n = n1, dim = dim))
          .as("packed"), col("vec"))
        .select(col("id"),
          graft.functions.VectorFunctions.extend_hyperplane_bits(
            col("vec"), col("packed"), n1,
            Similarity.planesFor(seed = 42L, n = n2, dim = dim).drop(n1))
            .as("sig"))
      val mismatches = full.as("f").join(extended.as("e"), "id")
        .where(col("f.sig") =!= col("e.sig")).count()
      assert(mismatches == 0L, s"extend($n1 -> $n2) diverged from full hash")
    }
  }

  test("sig-identical collapse: star parity with the uncollapsed path, members attach to reps") {
    import graft.ext.Dedup
    // corpus with planted FULL-signature-identical groups (repeated texts)
    // plus near-dup-but-distinct docs: the collapsed run must band only
    // distinct signatures, attach members to their min-id representative
    // at est 1.0, keep every banded pair a subset of the uncollapsed
    // run's, and make the identical drop-the-duplicate decision
    val texts = (0 until 40).map { g =>
      val rnd = new scala.util.Random(g * 2971L + 11)
      (0 until 80).map(_ => s"tok${rnd.nextInt(500)}").mkString(" ")
    }
    val docs = (0 until 40).flatMap { g =>
      // groups 0..9: 4 identical copies each; 10..39: singletons, and
      // every 5th gets ONE near-dup (last token changed)
      val copies =
        if (g < 10) (0 until 4).map(m => ((g * 100 + m).toLong, texts(g)))
        else if (g % 5 == 0)
          Seq((g * 100L, texts(g)),
            (g * 100L + 1, texts(g).split(" ").dropRight(1).mkString(" ") + " tokX"))
        else Seq((g * 100L, texts(g)))
      copies
    }.toDF("doc_id", "text")
    val frame = Dedup.materialize(docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3).as("sig")))
    def run(collapseAt: Long) = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 16, threshold = 0.5, collapseSigMinDocs = collapseAt)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val statsMark = Dedup.lshStatsSeen
    val on = run(1L)
    val off = run(0L)
    // ground-truth sig groups from the signatures themselves (a near-dup
    // pair can chance into an identical 64-hash signature, so the planted
    // 10-groups-of-4 is a lower bound, not the exact group set)
    val sigGroups = frame.select(col("id"), col("sig"))
      .as[(Long, Seq[Long])].collect()
      .groupBy(_._2).values.map(_.map(_._1).sorted.toSeq)
      .filter(_.size >= 2).toSeq
    val st = Dedup.lshStatsSince(statsMark)
      .find(_.kind == "minhash-sig-collapse")
      .getOrElse(fail("collapse did not record its stat"))
    assert(st.buckets == sigGroups.size &&
      st.droppedMembers == sigGroups.map(_.size - 1).sum,
      s"expected ${sigGroups.size} groups / " +
        s"${sigGroups.map(_.size - 1).sum} collapsed members: $st")
    assert(sigGroups.size >= 10, "fixture must plant at least the 10 groups")
    // every member attaches to its group's min id at est exactly 1.0
    val memberPairs = sigGroups.flatMap(g =>
      g.tail.map(m => (g.head, m))).toSet
    val onPairs = on.map(t => (t._1, t._2)).toSet
    assert(memberPairs.subsetOf(onPairs), s"missing member pairs: " +
      s"${memberPairs -- onPairs}")
    on.filter(t => memberPairs.contains((t._1, t._2)))
      .foreach(t => assert(t._3 == 1.0, s"member pair est must be 1.0: $t"))
    // banded pairs are a subset of the uncollapsed run's (the documented
    // star loss is member<->member / member<->other pairs ONLY)
    val offPairs = off.map(t => (t._1, t._2)).toSet
    assert((onPairs -- offPairs).subsetOf(memberPairs),
      s"collapse invented pairs: ${onPairs -- offPairs -- memberPairs}")
    // identical dedup decision: the dropped-id set matches exactly
    assert(on.map(_._2).toSet == off.map(_._2).toSet,
      "collapse changed the drop-the-duplicate decision")
  }

  test("scale ladder refuses a numHashes/signature-width mismatch (never-narrower guarantee)") {
    import graft.ext.Dedup
    // 128-hash signatures with numHashes declared as 64: ladder rows
    // computed from width 64 would band a NARROWER prefix than the
    // caller's real 8 rows/band — the validation must keep the caller
    // geometry (and say so in lshStats) instead
    val docs = (0 until 300).map { i =>
      val rnd = new scala.util.Random(i * 6121L + 5)
      (i.toLong, (0 until 60).map(_ => s"w${rnd.nextInt(400)}").mkString(" "))
    }.toDF("doc_id", "text")
    val frame = Dedup.materialize(docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 128, shingleN = 3).as("sig")))
    val statsMark = Dedup.lshStatsSeen
    val laddered = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 16, threshold = 0.5, numHashes = 64, scaleGeomMinDocs = 1L,
        collapseSigMinDocs = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Dedup.lshStatsSince(statsMark)
      .exists(_.kind == "ladder-width-fallback"),
      "width mismatch must be observable in lshStats")
    val plain = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 16, threshold = 0.5, collapseSigMinDocs = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(laddered == plain,
      "mismatched-width ladder must fall back to the caller geometry exactly")
  }

  test("cosine near-dup second flood: re-probe re-resizes, then refuses instead of running unguarded") {
    import graft.ext.{Dedup, Similarity}
    // clusters of IDENTICAL vectors: true-similarity mass that NO banding
    // geometry can thin (identical signatures collide at every r). The
    // calibrated predictor still proposes a wider geometry; the post-resize
    // re-probe must measure that the mass did not thin and, after the
    // bounded retries, take the documented refusal — never run unguarded
    // past the budget (VERDICT r18 #2: the single-shot resize had no
    // post-resize check)
    val dim = 8
    val docs = (0 until 20).flatMap { c =>
      val rnd = new scala.util.Random(c * 7919L + 3)
      val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      (0 until 60).map(m => ((c * 1000 + m).toLong, v.clone()))
    }.toDF("vec_id", "embedding").localCheckpoint(true)
    val conf = spark.conf
    val statsMark = Dedup.lshStatsSeen
    val e =
      try {
        conf.set("spark.graft.lsh.candidateBudget", "20000")
        intercept[IllegalStateException] {
          Similarity.cosineNearDupPairs(docs, "vec_id", "embedding",
            dim, threshold = 0.9).count()
        }
      } finally conf.unset("spark.graft.lsh.candidateBudget")
    assert(e.getMessage.contains("near-threshold"),
      s"refusal must name the un-thinnable mass: ${e.getMessage}")
    val kinds = Dedup.lshStatsSince(statsMark).map(_.kind)
    assert(kinds.count(_ == "cosine-neardup-reprobe") >= 1 &&
      kinds.count(_ == "cosine-neardup-resize") >= 1,
      s"expected resize + re-probe before the refusal, got $kinds")
  }

  test("sequencePack: greedy contiguous packing, budget overflow by at most one doc") {
    import graft.ext.Curation
    // one shard so packing is fully hand-checkable
    val docs = Seq((0L, 300L), (1L, 300L), (2L, 100L), (3L, 500L), (4L, 10L))
      .toDF("doc_id", "n_tokens")
    val packed = Curation.sequencePack(docs, "doc_id", "n_tokens",
        budgetTokens = 512, shards = 1)
      .select("doc_id", "pack").as[(Long, Long)].collect().toMap
    // cum-before: 0,300,600,700,1200 → packs 0,0,1,1,2
    assert(packed == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))

    // invariants at a larger, multi-shard corpus: pack ids are dense and
    // nondecreasing in id order within a shard, and a pack's token total
    // never exceeds budget + its last doc's tokens (overflow ≤ one doc)
    val n = 5000
    val corpus = spark.range(n.toLong).toDF("doc_id")
      .withColumn("n_tokens", (pmod(col("doc_id") * 37 + 11, lit(200)) + 1))
    val out = Curation.sequencePack(corpus, "doc_id", "n_tokens", 1000, 16)
    val packTotals = out.groupBy("shard", "pack")
      .agg(sum("n_tokens").as("tot"), max("n_tokens").as("maxDoc"))
      .where(col("tot") > lit(1000) + col("maxDoc")).count()
    assert(packTotals == 0, "some pack overflows budget by more than one doc")
    assert(out.count() == n.toLong)
    // determinism under physical reordering: a repartitioned, reverse-
    // sorted copy of the corpus must produce the identical assignment
    val shuffled = Curation.sequencePack(
      corpus.repartition(7).sortWithinPartitions(col("doc_id").desc),
      "doc_id", "n_tokens", 1000, 16)
    assert(out.select("doc_id", "shard", "pack").except(
      shuffled.select("doc_id", "shard", "pack")).count() == 0)
  }

  test("capPerGroup: salted pre-prune is exact (matches unsalted) and caps k") {
    import graft.ext.Curation
    val n = 3000
    // skewed groups: ~2/3 of rows land in group g0
    val rows = spark.range(n.toLong).toDF("id")
      .withColumn("grp", when(pmod(col("id"), lit(3)) < 2, "g0")
        .otherwise(concat(lit("g"), pmod(col("id"), lit(5)))))
      .withColumn("score", pmod(col("id") * 131 + 17, lit(1000)).cast("double"))
    val order = Seq(col("score").desc, col("id").asc)
    val plain = Curation.capPerGroup(rows, Seq("grp"), order, k = 25)
    val salted = Curation.capPerGroup(rows, Seq("grp"), order, k = 25,
      saltPrune = Some((col("id"), 8)))
    assert(plain.select("grp", "rk", "id").except(
      salted.select("grp", "rk", "id")).count() == 0)
    assert(salted.select("grp", "rk", "id").except(
      plain.select("grp", "rk", "id")).count() == 0)
    val perGroup = salted.groupBy("grp").count().as[(String, Long)].collect()
    assert(perGroup.forall(_._2 <= 25))
    // ranks are 1..k dense within each group
    assert(salted.where(col("rk") < 1 || col("rk") > 25).count() == 0)
  }

  test("simhashDupPairs corpus-size guard routes large corpora to the 128-bit wide arm") {
    // wideArmMinDocs=1: every corpus is "large" — the direct entry point
    // must take the wide arm (plan carries simhash128, not simhash64) and
    // return exactly simhash128DupPairs' result
    // the signature frame is checkpointed (lineage truncated), so the arm
    // is read off the VERIFY expression: the wide arm's 128-bit hamming
    // unpacks the two signature words with element_at; the 64-bit arm's is
    // a single bit_count over longs with no element_at
    // marker is element_at over the VERIFY's __sig columns specifically:
    // the r19 agg-pairs fast path introduced an unrelated element_at
    // (star representative off the collected bucket array __ms)
    val routed = Dedup.simhashDupPairs(docs, "text", "doc_id",
      maxHamming = 3, wideArmMinDocs = 1L)
    assert(routed.queryExecution.analyzed.toString.contains("element_at(__sig"),
      "guard must route to the wide arm above the corpus ceiling")
    val wide = Dedup.simhash128DupPairs(docs, "text", "doc_id", maxHamming = 3)
    assert(routed.select("id_a", "id_b").except(
      wide.select("id_a", "id_b")).count() == 0)
    assert(wide.select("id_a", "id_b").except(
      routed.select("id_a", "id_b")).count() == 0)

    // pinned legacy arm stays 64-bit (no corpus count, no simhash128)
    val pinned = Dedup.simhashDupPairs(docs, "text", "doc_id",
      maxHamming = 3, wideArmMinDocs = Long.MaxValue)
    assert(!pinned.queryExecution.analyzed.toString.contains("element_at(__sig"))

    // a too-loose maxHamming cannot silently flood OR silently lose recall:
    // past the ceiling with maxHamming > 3 the call must fail with guidance
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashDupPairs(docs, "text", "doc_id",
        maxHamming = 4, wideArmMinDocs = 1L)
    }
    assert(e.getMessage.contains("maxHamming"))
  }

  test("LSH candidate budget: pathological banding refused before execution") {
    // 10k clones at the DEFAULT bucketCap (256) — every bucket holds all 10k
    // rows, star-capped to ~20 bands x 9999 candidates ≈ 200k, which a tiny
    // budget must refuse at plan-build time (no banding job runs)
    val clones = spark.range(0, 10000).toDF("doc_id")
      .withColumn("text", lit("the same boilerplate sentence repeated in every document of this corpus"))
    spark.conf.set("spark.graft.lsh.candidateBudget", "1000")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.minhashDupPairs(clones, "text", "doc_id", threshold = 0.5)
      }
      assert(e.getMessage.contains("candidate"))
      // the estimate that triggered the refusal is observable in the ring
      val st = Dedup.lshStats.last
      assert(st.estCandidates > 1000L && st.overflowBuckets > 0L)
    } finally spark.conf.set("spark.graft.lsh.candidateBudget",
      Dedup.DefaultCandidateBudget.toString)
    // at the default budget the same corpus executes fine (star cap)
    assert(Dedup.minhashDupPairs(clones, "text", "doc_id", threshold = 0.5)
      .count() == 9999L)
  }

  test("band-index truncation is observable: buckets at cap recorded in lshStats") {
    val clones = spark.range(0, 500).toDF("doc_id")
      .withColumn("text", lit("identical boilerplate every document shares word for word"))
    val sigs = clones.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), 64, 3).as("sig")).localCheckpoint(true)
    val idx = Dedup.minhashBandIndex(sigs, "id", "sig", bands = 16, bucketCap = 8)
    val st = Dedup.lshStats.reverse.find(_.kind == "minhash-index").get
    assert(st.overflowBuckets > 0L, "500 clones at cap 8 must overflow")
    assert(st.droppedMembers > 0L)
    assert(st.maxBucket == 500L)
    // the index itself is still bounded at the cap
    val loads = idx.groupBy("band", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(loads <= 8L)
  }

  test("repetitionStats: known values and degenerate denominators") {
    val rows = Seq(
      ("a a a a", 0.75, 1.0, 0.5),   // 3×"a a" of 3 bigrams; tri "a a a"×2, 1 distinct
      ("x y", 0.0, 1.0, 0.0),        // one bigram is trivially the top; no trigram
      ("z", 0.0, 0.0, 0.0),          // no bigram/trigram
      ("", 0.0, 0.0, 0.0),           // empty: split of "" is [""], m=1
      ("p q r p q r", 1.0 - 3.0 / 6, 2.0 / 5, 1.0 - 3.0 / 4))
      .toDF("text", "eDup", "eTop", "eTri")
    val got = rows.select(col("eDup"), col("eTop"), col("eTri"),
      TextAnalysis.repetitionStats(col("text")).as("r")).collect()
    got.foreach { r =>
      val s = r.getStruct(3)
      assert(s.getDouble(0) === r.getDouble(0), s"dup_token_frac $r")
      assert(s.getDouble(1) === r.getDouble(1), s"top_bigram_frac $r")
      assert(s.getDouble(2) === r.getDouble(2), s"dup_trigram_frac $r")
    }
    // direct eval path (codegen covered by the DataFrame run above)
    val row = graft.functions.RepetitionStats.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array("a", "a", "a", "a").map(
          org.apache.spark.unsafe.types.UTF8String.fromString)))
    assert(row.getDouble(0) == 0.75 && row.getDouble(1) == 1.0 &&
      row.getDouble(2) == 0.5)
  }

  test("decontaminate: hits are real overlaps, anti-join removes exactly them") {
    val bench = docs.where(col("doc_id") % 17 === 3)
    val train = docs.where(col("doc_id") % 17 =!= 3)
    val hits = graft.ext.Decontaminate.contaminationHits(
      train, bench, "doc_id", "text", n = 4)
    val hitRows = hits.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(hitRows.nonEmpty, "fixture's planted dup docs must contaminate")
    assert(hitRows.values.forall(_ > 0))
    // the flagged docs genuinely share a 4-gram with the benchmark slice
    // (verify one directly through the brute-force jaccard helper)
    val clean = graft.ext.Decontaminate.decontaminate(
      train, bench, "doc_id", "text", n = 4)
    assert(clean.count() == train.count() - hitRows.size)
    assert(clean.where(col("doc_id").isin(hitRows.keys.toSeq: _*)).count() == 0)
    // scale shape: the benchmark side must BROADCAST (corpus never shuffles
    // into the join)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark n-gram set should broadcast:\n$plan")
  }

  test("tfidf: hand-checked corpus, idf broadcast, WindowGroupLimit top-k") {
    // 3 docs, tiny vocab: "common" in all docs, "rare" in one
    val tiny = Seq(
      (1L, "common rare common"),
      (2L, "common x"),
      (3L, "common y common y")).toDF("doc_id", "text")
    val out = graft.ext.Vocabulary.tfidfTopTerms(tiny, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    def idf(df: Long) = math.log(4.0 / (df + 1.0)) + 1.0
    // doc 1: common 2/3*idf(3)=0.667 beats rare 1/3*idf(1)=0.564 — tf wins
    // over idf here because "common" appears twice in a 3-token doc
    assert(out(0) == ((1L, 1, "common", 2.0 / 3 * idf(3))))
    assert(out(1) == ((1L, 2, "rare", 1.0 / 3 * idf(1))))
    // doc 2: x (1/2)*idf(1) vs common (1/2)*idf(3) — x wins on idf
    assert(out(2)._3 == "x" && out(3)._3 == "common")
    // doc 3: y 2/4*idf(1) > common 2/4*idf(3)
    assert(out(4)._3 == "y" && out(5)._3 == "common")
    // scale shape: idf joins via broadcast; the per-doc top-k window is
    // map-side truncated (WindowGroupLimit) so the shuffle carries <= k
    // rows per doc
    val plan = graft.ext.Vocabulary.tfidfTopTerms(docs, "doc_id", "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"idf join should broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-k should pre-truncate:\n$plan")
  }

  test("tokenCounts: counts with first-occurrence order and empty handling") {
    val got = Seq(("b a b a b", 0)).toDF("text", "i")
      .select(graft.functions.TextHashFunctions.token_counts(
        graft.functions.TextHashFunctions.split_ws(trim(col("text")))).as("tc"))
      .selectExpr("inline(tc)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("b", 3L), ("a", 2L)))
  }

  test("ngramContainmentPairs: asymmetric - fragment in superset scores 1.0") {
    val df = Seq(
      (1L, "a b c d e f g"), // superset
      (2L, "a b c d e"),     // fully contained fragment
      (3L, "x y z w q")      // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(df, "text", "doc_id",
      shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // frag→superset: all 3 of frag's trigrams appear in the superset's 5
    assert(got((2L, 1L)) == 1.0)
    // superset→frag: only 3 of its 5 trigrams are in the fragment
    assert(math.abs(got((1L, 2L)) - 0.6) < 1e-12)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // threshold prunes the weak direction
    val strict = Dedup.ngramContainmentPairs(df, "text", "doc_id",
      shingleN = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((2L, 1L)))
  }

  test("quadratic n-gram helpers refuse past the pair budget and record lshStats") {
    // 500 docs -> 124,750 unordered / 249,500 ordered pairs; a budget of
    // 1000 must trip BOTH helpers before any cross join executes
    spark.conf.set("spark.graft.ngram.pairBudget", "1000")
    try {
      val eJ = intercept[IllegalStateException] {
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.7)
      }
      assert(eJ.getMessage.contains("ngram.pairBudget"))
      val eC = intercept[IllegalStateException] {
        Dedup.ngramContainmentPairs(docs, "text", "doc_id", 3, 0.9)
      }
      assert(eC.getMessage.contains("quadratic"))
      val stats = Dedup.lshStats.filter(_.kind.startsWith("ngram-"))
      assert(stats.exists(s => s.kind == "ngram-jaccard-exact" &&
        s.buckets == 500L && s.estCandidates == 124750L))
      assert(stats.exists(s => s.kind == "ngram-containment-exact" &&
        s.estCandidates == 249500L))
      // 0 disables the guard (and its count job) entirely
      spark.conf.set("spark.graft.ngram.pairBudget", "0")
      assert(Dedup.ngramJaccardPairs(docs.where(col("doc_id") < 5), "text",
        "doc_id", 3, 0.9).count() >= 0L)
    } finally spark.conf.unset("spark.graft.ngram.pairBudget")
  }

  test("banded containment == brute-force containment (fixture corpus + planted fragments)") {
    val base = docs.where(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val frags = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 15)).as("text"))
    val corpus = base.union(frags)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        math.round(r.getDouble(2) * 1e9)).toMap
    val brute = key(Dedup.ngramContainmentPairs(corpus, "text", "doc_id", 3, 0.9))
    val banded = key(Dedup.ngramContainmentPairsBanded(corpus, "text",
      "doc_id", 3, 0.9, dfCap = 256))
    assert(brute.nonEmpty, "planted fragments must produce containment pairs")
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    // the banded build records its df-cap observability stat
    assert(Dedup.lshStats.exists(_.kind == "ngram-containment-banded"))
    // verification half standalone: feeding the brute-force pair set (plus
    // junk) through FromCandidates reproduces exactly the scored pairs
    val cands = corpus.select(col("doc_id").as("id_a"))
      .crossJoin(corpus.select(col("doc_id").as("id_b")))
      .where(col("id_a") =!= col("id_b") && col("id_a") % 3 === 0)
    val fed = key(Dedup.ngramContainmentPairsFromCandidates(corpus, cands,
      "text", "doc_id", 3, 0.9))
    val expect = brute.filter { case ((a, _), _) => a % 3 == 0 }
    assert(fed == expect)
  }

  test("dupClusters: known graph labels components by min id; chains converge") {
    // components: {1,2,3,4} (chain through 2-3), {10,11}, singleton 99 unseen
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))

    // a 30-node path needs 29 propagation rounds end to end — the
    // convergence guard must throw, not return a half-propagated labeling.
    // maxIter is an ITERATIVE-path contract, so pin that path via conf
    // (the r19 driver union-find fast path always converges)
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      val full = Dedup.dupClusters(chain, maxIter = 40).collect()
        .map(r => r.getLong(1)).distinct
      assert(full.sameElements(Array(0L)), "one component labeled by min id")
      intercept[IllegalStateException] {
        Dedup.dupClusters(chain, maxIter = 5)
      }
    } finally spark.conf.unset("spark.graft.cc.driverMaxEdges")

    // r19 driver union-find fast path == iterative label propagation,
    // on a shape that stresses both (long chain + multi-component graph)
    val stress = chain.union(Seq((100L, 103L), (103L, 101L), (50L, 40L))
      .toDF("id_a", "id_b"))
    val fast = Dedup.dupClusters(stress).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    val iterative =
      try Dedup.dupClusters(stress, maxIter = 40).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
    assert(fast == iterative,
      s"fast-only=${(fast -- iterative).size} iter-only=${(iterative -- fast).size}")
  }

  test("dupClusters agrees with brute-force components on the fixture pair graph") {
    val pairs = Dedup.ngramJaccardPairs(docs.where(col("doc_id") < 150),
      "text", "doc_id", shingleN = 3, threshold = 0.02)
      .select("id_a", "id_b")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("mixtureSample: per-group rates, deterministic copies, zero-rate drop") {
    import graft.ext.Curation
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g", when(col("id") % 4 === 0, "down")
        .when(col("id") % 4 === 1, "up")
        .when(col("id") % 4 === 2, "drop").otherwise("other"))
    val out = Curation.mixtureSample(df, "id", "g",
      Map("down" -> 0.25, "up" -> 2.5, "drop" -> 0.0), defaultRate = 1.0)
    val byG = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byG.contains("drop"))
    // 250 ids per group: expected 62.5 / 625 / 250 — Lehmer stream is
    // uniform enough that ±15% holds deterministically for this fixture
    assert(byG("down") > 40 && byG("down") < 85, s"down=${byG("down")}")
    assert(byG("up") > 530 && byG("up") < 720, s"up=${byG("up")}")
    assert(byG("other") == 250L)
    // every "up" id gets at least floor(2.5)=2 copies, numbered from 1
    val upCopies = out.where(col("g") === "up").groupBy("id")
      .agg(count(lit(1)).as("n"), min("copy").as("lo"), max("copy").as("hi"))
      .collect()
    assert(upCopies.length == 250)
    upCopies.foreach { r =>
      assert(r.getLong(1) >= 2 && r.getLong(1) <= 3)
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1))
    }
    // bit-deterministic: same input → same kept multiset, any partitioning
    val again = Curation.mixtureSample(df.repartition(7), "id", "g",
      Map("down" -> 0.25, "up" -> 2.5, "drop" -> 0.0), defaultRate = 1.0)
    assert(again.select("id", "copy").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      out.select("id", "copy").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // zero-shuffle plan: a narrow map over the scan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "mixtureSample must not shuffle")
  }

  test("mixtureSample refuses inputs whose columns collide with its output/temporaries") {
    val base = Seq((1L, "g", "x")).toDF("id", "g", "copy")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Curation.mixtureSample(base, "id", "g", Map("g" -> 1.0))
    }
    assert(e.getMessage.contains("copy"))
    intercept[IllegalArgumentException] {
      graft.ext.Curation.mixtureSample(
        Seq((1L, "g", 0.5)).toDF("id", "g", "__rate"), "id", "g", Map("g" -> 1.0))
    }
  }

  test("Lehmer-stream samplers refuse non-integral id columns (ADVICE r10)") {
    // a string/uuid id would cast to null and silently corrupt the
    // deterministic draw — both samplers must fail loudly instead
    val strDocs = Seq(("a-1", "g", "some text")).toDF("id", "g", "text")
    val e1 = intercept[IllegalArgumentException] {
      graft.ext.Curation.mixtureSample(strDocs, "id", "g", Map("g" -> 0.5))
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val target = Seq((1L, "t t t")).toDF("doc_id", "text")
    val model = graft.ext.Vocabulary.dsirModel(target, target, "text")
    val e2 = intercept[IllegalArgumentException] {
      graft.ext.Vocabulary.dsirResample(model, strDocs, "id", "text", n = 1)
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("stripBoilerplate: cross-doc paragraphs removed, order kept, empty-doc path") {
    import graft.ext.TextAnalysis
    val sep = "\n\n"
    val df = Seq(
      (1L, Seq("unique one", "COMMON", "tail one").mkString(sep)),
      (2L, Seq("COMMON", "unique two").mkString(sep)),
      (3L, Seq("unique three", "COMMON").mkString(sep)),
      (4L, "COMMON"), // all-boilerplate doc → empty text survives
      (5L, Seq("solo five", "also five").mkString(sep))
    ).toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> s"unique one${sep}tail one",
      2L -> "unique two",
      3L -> "unique three",
      4L -> "",
      5L -> s"solo five${sep}also five"))
    // below the df threshold nothing is removed
    val loose = TextAnalysis.stripBoilerplate(df, "doc_id", "text", minDocFreq = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == Seq("unique one", "COMMON", "tail one").mkString(sep))
  }

  test("lmScore: hand-checked Laplace bigram model; in-domain scores lower") {
    import graft.ext.Vocabulary
    // ref "a b a b": c1(a)=2, c1(b)=2, c2(a,b)=2, c2(b,a)=1, V=2, T=4
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((1L, "a b c"), (2L, "z"), (3L, "q a")).toDF("doc_id", "text")
    val got = Vocabulary.lmScore(ref, score, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // doc 1: logp(a->b)=ln(3/4), logp(b->c)=ln(1/4); doc 2 has no bigrams;
    // doc 3: context q unseen -> unigram backoff ln((c1(a)+1)/(T+V))=ln(1/2)
    val expectAvg = -(math.log(0.75) + math.log(0.25)) / 2
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L)._1 == 2L)
    // tolerance: the fixed-point (nano-nat) sum quantizes each logp by
    // floor(x*1e9), an error in [0, 1e-9) per term — far below the
    // 6-decimal rounding the oracles compare at
    assert(math.abs(got(1L)._2 - expectAvg) < 2e-9)
    assert(math.abs(got(1L)._3 - math.exp(expectAvg)) < 1e-8)
    assert(math.abs(got(3L)._2 - (-math.log(0.5))) < 2e-9)

    // fixture property: text drawn from the reference distribution scores
    // lower (more reference-like) than shuffled-vocabulary noise
    val ref2 = docs.where(col("doc_id") % 2 === 0)
    val inDomain = docs.where(col("doc_id") % 2 === 1)
    val noise = inDomain.select(col("doc_id"),
      regexp_replace(col("text"), "[aeiou]", "x").as("text"))
    def meanPpl(d: org.apache.spark.sql.DataFrame) =
      Vocabulary.lmScore(ref2, d, "doc_id", "text")
        .agg(avg("avg_neg_logp")).head().getDouble(0)
    assert(meanPpl(inDomain) < meanPpl(noise),
      "reference-like text must score lower than vowel-mangled noise")

    // model persistence: parquet-roundtripped count tables score
    // identically to the inline derivation (the persist-next-to-snapshot
    // path that avoids re-reading the reference corpus per batch)
    val m = Vocabulary.lmModel(ref2, "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    m.c1.write.parquet(s"$dir/c1"); m.c2.write.parquet(s"$dir/c2")
    val reloaded = Vocabulary.LmModel(spark.read.parquet(s"$dir/c2"),
      spark.read.parquet(s"$dir/c1"), m.vocabSize, m.tokenCount)
    val a = Vocabulary.lmScore(ref2, inDomain, "doc_id", "text")
      .collect().map(_.toString).sorted
    val b = Vocabulary.lmScoreWith(reloaded, inDomain, "doc_id", "text")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("tfidf with a parquet-persisted df table scores identically to inline") {
    import graft.ext.Vocabulary
    val corpus = docs.where(col("doc_id") < 200)
    val batch = docs.where(col("doc_id") < 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-df").toString
    Vocabulary.saveDocumentFrequency(
      Vocabulary.documentFrequency(corpus, "text"), dir)
    val reloaded = Vocabulary.loadDocumentFrequency(spark, dir)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).sortBy(t => (t._1, t._2))
    val inline = key(Vocabulary.tfidfTopTerms(batch, "doc_id", "text", 5,
      df = Some(Vocabulary.documentFrequency(corpus, "text"))))
    val persisted = key(Vocabulary.tfidfTopTerms(batch, "doc_id", "text", 5,
      df = Some(reloaded)))
    assert(inline.nonEmpty && inline.sameElements(persisted),
      "persisted-df TF-IDF must be bit-identical to the inline derivation")
    // LmModel save/load helper: same guarantee for the LM artifact
    val ref = docs.where(col("doc_id") % 2 === 0)
    val m = Vocabulary.lmModel(ref, "text")
    val lmDir = java.nio.file.Files.createTempDirectory("graft-lm2").toString
    Vocabulary.saveLmModel(m, lmDir)
    val m2 = Vocabulary.loadLmModel(spark, lmDir)
    assert(m2.vocabSize == m.vocabSize && m2.tokenCount == m.tokenCount)
    val a = Vocabulary.lmScoreWith(m, batch, "doc_id", "text")
      .collect().map(_.toString).sorted
    val b = Vocabulary.lmScoreWith(m2, batch, "doc_id", "text")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("semanticDupPairs: cluster-scoped pairs cover the planted near-dups; budget guard") {
    val corpus = graft.SparkEntry.q28PlantedUnion(spark, "/root/testdata/sf0.01")
    val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val got = Similarity.semanticDupPairs(corpus, "vec_id", "embedding",
      cents, threshold = 0.95)
    val pairs = got.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: every planted copy pairs with its original at ~0.999
    val planted = corpus.where(col("vec_id") >= 1000000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = planted.map(p => (p - 1000000L, p))
    val recall = expected.count(pairs.contains).toDouble / expected.size
    // cluster-scoping loses boundary-straddling pairs. This fixture is the
    // WORST case for that trade: random vectors sit near-equidistant from
    // all 8 random centroids, so a ±0.03/component perturbation flips the
    // argmax for ~18% of copies (measured 0.824 here). Real embeddings
    // cluster by semantics with material top-2 score gaps — the regime the
    // operator is for; the scaladoc documents the trade and
    // cosineNearDupPairs remains the recall-1 banded alternative.
    assert(recall >= 0.8, s"semantic recall $recall over ${expected.size} planted pairs")
    // both ends of every reported pair share the reported cluster
    val assigned = corpus.select(col("vec_id"),
      element_at(graft.functions.VectorFunctions.nearest_centroids(
        col("embedding"), cents, 1), 1).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.select("id_a", "id_b", "cluster").collect().foreach { r =>
      assert(assigned(r.getLong(0)) == r.getInt(2) &&
        assigned(r.getLong(1)) == r.getInt(2))
    }
    // MULTI-PROBE (VERDICT r12 #4): nProbe=2 searches each vector's two
    // nearest clusters, recovering boundary pairs the flat argmax split —
    // recall must strictly cover the single-probe set and climb on this
    // worst-case fixture; every pair stays exact-cosine verified and the
    // (id_a, id_b) dedup leaves no duplicates
    val got2 = Similarity.semanticDupPairs(corpus, "vec_id", "embedding",
      cents, threshold = 0.95, nProbe = 2)
    val rows2 = got2.collect()
    val pairs2 = rows2.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows2.length == pairs2.size, "multi-probe must dedup (id_a, id_b)")
    assert(pairs.subsetOf(pairs2),
      "nProbe=2 must cover every single-probe pair")
    val recall2 = expected.count(pairs2.contains).toDouble / expected.size
    assert(recall2 > recall,
      s"nProbe=2 must recover boundary pairs on this fixture: $recall → $recall2")
    assert(recall2 >= 0.95, s"multi-probe recall $recall2")
    // the reported cluster is PROBED by both ends (min shared probe)
    val probed = corpus.select(col("vec_id"),
      graft.functions.VectorFunctions.nearest_centroids(
        col("embedding"), cents, 2).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    rows2.foreach { r =>
      val c = r.getInt(2)
      assert(probed(r.getLong(0)).contains(c) && probed(r.getLong(1)).contains(c))
    }
    // pathological clustering (k=1 -> one quadratic cluster) trips the budget
    intercept[IllegalStateException] {
      Similarity.semanticDupPairs(corpus, "vec_id", "embedding",
        cents.take(1), threshold = 0.95, maxPairBudget = 1000L).count()
    }
    // ...and the budget guard measures the PROBED volume: nProbe=2 over
    // the same tight budget still refuses
    intercept[IllegalStateException] {
      Similarity.semanticDupPairs(corpus, "vec_id", "embedding",
        cents, threshold = 0.95, maxPairBudget = 1000L, nProbe = 2).count()
    }
  }

  test("quantizeInt8: known codes, zero vector, error bound, roundtrip shape") {
    import graft.functions.VectorFunctions._
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val out = df.select(col("id"), quantize_int8(col("v")).as("q"))
      .select(col("id"), col("q.scale").as("scale"), col("q.q").as("codes"),
        dequantize_int8(col("q")).as("deq"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Byte](2), r.getSeq[Double](3))).toMap
    val (s1, c1, d1) = out(1L)
    assert(math.abs(s1 - 1.0 / 127) < 1e-15)
    // -0.5/scale = -63.5 -> floor(-63.0) = -63 (floor(x+0.5), not banker's)
    assert(c1 == Seq[Byte](127, -63, 32, 0))
    assert(math.abs(d1.head - 1.0) < 1e-12)
    val (s2, c2, d2) = out(2L)
    assert(s2 == 0.0 && c2.forall(_ == 0) && d2.forall(_ == 0.0))
    // fixture-wide: reconstruction error never exceeds half a quantization
    // step, and cosine fidelity stays near 1
    val stats = graft.SparkEntry.queries("q75_quantize_int8")(
      spark, "/root/testdata/sf0.01").collect()
    stats.foreach { r =>
      val (scale, maxErr, cos) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      // 1e-6 slack: both columns are 6-decimal-rounded by the query, which
      // can shift an at-half-step error ~7.5e-7 past the rounded bound
      assert(maxErr <= scale * 0.5 + 1e-6, s"err $maxErr vs step $scale")
      assert(cos > 0.999, s"cosine fidelity $cos")
    }
  }

  test("quantizeInt8 rejects null vector elements instead of coercing them to 0") {
    import graft.functions.VectorFunctions._
    val df = Seq((1L, Array[java.lang.Float](1.0f, null, 0.5f)))
      .toDF("id", "v")
    val e = intercept[Throwable] {
      df.select(quantize_int8(col("v"))).collect()
    }
    // declared output is containsNull=false; a silent null→0 would make
    // missing data unrecoverable — the expression must fail loudly
    // (raw IllegalArgumentException in driver-local eval, task-wrapped in
    // a distributed run — accept either surface)
    val msg = Option(e.getCause).map(_.getMessage).getOrElse("") + e.getMessage
    assert(msg.contains("null element"), msg)
  }

  test("lmScore is bit-deterministic across partitionings (fixed-point sum)") {
    import graft.ext.Vocabulary
    val ref = docs.where(col("doc_id") % 2 === 0)
    val tgt = docs.where(col("doc_id") % 2 === 1 && col("doc_id") < 101)
    def run(d: org.apache.spark.sql.DataFrame) =
      Vocabulary.lmScore(ref, d, "doc_id", "text")
        .select("doc_id", "avg_neg_logp").collect()
        .map(r => r.getLong(0) ->
          java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
    val a = run(tgt)
    val b = run(tgt.repartition(17))
    assert(a.nonEmpty && a == b,
      "avg_neg_logp must be bit-identical under repartitioning")
  }

  test("duplicatedSpans: hand-checked corpus, both modes, strip rebuild") {
    val corpus = Seq(
      (1L, "a b c d e f"),   // windows: abc bcd cde def
      (2L, "x a b c d y"),   // windows: xab abc bcd cdy
      (3L, "q r s"),         // one window, unshared
      (4L, "z z")            // under k tokens: no windows
    ).toDF("doc_id", "text")
    for (exactGrams <- Seq(false, true)) {
      val spans = Dedup.duplicatedSpans(corpus, "doc_id", "text", k = 3,
          exactGrams = exactGrams)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // shared windows "a b c" + "b c d": doc 1 dup starts {0,1} -> [0,4),
      // doc 2 dup starts {1,2} -> [1,5)
      assert(spans == Set((1L, 0L, 4L, 2L), (2L, 1L, 5L, 2L)),
        s"exactGrams=$exactGrams: $spans")
      val stripped = Dedup.stripDuplicatedSpans(corpus, "doc_id", "text",
          k = 3, exactGrams = exactGrams)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(stripped == Map(
        1L -> ("e f", 4L), 2L -> ("x y", 4L),
        3L -> ("q r s", 0L), 4L -> ("z z", 0L)),
        s"exactGrams=$exactGrams: $stripped")
    }
  }

  test("duplicatedSpans: hash mode == exact-gram mode on the fixture corpus") {
    def spanSet(exactGrams: Boolean) =
      Dedup.duplicatedSpans(docs, "doc_id", "text", k = 10,
          exactGrams = exactGrams)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val hashed = spanSet(exactGrams = false)
    assert(hashed.nonEmpty, "fixture should contain duplicated passages")
    assert(hashed == spanSet(exactGrams = true))
  }

  test("fuzzy decontamination == brute-force exact Jaccard; broadcast plan") {
    import graft.ext.Decontaminate
    val base = docs.select(col("doc_id"), col("text"))
    val bench = base.where(col("doc_id") % 25 === 0)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))
      .select((col("doc_id") + 50000L).as("bench_id"),
        concat_ws(" ", slice(col("__t"), lit(6), size(col("__t")))).as("text"))
    val found = Decontaminate.fuzzyContaminationHits(base, bench,
      "doc_id", "bench_id", "text")
    // plan gate: benchmark band keys and candidate ids broadcast; the
    // corpus side must never cartesian or sort-merge against them
    val plan = found.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "corpus must not cross-join")

    val foundSet = found.select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same split (25x smaller side — fine in a test)
    val truth = base
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh_d"))
      .crossJoin(bench.select(col("bench_id"),
        Dedup.shingles(col("text"), 3).as("sh_b")))
      .select(col("doc_id"), col("bench_id"),
        graft.functions.TextHashFunctions.set_jaccard(col("sh_d"), col("sh_b"))
          .as("j"))
      .where(col("j") >= 0.5)
      .select("doc_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "planted truncated copies must contaminate")
    assert(foundSet == truth,
      s"missed=${truth -- foundSet} extra=${foundSet -- truth}")

    val clean = Decontaminate.fuzzyDecontaminate(base, bench,
      "doc_id", "bench_id", "text")
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == base.select("doc_id").collect().map(_.getLong(0)).toSet
      -- truth.map(_._1))
  }

  test("fuzzy decontamination caps corpus-side bucket collisions (ADVICE r10)") {
    import graft.ext.Decontaminate
    // degenerate corpus: many identical docs — every one collides with the
    // benchmark copy in EVERY band. Pre-cap candidates = corpus size; the
    // cap must bound them at bucketCap per (band, bucket), keep the
    // lowest ids, and record the truncation in lshStats.
    val boiler = (1L to 200L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val bench = Seq((9001L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("bench_id", "text")
    val hits = Decontaminate.fuzzyContaminationHits(boiler, bench,
      "doc_id", "bench_id", "text", bucketCap = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // all bands share one bucket (identical sigs), lowest ids win
    assert(hits == (1L to 8L).toSet, s"capped hit set was $hits")
    val st = Dedup.lshStats.reverse.find(_.kind == "fuzzy-decon").get
    assert(st.overflowBuckets > 0 && st.droppedMembers > 0,
      s"cap truncation must be observable: $st")
    // an uncapped geometry on the same corpus keeps everything
    val full = Decontaminate.fuzzyContaminationHits(boiler, bench,
      "doc_id", "bench_id", "text", bucketCap = 1024)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(full == (1L to 200L).toSet)
  }

  test("surgical decontamination: spans + strip on a hand-checked corpus") {
    import graft.ext.Decontaminate
    val bench = Seq((100L, "p q r s")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b p q r s c d"),  // windows (k=3): pqr @2, qrs @3 -> span [2,6)
      (2L, "p q r s"),          // whole doc contaminated -> [0,4)
      (3L, "a b c d e")         // clean
    ).toDF("doc_id", "text")
    for (exactGrams <- Seq(false, true)) {
      val spans = Decontaminate.contaminatedSpans(docs, bench, "doc_id",
          "text", k = 3, exactGrams = exactGrams)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(spans == Set((1L, 2L, 6L, 2L), (2L, 0L, 4L, 2L)),
        s"exactGrams=$exactGrams: $spans")
      val stripped = Decontaminate.stripContaminatedSpans(docs, bench,
          "doc_id", "text", k = 3, exactGrams = exactGrams)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(stripped == Map(
        1L -> ("a b c d", 4L), 2L -> ("", 4L), 3L -> ("a b c d e", 0L)),
        s"exactGrams=$exactGrams: $stripped")
    }
  }

  test("DSIR: hashed-bucket mode == exact mode up to the smoothing constant") {
    import graft.ext.Vocabulary
    val target = docs.where(col("doc_id") % 5 === 0)
    val raw = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") < 101)
    val exactM = Vocabulary.dsirModel(target, raw, "text", numBuckets = 0)
    // B large enough that the fixture's ~1k-feature vocab is collision-free
    // (xxhash64 is fixed, so this is deterministic, not flaky)
    val hashedM = Vocabulary.dsirModel(target, raw, "text", numBuckets = 1 << 26)
    def weights(m: Vocabulary.DsirModel) =
      Vocabulary.dsirWeightsWith(m, raw, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val we = weights(exactM)
    val wh = weights(hashedM)
    assert(we.nonEmpty && we.keySet == wh.keySet)
    // collision-free bucketing preserves every count; only the smoothing
    // denominators (D = B vs D = seen) differ, which shifts each feature's
    // log ratio by the same constant c — so w_h = w_e + c * n_features
    def c(m: Vocabulary.DsirModel) =
      math.log((m.targetTotal + m.featureSpace).toDouble) -
        math.log((m.rawTotal + m.featureSpace).toDouble)
    val shift = c(exactM) - c(hashedM)
    we.foreach { case (id, (n, w)) =>
      val (nh, whv) = wh(id)
      assert(n == nh)
      // tolerance scales with n: each engine-side sum quantizes every
      // term by floor(x*1e9) (error < 1e-9/term), and the two modes
      // quantize DIFFERENT values (lr vs lr+shift), so the errors don't
      // cancel — bound is 2e-9 per feature plus the old float slack
      assert(math.abs(whv - (w + shift * n)) < 2e-9 * n + 1e-8,
        s"doc $id: hashed $whv vs exact-shifted ${w + shift * n}")
    }
  }

  test("DSIR: bucket-collision occupancy recorded in lshStats (VERDICT r10 #3)") {
    import graft.ext.Vocabulary
    // collision-forced fixture: 2 buckets for >2 distinct features —
    // the occupancy report must surface the collision pressure the
    // counted ratios silently absorb
    val d = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    Vocabulary.dsirModel(d, d, "text", numBuckets = 2)
    val st = Dedup.lshStats.reverse.find(_.kind == "dsir-bucket").get
    // 4 unigrams + 3 bigrams = 7 distinct features over 2 buckets
    assert(st.estCandidates == 7L, st.toString)
    assert(st.buckets <= 2L && st.overflowBuckets > 0 &&
      st.droppedMembers == st.estCandidates - st.buckets, st.toString)
    // collision-free geometry reports a clean occupancy
    Vocabulary.dsirModel(d, d, "text", numBuckets = 1 << 26)
    val clean = Dedup.lshStats.reverse.find(_.kind == "dsir-bucket").get
    assert(clean.overflowBuckets == 0 && clean.droppedMembers == 0,
      clean.toString)
    // exact mode records nothing new
    val before = Dedup.lshStats.count(_.kind == "dsir-bucket")
    Vocabulary.dsirModel(d, d, "text", numBuckets = 0)
    assert(Dedup.lshStats.count(_.kind == "dsir-bucket") == before)
    // reportOccupancy=false skips the diagnostic pass entirely (ADVICE
    // r11: large-corpus callers with validated geometry opt out) — and the
    // model itself is unaffected by the report
    val m1 = Vocabulary.dsirModel(d, d, "text", numBuckets = 2)
    val afterOn = Dedup.lshStats.count(_.kind == "dsir-bucket")
    val m2 = Vocabulary.dsirModel(d, d, "text", numBuckets = 2,
      reportOccupancy = false)
    assert(Dedup.lshStats.count(_.kind == "dsir-bucket") == afterOn,
      "reportOccupancy=false must not record an occupancy report")
    def ratios(m: Vocabulary.DsirModel) = m.logRatio
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ratios(m1) == ratios(m2) && m1.featureSpace == m2.featureSpace)
  }

  test("DSIR: target-like docs outscore off-distribution docs") {
    import graft.ext.Vocabulary
    val target = Seq.tabulate(20)(i => (1000L + i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma delta"),   // in-distribution
      (2L, "zeta eta theta iota")       // off-distribution
    ).toDF("doc_id", "text")
    val w = Vocabulary.dsirWeights(target, raw, "doc_id", "text",
        numBuckets = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L),
      s"in-distribution ${w(1L)} must outscore off-distribution ${w(2L)}")
  }

  test("DSIR: resample is partition-independent; model save/load identical") {
    import graft.ext.Vocabulary
    val target = docs.where(col("doc_id") % 5 === 0)
    val raw = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") < 201)
    val model = Vocabulary.dsirModel(target, raw, "text", numBuckets = 0)
    def pick(d: org.apache.spark.sql.DataFrame) =
      Vocabulary.dsirResample(model, d, "doc_id", "text", n = 40)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = pick(raw)
    assert(a.size == 40)
    assert(a == pick(raw.repartition(13)), "kept set must be deterministic")

    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    Vocabulary.saveDsirModel(model, dir)
    val loaded = Vocabulary.loadDsirModel(spark, dir)
    def score(m: Vocabulary.DsirModel) =
      Vocabulary.dsirWeightsWith(m, raw, "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap
    assert(score(model) == score(loaded),
      "persisted model must score bit-identically")
  }

  test("perplexity buckets: value thresholds label; cutpoints calibrate") {
    import graft.ext.Vocabulary
    val scored = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0),
      (5L, 50.0)).toDF("doc_id", "ppx")
    val out = Vocabulary.perplexityBuckets(scored, "ppx",
        Seq(20.0, 40.0), Seq("head", "middle", "tail"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "head", 2L -> "head", 3L -> "middle",
      4L -> "middle", 5L -> "tail"), out.toString)
    // the labeling is a pure map — no shuffle in the plan
    val plan = Vocabulary.perplexityBuckets(scored, "ppx", Seq(20.0),
      Seq("a", "b")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "bucketing must not shuffle")
    // exact calibration returns corpus values at the requested ranks
    val cuts = Vocabulary.perplexityCutpoints(scored, "ppx",
      Seq(0.4, 0.8), relativeError = 0.0)
    assert(cuts.forall(c => Set(10.0, 20.0, 30.0, 40.0, 50.0).contains(c))
      && cuts == cuts.sorted, cuts.toString)
    intercept[IllegalArgumentException] {
      Vocabulary.perplexityBuckets(scored, "ppx", Seq(40.0, 20.0),
        Seq("a", "b", "c")) // non-ascending cuts
    }
    intercept[IllegalArgumentException] {
      Vocabulary.perplexityBuckets(scored, "ppx", Seq(20.0), Seq("a")) // label arity
    }
  }

  test("rankCutpoints: histogram ranks equal brute-force order, ties exact") {
    import graft.ext.Vocabulary
    // duplicated values force the tie path: rank-k must be the smallest
    // value whose cumulative count reaches k, regardless of id tiebreak
    val vals = Seq(30.0, 10.0, 20.0, 20.0, 50.0, 20.0, 40.0, 10.0, 30.0, 60.0)
    val scored = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("doc_id", "ppx")
    val fracs = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    val got = Vocabulary.rankCutpoints(scored, "ppx", fracs)
    val sorted = vals.sorted
    val want = fracs.map { f =>
      sorted(math.max(1, math.floor(f * vals.size).toInt) - 1) }
    assert(got == want, s"got=$got want=$want")
    // scale shape: the job must aggregate values, never order doc rows —
    // no TakeOrderedAndProject anywhere in the cut computation's plan
    val hist = scored.groupBy($"ppx").count()
    assert(!hist.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    intercept[IllegalArgumentException] {
      Vocabulary.rankCutpoints(scored, "ppx", Seq(0.0, 0.5)) // f out of (0,1)
    }
  }

  test("clusterSample: per-cluster quotas, nearest vs farthest, id tie-break") {
    import graft.ext.Similarity
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),  // c0, cos 1.0
      (2L, Seq(1.0f, 0.2f)),  // c0, cos ~0.981
      (3L, Seq(1.0f, 0.6f)),  // c0, cos ~0.857
      (4L, Seq(1.0f, 0.6f)),  // c0, tie with 3 -> id breaks
      (11L, Seq(0.0f, 1.0f)), // c1, cos 1.0
      (12L, Seq(0.5f, 1.0f))  // c1, cos ~0.894
    ).toDF("vec_id", "embedding")
    def ids(far: Boolean, k: Int) =
      Similarity.clusterSample(vecs, "vec_id", "embedding", cents, k,
          farthest = far)
        .select(col("cluster").cast("int"), col("rk").cast("int"),
          col("vec_id"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // nearest keeps the top-cosine rows per cluster; tie 3-vs-4 -> id 3
    assert(ids(far = false, 3) == Set((0, 1, 1L), (0, 2, 2L), (0, 3, 3L),
      (1, 1, 11L), (1, 2, 12L)))
    // farthest inverts the order within each cluster
    assert(ids(far = true, 2) == Set((0, 1, 3L), (0, 2, 4L),
      (1, 1, 12L), (1, 2, 11L)))
    // scale gate: the rank rewrites to WindowGroupLimit (partial top-k
    // per partition BEFORE the cluster shuffle)
    val plan = Similarity.clusterSample(vecs, "vec_id", "embedding",
      cents, 2).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    // VERDICT r11 #2: the per-row score is a native single pass over the
    // centroid table, not an O(k) literal CASE chain
    assert(!plan.contains("CASE WHEN"),
      "clusterSample score must not compile to a CASE chain")
  }

  test("centroid_best_cosine == bestCentroid + CosineSimilarity arithmetic, bit-exact") {
    // the expression replaced clusterSample's CASE chain (VERDICT r11 #2);
    // this pins its two halves to the incumbents so scores can never
    // drift: assignment == NearestCentroids.bestCentroid (normalized-dot
    // argmax, lowest index ties), cosine == CosineSimilarity's exact
    // accumulation against the RAW winning centroid
    val rnd = new scala.util.Random(12)
    val cents = Array.fill(7, 8)(rnd.nextGaussian())
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val got = vecs.toDF("id", "v")
      .select(col("id"), graft.functions.VectorFunctions
        .centroid_best_cosine(col("v"), cents).as("bc"))
      .select(col("id"), col("bc.cluster"), col("bc.cosine"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))).toMap
    val normed = graft.functions.NearestCentroids.normalize(cents)
    vecs.foreach { case (id, v) =>
      val vd = v.map(_.toDouble).toArray
      val best = graft.functions.NearestCentroids.bestCentroid(vd, normed)
      val w = cents(best)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      vd.indices.foreach { i =>
        dot += vd(i) * w(i); na += vd(i) * vd(i); nb += w(i) * w(i)
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      assert(got(id) == ((best, java.lang.Double.doubleToLongBits(cos))),
        s"vec $id: ${got(id)} vs ($best, $cos)")
    }
  }

  test("clusterSample stays codegen-live at 1024 centroids (VERDICT r11 #2)") {
    // the r11 CASE chain blew generated-method size limits at large k and
    // fell back to interpreted evaluation; the native expression is one
    // fixed-size loop whatever k is. fallback=false turns any silent
    // interpreted fallback into a hard failure, so this PROVES codegen
    // compiles at the k∝n regimes the SemDeDup family documents.
    val rnd = new scala.util.Random(77)
    val bigK = Array.fill(1024, 8)(rnd.nextGaussian())
    val vecs = Seq.tabulate(64)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Similarity.clusterSample(vecs, "vec_id", "embedding", bigK, 2)
        .collect()
      assert(out.nonEmpty)
      // quotas hold and assignments match the driver-side rule at this k
      val perCluster = out.groupBy(_.getInt(1)).values.map(_.length)
      assert(perCluster.forall(_ <= 2))
      val normed = graft.functions.NearestCentroids.normalize(bigK)
      val byId = vecs.collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      out.take(8).foreach { r =>
        val want = graft.functions.NearestCentroids.bestCentroid(
          byId(r.getLong(0)), normed)
        assert(r.getInt(1) == want, s"vec ${r.getLong(0)}")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("rankCutpoints: nulls/NaN excluded; cardinality guard refuses (VERDICT r11 #3)") {
    import graft.ext.Vocabulary
    val vals: Seq[java.lang.Double] = Seq[java.lang.Double](30.0, null, 10.0,
      Double.NaN, 20.0, 20.0, 50.0, 40.0)
    val scored = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("doc_id", "ppx")
    // ranks over the 6 non-null/non-NaN values [10,20,20,30,40,50]
    val got = Vocabulary.rankCutpoints(scored, "ppx", Seq(0.5, 0.9))
    assert(got == Seq(20.0, 40.0), got.toString)
    // an unrounded (high-cardinality) column must refuse, not degrade the
    // single-task running sum to O(n)
    val e = intercept[IllegalStateException] {
      Vocabulary.rankCutpoints(scored, "ppx", Seq(0.5), maxDistinct = 3)
    }
    assert(e.getMessage.contains("distinct") && e.getMessage.contains("round"),
      e.getMessage)
  }

  test("perplexityBuckets: NULL/NaN scores label NULL, not the tail bucket") {
    import graft.ext.Vocabulary
    val scored = Seq(
      (1L, java.lang.Double.valueOf(10.0)),
      (2L, null.asInstanceOf[java.lang.Double]),
      (3L, java.lang.Double.valueOf(Double.NaN))).toDF("doc_id", "ppx")
    val out = Vocabulary.perplexityBuckets(scored, "ppx",
        Seq(20.0), Seq("head", "tail"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out == Map(1L -> Some("head"), 2L -> None, 3L -> None), out.toString)
  }

  test("stripSpans composes a keep-one-occurrence policy") {
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "doc_id", "text", k = 3)
    // keep-first policy: the lowest doc id of each duplicated passage
    // keeps its copy — here doc 1 is the keeper, so only doc 2 strips
    val nonKeeper = spans.where(col("doc_id") =!= 1L)
    val out = Dedup.stripSpans(corpus, nonKeeper, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> ("a b c d e f", 0L), 2L -> ("x y", 4L)))
  }

  /** A candidate family as a [[Dedup.nearDupPairs]] step over its
    * (id, sig, ssig[, sh]) checkpoint, with the step's pair columns. */
  private case class NearDupStep(family: String,
      run: (org.apache.spark.sql.DataFrame, Seq[(String, String)]) =>
        org.apache.spark.sql.DataFrame,
      aCol: String, bCol: String)

  private def nearDupSteps(collapseSigMinDocs: Long): Seq[NearDupStep] = Seq(
    NearDupStep("minhash", (f, c) => Dedup.minhashDupPairsFromSigs(f, "id",
      "sig", bands = 16, threshold = 0.5,
      collapseSigMinDocs = collapseSigMinDocs, carry = c), "id_a", "id_b"),
    NearDupStep("multi-family", (f, c) => Dedup.multiFamilyDupCandidates(f,
      "id", "sig", "ssig", mBands = 16, estThreshold = 0.65, maxHamming = 3,
      carry = c), "id_a", "id_b"),
    NearDupStep("incremental", (f, c) => {
      val corpus = Dedup.materialize(f.where(col("id") % 10 =!= 0))
      Dedup.incrementalMinhashDupPairs(f.where(col("id") % 10 === 0),
        Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32), corpus,
        "id", "sig", bands = 32, threshold = 0.35, carry = c)
    }, "inc_id", "corpus_id"))

  /** (a, b, jaccard) of one [[Dedup.nearDupPairs]] run with the shingle
    * placement forced. */
  private def placedPairs(corpus: org.apache.spark.sql.DataFrame,
      step: NearDupStep, eager: Boolean): Set[(Long, Long, Double)] =
    Dedup.placedNearDupPairs(corpus, "doc_id", "text",
        Seq(Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
          .as("sig"), Dedup.simhash128(col("text")).as("ssig")),
        step.run, step.aCol, step.bCol, minJaccard = 0.5, eagerShingles = eager)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("carry columns ride the est fetch == separate pair attach (all three candidate ops)") {
    // the eager-shingle entries fetch verify payloads through the
    // operator's existing per-pair signature joins (carry) instead of a
    // second attach join pair; the carried output must be ROW-IDENTICAL
    // (ids, est, payload) to the separate attachPairPayloadsAuto shape
    val frame = Dedup.materialize(docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
        .as("sig"),
      Dedup.simhash128(col("text")).as("ssig"),
      Dedup.shingles(col("text"), 3).as("sh")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[String](3).sorted.mkString(","),
        r.getSeq[String](4).sorted.mkString(","))
    def pairsOf(df: org.apache.spark.sql.DataFrame, a: String, b: String,
        est: Boolean) =
      df.select(col(a), col(b),
          (if (est) col("est_jaccard") else lit(0.0)).as("e"),
          col("sh_a"), col("sh_b"))
        .collect().map(key).sorted.toSeq

    // minhash: keys form + member-pairs branch (collapse forced on)
    val mhCarry = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
      bands = 16, threshold = 0.5, collapseSigMinDocs = 1L,
      carry = Seq("sh" -> "sh"))
    val mhPlain = Dedup.attachPairPayloadsAuto(
      Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 16, threshold = 0.5, collapseSigMinDocs = 1L),
      frame, frame, "id", "sh", "id_a", "id_b")
    assert(pairsOf(mhCarry, "id_a", "id_b", est = true) ==
      pairsOf(mhPlain, "id_a", "id_b", est = true), "minhash carry mismatch")
    assert(pairsOf(mhCarry, "id_a", "id_b", est = true).nonEmpty)

    // multi-family (narrow arm at this corpus)
    val mfCarry = Dedup.multiFamilyDupCandidates(frame, "id", "sig", "ssig",
      mBands = 16, estThreshold = 0.65, maxHamming = 3,
      carry = Seq("sh" -> "sh"))
    val mfPlain = Dedup.attachPairPayloadsAuto(
      Dedup.multiFamilyDupCandidates(frame, "id", "sig", "ssig",
        mBands = 16, estThreshold = 0.65, maxHamming = 3),
      frame, frame, "id", "sh", "id_a", "id_b")
    assert(pairsOf(mfCarry, "id_a", "id_b", est = false) ==
      pairsOf(mfPlain, "id_a", "id_b", est = false),
      "multi-family carry mismatch")

    // incremental: inc split vs corpus index
    val inc = frame.where(col("id") % 10 === 0)
    val corpus = Dedup.materialize(frame.where(col("id") % 10 =!= 0))
    val index = Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32)
    val incCarry = Dedup.incrementalMinhashDupPairs(inc, index, corpus,
      "id", "sig", bands = 32, threshold = 0.35, carry = Seq("sh" -> "sh"))
    val incPlain = Dedup.attachPairPayloadsAuto(
      Dedup.incrementalMinhashDupPairs(inc, index, corpus,
        "id", "sig", bands = 32, threshold = 0.35),
      frame, frame, "id", "sh", "inc_id", "corpus_id")
    assert(pairsOf(incCarry, "inc_id", "corpus_id", est = true) ==
      pairsOf(incPlain, "inc_id", "corpus_id", est = true),
      "incremental carry mismatch")
    assert(pairsOf(incCarry, "inc_id", "corpus_id", est = true).nonEmpty)

    // the same three families through nearDupPairs with the shingle
    // placement forced both ways — eager (shingles carried through the
    // step's fetch joins) and lazy (signature-only checkpoint + the
    // broadcast-reduced attachPairPayloads) must verify to the same pairs
    val sameText = "every document carries this same duplicated sentence"
    val astral = "\uD835\uDD18nicode \uD83D\uDE00 text with astral " +
      "\uD800\uDF48 symbols and a few more words"
    val corpora = Seq(
      "fixture" -> docs,
      "empty and whitespace-only" -> Seq((0L, ""), (1L, "   "), (2L, "\t\n"),
        (3L, ""), (10L, " \u00A0 "), (11L, "a b c d e"), (20L, "a b c d e"))
        .toDF("doc_id", "text"),
      "non-BMP" -> Seq((0L, astral), (1L, astral), (2L, astral + " tail"),
        (10L, astral + " \uD83D\uDE01"), (11L, "plain ascii words only here"))
        .toDF("doc_id", "text"),
      "one document" -> Seq((0L, "the only document in this corpus"))
        .toDF("doc_id", "text"),
      "all duplicates" -> (0 until 12).map(i => (i.toLong, sameText))
        .toDF("doc_id", "text"))
    for ((name, corpus) <- corpora; step <- nearDupSteps(1L)) {
      val eager = placedPairs(corpus, step, eager = true)
      val lazyPairs = placedPairs(corpus, step, eager = false)
      assert(eager == lazyPairs, s"${step.family} on $name: " +
        s"eager-only=${eager -- lazyPairs} lazy-only=${lazyPairs -- eager}")
      if (name == "fixture" || name == "all duplicates" || name == "non-BMP")
        assert(eager.nonEmpty, s"${step.family} on $name verified no pairs")
      if (name == "one document") assert(eager.isEmpty)
    }
  }

  test("carry equivalence holds in PAYLOAD banding form (high-collision corpus)") {
    // ADVICE r19: the payload-form carry branch (joinSigs after
    // dropDuplicates, taken only when estCandidates > bandedRows/2) and its
    // unionByName alignment were covered only by inspection — the keys-form
    // test above never reaches it. Force the form: a high-collision corpus
    // (3 texts × 10 copies — every group floods its buckets in every band)
    // plus a candidate budget small enough that the closed-form bound tier
    // escalates to the measured histogram, whose estimate then crosses the
    // bandedRows/2 form switch.
    val collDocs = (0 until 30).map { i =>
      (i.toLong, s"duplicate payload group ${i % 3} with shared shingle text")
    }.toDF("doc_id", "text")
    val frame = Dedup.materialize(collDocs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
        .as("sig"),
      Dedup.simhash128(col("text")).as("ssig"),
      Dedup.shingles(col("text"), 3).as("sh")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[String](3).sorted.mkString(","),
        r.getSeq[String](4).sorted.mkString(","))
    def pairsOf(df: org.apache.spark.sql.DataFrame, est: Boolean) =
      df.select(col("id_a"), col("id_b"),
          (if (est) col("est_jaccard") else lit(0.0)).as("e"),
          col("sh_a"), col("sh_b"))
        .collect().map(key).sorted.toSeq
    spark.conf.set("spark.graft.lsh.candidateBudget", "3000")
    try {
      // the stats ring is bounded, so "entries since a mark" is unreliable
      // in a full-suite run — read the MOST RECENT stat of the family
      // instead (this operator just recorded exactly one of the two kinds)
      def lastOfFamily(prefix: String) = Dedup.lshStats.reverse
        .find(st => st.kind == prefix || st.kind == s"$prefix-bound")
      val mhCarry = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
        bands = 16, threshold = 0.5, carry = Seq("sh" -> "sh"))
      val carryPairs = pairsOf(mhCarry, est = true)
      // prove the payload form actually engaged: the measured-histogram
      // stat (kind "minhash", not the closed-form "minhash-bound") must be
      // the one recorded, and its estimate must cross the form switch
      // (bandedRows = 30 docs × 16 bands = 480)
      val measured = lastOfFamily("minhash")
      assert(measured.exists(st => st.kind == "minhash" &&
          st.estCandidates > 480 / 2),
        s"fixture failed to force payload form: $measured")
      val mhPlain = Dedup.attachPairPayloadsAuto(
        Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
          bands = 16, threshold = 0.5),
        frame, frame, "id", "sh", "id_a", "id_b")
      assert(carryPairs == pairsOf(mhPlain, est = true),
        "minhash payload-form carry mismatch")
      assert(carryPairs.nonEmpty)

      val mfCarry = Dedup.multiFamilyDupCandidates(frame, "id", "sig", "ssig",
        mBands = 16, estThreshold = 0.65, maxHamming = 3,
        carry = Seq("sh" -> "sh"))
      val mfPairs = pairsOf(mfCarry, est = false)
      val mfMeasured = lastOfFamily("multiband")
      // bandedRows = 30 docs × (16 minhash + 4 simhash bands) = 600
      assert(mfMeasured.exists(st => st.kind == "multiband" &&
          st.estCandidates > 600 / 2),
        s"fixture failed to force multiband payload form: $mfMeasured")
      val mfPlain = Dedup.attachPairPayloadsAuto(
        Dedup.multiFamilyDupCandidates(frame, "id", "sig", "ssig",
          mBands = 16, estThreshold = 0.65, maxHamming = 3),
        frame, frame, "id", "sh", "id_a", "id_b")
      assert(mfPairs == pairsOf(mfPlain, est = false),
        "multi-family payload-form carry mismatch")
      assert(mfPairs.nonEmpty)

      // nearDupPairs, placement forced both ways, in the payload form
      for (step <- nearDupSteps(Dedup.defaultScaleGeomMinDocs)) {
        val eager = placedPairs(collDocs, step, eager = true)
        val lazyPairs = placedPairs(collDocs, step, eager = false)
        assert(eager.nonEmpty && eager == lazyPairs, s"${step.family}: " +
          s"eager-only=${eager -- lazyPairs} lazy-only=${lazyPairs -- eager}")
      }
      assert(lastOfFamily("multiband").exists(_.kind == "multiband"),
        "nearDupPairs runs left the payload form")
    } finally spark.conf.unset("spark.graft.lsh.candidateBudget")
  }

  test("carry out names colliding with operator internals are refused") {
    val frame = Dedup.materialize(docs.select(col("doc_id").as("id"),
      Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
        .as("sig"),
      Dedup.simhash128(col("text")).as("ssig"),
      Dedup.shingles(col("text"), 3).as("sh")))
    Seq("id", "payload", "est_jaccard", "band", "bucket", "__mb").foreach { o =>
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
          bands = 16, threshold = 0.5, carry = Seq("sh" -> o))
      }
      assert(e.getMessage.contains("reserved"), s"out=$o: ${e.getMessage}")
    }
    val dup = intercept[IllegalArgumentException] {
      Dedup.multiFamilyDupCandidates(frame, "id", "sig", "ssig",
        mBands = 16, estThreshold = 0.65, maxHamming = 3,
        carry = Seq("sh" -> "x", "sig" -> "x"))
    }
    assert(dup.getMessage.contains("distinct"))
  }
}
