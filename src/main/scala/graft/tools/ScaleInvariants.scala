package graft.tools

import org.apache.spark.sql.functions._

/** Correctness-at-scale gate: the oracle (DuckDB) cannot re-verify the
  * quadratic dedup queries past ~5k documents, but `ScaleUp`'s replication
  * is structure-preserving BY CONSTRUCTION, which yields invariants the
  * scaled directory must satisfy:
  *
  *  - per-replica token suffixing keeps within-replica shingle overlap
  *    identical to the base corpus and makes cross-replica overlap ZERO.
  *    Exact dedup therefore scales EXACTLY N× (hash groups are
  *    replica-local). LSH-banded families scale N× up to their published
  *    capture semantics: minhash capture is probabilistic per replica
  *    (≥99% per pair), and simhash HAMMING DISTANCE itself changes under
  *    token renaming (a base pair at hamming 3 may sit at 4 in a suffixed
  *    replica, and vice versa), so those counts must land in a tight band
  *    around N×, not exactly on it.
  *  - brute-force ANN top-k at a bigger corpus POINTWISE DOMINATES the
  *    base: per query, the k-th best cosine can only go up (the candidate
  *    set is a superset up to orthogonal replica transforms). Row equality
  *    is NOT expected — at N× corpus the extreme-value tail of ~N·|base|
  *    random cosines legitimately enters the top-k.
  *  - IVF on the scaled corpus is graded as measured RECALL against the
  *    scaled brute-force ground truth (the nProbe/nClusters trade at
  *    scale), not against the base directory.
  *
  * A count drifting outside its band is a real semantic finding (this gate
  * caught the fixed-keyspace banding collapse: 97.7% of true cosine pairs
  * silently star-linked away at 100× corpus) — exactly the class of bug
  * the sf0.01 oracle gate cannot see.
  *
  * Usage: `sbt "runMain graft.tools.ScaleInvariants <baseDir> <scaledDir> <N> [only]"`
  * `only` = comma list of check-label substrings — at the largest SFs run
  * each heavy dedup check in its OWN invocation so one JVM's checkpoint +
  * spill scratch (O(corpus) for the shingle frames) is reclaimed before
  * the next starts (a single session at 1000× overflowed 64G of /tmp).
  */
object ScaleInvariants {
  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaled = args.lift(1).getOrElse("target/testdata-sf10")
    val n = args.lift(2).map(_.toInt).getOrElse(100)
    val only = args.lift(3).map(_.split(",").toSeq).getOrElse(Nil)
    def wanted(label: String): Boolean =
      only.isEmpty || only.exists(label.contains)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failures = 0
    def check(label: String)(ok: => Boolean, detail: => String): Unit = {
      val pass = try ok catch { case e: Throwable =>
        System.err.println(s"[invariant] ERROR $label: $e"); false }
      if (!pass) failures += 1
      println(s"[invariant] ${if (pass) "PASS" else "FAIL"} $label: $detail")
    }

    def qcount(q: String, dir: String): Long =
      graft.SparkEntry.queries(q)(spark, dir).count()

    // exact dedup: replica-local hash groups -> exactly N x
    if (wanted("q20")) {
      val b = qcount("q20_dedup_exact", base)
      val s = qcount("q20_dedup_exact", scaled)
      check("q20_exact_Nx")(s == n * b, s"base=$b scaled=$s expected=${n * b}")
    }
    // LSH families: within the published capture band of N x
    // q94/q96 emit EXACT-verified pairs (bar 0.8), so their counts band
    // around N× like q22/q23 — and at the 4th decade (n=1000) they are the
    // capture proof for the geometry ladder (scaledMinhashGeometry): the
    // scaled corpus crosses defaultScaleGeomMinDocs, the banding switches
    // to 12×5, and the count must still land within the band.
    for ((q, tol) <- Seq("q22_minhash_dups" -> 0.01, "q23_simhash_dups" -> 0.01,
        "q28_cosine_neardup" -> 0.02, "q94_simhash_autoswitch" -> 0.01,
        "q96_minhash_scale_dups" -> 0.01) if wanted(q)) {
      val b = qcount(q, base)
      val s = qcount(q, scaled)
      val lo = ((1.0 - tol) * n * b).floor.toLong
      val hi = ((1.0 + tol) * n * b).ceil.toLong
      check(s"${q}_capture_band")(s >= lo && s <= hi,
        f"base=$b scaled=$s band=[$lo,$hi] capture=${s.toDouble / (n * b)}%.4f")
    }

    // q59 (pure hamming<=3 pairs): the global count does NOT band around
    // N x — short-doc junk collisions cluster just above the threshold and
    // replica token-renaming re-rolls their hamming, migrating h=4..6
    // pairs into <=3 asymmetrically (measured 1.82x at 1000x). The SHARP
    // invariant: replica 0 is textually unmodified, so the scaled result
    // restricted to replica-0 ids must equal the base set EXACTLY.
    if (wanted("q59")) {
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = pairSet(graft.SparkEntry.queries("q59_simhash128_dups")(spark, base))
      val sAll = graft.SparkEntry.queries("q59_simhash128_dups")(spark, scaled)
      val s0 = pairSet(sAll.where(col("id_a") < ScaleUp.KeyOffset &&
        col("id_b") < ScaleUp.KeyOffset))
      check("q59_replica0_exact")(s0 == b,
        s"base=${b.size} replica0=${s0.size} onlyBase=${(b -- s0).size} " +
          s"onlyScaled=${(s0 -- b).size}")
    }

    // brute-force ANN: per-query k-th-best cosine pointwise dominates base
    def kthBest(dir: String) = graft.SparkEntry.queries("q25_ann_cosine")(
        spark, dir)
      .groupBy("query_id").agg(min("cosine").as("kth"), count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    if (wanted("q25")) {
      val b = kthBest(base)
      val s = kthBest(scaled)
      check("q25_topk_dominates")(b.keySet == s.keySet && b.forall {
        case (q, (kb, k)) => s(q)._2 == k && s(q)._1 >= kb - 1e-9 },
        b.keySet.toSeq.sorted.map(q =>
          f"q$q ${b(q)._1}%.3f->${s(q)._1}%.3f").mkString(" "))
    }

    // IVF at N x corpus: measured recall vs the SCALED brute-force truth
    if (wanted("q47")) {
      def pairs(q: String) = graft.SparkEntry.queries(q)(spark, scaled)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = pairs("q25_ann_cosine")
      val ivf = pairs("q47_ivf_ann")
      val recall = (truth & ivf).size.toDouble / truth.size
      check("q47_ivf_recall_at_scale")(recall >= 0.7, f"recall=$recall%.3f " +
        s"(nProbe=7/8 on near-random data; base-SF recall is 1.0 by oracle)")
    }

    // q61 sequencePack at scale: the assignment is a pure function of
    // (id, tokens, budget, shards) — identical on a repartitioned,
    // reverse-sorted copy — and no pack overflows by more than one doc.
    if (wanted("q61")) {
      import graft.ext.{Curation, TextAnalysis}
      val docs = spark.read.parquet(s"$scaled/documents.parquet")
        .select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      val t0 = System.nanoTime()
      val packed = Curation.sequencePack(docs, "doc_id", "n_tokens", 4096, 1024)
      val total = packed.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val overflow = packed.groupBy("shard", "pack")
        .agg(sum("n_tokens").as("tot"), max("n_tokens").as("maxDoc"))
        .where(col("tot") > lit(4096) + col("maxDoc")).count()
      val rePacked = Curation.sequencePack(
        docs.repartition(97).sortWithinPartitions(col("doc_id").desc),
        "doc_id", "n_tokens", 4096, 1024)
      val drift = packed.select("doc_id", "shard", "pack")
        .except(rePacked.select("doc_id", "shard", "pack")).count()
      check("q61_pack_deterministic_at_scale")(
        overflow == 0 && drift == 0 && total == docs.count(),
        f"docs=$total overflowPacks=$overflow reorderDrift=$drift ${secs}%.1fs")
    }

    // q62 capPerGroup at scale: language groups are ~corpus/5 rows each —
    // the hot-domain regime — and the salted pre-prune must still be
    // EXACTLY the unsalted answer while sorting only buckets*k per group.
    if (wanted("q62")) {
      import graft.ext.{Curation, TextAnalysis}
      val docs = spark.read.parquet(s"$scaled/documents.parquet")
        .select(col("doc_id"), col("lang"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .localCheckpoint(true)
      val order = Seq(col("quality").desc, col("doc_id").asc)
      def run(salt: Option[(org.apache.spark.sql.Column, Int)]): (Set[(String, Long)], Double) = {
        val t0 = System.nanoTime()
        val out = Curation.capPerGroup(docs, Seq("lang"), order, 100, salt)
          .select("lang", "doc_id").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        (out, (System.nanoTime() - t0) / 1e9)
      }
      val (plain, tPlain) = run(None)
      val (salted, tSalted) = run(Some((col("doc_id"), 64)))
      check("q62_salted_prune_exact_at_scale")(plain == salted && plain.nonEmpty,
        f"kept=${plain.size} unsalted=${tPlain}%.1fs salted=${tSalted}%.1fs")
    }

    // q62 hot-group regime (synthetic; no disk corpus needed): ONE group
    // holding 100M rows — the straggler case. FINDING (kept measured
    // here): Catalyst's WindowGroupLimit already bounds the bare window
    // (partial top-k per input partition before the shuffle), so the
    // plain form BEATS the salted two-window prune at any size; the salt
    // remains an exactness-proven fallback for rewrite-less engines.
    // Asserted: identical kept-sets, and the bare window staying ahead.
    if (wanted("q62skew")) {
      import graft.ext.Curation
      // no checkpoint: spark.range is pure/deterministic, so both runs see
      // identical data without materializing 100M rows in block storage
      val rows = spark.range(100000000L).toDF("id")
        .withColumn("grp", lit("hot"))
        .withColumn("score", pmod(col("id") * 131 + 17, lit(1000000L)).cast("double"))
      val order = Seq(col("score").desc, col("id").asc)
      def run(salt: Option[(org.apache.spark.sql.Column, Int)]): (Set[Long], Double) = {
        val t0 = System.nanoTime()
        val kept = Curation.capPerGroup(rows, Seq("grp"), order, 100, salt)
          .select("id").collect().map(_.getLong(0)).toSet
        (kept, (System.nanoTime() - t0) / 1e9)
      }
      val (plain, tPlain) = run(None)
      val (salted, tSalted) = run(Some((col("id"), 256)))
      check("q62skew_hot_group")(
        plain == salted && plain.size == 100 && tPlain <= tSalted * 1.5,
        f"kept=${plain.size} bareWindow=${tPlain}%.1fs saltedPrune=${tSalted}%.1fs " +
          "(WindowGroupLimit makes the bare window the scale-safe default)")
    }

    // q63 incremental dedup at scale: the band-index path must equal the
    // full self-join pipeline's cross-split pairs at a corpus the DuckDB
    // oracle cannot brute-force, and its wall-time measures the O(Δ)
    // claim (the full pipeline re-bands the corpus; the incremental run
    // only bands the increment and streams the prebuilt index).
    if (wanted("q63")) {
      import graft.ext.Dedup
      val docs = spark.read.parquet(s"$scaled/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true) // charge parquet IO to neither side
      def sigsOf(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id").as("id"),
          Dedup.minhashSignature(col("text"), 64, 3).as("sig"))
      // FULL pipeline cost = re-hash the whole corpus + self-join banding
      // (what a daily re-run pays today)
      val tHashAll0 = System.nanoTime()
      val frame = sigsOf(docs).localCheckpoint(true)
      val tHashAll = (System.nanoTime() - tHashAll0) / 1e9
      // INCREMENTAL cost = hash ONLY the increment + join the stored
      // index; corpus signatures/index are loaded, never recomputed —
      // checkpoints stand in for the parquet artifacts a store would hold
      val corpus = frame.where(col("id") % 10 =!= 0).localCheckpoint(true)
      val tIncHash0 = System.nanoTime()
      val inc = sigsOf(docs.where(col("doc_id") % 10 === 0))
        .localCheckpoint(true)
      val tIncHash = (System.nanoTime() - tIncHash0) / 1e9
      val tIdx0 = System.nanoTime()
      val index = Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32)
        .localCheckpoint(true)
      val tIdx = (System.nanoTime() - tIdx0) / 1e9
      val t0 = System.nanoTime()
      val incPairs = Dedup.incrementalMinhashDupPairs(inc, index, corpus,
          "id", "sig", bands = 32, threshold = 0.35)
        .select("inc_id", "corpus_id").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val tInc = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val fullPairs = Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
          bands = 32, threshold = 0.35)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val tFull = (System.nanoTime() - t1) / 1e9
      check("q63_incremental_equals_full_at_scale")(incPairs == fullPairs,
        f"pairs=${incPairs.size} onlyInc=${(incPairs -- fullPairs).size} " +
          f"onlyFull=${(fullPairs -- incPairs).size} " +
          f"incRun=${tIncHash + tInc}%.1fs (hash=${tIncHash}%.1fs+join=${tInc}%.1fs) " +
          f"vs fullRun=${tHashAll + tFull}%.1fs (hash=${tHashAll}%.1fs+band=${tFull}%.1fs); " +
          f"amortized index build=${tIdx}%.1fs")
    }

    // q64 incremental cosine at scale: same cross-split equality for the
    // embedding family, with the geometry ADAPTIVELY sized to the corpus
    // (what an index build at this scale would do) and pinned identically
    // on both paths so the sets must match exactly.
    if (wanted("q64")) {
      import graft.ext.Similarity
      // the scaled corpus has no natural ≥0.9 pairs (replicas are signed
      // permutations ≈ random cross-replica), so plant q28's closed-form
      // perturbation of every 40th vector as the ARRIVING batch — the
      // cross-split pair set is then exactly the planted pairs, non-empty
      // and structure-checked, not a trivial ∅==∅
      val IncOffset = 10000000000000L // clears 1000×KeyOffset ids
      val emb = spark.read.parquet(s"$scaled/embeddings.parquet")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val baseN = emb.count()
      val plantedInc = emb.where(col("vec_id") % 40 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), (x, j) =>
            (x.cast("double") +
              (pmod(col("vec_id") * 31 + j.cast("long"), lit(7L)) - 3) * 0.01)
              .cast("float")).as("embedding"))
        .select((col("vec_id") + IncOffset).as("vec_id"), col("embedding"))
      val union = emb.unionByName(plantedInc)
      val (bands, rows) = Similarity.adaptiveNearDupBanding(baseN, 0.9)
      val sigs = Similarity.nearDupSignatures(union, "vec_id", "embedding",
        dim, bands, rows).localCheckpoint(true)
      val inc = sigs.where(col("id") >= IncOffset).localCheckpoint(true)
      val corpus = sigs.where(col("id") < IncOffset).localCheckpoint(true)
      val index = Similarity.cosineBandIndex(corpus, bands).localCheckpoint(true)
      val t0 = System.nanoTime()
      val incPairs = Similarity.incrementalCosineNearDupPairs(inc, index,
          corpus, 0.9, bands, rows)
        .select("inc_id", "corpus_id").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val tInc = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val fullPairs = Similarity.cosineNearDupPairs(union,
          "vec_id", "embedding", dim, 0.9, bands, rows)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => (a >= IncOffset) != (b >= IncOffset) }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val tFull = (System.nanoTime() - t1) / 1e9
      check("q64_incremental_cosine_equals_full_at_scale")(
        incPairs == fullPairs && incPairs.nonEmpty,
        f"pairs=${incPairs.size} onlyInc=${(incPairs -- fullPairs).size} " +
          f"onlyFull=${(fullPairs -- incPairs).size} geometry=${bands}x$rows " +
          f"incremental=${tInc}%.1fs full=${tFull}%.1fs")
    }

    // q65 curation pipeline at scale. Replica-0 exactness does NOT hold
    // here by design: token suffixing shifts replica quality scores
    // (suffixed stopwords stop matching), so replicas legitimately compete
    // with base docs for the per-source top-50. What MUST hold at any
    // corpus size: the per-source cap, pack token budgets, and — the
    // whole-pipeline gate — bit-identical output when the input arrives
    // with a different partitioning/order (every stage deterministic).
    if (wanted("q65")) {
      val run1 = graft.SparkEntry.queries("q65_curation_pipeline")(spark, scaled)
        .collect().map(_.toString).toSet
      val run2 = graft.SparkEntry.queries("q65_curation_pipeline")(spark, scaled)
        .collect().map(_.toString).toSet
      val df = graft.SparkEntry.queries("q65_curation_pipeline")(spark, scaled)
      val perSourceMax = df.groupBy("source").count()
        .agg(max("count")).head().getLong(0)
      // sequencePack's documented contract (same form as the q61 check):
      // a pack overflows the budget by AT MOST one document — the
      // boundary-crossing doc stays in the pack it started filling. The
      // earlier `sum > budget && docs > 1` form was stricter than the
      // contract and tripped on fixture regeneration (denser token
      // counts), not on any operator change.
      val badPacks = df.groupBy("shard", "pack")
        .agg(sum("n_tokens").as("t"), max("n_tokens").as("maxDoc"))
        .where(col("t") > lit(512) + col("maxDoc")).count()
      check("q65_pipeline_at_scale")(
        run1 == run2 && run1.nonEmpty && perSourceMax <= 50 && badPacks == 0,
        s"rows=${run1.size} deterministic=${run1 == run2} " +
          s"perSourceMax=$perSourceMax packsOverBudgetPlusOneDoc=$badPacks")
    }

    // q66 markup strip at scale: the strip is a pure per-row transform, so
    // the scaled output is exactly N x base rows and the replica-0 slice
    // (doc_id < KeyOffset) must be BIT-IDENTICAL to the base output —
    // replica suffixing never touches replica 0.
    if (wanted("q66")) {
      val b = graft.SparkEntry.queries("q66_markup_strip")(spark, base)
        .collect().map(_.toString).toSet
      val sDf = graft.SparkEntry.queries("q66_markup_strip")(spark, scaled)
      val sCount = sDf.count()
      val s0 = sDf.where(col("doc_id") < ScaleUp.KeyOffset)
        .collect().map(_.toString).toSet
      check("q66_strip_replica0_exact")(
        sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b}")
    }

    // q68 repetition stats at scale: replica suffixing is a BIJECTION on
    // tokens ("w" -> "w_k"), so every repetition signal (distinct fraction,
    // top-bigram share, trigram dup fraction) is invariant per replica —
    // the scaled output is exactly N x base with per-doc stats equal to the
    // base doc's (fold doc_id mod KeyOffset).
    if (wanted("q68")) {
      val b = graft.SparkEntry.queries("q68_repetition_stats")(spark, base)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).toSet
      val sDf = graft.SparkEntry.queries("q68_repetition_stats")(spark, scaled)
      val sCount = sDf.count()
      val folded = sDf
        .withColumn("doc_id", col("doc_id") % ScaleUp.KeyOffset)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).toSet
      check("q68_stats_invariant_under_suffix_bijection")(
        sCount == n.toLong * b.size && folded == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"foldedMatch=${folded == b}")
    }

    // q69 decontamination at scale: cross-replica shingle sets are DISJOINT
    // (suffixing), and replica 0 is verbatim with the identical benchmark
    // id selection — so the replica-0 slice of the scaled run must equal
    // the base run BIT-FOR-BIT while the corpus underneath is N x larger
    // (the broadcast-side set grows with every replica's benchmark slice).
    if (wanted("q69")) {
      val b = graft.SparkEntry.queries("q69_decontaminate")(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sDf = graft.SparkEntry.queries("q69_decontaminate")(spark, scaled)
      val s0 = sDf.where(col("doc_id") < ScaleUp.KeyOffset)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      check("q69_decontaminate_replica0_exact")(
        b.nonEmpty && s0 == b,
        s"base=${b.size} replica0=${s0.size} match=${s0 == b}")
    }

    // q70 TF-IDF at scale: replicas are structurally identical corpora over
    // disjoint suffixed vocabularies (df("w_k") in the scaled corpus ==
    // df_base("w"), doc lengths unchanged, one shared N) — so every
    // replica's top-k, after stripping the suffix and folding ids, must be
    // IDENTICAL to the replica-0 slice, and the total exactly N x it.
    // (Absolute tfidf values legitimately differ from the base run: N in
    // the smoothed idf is corpus-wide. Tie-break survives suffixing because
    // '_' sorts below lowercase letters.)
    if (wanted("q70")) {
      val sDf = graft.SparkEntry.queries("q70_tfidf_topterms")(spark, scaled)
        .withColumn("doc_id", col("doc_id") % ScaleUp.KeyOffset)
        .withColumn("term", regexp_replace(col("term"), "_\\d+$", ""))
      val total = sDf.count()
      val r0count = total / n
      val distinctFolded = sDf.distinct().count()
      val perReplicaOk = distinctFolded == r0count
      check("q70_tfidf_replica_isomorphism")(
        total == n.toLong * r0count && perReplicaOk && total > 0,
        s"total=$total foldedDistinct=$distinctFolded expectedPerReplica=$r0count")
    }

    // q71 duplicate clustering at scale: replica token-suffixing makes
    // cross-replica shingle overlap ZERO, so the scaled pair graph is N
    // disjoint isomorphic copies of the base graph and the components fold
    // exactly: cluster labels mod KeyOffset equal the base labels, total
    // rows exactly N x base. (The q71 ENTRY's doc_id < 150 filter would
    // only see replica 0 at a scaled dir, so the invariant re-derives the
    // pair graph with the per-replica filter doc_id % KeyOffset < 150.)
    // The pair derivation is the QUADRATIC exact-Jaccard helper (gated to
    // small candidate sets by design), so the invariant folds over at most
    // 10 replicas — fold-exactness at 10 disjoint copies proves the same
    // structure-preservation as 100 without running a 225M-pair cartesian.
    val foldReplicas = math.min(n, 10)
    if (wanted("q71")) {
      def clusters(dir: String, perReplica: Boolean) = {
        val d = graft.sources.TableLoader.load(spark, dir, "documents")
        val filtered =
          if (perReplica)
            d.where(pmod(col("doc_id"), lit(ScaleUp.KeyOffset)) < 150 &&
              col("doc_id") < foldReplicas * ScaleUp.KeyOffset)
          else d.where(col("doc_id") < 150)
        graft.ext.Dedup.dupClusters(graft.ext.Dedup.ngramJaccardPairs(
          filtered, "text", "doc_id", shingleN = 3, threshold = 0.02))
      }
      val b = clusters(base, perReplica = false).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sDf = clusters(scaled, perReplica = true)
      val sCount = sDf.count()
      val folded = sDf.select(
          pmod(col("id"), lit(ScaleUp.KeyOffset)).as("id"),
          pmod(col("cluster"), lit(ScaleUp.KeyOffset)).as("cluster"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      check("q71_clusters_fold_exact")(
        b.nonEmpty && sCount == foldReplicas.toLong * b.size && folded == b,
        s"base=${b.size} scaled=$sCount " +
          s"expected=${foldReplicas.toLong * b.size} foldMatch=${folded == b}")
    }

    // q72 mixture sampling at scale: the kept set is a pure function of
    // (id, rates, salt) — the replica-0 slice is bit-identical to the base
    // run, integer-rate groups keep exactly rate x rows, and fractional
    // groups concentrate around rate x n (law of large numbers: the band
    // tightens as the corpus grows; 3 percentage points is ~12 sigma at
    // 21.8k en docs).
    if (wanted("q72")) {
      val b = graft.SparkEntry.queries("q72_mixture_sample")(spark, base)
        .collect().map(_.toString).toSet
      val sDf = graft.SparkEntry.queries("q72_mixture_sample")(spark, scaled)
      val s0 = sDf.where(col("doc_id") < ScaleUp.KeyOffset)
        .collect().map(_.toString).toSet
      val docs = graft.sources.TableLoader.load(spark, scaled, "documents")
      val langN = docs.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val gotN = sDf.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val deOk = gotN.getOrElse("de", 0L) == langN("de") // rate 1.0 exact
      val frOk = !gotN.contains("fr")                    // rate 0.0 exact
      val enFrac = gotN.getOrElse("en", 0L).toDouble / langN("en")
      val esFrac = gotN.getOrElse("es", 0L).toDouble / langN("es")
      val zhFrac = gotN.getOrElse("zh", 0L).toDouble / langN("zh")
      check("q72_mixture_at_scale")(
        s0 == b && deOk && frOk &&
          math.abs(enFrac - 0.25) < 0.03 && math.abs(esFrac - 2.0) < 0.03 &&
          math.abs(zhFrac - 1.5) < 0.03,
        f"replica0Match=${s0 == b} de=$deOk fr=$frOk en=$enFrac%.4f " +
          f"es=$esFrac%.4f zh=$zhFrac%.4f")
    }

    // q73 boilerplate strip at scale: the footer literal's df only GROWS
    // with the corpus and leader paragraphs stay df=10 within each replica
    // (suffixing prevents cross-replica paragraph collisions), so the
    // boilerplate decision is replica-local: output = exactly N x base
    // rows with the replica-0 slice bit-identical. KeyOffset % 10 == 0
    // keeps the decade-leader derivation aligned per replica.
    if (wanted("q73")) {
      val b = graft.SparkEntry.queries("q73_boilerplate_strip")(spark, base)
        .collect().map(_.toString).toSet
      val sDf = graft.SparkEntry.queries("q73_boilerplate_strip")(spark, scaled)
      val sCount = sDf.count()
      val s0 = sDf.where(col("doc_id") < ScaleUp.KeyOffset)
        .collect().map(_.toString).toSet
      check("q73_strip_replica0_exact")(
        sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b}")
    }

    // q74 semantic dedup at scale: per-row centroid assignment is
    // independent of corpus size, so growing the corpus can only ADD pairs
    // — the replica-0 slice of the scaled pair set must equal the base
    // pair set exactly (replica transforms make cross-replica cosines
    // ~random, far below the 0.95 threshold).
    if (wanted("q74")) {
      val b = graft.SparkEntry.queries("q74_semantic_dedup")(spark, base)
        .collect().map(_.toString).toSet
      // per-row assignment is corpus-size-independent, so growing the
      // corpus only ADDS pairs: run over a 3-replica subset (8 fixed
      // centroids over a larger corpus blow the quadratic cluster budget —
      // asserted below as its own invariant; 3 replicas ≈ 18.7k vectors ≈
      // 22M within-cluster pairs, inside the default budget)
      val corpus = graft.SparkEntry.q28PlantedUnion(spark, scaled)
        .where(col("vec_id") < math.min(n, 3) * ScaleUp.KeyOffset)
      val cents = graft.sources.TableLoader.load(spark, scaled, "embeddings")
        .where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val sDf = graft.ext.Similarity.semanticDupPairs(
        corpus, "vec_id", "embedding", cents, threshold = 0.95)
        .select(col("id_a"), col("id_b"), col("cluster").cast("long").as("cluster"),
          round(col("cosine"), 3).as("cosine"))
      val sAll = sDf.count()
      val s0 = sDf.where(col("id_a") < ScaleUp.KeyOffset &&
        col("id_b") < ScaleUp.KeyOffset).collect().map(_.toString).toSet
      val budgetFires =
        try {
          graft.ext.Similarity.semanticDupPairs(
            graft.SparkEntry.q28PlantedUnion(spark, scaled),
            "vec_id", "embedding", cents, threshold = 0.95).count()
          n < 20 // at small N the full corpus legitimately fits the budget
        } catch { case _: IllegalStateException => true }
      check("q74_semantic_replica0_exact")(
        b.nonEmpty && s0 == b && budgetFires,
        s"base=${b.size} scaledSubset=$sAll replica0=${s0.size} " +
          s"match=${s0 == b} budgetGuardAtFullScale=$budgetFires")
    }

    // q74 scale LEVER (VERDICT r11 #6): the Σm² budget guard's documented
    // remedy — k ∝ n re-clustering — demonstrated, not just asserted.
    // Per-replica seed centroids (8 per replica → k = 8n) hold expected
    // cluster size constant, so the within-cluster pair volume — the
    // operator's true cost driver — grows ~LINEARLY in n instead of
    // quadratically (measured 9.97× at n=10, wall-clock 1.2×), and the
    // guard that fires over the full corpus at fixed k = 8 (asserted
    // above) never fires. Recall is judged against BRUTE-FORCE truth on
    // replica 0 — the fixed-k=8 base run is NOT truth (it loses its own
    // boundary pairs; measured: k=80 finds 53 true pairs k=8 misses and
    // vice versa). On this SemDeDup-documented WORST-CASE corpus
    // (structure-less random vectors, near-zero assignment gaps) recall
    // erodes with k as foreign centroids steal boundary vectors from the
    // flat argmax — measured 0.864 (k=8) → 0.800 (k=80, 10×) → 0.744
    // (k=800, 100×), ≈0.06 per decade of k — so the gate allows 0.15 of
    // erosion vs the fixed-k baseline (covers the measured curve through
    // 100× with margin) while still catching collapse-class bugs (the
    // LSH keyspace collapse this tool exists for lost 98% of pairs).
    // Precision must stay exactly 1 (every emitted pair exact-verified),
    // and volume must stay ≤ 2n× — at both measured scales it is exactly
    // linear (9.97× at n=10, 99.5× at n=100 vs the 100×/10000× a fixed-k
    // run would pay).
    if (wanted("q74_kscale")) {
      def centsFrom(dir: String, filter: org.apache.spark.sql.Column) =
        graft.sources.TableLoader.load(spark, dir, "embeddings")
          .where(filter).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // within-cluster pair volume Σ m(m-1)/2 under a centroid set — the
      // quantity the budget guards and the quadratic driver of the join
      def pairVolume(dir: String, cents: Array[Array[Double]]): Long =
        graft.SparkEntry.q28PlantedUnion(spark, dir)
          .select(element_at(graft.functions.VectorFunctions
            .nearest_centroids(col("embedding"), cents, 1), 1).as("c"))
          .groupBy("c").count()
          .agg(coalesce(sum((col("count") * (col("count") - 1) / 2)
            .cast("long")), lit(0L)))
          .head().getLong(0)
      val baseCents = centsFrom(base, col("vec_id") < 8)
      val (bPairs, tBase) = timed(pairSet(graft.ext.Similarity
        .semanticDupPairs(graft.SparkEntry.q28PlantedUnion(spark, base),
          "vec_id", "embedding", baseCents, threshold = 0.95)))
      val kCents = centsFrom(scaled, col("vec_id") % ScaleUp.KeyOffset < 8)
      val (sDf, tScaled) = timed(graft.ext.Similarity.semanticDupPairs(
          graft.SparkEntry.q28PlantedUnion(spark, scaled),
          "vec_id", "embedding", kCents, threshold = 0.95)
        .localCheckpoint())
      val s0 = pairSet(sDf.where(col("id_a") < ScaleUp.KeyOffset &&
        col("id_b") < ScaleUp.KeyOffset))
      val volBase = pairVolume(base, baseCents)
      val volScaled = pairVolume(scaled, kCents)
      // brute-force truth on the base corpus (≈20M cosine pairs — fine
      // here; it is exactly what cluster-scoping exists to avoid at scale)
      val bc = graft.SparkEntry.q28PlantedUnion(spark, base)
      val truth = pairSet(bc.select(col("vec_id").as("id_a"),
          col("embedding").as("__va"))
        .crossJoin(bc.select(col("vec_id").as("id_b"),
          col("embedding").as("__vb")))
        .where(col("id_a") < col("id_b"))
        .where(graft.functions.VectorFunctions.cosine_similarity(
          col("__va"), col("__vb")) >= 0.95))
      val recall8 = (bPairs intersect truth).size.toDouble / truth.size
      val recall80 = (s0 intersect truth).size.toDouble / truth.size
      check("q74_kscale_linear")(
        truth.nonEmpty && recall80 >= recall8 - 0.15 &&
          (bPairs subsetOf truth) && (s0 subsetOf truth) &&
          volScaled <= 2L * n * volBase &&
          tScaled <= tBase * n * 3,
        f"truth=${truth.size} recallK8=$recall8%.3f recallK${kCents.length}=" +
          f"$recall80%.3f precision1=${(s0 -- truth).isEmpty} " +
          f"volBase=$volBase%,d volScaled=$volScaled%,d " +
          f"volRatio=${volScaled.toDouble / volBase}%.2f (linear=$n) " +
          f"tBase=$tBase%.1fs tScaled=$tScaled%.1fs " +
          f"tRatio=${tScaled / tBase}%.2f")

      // MULTI-PROBE arm (VERDICT r12 #4): nProbe=2 at k∝n must buy the
      // k∝n lever's boundary-recall erosion back to within 0.05 of the
      // fixed-k=8 base run — at a bounded volume multiplier (each vector
      // joins 2 clusters → ≤4× the single-probe within-cluster volume,
      // still LINEAR in n; gated at 8×linear for headroom). Precision
      // must stay exactly 1 (multi-probe adds candidates, never skips
      // the exact-cosine verify), and the (id_a,id_b) dedup must hold
      // (a boundary pair can co-occur in both shared probed clusters).
      val (s2Df, tScaled2) = timed(graft.ext.Similarity.semanticDupPairs(
          graft.SparkEntry.q28PlantedUnion(spark, scaled),
          "vec_id", "embedding", kCents, threshold = 0.95, nProbe = 2)
        .localCheckpoint())
      val s2Rows = s2Df.where(col("id_a") < ScaleUp.KeyOffset &&
        col("id_b") < ScaleUp.KeyOffset)
      val s2Dupes = s2Rows.groupBy("id_a", "id_b").count()
        .where(col("count") > 1).count()
      val s2 = pairSet(s2Rows)
      def probedVolume(dir: String, cents: Array[Array[Double]]): Long =
        graft.SparkEntry.q28PlantedUnion(spark, dir)
          .select(explode(graft.functions.VectorFunctions
            .nearest_centroids(col("embedding"), cents, 2)).as("c"))
          .groupBy("c").count()
          .agg(coalesce(sum((col("count") * (col("count") - 1) / 2)
            .cast("long")), lit(0L)))
          .head().getLong(0)
      val volScaled2 = probedVolume(scaled, kCents)
      val recall2 = (s2 intersect truth).size.toDouble / truth.size
      check("q74_kscale_multiprobe")(
        recall2 >= recall8 - 0.05 && recall2 >= recall80 &&
          (s2 subsetOf truth) && s2Dupes == 0L &&
          volScaled2 <= 8L * n * volBase &&
          tScaled2 <= tBase * n * 6,
        f"recallK8=$recall8%.3f recallProbe1=$recall80%.3f " +
          f"recallProbe2=$recall2%.3f precision1=${(s2 -- truth).isEmpty} " +
          f"dupPairs=$s2Dupes volProbe2=$volScaled2%,d " +
          f"volRatio=${volScaled2.toDouble / volBase}%.2f " +
          f"(≤${8L * n}) tProbe2=$tScaled2%.1fs")
    }

    // q75 quantization at scale: a pure zero-shuffle map — replica-0 slice
    // bit-identical to the base run, total exactly N x base rows, and the
    // half-step error bound holds corpus-wide.
    if (wanted("q75")) {
      val b = graft.SparkEntry.queries("q75_quantize_int8")(spark, base)
        .collect().map(_.toString).toSet
      val sDf = graft.SparkEntry.queries("q75_quantize_int8")(spark, scaled)
      val sCount = sDf.count()
      val s0 = sDf.where(col("vec_id") < ScaleUp.KeyOffset)
        .collect().map(_.toString).toSet
      // 1e-6 slack, not 1e-9: the query emits max_err and scale ROUNDED to
      // 6 decimals, so an exactly-at-half-step error can read up to ~7.5e-7
      // over the rounded bound (probe-verified: the unrounded values
      // violate nothing)
      val badErr = sDf.where(col("max_err") > col("scale") * 0.5 + 1e-6).count()
      check("q75_quantize_replica0_exact")(
        sCount == n.toLong * b.size && s0 == b && badErr == 0,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b} overBoundRows=$badErr")
    }

    // q77 LM scoring at scale: replicas are isomorphic corpora over
    // disjoint suffixed vocabularies sharing ONE model (V and T are
    // corpus-wide), so after folding doc ids every replica must produce
    // IDENTICAL rounded scores — and the total exactly N x the folded set.
    // (KeyOffset is even, so the even/odd ref-vs-scored split is
    // replica-stable.) Absolute scores legitimately differ from a base-dir
    // run: V and T in the smoothing denominators grow with the corpus.
    // q78b banded containment: per-replica token suffixing keeps each
    // replica's containment structure identical to the base and makes
    // cross-replica shingle overlap ZERO, so the banded pair set over N
    // replicas folds (mod KeyOffset) EXACTLY onto the base pair set with
    // count = N × base. KeyOffset % 10 == 0 keeps the fragment-selection
    // (doc_id % 10) and fragment-id (+10000) construction replica-stable.
    // The inverted-index path has no quadratic arm, so the invariant runs
    // over ALL replicas, unlike q71's 10-replica quadratic cap.
    if (wanted("q78b")) {
      def pairs(dir: String, perReplica: Boolean) = {
        val d = graft.sources.TableLoader.load(spark, dir, "documents")
        val docs0 =
          if (perReplica) d.where(pmod(col("doc_id"), lit(ScaleUp.KeyOffset)) < 120)
          else d.where(col("doc_id") < 120)
        val docs = docs0.select(col("doc_id"), col("text"))
        val frags = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"),
            concat_ws(" ",
              slice(graft.ext.Dedup.tokens(col("text")), 1, 15)).as("text"))
        graft.ext.Dedup.ngramContainmentPairsBanded(docs.union(frags),
          "text", "doc_id", shingleN = 3, threshold = 0.9, dfCap = 256)
          .select(col("id_a"), col("id_b"))
      }
      val b = pairs(base, perReplica = false).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sDf = pairs(scaled, perReplica = true)
      val sCount = sDf.count()
      val folded = sDf.select(
          pmod(col("id_a"), lit(ScaleUp.KeyOffset)).as("id_a"),
          pmod(col("id_b"), lit(ScaleUp.KeyOffset)).as("id_b"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      check("q78b_banded_containment_fold_exact")(
        b.nonEmpty && sCount == n.toLong * b.size && folded == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"foldMatch=${folded == b}")
    }

    if (wanted("q77")) {
      val sDf = graft.SparkEntry.queries("q77_lm_score")(spark, scaled)
        .withColumn("doc_id", pmod(col("doc_id"), lit(ScaleUp.KeyOffset)))
      val total = sDf.count()
      val distinctFolded = sDf.distinct().count()
      val perReplica = total / n
      check("q77_lm_replica_isomorphism")(
        total > 0 && total == n.toLong * perReplica &&
          distinctFolded == perReplica,
        s"total=$total foldedDistinct=$distinctFolded " +
          s"expectedPerReplica=$perReplica")
    }

    // q79/q80 passage dedup at scale: duplicated k-token windows are
    // replica-LOCAL (per-replica token suffixing makes cross-replica grams
    // disjoint; replica 0 is unmodified), so the span frame scales EXACTLY
    // N× and replica 0 reproduces the base spans verbatim. A drift here
    // would mean window keys collide across replicas (hash-mode collision
    // regression) or the df count leaked across the suffix boundary.
    if (wanted("q79")) {
      def spanSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "span_start", "span_end", "n_windows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val b = spanSet(graft.SparkEntry.queries("q79_dup_spans")(spark, base))
      val sDf = graft.SparkEntry.queries("q79_dup_spans")(spark, scaled)
      val sCount = sDf.count()
      val s0 = spanSet(sDf.where(col("doc_id") < ScaleUp.KeyOffset))
      check("q79_spans_replica0_exact_and_Nx")(
        b.nonEmpty && sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b}")
    }
    if (wanted("q80")) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val b = rows(graft.SparkEntry.queries("q80_strip_dup_spans")(spark, base))
      val s0 = rows(graft.SparkEntry.queries("q80_strip_dup_spans")(spark, scaled)
        .where(col("doc_id") < ScaleUp.KeyOffset))
      check("q80_strip_replica0_exact")(b.nonEmpty && s0 == b,
        s"base=${b.size} replica0=${s0.size} " +
          s"onlyBase=${(b -- s0).size} onlyScaled=${(s0 -- b).size}")
    }

    // q81 fuzzy decontamination at scale: KeyOffset % 25 == 0 keeps the
    // benchmark selection replica-stable, suffixing keeps hits
    // replica-local, and the planted truncated copies sit at J≈0.9 where
    // banding capture is ~1 — so the hit set scales exactly N× and
    // replica 0 folds onto the base set.
    if (wanted("q81")) {
      def hitSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "bench_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = hitSet(graft.SparkEntry.queries("q81_fuzzy_decontam")(spark, base))
      val sDf = graft.SparkEntry.queries("q81_fuzzy_decontam")(spark, scaled)
      val sCount = sDf.count()
      val s0 = hitSet(sDf.where(col("doc_id") < ScaleUp.KeyOffset &&
        col("bench_id") < ScaleUp.KeyOffset))
      check("q81_fuzzy_decontam_replica0_exact_and_Nx")(
        b.nonEmpty && sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b}")
    }

    // q84 surgical decontamination: KeyOffset % 7 != 0, so replica j
    // selects a DIFFERENT benchmark subset — no N× count law. The sharp
    // invariant: suffixing confines matches within a replica and replica 0
    // is unmodified with the base benchmark subset, so the scaled result
    // restricted to replica-0 ids must equal the base spans EXACTLY.
    if (wanted("q84")) {
      def spanSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "span_start", "span_end", "n_windows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val b = spanSet(
        graft.SparkEntry.queries("q84_contaminated_spans")(spark, base))
      val s0 = spanSet(
        graft.SparkEntry.queries("q84_contaminated_spans")(spark, scaled)
          .where(col("doc_id") < ScaleUp.KeyOffset))
      check("q84_contaminated_spans_replica0_exact")(b.nonEmpty && s0 == b,
        s"base=${b.size} replica0=${s0.size} " +
          s"onlyBase=${(b -- s0).size} onlyScaled=${(s0 -- b).size}")
    }

    // q86 blocklist at scale: replica suffixing renames every token
    // ("slow" -> "slow_7"), so NO suffixed replica can match the literal
    // blocklist — hits live entirely in replica 0, which must equal the
    // base output verbatim; total rows are exactly N× (stats emit per doc).
    if (wanted("q86")) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = rows(graft.SparkEntry.queries("q86_blocklist")(spark, base))
      val sDf = graft.SparkEntry.queries("q86_blocklist")(spark, scaled)
      val sCount = sDf.count()
      val s0 = rows(sDf.where(col("doc_id") < ScaleUp.KeyOffset))
      val replicaHits = sDf.where(col("doc_id") >= ScaleUp.KeyOffset &&
        col("n_blocked") > 0).count()
      check("q86_blocklist_replica0_exact_suffix_blind")(
        b.nonEmpty && sCount == n.toLong * b.size && s0 == b &&
          replicaHits == 0,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b} suffixedReplicaHits=$replicaHits")
    }

    // q88 unicode normalization: a pure per-row map (q75's shape) —
    // scaled output is exactly N× rows and the replica-0 slice must be
    // bit-identical to the base run.
    if (wanted("q88")) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val b = rows(graft.SparkEntry.queries("q88_unicode_normalize")(spark, base))
      val sDf = graft.SparkEntry.queries("q88_unicode_normalize")(spark, scaled)
      val sCount = sDf.count()
      val s0 = rows(sDf.where(col("doc_id") < ScaleUp.KeyOffset))
      check("q88_normalize_replica0_exact")(
        b.nonEmpty && sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b}")
    }

    // q87 leakage-free split: near-dup pairs are replica-local (token
    // suffixing) and the md5 split of a replica-0 id is the same in both
    // runs, so the scaled output restricted to replica-0 ids — labels AND
    // demotions — must equal the base output verbatim, with 100× total
    // rows. (Replica j's labels hash differently per id, so only the
    // replica-0 slice is sharp.)
    if (wanted("q87")) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      val b = rows(graft.SparkEntry.queries("q87_leakfree_split")(spark, base))
      val sDf = graft.SparkEntry.queries("q87_leakfree_split")(spark, scaled)
      val sCount = sDf.count()
      val s0 = rows(sDf.where(col("doc_id") < ScaleUp.KeyOffset))
      check("q87_leakfree_split_replica0_exact")(
        b.nonEmpty && sCount == n.toLong * b.size && s0 == b,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Match=${s0 == b} baseDemoted=${b.count(_._3)}")
    }

    // q82 DSIR at scale: replicas have disjoint suffixed vocabularies with
    // identical counts, so Tt, Tr and D all scale by exactly N and the ln N
    // shifts CANCEL in the per-feature log ratio — DSIR weights are
    // replica-INVARIANT: a replica-0 doc scored against the 100× model must
    // match its base-model score to float noise. (KeyOffset % 5 == 0 keeps
    // the target/raw split replica-stable.) This pins the whole smoothing
    // algebra at scale; a leaked denominator would shift every score.
    if (wanted("q82")) {
      // UNROUNDED weights (the q82 entry rounds to 4 decimals, which would
      // turn float noise at a rounding boundary into a spurious mismatch)
      def weights(dir: String) = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        graft.ext.Vocabulary.dsirWeights(
          docs.where(col("doc_id") % 5 === 0),
          docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
          numBuckets = 0)
      }
      val b = weights(base).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val sAll = weights(scaled)
      val sCount = sAll.count()
      val s0 = sAll.where(col("doc_id") < ScaleUp.KeyOffset).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val aligned = b.nonEmpty && s0.keySet == b.keySet && b.forall {
        case (id, (nf, w)) =>
          val (nf2, w2) = s0(id); nf2 == nf && math.abs(w2 - w) < 1e-6
      }
      check("q82_dsir_replica_invariance_and_Nx")(
        aligned && sCount == n.toLong * b.size,
        s"base=${b.size} scaled=$sCount expected=${n.toLong * b.size} " +
          s"replica0Aligned=$aligned")
    }

    // q89 perplexity bucketing at scale: absolute perplexities shift with
    // the corpus (V and T in the smoothing denominators grow — the q77
    // rule), so the invariant is the q77 ISOMORPHISM lifted through the
    // bucketing: every replica must produce the IDENTICAL folded
    // (perplexity, bucket) set, bucket histograms must be exact N
    // multiples of the folded histogram, and the head/middle fractions
    // must sit within one folded-doc of the 30%/70% rank cuts. A leaked
    // cutpoint (calibrated on one replica, biased by another) or a
    // replica-crossing vocabulary collision would break the fold.
    if (wanted("q89")) {
      val sDf = graft.SparkEntry.queries("q89_perplexity_buckets")(spark, scaled)
        .withColumn("doc_id", pmod(col("doc_id"), lit(ScaleUp.KeyOffset)))
      val total = sDf.count()
      val distinctFolded = sDf.distinct().count()
      val perReplica = total / n
      val hist = sDf.groupBy("bucket").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val histOk = hist.values.forall(_ % n == 0)
      val headFrac = hist.getOrElse("head", 0L).toDouble / total
      val midFrac = (hist.getOrElse("head", 0L) +
        hist.getOrElse("middle", 0L)).toDouble / total
      val tol = 1.5 / perReplica
      check("q89_bucket_replica_isomorphism_and_fractions")(
        total > 0 && total == n.toLong * perReplica &&
          distinctFolded == perReplica && histOk &&
          math.abs(headFrac - 0.3) <= tol && math.abs(midFrac - 0.7) <= tol,
        s"total=$total foldedDistinct=$distinctFolded " +
          s"expectedPerReplica=$perReplica hist=$hist " +
          f"headFrac=$headFrac%.4f midFrac=$midFrac%.4f")
    }

    // q90 cluster sampling at scale: replica-0 embeddings (and their q28
    // plantings, ids < KeyOffset) survive verbatim in the scaled corpus,
    // and replicas >= 1 are signed permutations whose cosines against the
    // FIXED base centroids behave like independent vectors — so the
    // scaled per-cluster top-k must (a) keep exactly perCluster rows per
    // cluster, (b) DOMINATE the base top-k rank-for-rank (superset
    // corpus), and (c) agree with the base full ranking on (cluster,
    // score) for every kept replica-0 row — assignment and scoring are
    // per-row maps, so scale must not move them.
    if (wanted("q90")) {
      def kept(dir: String) = graft.SparkEntry
        .queries("q90_cluster_sample")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val b = kept(base)
      val s = kept(scaled)
      val perCluster = 10
      val countsOk = s.groupBy(_._2).values.forall(_.length == perCluster) &&
        s.map(_._2).toSet == b.map(_._2).toSet
      val bByRank = b.map(r => (r._2, r._4) -> r._3).toMap
      val dominated = s.forall { case (_, c, score, rk) =>
        bByRank.get((c, rk)).forall(score >= _) }
      // base FULL ranking: every base row's (cluster, score) — replica-0
      // kept rows in the scaled run must match it exactly
      val cents = graft.sources.TableLoader.load(spark, base, "embeddings")
        .where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val bFull = graft.ext.Similarity.clusterSample(
          graft.SparkEntry.q28PlantedUnion(spark, base), "vec_id",
          "embedding", cents, perCluster = 1 << 20, scoreScale = 3)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1).toLong, r.getDouble(2))).toMap
      val replica0Ok = s.filter(_._1 < ScaleUp.KeyOffset).forall {
        case (id, c, score, _) => bFull.get(id).contains((c, score)) }
      check("q90_cluster_sample_dominance_and_replica0")(
        b.nonEmpty && countsOk && dominated && replica0Ok,
        s"base=${b.length} scaled=${s.length} countsOk=$countsOk " +
          s"dominated=$dominated replica0Ok=$replica0Ok " +
          s"replica0Kept=${s.count(_._1 < ScaleUp.KeyOffset)}")
    }

    println(s"[invariant] ${if (failures == 0) "ALL PASS" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
