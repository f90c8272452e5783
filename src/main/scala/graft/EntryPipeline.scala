package graft

import graft.engine.Engine
import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry.{engine, roundCols, Q, rollupStore, clusteredStore, registerTpch, q30ExactMaps, q28PlantedUnion}

/** LLM-training-data pipeline operators (dedup / similarity / text
  * analysis / decontamination / curation / multimodal). Split from
  * SparkEntry (VERDICT r10 #6); zero behavior change.
  */
private[graft] object EntryPipeline {

  /** The near-dup entries' signature columns: the 64-hash word-3-gram
    * minhash, and for the multi-family entries (q23/q59/q94) the minhash
    * plus the WIDE simhash in one checkpoint. */
  private def minhash64 =
    Dedup.minhashSignature(col("text"), numHashes = 64, shingleN = 3)
  private def minhashAndSimhash128 =
    Seq(minhash64.as("msig"), Dedup.simhash128(col("text")).as("ssig"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> ((s, dir) => {
      // exact dedup: hash-groupBy on content (SURVEY §7.1 step 8)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
        .orderBy("keep_id")
    }),
    "q21_text_stats" -> ((s, dir) => {
      // token counting + quality ratios over documents
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(graft.functions.TextHashFunctions.split_ws(trim(col("text"))))
          .cast("long").as("n_tokens"),
        ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
          .cast("long").as("n_the"),
        round(length(col("text")).cast("double") /
          size(graft.functions.TextHashFunctions.split_ws(trim(col("text")))), 3)
          .as("avg_tok_len"))
        .orderBy("doc_id")
    }),
    "q22_minhash_dups" -> ((s, dir) => {
      // MinHash LSH candidates → EXACT n-gram Jaccard verification. Output
      // = exact pairs ≥ 0.5, so the DuckDB oracle (brute-force exact
      // Jaccard) hash-checks the whole pipeline. Banding must capture
      // every pair at the 0.5 verify bar: with 16×4-row bands a j=0.5 pair
      // collides with only p≈0.64, so 32×2-row bands are used here —
      // capture ≥ 1-1e-4 at j=0.5 and ~1 above it (the est-threshold 0.35
      // then prunes candidates 4σ below the bar).
      // ONE corpus scan: the minhash signature (and, on small corpora, the
      // verify shingle sets — Dedup.nearDupPairs' size-gated placement) are
      // computed in a single materialized frame (same shape as q23) — the
      // banding pipeline and both verify-join sides read cached blocks
      Dedup.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", Seq(minhash64.as("sig")),
        (frame, carry) => Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
          bands = 32, threshold = 0.35, carry = carry),
        "id_a", "id_b", minJaccard = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q23_simhash_dups" -> ((s, dir) => {
      // SimHash candidates at a SCALE-SANE config (hamming ≤ 3, 4 bands ×
      // 16 bits → 65k bucket values/band; pigeonhole lossless for h≤3)
      // UNION minhash-banded candidates, then EXACT Jaccard verify at 0.9.
      // Division of labor: on short docs (~50 tokens) a 64-bit simhash
      // CANNOT guarantee capture at j≥0.9 (measured sf0.1: 123 of 249 true
      // pairs exceed any usable hamming cap), so the capture guarantee
      // comes from the minhash side (miss ≈ 4e-8 per true pair); simhash
      // contributes its real-world fast path — boilerplate/near-identical
      // dups at tiny hamming — at a banding that stays thin at any corpus
      // size. ONE corpus scan: minhash signature, simhash signature and (on
      // small corpora — see q22) the verify shingle sets are computed in a
      // single materialized frame; the two banding branches and both
      // verify-join sides all read its cached blocks (round 4 ran three
      // separate scan+repartition+hash passes).
      // Oracle = brute-force exact Jaccard (DuckDB recomputes the shingle
      // sets and the full pair join independently).
      // Both families band in ONE pass (simhash bands 16-19 after the 16
      // minhash bands): one skew-capped self-join instead of two, candidate
      // capture a superset of the separate-pipelines union. The frame
      // carries the WIDE simhash: below the ~1M-doc ceiling the operator
      // bands its low long (== simhash64, so this fixture's candidates are
      // bit-for-bit the legacy ones); at corpus scale it self-routes to
      // 4×32-bit banding instead of flooding the est-floor join
      Dedup.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", minhashAndSimhash128,
        (frame, carry) => Dedup.multiFamilyDupCandidates(frame,
          "id", "msig", "ssig", mBands = 16, estThreshold = 0.75,
          maxHamming = 3, sBands = 4, carry = carry),
        "id_a", "id_b", minJaccard = 0.9)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q24_ngram_jaccard" -> ((s, dir) => {
      // exact n-gram Jaccard pairs over a bounded candidate set
      val docs = s.read.parquet(s"$dir/documents.parquet").where(col("doc_id") < 150)
      graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleN = 3,
        threshold = 0.1)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q25_ann_cosine" -> ((s, dir) => {
      // brute-force cosine top-k (exact ANN baseline)
      val emb = graft.sources.TableLoader.load(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      graft.ext.Similarity.bruteForceTopK(qs, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }),
    "q26_text_analysis" -> ((s, dir) => {
      import graft.ext.TextAnalysis._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(
        col("doc_id"),
        languageId(col("text")).as("lang_id"),
        tokenCountBpe(col("text")).as("n_bpe_tokens"),
        fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "q27_multimodal_decode" -> ((s, dir) => {
      // binary-column decode plumbing (stubbed codec; deterministic closed
      // form — the DuckDB oracle recomputes the whole stub independently)
      val media = graft.ext.Multimodal.syntheticMedia(s, 200)
      val decoded = graft.ext.Multimodal.decode(media, "media_id", "content", 8)
      graft.ext.Multimodal.sampleFrames(decoded, 4)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("n_frames"), size(col("sampled_frames")).as("n_sampled"),
          round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
        .orderBy("media_id")
    }),
    "q47_ivf_ann" -> ((s, dir) => {
      // IVF-indexed ANN. The DuckDB oracle is the brute-force exact top-k:
      // a hash match certifies the probed clusters contained every true
      // neighbor at this SF (IVF recall = 1.0 here by construction).
      val emb = graft.sources.TableLoader.load(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 5)
      // nProbe=7/8: the fixture embeddings are uniform random (no cluster
      // structure), so exact top-k recall inherently needs most clusters —
      // the clustered-data case where few probes suffice is gated in
      // ExtSpec ("IVF ANN: high recall on clustered vectors").
      graft.ext.Similarity.ivfTopK(qs, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, nClusters = 8, nProbe = 7)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }),
    "q49_scrub_split" -> ((s, dir) => {
      // PII scrubbing + deterministic md5-based train/val/test assignment
      import graft.ext.TextAnalysis._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val salted = concat(col("text"),
        lit(" contact bob@example.com or https://x.co/a b"))
      docs.select(col("doc_id"),
        splitLabel(col("doc_id"), 90, 5).as("split"),
        length(scrubPii(salted)).cast("long").as("scrub_len"))
        .orderBy("doc_id")
    }),
    "q50_chunking" -> ((s, dir) => {
      // overlapping token-window chunking (64-token chunks, 16 overlap).
      // Tokens and chunks materialize as ATTRIBUTES before the HOF and
      // the two consumers — a computed expression inside the lambda (or
      // referenced twice in one projection) re-evaluates per use (r16)
      import graft.ext.TextAnalysis._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          graft.functions.TextHashFunctions.split_ws(trim(col("text"))).as("__t"))
        .select(col("doc_id"), chunkTokens(col("__t"), 64, 16).as("__chunks"))
        .select(col("doc_id"),
          size(col("__chunks")).cast("long").as("n_chunks"),
          md5(element_at(col("__chunks"), 1)).as("first_chunk_md5"))
        .orderBy("doc_id")
    }),
    "q59_simhash128_dups" -> ((s, dir) => {
      // The >1M-doc composition of q23, exercised at fixture scale: the
      // multi-family candidate pass with the WIDE simhash arm FORCED
      // (wideArmMinDocs=0) — 4 bands × 32 bits of the 128-bit fingerprint,
      // pigeonhole-lossless for hamming ≤ 3, bucket load n/2^32 — then
      // EXACT n-gram-Jaccard verification at 0.8. Capture at the verify bar
      // comes from the minhash arm (est ≥ 0.65 after 16×4-row banding: miss
      // ≈ 2e-4 per pair at j=0.8, ~4e-8 at the fixture's j≥0.9 dups), so
      // the output is engine-independent — DuckDB brute-force exact Jaccard
      // hash-matches it. The 128-bit BANDING itself stays pinned by
      // ExtSpec's pigeonhole set-equality against brute-force hamming.
      Dedup.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", minhashAndSimhash128,
        (frame, carry) => Dedup.multiFamilyDupCandidates(frame,
          "id", "msig", "ssig", mBands = 16, estThreshold = 0.65,
          maxHamming = 3, wideArmMinDocs = 0L, carry = carry),
        "id_a", "id_b", minJaccard = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q94_simhash_autoswitch" -> ((s, dir) => {
      // The DECISION pin for the multi-family arm auto-switch (VERDICT r15
      // #3): q23 exercises the sub-threshold (narrow-arm) corpus and q59
      // FORCES the wide arm, but neither would catch a wideArmMinDocs
      // regression — the switch silently not firing at scale just looks
      // like the documented 64-bit ceiling. This entry runs the operator
      // UNPINNED (default threshold), reads the recorded arm decision off
      // lshStats, and FAILS if it contradicts the corpus count — so the
      // correctness gate (and the sf10 bench row, where the 545k-doc
      // corpus must engage the wide arm) pins the decision itself. The
      // pair output is q59's exact-verified shape: capture at j≥0.8 comes
      // from the minhash arm (est ≥ 0.65), so the result is arm- and
      // engine-independent and q59's brute-force oracle replays it.
      Dedup.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", minhashAndSimhash128,
        (frame, carry) => {
          val cand = Dedup.multiFamilyDupCandidates(frame,
            "id", "msig", "ssig", mBands = 16, estThreshold = 0.65,
            maxHamming = 3, carry = carry)
          val st = Dedup.lshStats.reverse
            .find(_.kind == "multiband-arm")
            .getOrElse(throw new IllegalStateException(
              "multiFamilyDupCandidates did not record its arm decision"))
          val wantWide = st.armCorpusDocs >= Dedup.defaultWideArmMinDocs
          if (!st.armWide.contains(wantWide))
            throw new IllegalStateException(
              s"simhash arm auto-switch regressed: corpus=${st.armCorpusDocs} " +
                s"docs, threshold=${st.armThresholdDocs}, wide=${st.armWide}")
          cand
        },
        "id_a", "id_b", minJaccard = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q96_minhash_scale_dups" -> ((s, dir) => {
      // q22's SCALE-GEOMETRY TWIN (VERDICT r17 #1): the pure minhash
      // family with the corpus-adaptive band ladder engaged
      // (scaledMinhashGeometry — 16×4 below 2M docs, 12×5 to 50M, 10×6
      // past that), at the TRUE near-dup regime the ladder is for
      // (verify bar 0.8; q22's j≥0.5 bar inherently needs 2-row bands,
      // which is why its geometry stays pinned and budget-refuses at the
      // 4th decade). Below the ladder threshold the banding is bit-for-bit
      // the legacy 16×4, so the DuckDB brute-force oracle replays the
      // output at correctness SFs; at sf100 the ladder keeps the
      // background-collision candidate mass near-linear in the corpus
      // (capture per true pair ≥0.9915 at the 0.8 bar, ≥0.99998 at 0.9 —
      // the fixture's dup mass sits at j≥0.9).
      Dedup.nearDupPairs(graft.sources.TableLoader.load(s, dir, "documents"),
        "doc_id", "text", Seq(minhash64.as("sig")),
        (frame, carry) => Dedup.minhashDupPairsFromSigs(frame, "id", "sig",
          bands = 16, threshold = 0.65, numHashes = 64,
          scaleGeomMinDocs = Dedup.defaultScaleGeomMinDocs, carry = carry),
        "id_a", "id_b", minJaccard = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q28_cosine_neardup" -> ((s, dir) => {
      // Embedding-cosine near-dup via hyperplane LSH + exact verify, at a
      // TRUE near-dup threshold (0.9) with the config you would run at
      // 100 TB: 128-bit signatures, 16 bands × 8 bits (256-value bucket
      // keyspace/band → thin buckets), default bucketCap. The fixture has
      // no natural near-dups (max pairwise cosine 0.60 at sf0.1), so the
      // pair set is made non-trivial by PLANTING perturbed copies of every
      // 4th vector — a deterministic closed-form perturbation the DuckDB
      // oracle recomputes independently (same trick as q27's stub codec):
      //   v'[j] = float(v[j] + ((vec_id*31 + j) % 7 - 3) * 0.01)
      // which lands planted pairs at cosine ≥0.9868 (measured, all SFs; the
      // next pair DOWN is at 0.60 — a dead zone around the threshold).
      // Capture/band = p^8, p = 1−acos(0.9868)/π ≈ 0.948 → worst-pair miss
      // = (1−0.651)^16 ≈ 5e-8.
      // Round 3 instead ran threshold 0.45 with 32×2-bit bands — dense
      // buckets ≈ near-all-pairs at fixture scale; on random data at a
      // barely-above-noise threshold NO banding is both recall-1 and
      // sub-quadratic, so the honest scale fix is testing the threshold
      // regime the operator is actually for (COVERAGE.md deviations).
      graft.ext.Similarity.cosineNearDupPairs(
        q28PlantedUnion(s, dir), "vec_id", "embedding",
        dim = 64, threshold = 0.9)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy("id_a", "id_b")
    }),
    "q61_sequence_pack" -> ((s, dir) => {
      // deterministic token-budget sequence packing (training-batch
      // construction): shard by id, fill 512-token packs in id order; a
      // pack overflows by at most one document. Pure window composition —
      // one shuffle, per-shard sort — so DuckDB replays it exactly.
      import graft.ext.{Curation, TextAnalysis}
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Curation.sequencePack(docs, "doc_id", "n_tokens",
        budgetTokens = 512, shards = 8)
        .select(col("doc_id"), col("shard"), col("pack"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    "q62_domain_cap" -> ((s, dir) => {
      // per-language quota cap (domain balancing): top-20 docs per lang by
      // quality score. The salted pre-prune (4 buckets on doc_id) bounds
      // the per-group sort at scale and is provably exact — the oracle
      // computes the unsalted rank and must hash-match.
      import graft.ext.{Curation, TextAnalysis}
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
      Curation.capPerGroup(docs, Seq("lang"),
        Seq(col("quality").desc, col("doc_id").asc), k = 20,
        saltPrune = Some((col("doc_id"), 4)))
        .select(col("lang"), col("rk"), col("doc_id"), col("quality"))
        .orderBy("lang", "rk")
    }),
    "q63_incremental_dedup" -> ((s, dir) => {
      // O(Δ) daily-batch dedup: new docs (id % 10 == 0) against the
      // standing corpus via a prebuilt band index — the corpus text is
      // never re-hashed, only its compact (band, bucket, id) index and
      // per-candidate signature fetches participate. Candidates → EXACT
      // n-gram Jaccard ≥ 0.5, so DuckDB brute-force over the same split
      // hash-checks the whole incremental path (same 32×2 banding as q22:
      // capture ≥ 1-1e-4 at the 0.5 bar).
      Dedup.nearDupPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", Seq(minhash64.as("sig")),
        (frame, carry) => {
          val inc = frame.where(col("id") % 10 === 0)
          val corpus = frame.where(col("id") % 10 =!= 0)
          val index = Dedup.minhashBandIndex(corpus, "id", "sig", bands = 32)
          Dedup.incrementalMinhashDupPairs(inc, index, corpus,
            "id", "sig", bands = 32, threshold = 0.35, carry = carry)
        },
        "inc_id", "corpus_id", minJaccard = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("inc_id", "corpus_id")
    }),
    "q64_incremental_cosine" -> ((s, dir) => {
      // O(Δ) embedding dedup: the PLANTED perturbed vectors (q28's corpus,
      // ids ≥ 1e6) arrive as a new batch and are deduped against the
      // standing original corpus via a prebuilt hyperplane band index —
      // same 16×8 geometry, 3σ agreement cut, and exact-cosine verify as
      // q28, so DuckDB brute-force over the cross split hash-checks the
      // whole incremental path.
      import graft.ext.Similarity
      val sigs = Similarity.nearDupSignatures(
        q28PlantedUnion(s, dir), "vec_id", "embedding",
        dim = 64, bands = 16, rowsPerBand = 8).localCheckpoint(true)
      val inc = sigs.where(col("id") >= 1000000L)
      // corpus side re-materialized so its cardinality is RECORDED — the
      // incremental verify picks its attach shape from it (small corpus →
      // direct joins; large → pair-side attach)
      val corpus = graft.ext.Dedup.materialize(sigs.where(col("id") < 1000000L))
      val index = Similarity.cosineBandIndex(corpus, bands = 16)
      Similarity.incrementalCosineNearDupPairs(inc, index, corpus,
          threshold = 0.9, bands = 16, rowsPerBand = 8)
        .select(col("corpus_id").as("id_a"), col("inc_id").as("id_b"),
          round(col("cosine"), 3).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "q65_curation_pipeline" -> ((s, dir) => {
      // the operators composed as a real training-data pipeline, one
      // oracle-checked query: language filter → exact dedup (keep lowest
      // id per content hash) → quality gate → per-source quota cap (bare
      // window: the WindowGroupLimit-safe default) → token-budget packing.
      // Every stage is deterministic, so DuckDB replays the whole chain.
      import graft.ext.{Curation, TextAnalysis}
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val en = docs.where(col("lang") === "en")
      val deduped = en.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(en, "doc_id")
      val scored = deduped.select(col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
        .where(col("quality") >= 0.45)
      val capped = Curation.capPerGroup(scored, Seq("source"),
        Seq(col("quality").desc, col("doc_id").asc), k = 50)
      Curation.sequencePack(capped, "doc_id", "n_tokens",
          budgetTokens = 512, shards = 4)
        .select(col("doc_id"), col("source"), col("quality"),
          col("shard"), col("pack"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    "q66_markup_strip" -> ((s, dir) => {
      // markup→text over a synthetic deterministic HTML wrapping (script
      // block, attributes, entities) so the strip is genuinely exercised —
      // both engines construct the identical HTML and must normalize to
      // the identical plain text
      import graft.ext.TextAnalysis
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val html = concat(
        lit("<div class=\"doc\" id=\""), col("doc_id").cast("string"),
        lit("\"><script type=\"text/javascript\">var x = 1 < 2;</script><p>"),
        col("text"), lit("</p><br/>&amp;joined &lt;tail&gt;</div>"))
      docs.select(col("doc_id"),
          TextAnalysis.stripMarkup(html).as("clean"))
        .orderBy("doc_id")
    }),
    "q68_repetition_stats" -> ((s, dir) => {
      // Gopher-style repetition quality signals, one native single-pass
      // expression per row (zero shuffle — the scale story IS the plan:
      // a pure map over the two-column corpus scan)
      import graft.ext.TextAnalysis
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          round(col("r.dup_token_frac"), 6).as("dup_token_frac"),
          round(col("r.top_bigram_frac"), 6).as("top_bigram_frac"),
          round(col("r.dup_trigram_frac"), 6).as("dup_trigram_frac"))
        .orderBy("doc_id")
    }),
    "q69_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing a word 4-gram with the
      // pretend benchmark slice (doc_id % 17 == 3; the fixture's planted
      // duplicate docs make the overlap real). 4-grams because the fixture
      // docs are ~50-token small-vocab soup; production uses 8–13 via the
      // same parameter. Benchmark side broadcast — the corpus never shuffles
      // before the (tiny) hit aggregation.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Decontaminate.contaminationHits(
          docs.where(col("doc_id") % 17 =!= 3),
          docs.where(col("doc_id") % 17 === 3),
          "doc_id", "text", n = 4)
        .orderBy("doc_id")
    }),
    "q70_tfidf_topterms" -> ((s, dir) => {
      // corpus TF-IDF, top-5 terms per doc: per-row native term counts (no
      // (doc,term) groupBy shuffle), vocabulary-sized df table broadcast,
      // WindowGroupLimit-truncated per-doc top-k — the only corpus shuffle
      // carries ≤ 5 rows per document
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Vocabulary.tfidfTopTerms(docs, "doc_id", "text", k = 5)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")
    }),
    "q71_dup_clusters" -> ((s, dir) => {
      // duplicate CLUSTERS (connected components over a near-dup pair
      // frame): min-label propagation, one keys-only shuffle per round,
      // rounds = graph diameter (3 on this corpus). The pair frame is the
      // exact n-gram Jaccard set at a low threshold so the graph has
      // multi-node components worth clustering.
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 150)
      val pairs = graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.02)
      val clusters = graft.ext.Dedup.dupClusters(pairs)
      val sizes = clusters.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      clusters.join(sizes, "cluster")
        .select(col("id").as("doc_id"), col("cluster"), col("cluster_size"))
        .orderBy("doc_id")
    }),
    "q72_mixture_sample" -> ((s, dir) => {
      // deterministic language-mixture resampling: en down to 0.25x, zh up
      // to 1.5x, es doubled, fr dropped, everything else kept — a pure
      // narrow map (zero shuffles), replayable by any engine from
      // (doc_id, rates, salt)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Curation.mixtureSample(docs, "doc_id", "lang",
          Map("en" -> 0.25, "zh" -> 1.5, "es" -> 2.0, "fr" -> 0.0),
          defaultRate = 1.0)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    }),
    "q73_boilerplate_strip" -> ((s, dir) => {
      // cross-document boilerplate removal over a derived paragraph corpus:
      // every doc = [own text, its decade-leader's text, a fixed footer].
      // The footer (df = corpus) and the leader paragraphs (df = 10) fall
      // to minDocFreq = 5; a non-leader doc keeps exactly its own
      // paragraph, a leader doc (its own text IS a leader paragraph)
      // empties out — exercising the all-boilerplate path.
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val leaders = docs.select(col("doc_id").as("__lid"),
        col("text").as("__ltext"))
      val derived = docs
        .join(leaders,
          docs("doc_id") - pmod(docs("doc_id"), lit(10L)) === leaders("__lid"))
        .select(col("doc_id"),
          concat_ws("\n\n", col("text"), col("__ltext"),
            lit("standard license footer")).as("text"))
      graft.ext.TextAnalysis.stripBoilerplate(derived, "doc_id", "text",
          minDocFreq = 5)
        .orderBy("doc_id")
    }),
    "q78_containment" -> ((s, dir) => {
      // directed n-gram containment over a corpus with planted fragments
      // (first 15 tokens of every 10th doc, id +10000): fragment→original
      // scores 1.0 where symmetric Jaccard sees only |frag|/|orig| — the
      // quote/forward/superset dedup shape
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 120).select(col("doc_id"), col("text"))
      val frags = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat_ws(" ",
            slice(graft.ext.Dedup.tokens(col("text")), 1, 15)).as("text"))
      graft.ext.Dedup.ngramContainmentPairs(docs.union(frags), "text",
          "doc_id", shingleN = 3, threshold = 0.9)
        .withColumn("containment", round(col("containment"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q78b_containment_banded" -> ((s, dir) => {
      // the scale path for q78's shape: inverted-index (per-shingle band
      // key) candidate generation + exact verification, proven against the
      // SAME brute-force oracle — candidate-fed == brute-force on the
      // planted corpus (no cross join in the plan; see PlanQualitySpec)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 120).select(col("doc_id"), col("text"))
      val frags = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat_ws(" ",
            slice(graft.ext.Dedup.tokens(col("text")), 1, 15)).as("text"))
      graft.ext.Dedup.ngramContainmentPairsBanded(docs.union(frags), "text",
          "doc_id", shingleN = 3, threshold = 0.9, dfCap = 256)
        .withColumn("containment", round(col("containment"), 4))
        .orderBy("id_a", "id_b")
    }),
    "q77_lm_score" -> ((s, dir) => {
      // CCNet-style reference-LM quality scoring: Laplace bigram model
      // counted over the even-id half of the corpus, odd-id docs scored by
      // mean negative log-likelihood. Closed-form from counts — the oracle
      // replays the model exactly; no trained artifact.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Vocabulary.lmScore(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_neg_logp"), 6).as("avg_neg_logp"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy("doc_id")
    }),
    "q74_semantic_dedup" -> ((s, dir) => {
      // SemDeDup-style cluster-scoped semantic dedup over the q28 planted
      // corpus: assignment to deterministic seed centroids (the first k
      // base embeddings by vec_id — oracle-replayable), exact cosine pairs
      // within clusters only. Planted near-identical copies land in their
      // original's cluster, so cluster-scoping captures them.
      // k ∝ n is SemDeDup's own scale lever (Similarity.semanticDupPairs
      // Scaladoc; ScaleInvariants q74_kscale): k = max(8, n/500), so the
      // within-cluster pair volume stays ≈780·n — linear — instead of
      // n²/8, which trips the budget guard at the 100× corpus (observed at
      // the r14 sf10 bench). At the oracle SFs (≤4,000 embeddings) k is
      // exactly the historical 8, so the DuckDB replay is unchanged. The
      // budget itself gets a linear allowance (1600·n with 2× skew
      // headroom over the equal-split volume) — a quadratic regression
      // still refuses to run.
      val corpus = q28PlantedUnion(s, dir)
      val emb = graft.sources.TableLoader.load(s, dir, "embeddings")
      // n sizes k and the budget only; the footers give the identical
      // number with zero jobs where the old count() paid a full (column-
      // pruned) scan — one fewer execution per run at every scale (r20)
      val n = graft.sources.ParquetFooters.scanRows(emb).filter(_.exact)
        .map(_.total).getOrElse(emb.count())
      val k = math.max(8, math.ceil(n / 500.0).toInt)
      val cents = emb.orderBy("vec_id").limit(k)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      graft.ext.Similarity.semanticDupPairs(corpus, "vec_id", "embedding",
          cents, threshold = 0.95,
          maxPairBudget = math.max(200000000L, 1600L * n))
        .select(col("id_a"), col("id_b"), col("cluster").cast("long").as("cluster"),
          round(col("cosine"), 3).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "q75_quantize_int8" -> ((s, dir) => {
      // symmetric int8 embedding quantization (4 bytes/dim -> 1 byte/dim)
      // with reconstruction-error probes; every step is plain arithmetic
      // (floor(x+0.5), not banker's rounding) so the oracle replays the
      // codes bit-exactly. Pure map over the scan — zero shuffles.
      import graft.functions.VectorFunctions._
      val emb = graft.sources.TableLoader.load(s, dir, "embeddings")
      emb.select(col("vec_id"), col("embedding"),
          quantize_int8(col("embedding")).as("__q"))
        .withColumn("__deq", dequantize_int8(col("__q")))
        .select(col("vec_id"),
          round(col("__q.scale"), 6).as("scale"),
          round(vector_max_abs_diff(col("embedding"), col("__deq")), 6)
            .as("max_err"),
          round(graft.ext.Similarity.cosine(col("embedding"), col("__deq")), 6)
            .as("cos_sim"))
        .orderBy("vec_id")
    }),
    "q79_dup_spans" -> ((s, dir) => {
      // passage-level exact-substring dedup (the Lee et al. 2021 shape):
      // maximal duplicated 10-token spans across the corpus — the planted
      // near-dup docs share long verbatim runs, so each surfaces one long
      // span. Hash mode is the scale default (8-byte window keys shuffle,
      // never gram strings); ExtSpec pins hash mode == exact-gram mode and
      // this oracle replays the exact-gram derivation.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", k = 10)
        .orderBy("doc_id", "span_start")
    }),
    "q88_unicode_normalize" -> ((s, dir) => {
      // unicode NFC normalization over constructed decomposed text: each
      // doc gets a decomposed-accent suffix (e + combining acute, A +
      // combining ring) that NFC must compose to é / Å. Both engines
      // implement UAX #15, so the normalized bytes agree exactly — md5
      // keeps the comparison payload small. Identity on already-NFC text
      // is asserted by n_changed counting only the constructed suffix.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val deco = concat(col("text"), lit(" é Å end"))
      docs.select(col("doc_id"),
          md5(graft.ext.TextAnalysis.normalizeText(deco)).as("norm_md5"),
          (length(deco) -
            length(graft.ext.TextAnalysis.normalizeText(deco)))
            .cast("long").as("n_composed"))
        .orderBy("doc_id")
    }),
    "q87_leakfree_split" -> ((s, dir) => {
      // leakage-free split: md5 train/val/test labels, then every held-out
      // doc that is an exact-Jaccard (>= 0.5) near-dup of a TRAIN doc is
      // demoted to train. LSH finds candidates, exact shingle Jaccard
      // decides — so the DuckDB oracle (brute-force cross Jaccard +
      // demotion replay) must match exactly.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Curation.leakFreeSplit(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "q86_blocklist" -> ((s, dir) => {
      // C4-style blocklist stats: per-doc count and fraction of tokens on
      // a (literal, plan-folded) blocklist — a pure codegen'd column pair
      // over the scan, zero shuffles. The filter policy composes on top
      // (blocklistFilter); the oracle replays count+ratio per doc.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val stats = graft.ext.TextAnalysis.blocklistStats(col("text"),
        Seq("slow", "error", "join"))
      docs.select(col("doc_id"),
          stats.getField("n_blocked").as("n_blocked"),
          round(stats.getField("blocked_ratio"), 6).as("blocked_ratio"))
        .orderBy("doc_id")
    }),
    "q85_knn_join" -> ((s, dir) => {
      // approximate k-NN JOIN in exhaustive mode (nProbe = nClusters):
      // provably the brute-force neighbor graph — a cartesian's RESULT
      // without a cartesian's plan (cluster-keyed shuffle join +
      // WindowGroupLimit top-k). The recall/cost trade at nProbe <
      // nClusters is gated in ExtSpec on clustered vectors.
      val emb = graft.sources.TableLoader.load(s, dir, "embeddings")
        .where(col("vec_id") < 200)
      // order on ids only: ordering on the ROUNDED cosine could diverge
      // from the oracle's unrounded sort when two neighbors tie at 3
      // decimals (the selection itself ranks on unrounded cosine in both
      // engines, so the SET is stable)
      graft.ext.Similarity.knnJoin(emb, "vec_id", "embedding", k = 5,
          nClusters = 8, nProbe = 8)
        .withColumn("cosine", round(col("cosine"), 3))
        .orderBy("query_id", "neighbor_id")
    }),
    "q84_contaminated_spans" -> ((s, dir) => {
      // SURGICAL decontamination: maximal token spans of the training
      // side (doc_id % 7 != 3) appearing verbatim (8-token windows)
      // anywhere in the benchmark slice (doc_id % 7 == 3) — strip the
      // span, keep the document (q69 drops the whole doc). Hash-mode
      // window keys against the broadcast benchmark key set; the oracle
      // replays the exact-gram membership + island merge.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Decontaminate.contaminatedSpans(
          docs.where(col("doc_id") % 7 =!= 3),
          docs.where(col("doc_id") % 7 === 3),
          "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start")
    }),
    "q82_dsir_weights" -> ((s, dir) => {
      // DSIR importance weighting: every-5th-doc slice as the TARGET
      // distribution, the rest as the RAW corpus to score. Exact-feature
      // mode (numBuckets = 0) so DuckDB replays the whole count → smooth
      // → log-ratio → per-doc sum chain; the hashed-bucket scale mode is
      // pinned equal in spirit by ExtSpec (same ranking on a split vocab).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = docs.where(col("doc_id") % 5 === 0)
      val raw = docs.where(col("doc_id") % 5 =!= 0)
      graft.ext.Vocabulary.dsirWeights(target, raw, "doc_id", "text",
          numBuckets = 0)
        .select(col("doc_id"), col("n_features"),
          round(col("log_weight"), 4).as("log_weight"))
        .orderBy("doc_id")
    }),
    "q83_dsir_resample" -> ((s, dir) => {
      // deterministic Gumbel top-k importance resampling over the q82
      // weights: the Gumbel draw comes from the q72 Lehmer stream, so the
      // oracle replays the exact kept set (sampling-without-replacement
      // ∝ exp(log_weight), reproducible from (id, model, salt))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val target = docs.where(col("doc_id") % 5 === 0)
      val raw = docs.where(col("doc_id") % 5 =!= 0)
      val model = graft.ext.Vocabulary.dsirModel(target, raw, "text",
        numBuckets = 0)
      graft.ext.Vocabulary.dsirResample(model, raw, "doc_id", "text",
          n = 100)
        .select(col("doc_id"), round(col("log_weight"), 4).as("log_weight"),
          round(col("gumbel_key"), 4).as("gumbel_key"))
        .orderBy("doc_id")
    }),
    "q81_fuzzy_decontam" -> ((s, dir) => {
      // FUZZY decontamination: the "benchmark" is a truncated copy (first
      // 5 tokens dropped) of every 25th doc — the paraphrased-leak shape
      // exact n-gram decontamination (q69) under-catches. MinHash banding
      // against the BROADCAST benchmark keys, exact-Jaccard verify; the
      // oracle brute-forces the same corpus × benchmark exact Jaccard, so
      // LSH → verify must reproduce it exactly.
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 25 === 0)
        .select(col("doc_id"), graft.ext.Dedup.tokens(col("text")).as("__t"))
        .select((col("doc_id") + 50000L).as("bench_id"),
          concat_ws(" ", slice(col("__t"), lit(6), size(col("__t")))).as("text"))
      graft.ext.Decontaminate.fuzzyContaminationHits(docs, bench,
          "doc_id", "bench_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("doc_id", "bench_id")
    }),
    "q80_strip_dup_spans" -> ((s, dir) => {
      // strip every duplicated 10-token passage corpus-wide and rebuild
      // the text (whitespace-normalized token re-join); md5 keeps the
      // comparison payload small. n_removed counts removed tokens.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ext.Dedup.stripDuplicatedSpans(docs, "doc_id", "text", k = 10)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_removed"))
        .orderBy("doc_id")
    }),
    "q89_perplexity_buckets" -> ((s, dir) => {
      // CCNet-style perplexity bucketing over the q77 scores: cutpoint
      // VALUES are the rounded perplexities at ranks floor(0.3·n) /
      // floor(0.7·n) under (p, doc_id) order — engine-replayable exactly
      // (rounded perplexities are the q77-certified cross-engine values)
      // — then perplexityBuckets applies them as the pure value-threshold
      // map that IS the production scale path. The rank values come from
      // rankCutpoints' value histogram (shuffle volume = distinct rounded
      // perplexities), never from ordering document rows.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val scored = graft.ext.Vocabulary.lmScore(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"), round(col("perplexity"), 4).as("perplexity"))
        .localCheckpoint()
      val cuts = graft.ext.Vocabulary.rankCutpoints(
        scored, "perplexity", Seq(0.3, 0.7))
      graft.ext.Vocabulary.perplexityBuckets(scored, "perplexity",
          cuts, Seq("head", "middle", "tail"))
        .orderBy("doc_id")
    }),
    "q91_lm_score_amortized" -> ((s, dir) => {
      // q77's scoring against the PERSISTED reference LM (VERDICT r11 #4):
      // production builds the model once per corpus version and re-scores
      // every incoming batch against the saved, vocabulary-sized count
      // tables — this entry IS that amortized path (build+save happens
      // once per fixture version in the artifact cache; the measured work
      // is load + the scoring joins). Bit-identical to q77, so the oracle
      // is q77's verbatim — the amortization may not change a single hash.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.ext.Vocabulary.loadLmModel(s,
        s"${lmArtifact(s, dir)}/model")
      graft.ext.Vocabulary.lmScoreWith(model,
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_neg_logp"), 6).as("avg_neg_logp"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy("doc_id")
    }),
    "q92_dsir_weights_amortized" -> ((s, dir) => {
      // q82's weighting against the PERSISTED DSIR model (VERDICT r11 #4):
      // per-batch cost is the broadcastable ratio join + the per-doc fold;
      // the two corpus count passes live in the once-per-version artifact.
      // Bit-identical to q82 → q82's oracle verbatim.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.ext.Vocabulary.loadDsirModel(s, dsirArtifact(s, dir))
      graft.ext.Vocabulary.dsirWeightsWith(model,
          docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .select(col("doc_id"), col("n_features"),
          round(col("log_weight"), 4).as("log_weight"))
        .orderBy("doc_id")
    }),
    "q93_perplexity_label_amortized" -> ((s, dir) => {
      // q89 with BOTH artifacts persisted (reference LM + calibrated
      // cutpoints — CCNet's production shape): the per-batch cost is the
      // scoring join plus a zero-shuffle literal-threshold map. The
      // operator family's documented amortization story, now a measured
      // bench row (VERDICT r11 #4). Bit-identical to q89 → q89's oracle.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val art = lmArtifact(s, dir)
      val model = graft.ext.Vocabulary.loadLmModel(s, s"$art/model")
      val cuts = s.read.parquet(s"$art/cuts").orderBy("cut")
        .collect().map(_.getDouble(0)).toSeq
      val scored = graft.ext.Vocabulary.lmScoreWith(model,
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"), round(col("perplexity"), 4).as("perplexity"))
      graft.ext.Vocabulary.perplexityBuckets(scored, "perplexity",
          cuts, Seq("head", "middle", "tail"))
        .orderBy("doc_id")
    }),
    "q95_dsir_resample_amortized" -> ((s, dir) => {
      // q83's Gumbel top-k importance resampling against the PERSISTED
      // DSIR model (VERDICT r16 #1): the sf10 probe attributes q83's cost
      // — the suite's worst sf1→sf10 decade ratio — to the in-bench
      // dsirModel build (two bigram-count shuffles over 90% of the
      // corpus), the exact shape whose amortized weights twin (q92) rides
      // near-linear. Production builds the model once per corpus version
      // and RESAMPLES per batch; this entry is that path — per-batch cost
      // is the broadcastable ratio join + per-doc fold + a
      // TakeOrderedAndProject top-k. Bit-identical to q83 (the Gumbel key
      // is a pure function of (id, model, salt)) → q83's oracle verbatim.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.ext.Vocabulary.loadDsirModel(s, dsirArtifact(s, dir))
      graft.ext.Vocabulary.dsirResample(model,
          docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", n = 100)
        .select(col("doc_id"), round(col("log_weight"), 4).as("log_weight"),
          round(col("gumbel_key"), 4).as("gumbel_key"))
        .orderBy("doc_id")
    }),
    "q90_cluster_sample" -> ((s, dir) => {
      // cluster-stratified sampling over the q28 planted corpus with the
      // q74 seed centroids: the 10 most prototypical docs per cluster
      // (highest cosine to the assigned centroid). scoreScale=3 ranks on
      // the rounded cross-engine-stable score; ties break by id — the
      // oracle replays assignment + ranking exactly.
      val corpus = q28PlantedUnion(s, dir)
      val cents = graft.sources.TableLoader.load(s, dir, "embeddings")
        .where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      graft.ext.Similarity.clusterSample(corpus, "vec_id", "embedding",
          cents, perCluster = 10, farthest = false, scoreScale = 3)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("score"), col("rk").cast("long").as("rk"))
        .orderBy("cluster", "rk")
    }),
  )

  // --- persisted-model artifacts (VERDICT r11 #4) ---------------------------

  /** Per-fixture-version artifact cache (the q30 rule: keyed on the
    * documents fixture's length+mtime so a driver-regenerated fixture
    * rebuilds; pid-suffixed temp dir + atomic rename so concurrent
    * builders — the multi-JVM rehearsal — race benignly). Production
    * builds a model once per corpus version and re-scores every batch
    * against the saved artifact; q91–q93 measure THAT amortized path,
    * while q77/q82/q89 keep measuring the full build+score pipeline, so
    * the two trend lines separate model-build cost from per-batch cost. */
  // same-JVM builders of one artifact must serialize: the pid-suffixed tmp
  // dir disambiguates JVMs, not threads — two threads in one JVM (q91 and
  // q93 under a parallel runner) would write into the SAME tmp dir and one
  // rename could publish the other's half-written model (r12 review pass)
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // bump when the ARITHMETIC behind an artifact changes (v2: the r16
  // fixed-point nano-nat sums) — the cache key otherwise only tracks the
  // fixture version, and a stale model/cuts built under the old float
  // fold would silently mismatch the new oracles
  private val artifactArithVersion = 2

  private def artifactPath(dir: String, kind: String)
      (build: String => Unit): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val key = java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3
      .stringHash(s"${src.getAbsolutePath}:${src.length}:${src.lastModified}" +
        s":v$artifactArithVersion"))
    val cacheRoot = new java.io.File("target/fixture-cache")
    val out = new java.io.File(cacheRoot, s"${kind}_$key")
    val lock = artifactLocks.computeIfAbsent(s"${kind}_$key", _ => new Object)
    lock.synchronized {
      if (!out.isDirectory) {
        val tmp = new java.io.File(cacheRoot,
          s".${kind}_$key.tmp.${ProcessHandle.current.pid}")
        build(tmp.getAbsolutePath)
        if (!tmp.renameTo(out)) {
          // a failed rename is only benign if another JVM won the race —
          // i.e. the destination now exists. Any other cause (cross-device
          // tmp, cacheRoot vanished) must fail HERE with both paths, not
          // later as an unrelated missing-artifact load error (r12 advice).
          if (!out.isDirectory)
            throw new java.io.IOException(
              s"fixture-cache rename failed and destination is absent: " +
                s"${tmp.getAbsolutePath} -> ${out.getAbsolutePath}")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
          }
          rm(tmp) // lost the race — another JVM built it; drop our copy
        }
      }
    }
    out.getAbsolutePath
  }

  /** q77's reference LM (counted over the even-id half) plus q89's
    * calibrated cutpoints, saved once per fixture version — `model/` is a
    * [[graft.ext.Vocabulary.saveLmModel]] layout, `cuts/` a 2-row parquet. */
  private def lmArtifact(s: SparkSession, dir: String): String =
    artifactPath(dir, "lm_model") { tmp =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.ext.Vocabulary.lmModel(
        docs.where(col("doc_id") % 2 === 0), "text")
      graft.ext.Vocabulary.saveLmModel(model, s"$tmp/model")
      // q89's calibration, persisted next to the model (CCNet's shape:
      // thresholds are computed once per corpus/language version)
      val scored = graft.ext.Vocabulary.lmScoreWith(model,
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(round(col("perplexity"), 4).as("perplexity"))
      val cuts = graft.ext.Vocabulary.rankCutpoints(
        scored, "perplexity", Seq(0.3, 0.7))
      import s.implicits._
      cuts.toDF("cut").coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/cuts")
    }

  /** q82's exact-mode DSIR model, saved once per fixture version. */
  private def dsirArtifact(s: SparkSession, dir: String): String =
    artifactPath(dir, "dsir_model") { tmp =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.ext.Vocabulary.dsirModel(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), "text", numBuckets = 0)
      graft.ext.Vocabulary.saveDsirModel(model, tmp)
    }

  private val baseOracles: Map[String, String] = Map(
    "q20_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q21_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the,
        |  round(CAST(length(text) AS DOUBLE) /
        |    len(string_split_regex(trim(text), '\s+')), 3) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q22/q23: brute-force EXACT word-3-gram Jaccard over all pairs — the
    // independent ground truth the LSH+verify pipelines must reproduce
    "q22_minhash_dups" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1),
        |             j -> array_to_string(t[j:j+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q23_simhash_dups" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1),
        |             j -> array_to_string(t[j:j+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // q27: independent recomputation of the CLOSED-FORM stub codec
    // (Multimodal.decodeStub): bytes(i,j) = ((i*31 + j*7) % 251) as int8;
    // h = seed-1 31-fold int32 wrap; f0 = seed-7 fold scaled via float
    "q27_multimodal_decode" ->
      """WITH raw AS (
        |  SELECT i::BIGINT AS media_id,
        |    list_transform(range(0, 32 + i % 64),
        |      j -> CASE WHEN (i*31 + j*7) % 251 < 128 THEN (i*31 + j*7) % 251
        |                ELSE (i*31 + j*7) % 251 - 256 END) AS bs
        |  FROM range(0, 200) t(i)),
        |h AS (
        |  SELECT media_id,
        |    list_reduce(list_prepend(1::BIGINT, bs),
        |      (x, b) -> ((x * 31 + b) % 4294967296 + 4294967296 + 2147483648)
        |                % 4294967296 - 2147483648) AS hc,
        |    list_reduce(list_prepend(7::BIGINT, bs),
        |      (x, b) -> ((x * 31 + b) % 4294967296 + 4294967296 + 2147483648)
        |                % 4294967296 - 2147483648) AS f0i
        |  FROM raw)
        |SELECT media_id,
        |  CASE hc & 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'webp' ELSE 'gif' END AS format,
        |  CAST(64 + (hc & 2147483647) % 1024 AS INT) AS width,
        |  CAST(64 + ((hc & 2147483647) // 7) % 1024 AS INT) AS height,
        |  CAST(1 + ((hc & 2147483647) // 13) % 32 AS INT) AS n_frames,
        |  CAST(((1 + ((hc & 2147483647) // 13) % 32) - 1) // 4 + 1 AS INT) AS n_sampled,
        |  round(CAST(CAST(f0i / 2147483647.0 AS FLOAT) AS DOUBLE), 4) AS f0
        |FROM h ORDER BY media_id""".stripMargin,
    // q28: brute-force exact cosine pair set (corpus + independently
    // recomputed planted perturbations) the LSH+verify must reproduce.
    // DuckDB list_transform's index is 1-based (j-1 matches Spark's 0-based
    // transform); 0.01::DOUBLE forces double math (a DECIMAL literal would
    // round-trip to a different double than Spark's -3 * 0.01); the inner
    // subquery keeps `vec_id` inside the lambda bound to the BASE column,
    // not the +1000000 alias.
    "q28_cosine_neardup" ->
      """WITH planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, emb2 AS embedding FROM (
        |    SELECT vec_id,
        |      list_transform(embedding, (x, j) ->
        |        CAST(CAST(x AS DOUBLE)
        |          + ((vec_id*31 + (j-1)) % 7 - 3) * 0.01::DOUBLE AS FLOAT)) AS emb2
        |    FROM embeddings WHERE vec_id % 4 = 0)),
        |all_v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 3)
        |    AS cosine
        |FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // q47: brute-force exact top-k (same ground truth as q25) — IVF with
    // these probe settings must achieve recall 1.0 at this SF
    "q47_ivf_ann" ->
      """WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5)
        |SELECT query_id, vec_id AS neighbor_id,
        |  round(CAST(list_cosine_similarity(qv, embedding) AS DOUBLE), 3) AS cosine
        |FROM embeddings, qs
        |WHERE vec_id <> query_id
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY list_cosine_similarity(qv, embedding) DESC, vec_id) <= 5
        |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin,
    // q59: brute-force EXACT word-3-gram Jaccard at 0.8 — the wide-arm
    // (simhash128-banded) composition must reproduce this exactly; the
    // minhash arm guarantees capture at the verify bar, so the banding
    // family under test cannot change the output
    "q59_simhash128_dups" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1),
        |             j -> array_to_string(t[j:j+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "q49_scrub_split" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) < 90 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) < 95 THEN 'val'
        |    ELSE 'test' END AS split,
        |  CAST(length(regexp_replace(regexp_replace(
        |    text || ' contact bob@example.com or https://x.co/a b',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS BIGINT) AS scrub_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q50_chunking" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN len(toks) <= 64 THEN [array_to_string(toks, ' ')]
        |  ELSE list_transform(generate_series(1, len(toks) - 16, 48),
        |    s -> array_to_string(toks[s:s+63], ' ')) END AS chunks
        |  FROM t)
        |SELECT doc_id, CAST(len(chunks) AS BIGINT) AS n_chunks,
        |  md5(chunks[1]) AS first_chunk_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "q24_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id < 150),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.1
        |ORDER BY 1, 2""".stripMargin,
    "q25_ann_cosine" ->
      """WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5)
        |SELECT query_id, vec_id AS neighbor_id,
        |  round(CAST(list_cosine_similarity(qv, embedding) AS DOUBLE), 3) AS cosine
        |FROM embeddings, qs
        |WHERE vec_id <> query_id
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY list_cosine_similarity(qv, embedding) DESC, vec_id) <= 5
        |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin,
    "q26_text_analysis" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN len(regexp_extract_all(text, '[一-鿿]')) > 5 THEN 'zh'
        |    WHEN ((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' to ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' is ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) // 3)
        |      >= ((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' el ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' la ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' de ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' que ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' los ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' una ', ''))) // 5)
        |      AND ((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' to ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' is ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) // 3) > 0
        |      THEN 'en'
        |    WHEN ((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' el ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' la ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' de ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' que ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' los ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' una ', ''))) // 5)
        |      > ((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) // 5
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' to ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' is ', ''))) // 4
        |        + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' a ', ''))) // 3)
        |      THEN 'es'
        |    ELSE 'und' END AS lang_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q61_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT) AS pack,
        |  n_tokens
        |FROM d ORDER BY doc_id""".stripMargin,
    // q62: the oracle computes the UNSALTED per-lang rank — hash-matching
    // it proves the salted pre-prune on the Spark side is exact
    "q62_domain_cap" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    round(
        |      (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0
        |            WHEN length(text) < 100 THEN length(text) / 100.0
        |            ELSE 20000.0 / length(text) END) * 0.4 +
        |      (CASE WHEN nt = 0 THEN 0.0
        |            ELSE least(np / greatest(nt, 1.0) * 5.0, 1.0) END) * 0.2 +
        |      least(ns / greatest(nt, 1.0) * 20.0, 1.0) * 0.2 +
        |      (CASE WHEN nt > 0 AND length(text) / nt >= 3.0
        |                 AND length(text) / nt <= 12.0 THEN 1.0
        |            ELSE 0.5 END) * 0.2, 6) AS quality
        |  FROM (SELECT doc_id, lang, text,
        |      CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nt,
        |      CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS np,
        |      CAST(CAST((length(' ' || lower(text) || ' ') -
        |        length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
        |        AS BIGINT) AS DOUBLE) AS ns
        |    FROM documents))
        |SELECT lang, rk, doc_id, quality FROM (
        |  SELECT lang, doc_id, quality,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
        |  FROM scored)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    // q63: brute-force exact Jaccard across the increment/corpus split —
    // the incremental band-index path must reproduce it exactly
    "q63_incremental_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1),
        |             j -> array_to_string(t[j:j+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents))
        |SELECT a.doc_id AS inc_id, b.doc_id AS corpus_id,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
        |ORDER BY inc_id, corpus_id""".stripMargin,
    // q64: brute-force exact cosine across the original/planted split —
    // the incremental hyperplane-index path must reproduce it
    "q64_incremental_cosine" ->
      """WITH planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, emb2 AS embedding FROM (
        |    SELECT vec_id,
        |      list_transform(embedding, (x, j) ->
        |        CAST(CAST(x AS DOUBLE)
        |          + ((vec_id*31 + (j-1)) % 7 - 3) * 0.01::DOUBLE AS FLOAT)) AS emb2
        |    FROM embeddings WHERE vec_id % 4 = 0))
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 3)
        |    AS cosine
        |FROM embeddings a JOIN planted b ON true
        |WHERE CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // q65: the full curation chain replayed stage by stage — same quality
    // SQL as q62, same packing window as q61
    "q65_curation_pipeline" ->
      """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
        |keep AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY md5(text)),
        |base AS (SELECT e.* FROM en e JOIN keep k ON e.doc_id = k.doc_id),
        |scored AS (
        |  SELECT doc_id, source,
        |    round(
        |      (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0
        |            WHEN length(text) < 100 THEN length(text) / 100.0
        |            ELSE 20000.0 / length(text) END) * 0.4 +
        |      (CASE WHEN nt = 0 THEN 0.0
        |            ELSE least(np / greatest(nt, 1.0) * 5.0, 1.0) END) * 0.2 +
        |      least(ns / greatest(nt, 1.0) * 20.0, 1.0) * 0.2 +
        |      (CASE WHEN nt > 0 AND length(text) / nt >= 3.0
        |                 AND length(text) / nt <= 12.0 THEN 1.0
        |            ELSE 0.5 END) * 0.2, 6) AS quality,
        |    CAST(nt AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, source, text,
        |      CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nt,
        |      CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS np,
        |      CAST(CAST((length(' ' || lower(text) || ' ') -
        |        length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
        |        AS BIGINT) AS DOUBLE) AS ns
        |    FROM base)),
        |capped AS (SELECT doc_id, source, quality, n_tokens FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rk
        |  FROM scored WHERE quality >= 0.45) WHERE rk <= 50)
        |SELECT doc_id, source, quality, doc_id % 4 AS shard,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY doc_id % 4
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0)
        |    AS BIGINT) AS pack,
        |  n_tokens
        |FROM capped ORDER BY doc_id""".stripMargin,
    // q66: identical synthetic HTML built in SQL, identical strip chain
    // (per-block-tag passes — RE2 has no backreferences, so the operator
    // avoids them by design)
    "q66_markup_strip" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            '<div class="doc" id="' || doc_id ||
        |            '"><script type="text/javascript">var x = 1 < 2;</script><p>'
        |            || text || '</p><br/>&amp;joined &lt;tail&gt;</div>',
        |            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q68: same tokenization (\s+ on trimmed text), same three signal
    // definitions with 0.0 on degenerate denominators
    "q68_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS m FROM toks),
        |bi AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM base, unnest(generate_series(1, m-1)) AS u(i) WHERE m >= 2),
        |bistat AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bi
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM base, unnest(generate_series(1, m-2)) AS u(i) WHERE m >= 3),
        |tristat AS (
        |  SELECT doc_id, 1 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS dup_tri
        |  FROM tri GROUP BY 1)
        |SELECT b.doc_id,
        |  round(CASE WHEN m <= 0 THEN 0
        |    ELSE 1 - CAST(len(list_distinct(t)) AS DOUBLE) / m END, 6)
        |    AS dup_token_frac,
        |  round(coalesce(top_bi, 0), 6) AS top_bigram_frac,
        |  round(coalesce(dup_tri, 0), 6) AS dup_trigram_frac
        |FROM base b LEFT JOIN bistat USING (doc_id)
        |  LEFT JOIN tristat USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q69: WordShingles semantics — distinct 4-grams per doc, docs under 4
    // tokens collapse to one whole-doc gram; n_hits = distinct overlap
    "q69_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |    ELSE list_distinct(list_transform(generate_series(1, len(t)-3),
        |         i -> array_to_string(t[i:i+3], ' '))) END AS gs
        |  FROM toks),
        |bench AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 17 = 3),
        |cand AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 17 <> 3)
        |SELECT doc_id, count(*) AS n_hits
        |FROM cand JOIN bench USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q70: same tokenization; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    // tf = termCount/docLen; ties broken by term ascending. The arithmetic
    // is written with the same association ((tc/len) * idf) so the doubles
    // are bit-identical before the 6-decimal round.
    "q70_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks),
        |perterm AS (
        |  SELECT doc_id, term, count(*) AS tc, any_value(len) AS len
        |  FROM tf GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT p.doc_id, p.term,
        |    (CAST(p.tc AS DOUBLE) / p.len) *
        |      (ln(((SELECT count(*) FROM documents) + 1.0) / (d.df + 1.0))
        |        + 1.0) AS tfidf
        |  FROM perterm p JOIN dfreq d ON p.term = d.term),
        |ranked AS (
        |  SELECT doc_id, term, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, round(tfidf, 6) AS tfidf
        |FROM ranked WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    // q71: the q24 pair derivation at threshold 0.02, then connected
    // components as a recursive transitive closure labeled by min id —
    // the declarative ground truth for dupClusters' label propagation
    "q71_dup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id < 150),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(n, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |cc AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n),
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT cc.doc_id, cc.cluster, sz.cluster_size
        |FROM cc JOIN sz USING (cluster)
        |ORDER BY doc_id""".stripMargin,
    // q72: same iterated Lehmer stream (three x -> x*48271 mod (2^31-1)
    // rounds, seed id*48271 + 11) — pure int64 arithmetic, so the kept
    // set replays bit-exactly in any engine
    "q72_mixture_sample" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 1.5
        |      WHEN 'es' THEN 2.0 WHEN 'fr' THEN 0.0 ELSE 1.0 END
        |      AS DOUBLE) AS rate,
        |    CAST((((doc_id * 48271 + 11) % 2147483647) * 48271 % 2147483647)
        |        * 48271 % 2147483647 AS DOUBLE)
        |      / 2147483647.0 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(rate) AS BIGINT) +
        |      CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS copies
        |  FROM base)
        |SELECT doc_id, lang,
        |  unnest(generate_series(1, copies)) AS copy
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id, copy""".stripMargin,
    // q73: identical derived corpus (own text + decade-leader text + fixed
    // footer), paragraph df over distinct docs, rebuild in paragraph order
    "q73_boilerplate_strip" ->
      """WITH docs0 AS (SELECT doc_id, text FROM documents),
        |derived AS (
        |  SELECT d.doc_id,
        |    concat_ws(chr(10)||chr(10), d.text, l.text,
        |      'standard license footer') AS text
        |  FROM docs0 d JOIN docs0 l ON d.doc_id - (d.doc_id % 10) = l.doc_id),
        |parts AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10)||chr(10))) AS part,
        |    unnest(generate_series(1,
        |      len(string_split(text, chr(10)||chr(10))))) AS pos
        |  FROM derived),
        |bp AS (
        |  SELECT part FROM (SELECT DISTINCT part, doc_id FROM parts)
        |  GROUP BY part HAVING count(*) >= 5),
        |kept AS (
        |  SELECT p.doc_id, p.part, p.pos FROM parts p
        |  LEFT JOIN bp ON p.part = bp.part WHERE bp.part IS NULL),
        |rebuilt AS (
        |  SELECT doc_id,
        |    string_agg(part, chr(10)||chr(10) ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean
        |FROM derived d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q74: q28's planted-union corpus; assignment = argmax over
    // dot(v, c)/|c| (ties to the lower centroid id, matching the stable
    // argmax in NearestCentroids), pairs scoped to equal clusters
    "q74_semantic_dedup" ->
      """WITH planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, emb2 AS embedding FROM (
        |    SELECT vec_id,
        |      list_transform(embedding, (x, j) ->
        |        CAST(CAST(x AS DOUBLE)
        |          + ((vec_id*31 + (j-1)) % 7 - 3) * 0.01::DOUBLE AS FLOAT)) AS emb2
        |    FROM embeddings WHERE vec_id % 4 = 0)),
        |all_v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted),
        |cents AS (
        |  SELECT vec_id AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (
        |  SELECT v.vec_id, c.cid,
        |    list_dot_product(list_transform(v.embedding,
        |      x -> CAST(x AS DOUBLE)), c.cv) / c.nrm AS score
        |  FROM all_v v, cents c),
        |best AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
        |    FROM assign) WHERE rn = 1)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ba.cluster,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding)
        |    AS DOUBLE), 3) AS cosine
        |FROM all_v a
        |JOIN best ba ON a.vec_id = ba.vec_id
        |JOIN best bb ON ba.cluster = bb.cluster
        |JOIN all_v b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
        |WHERE CAST(list_cosine_similarity(a.embedding, b.embedding)
        |  AS DOUBLE) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    // q78: identical fragment construction (lowercased token slice) and
    // the q24 shingle derivation; containment divides by |sh(a)| only
    "q78_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |toksall AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM base),
        |frag AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    array_to_string(t[1:15], ' ') AS text
        |  FROM toksall WHERE doc_id % 10 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id, text FROM frag),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM corpus),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM tok)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(a.sh), 4) AS containment
        |FROM sh a, sh b
        |WHERE a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(a.sh) >= 0.9
        |ORDER BY 1, 2""".stripMargin,
    // q78b: IDENTICAL brute-force oracle as q78 — the banded candidate
    // path must reproduce the exact quadratic result on the planted corpus
    "q78b_containment_banded" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |toksall AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM base),
        |frag AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    array_to_string(t[1:15], ' ') AS text
        |  FROM toksall WHERE doc_id % 10 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id, text FROM frag),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM corpus),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM tok)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(a.sh), 4) AS containment
        |FROM sh a, sh b
        |WHERE a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(a.sh) >= 0.9
        |ORDER BY 1, 2""".stripMargin,
    // q77: same tokenization as q70 (whitespace split of trim(text), no
    // case folding); bigrams via zipped list slices; Laplace bigram
    // ln((c2+1)/(c1+V)) with unigram backoff ln((c1(w2)+1)/(T+V)) for
    // out-of-vocabulary contexts. The per-doc sum replays the engine's
    // fixed-point arithmetic EXACTLY: each logp quantized to long
    // nano-nats (floor(x*1e9) — IEEE-exact, engine-portable), summed as
    // integers, then the same division order — so the result is
    // bit-identical regardless of either engine's partitioning
    "q77_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |refbi AS (
        |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM tok WHERE doc_id % 2 = 0 AND len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM refbi GROUP BY 1, 2),
        |c1 AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(t) AS w1 FROM tok WHERE doc_id % 2 = 0)
        |  GROUP BY 1),
        |vocab AS (SELECT count(*) AS v, sum(c1) AS tt FROM c1),
        |dbi AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM tok WHERE doc_id % 2 = 1 AND len(t) >= 2),
        |sc AS (
        |  SELECT d.doc_id,
        |    CASE WHEN k1.c1 IS NOT NULL THEN
        |      ln((coalesce(c2.c2, 0) + 1.0) /
        |         (k1.c1 + (SELECT v FROM vocab)))
        |    ELSE
        |      ln((coalesce(k2.c1, 0) + 1.0) /
        |         (CAST((SELECT tt FROM vocab) AS DOUBLE)
        |          + (SELECT v FROM vocab)))
        |    END AS logp
        |  FROM dbi d
        |  LEFT JOIN c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
        |  LEFT JOIN c1 k1 ON d.w1 = k1.w1
        |  LEFT JOIN c1 k2 ON d.w2 = k2.w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(-(CAST(sum(CAST(floor(logp * 1e9) AS BIGINT)) AS DOUBLE)
        |    / 1e9) / count(*), 6) AS avg_neg_logp,
        |  round(exp(-(CAST(sum(CAST(floor(logp * 1e9) AS BIGINT)) AS DOUBLE)
        |    / 1e9) / count(*)), 4) AS perplexity
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // q75: identical arithmetic chain (max|v|/127, floor(x/scale + 0.5)
    // clamped, deq = q*scale) in doubles — codes and errors replay
    // bit-exactly; only the cosine needs the 6-decimal round
    "q75_quantize_int8" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM base),
        |qd AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CASE WHEN scale > 0 THEN
        |      greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale
        |      ELSE 0.0 END) AS deq
        |  FROM sc)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_max(list_transform(v, (x, i) -> abs(x - deq[i]))), 6)
        |    AS max_err,
        |  round(CAST(list_cosine_similarity(v, deq) AS DOUBLE), 6) AS cos_sim
        |FROM qd
        |ORDER BY vec_id""".stripMargin,
    // q79: exact-gram replay of the hash-mode span derivation — same
    // case-sensitive whitespace tokenization, 10-token windows, df >= 2
    // over DISTINCT docs, gaps-and-islands merge of consecutive window
    // starts into maximal [start, end) token ranges
    "q79_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(generate_series(1, len(t) - 9)) AS i, t
        |  FROM tok WHERE len(t) >= 10),
        |wg AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(t[i:i+9], ' ') AS gram
        |  FROM wins),
        |dup AS (
        |  SELECT gram FROM wg GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT w.doc_id, w.pos FROM wg w JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos, pos - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 10 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,
    // q88: identical decomposed suffix via chr() codepoints; DuckDB's
    // nfc_normalize and the JDK normalizer both implement UAX #15, so
    // the composed bytes (and the 2-codepoint shrink) agree exactly
    "q88_unicode_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' e' || chr(769) || ' A' || chr(778) || ' end' AS deco
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(deco)) AS norm_md5,
        |  CAST(length(deco) - length(nfc_normalize(deco)) AS BIGINT)
        |    AS n_composed
        |FROM d ORDER BY doc_id""".stripMargin,
    // q87: md5 split replay (q49 idiom) + brute-force cross-split exact
    // Jaccard (q22/q24 shingle idiom) + direct train-holdout demotion
    "q87_leakfree_split" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM tok),
        |lab AS (
        |  SELECT doc_id, CASE
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) < 90 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS BIGINT) < 95 THEN 'val'
        |    ELSE 'test' END AS split0
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)) >= 0.5),
        |dem AS (
        |  SELECT DISTINCT CASE WHEN la.split0 = 'train'
        |    THEN p.id_b ELSE p.id_a END AS did
        |  FROM pairs p
        |  JOIN lab la ON p.id_a = la.doc_id
        |  JOIN lab lb ON p.id_b = lb.doc_id
        |  WHERE (la.split0 = 'train') <> (lb.split0 = 'train'))
        |SELECT l.doc_id,
        |  CASE WHEN d.did IS NOT NULL THEN 'train' ELSE l.split0 END AS split,
        |  d.did IS NOT NULL AS demoted
        |FROM lab l LEFT JOIN dem d ON l.doc_id = d.did
        |ORDER BY l.doc_id""".stripMargin,
    // q86: same lowercased whitespace tokenization, count of tokens on
    // the same 3-word list (repeats count — list_filter, not intersect),
    // ratio guarded for empty text exactly like the engine's `when`
    "q86_blocklist" ->
      """WITH tok AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(t, x -> x IN ('slow', 'error', 'join')))
        |    AS BIGINT) AS n_blocked,
        |  round(CASE WHEN len(trim(text)) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(t, x -> x IN ('slow', 'error', 'join')))
        |      AS DOUBLE) / len(t) END, 6) AS blocked_ratio
        |FROM tok ORDER BY doc_id""".stripMargin,
    // q85: brute-force k-NN graph — with nProbe = nClusters the IVF join
    // is exhaustive, so the oracle is the plain all-pairs top-5 (cosine
    // desc, neighbor id asc ties), independent of centroid placement
    "q85_knn_join" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |sc AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE) AS c
        |  FROM v a, v b WHERE a.vec_id <> b.vec_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, c, row_number() OVER (
        |    PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rn
        |  FROM sc)
        |SELECT query_id, neighbor_id, round(c, 3) AS cosine
        |FROM rk WHERE rn <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // q84: exact-gram replay of the benchmark-membership span rule —
    // same case-sensitive tokenization and island merge as q79, with
    // "gram in benchmark set" replacing the corpus df >= 2 rule
    "q84_contaminated_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(generate_series(1, len(t) - 7)) AS i, t
        |  FROM tok WHERE len(t) >= 8),
        |wg AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(t[i:i+7], ' ') AS gram
        |  FROM wins),
        |bk AS (SELECT DISTINCT gram FROM wg WHERE doc_id % 7 = 3),
        |hits AS (
        |  SELECT w.doc_id, w.pos FROM wg w JOIN bk USING (gram)
        |  WHERE w.doc_id % 7 <> 3),
        |isl AS (
        |  SELECT doc_id, pos, pos - row_number() OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 8 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,
    // q82: exact-feature DSIR replay — unigram+bigram streams for both
    // corpora, Laplace-smoothed probabilities with D = distinct features
    // across BOTH, per-doc sum of log ratios in the engine's fixed-point
    // (long nano-nat) arithmetic — bit-identical in any summation order
    "q82_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, unnest(t || CASE WHEN len(t) >= 2
        |    THEN list_transform(generate_series(1, len(t) - 1),
        |      i -> concat_ws(' ', t[i], t[i+1]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS f
        |  FROM tok),
        |tc AS (SELECT f, count(*) AS ct FROM feat
        |  WHERE doc_id % 5 = 0 GROUP BY f),
        |rc AS (SELECT f, count(*) AS cr FROM feat
        |  WHERE doc_id % 5 <> 0 GROUP BY f),
        |u AS (
        |  SELECT coalesce(tc.f, rc.f) AS f, coalesce(ct, 0) AS ct,
        |    coalesce(cr, 0) AS cr
        |  FROM tc FULL JOIN rc ON tc.f = rc.f),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS d FROM u),
        |r AS (
        |  SELECT f, ln((ct + 1.0) / (tt + d)) - ln((cr + 1.0) / (tr + d)) AS lr
        |  FROM u, tot)
        |SELECT fe.doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |  round(CAST(sum(CAST(floor(r.lr * 1e9) AS BIGINT)) AS DOUBLE)
        |    / 1e9, 4) AS log_weight
        |FROM feat fe JOIN r USING (f)
        |WHERE fe.doc_id % 5 <> 0
        |GROUP BY fe.doc_id ORDER BY fe.doc_id""".stripMargin,
    // q83: q82's weights + the q72 Lehmer stream feeding a Gumbel draw;
    // top-100 by perturbed key, ties by id, re-ordered by id for compare
    "q83_dsir_resample" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, unnest(t || CASE WHEN len(t) >= 2
        |    THEN list_transform(generate_series(1, len(t) - 1),
        |      i -> concat_ws(' ', t[i], t[i+1]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS f
        |  FROM tok),
        |tc AS (SELECT f, count(*) AS ct FROM feat
        |  WHERE doc_id % 5 = 0 GROUP BY f),
        |rc AS (SELECT f, count(*) AS cr FROM feat
        |  WHERE doc_id % 5 <> 0 GROUP BY f),
        |u AS (
        |  SELECT coalesce(tc.f, rc.f) AS f, coalesce(ct, 0) AS ct,
        |    coalesce(cr, 0) AS cr
        |  FROM tc FULL JOIN rc ON tc.f = rc.f),
        |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS d FROM u),
        |r AS (
        |  SELECT f, ln((ct + 1.0) / (tt + d)) - ln((cr + 1.0) / (tr + d)) AS lr
        |  FROM u, tot),
        |w AS (
        |  SELECT fe.doc_id,
        |    CAST(sum(CAST(floor(r.lr * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS lw
        |  FROM feat fe JOIN r USING (f)
        |  WHERE fe.doc_id % 5 <> 0
        |  GROUP BY fe.doc_id),
        |g AS (
        |  SELECT doc_id, lw, lw - ln(-ln(
        |    ((((doc_id * 48271 + 11) % 2147483647) * 48271 % 2147483647)
        |      * 48271 % 2147483647 + 0.5) / 2147483647.0)) AS key
        |  FROM w),
        |top AS (
        |  SELECT doc_id, lw, key FROM g
        |  ORDER BY key DESC, doc_id LIMIT 100)
        |SELECT doc_id, round(lw, 4) AS log_weight,
        |  round(key, 4) AS gumbel_key
        |FROM top ORDER BY doc_id""".stripMargin,
    // q81: brute-force replay — identical benchmark construction
    // (lowercased tokens, first 5 dropped, rejoined) and the q24/q78
    // shingle derivation; Jaccard = |∩| / |distinct ∪|
    "q81_fuzzy_decontam" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |btok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM base WHERE doc_id % 25 = 0),
        |bench AS (
        |  SELECT doc_id + 50000 AS bench_id,
        |    array_to_string(t[6:len(t)], ' ') AS text
        |  FROM btok),
        |dtok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM base),
        |dsh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM dtok),
        |bt2 AS (
        |  SELECT bench_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM bench),
        |bsh AS (
        |  SELECT bench_id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(generate_series(1, len(t) - 2),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
        |    END) AS sh
        |  FROM bt2)
        |SELECT d.doc_id, b.bench_id,
        |  round(CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(d.sh || b.sh)), 4) AS jaccard
        |FROM dsh d, bsh b
        |WHERE CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(d.sh || b.sh)) >= 0.5
        |ORDER BY d.doc_id, b.bench_id""".stripMargin,
    // q80: same span derivation, then rebuild — tokens whose 0-based
    // position falls inside any span are dropped, survivors re-join with
    // single spaces (zipped unnest pairs each token with its ordinal)
    "q80_strip_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(generate_series(1, len(t) - 9)) AS i, t
        |  FROM tok WHERE len(t) >= 10),
        |wg AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(t[i:i+9], ' ') AS gram
        |  FROM wins),
        |dup AS (
        |  SELECT gram FROM wg GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT w.doc_id, w.pos FROM wg w JOIN dup USING (gram)),
        |cov AS (
        |  SELECT DISTINCT h.doc_id, h.pos + g.o AS p
        |  FROM hits h, generate_series(0, 9) AS g(o)),
        |tokpos AS (
        |  SELECT doc_id, unnest(t) AS tok,
        |    unnest(generate_series(1, len(t))) AS i
        |  FROM tok),
        |kept AS (
        |  SELECT tp.doc_id, tp.tok, tp.i FROM tokpos tp
        |  LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.i - 1 = c.p
        |  WHERE c.p IS NULL),
        |agg AS (
        |  SELECT doc_id,
        |    array_to_string(list(tok ORDER BY i), ' ') AS text_clean,
        |    count(*) AS kept_n
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
        |  CAST(len(t.t) - coalesce(a.kept_n, 0) AS BIGINT) AS n_removed
        |FROM tok t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // q89: the q77 perplexity chain, then rank-derived cutpoint VALUES
    // (max p among the floor(f·n) lowest under (p, doc_id) order) and the
    // same value-threshold labeling perplexityBuckets applies — both
    // engines label p <= cut, so ties at the cut land identically
    "q89_perplexity_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |refbi AS (
        |  SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM tok WHERE doc_id % 2 = 0 AND len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM refbi GROUP BY 1, 2),
        |c1 AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(t) AS w1 FROM tok WHERE doc_id % 2 = 0)
        |  GROUP BY 1),
        |vocab AS (SELECT count(*) AS v, sum(c1) AS tt FROM c1),
        |dbi AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM tok WHERE doc_id % 2 = 1 AND len(t) >= 2),
        |sc AS (
        |  SELECT d.doc_id,
        |    CASE WHEN k1.c1 IS NOT NULL THEN
        |      ln((coalesce(c2.c2, 0) + 1.0) /
        |         (k1.c1 + (SELECT v FROM vocab)))
        |    ELSE
        |      ln((coalesce(k2.c1, 0) + 1.0) /
        |         (CAST((SELECT tt FROM vocab) AS DOUBLE)
        |          + (SELECT v FROM vocab)))
        |    END AS logp
        |  FROM dbi d
        |  LEFT JOIN c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
        |  LEFT JOIN c1 k1 ON d.w1 = k1.w1
        |  LEFT JOIN c1 k2 ON d.w2 = k2.w1),
        |ppx AS (
        |  SELECT doc_id,
        |    round(exp(-(CAST(sum(CAST(floor(logp * 1e9) AS BIGINT)) AS DOUBLE)
        |      / 1e9) / count(*)), 4) AS perplexity
        |  FROM sc GROUP BY 1),
        |ranked AS (
        |  SELECT doc_id, perplexity,
        |    row_number() OVER (ORDER BY perplexity, doc_id) AS rn,
        |    count(*) OVER () AS c
        |  FROM ppx),
        |cuts AS (
        |  SELECT
        |    max(CASE WHEN rn <= greatest(1, CAST(floor(0.3 * c) AS BIGINT))
        |      THEN perplexity END) AS c1,
        |    max(CASE WHEN rn <= greatest(1, CAST(floor(0.7 * c) AS BIGINT))
        |      THEN perplexity END) AS c2
        |  FROM ranked)
        |SELECT r.doc_id, r.perplexity,
        |  CASE WHEN r.perplexity <= cuts.c1 THEN 'head'
        |       WHEN r.perplexity <= cuts.c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked r, cuts ORDER BY r.doc_id""".stripMargin,
    // q90: the q74 assignment CTEs (dot/centroid-norm argmax — doc norm
    // is constant per doc, so the argmax equals the cosine argmax), then
    // per-cluster prototypicality rank on the round-3 cosine with id
    // tie-break — exactly clusterSample's scoreScale=3 ordering
    "q90_cluster_sample" ->
      """WITH planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, emb2 AS embedding FROM (
        |    SELECT vec_id,
        |      list_transform(embedding, (x, j) ->
        |        CAST(CAST(x AS DOUBLE)
        |          + ((vec_id*31 + (j-1)) % 7 - 3) * 0.01::DOUBLE AS FLOAT)) AS emb2
        |    FROM embeddings WHERE vec_id % 4 = 0)),
        |all_v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM planted),
        |cents AS (
        |  SELECT vec_id AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    embedding AS cemb
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (
        |  SELECT v.vec_id, c.cid,
        |    list_dot_product(list_transform(v.embedding,
        |      x -> CAST(x AS DOUBLE)), c.cv) / c.nrm AS score
        |  FROM all_v v, cents c),
        |best AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |scorev AS (
        |  SELECT v.vec_id, b.cluster,
        |    round(CAST(list_cosine_similarity(v.embedding, c.cemb)
        |      AS DOUBLE), 3) AS score
        |  FROM all_v v
        |  JOIN best b ON v.vec_id = b.vec_id
        |  JOIN cents c ON b.cluster = c.cid),
        |ranked AS (
        |  SELECT vec_id, cluster, score, row_number() OVER (
        |    PARTITION BY cluster ORDER BY score DESC, vec_id ASC) AS rk
        |  FROM scorev)
        |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, score,
        |  CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 10 ORDER BY cluster, rk""".stripMargin,
  )

  /** q91–q93 reuse the q77/q82/q89 oracles VERBATIM: the amortized
    * persisted-model paths must reproduce their build-in-place siblings
    * bit-for-bit — same SQL, same hashes — or the persistence layer has
    * changed the model. */
  val oracleSql: Map[String, String] = baseOracles ++ Map(
    "q91_lm_score_amortized" -> baseOracles("q77_lm_score"),
    "q92_dsir_weights_amortized" -> baseOracles("q82_dsir_weights"),
    "q93_perplexity_label_amortized" -> baseOracles("q89_perplexity_buckets"),
    // q94 = q59's pipeline run UNPINNED (the arm decision asserted
    // in-entry against the corpus count); the pair set is arm-independent
    // by the minhash-capture argument, so q59's brute-force oracle
    // replays it verbatim
    "q94_simhash_autoswitch" -> baseOracles("q59_simhash128_dups"),
    // q96 = the minhash family at q59's 0.8 verify bar with the geometry
    // ladder engaged — below the ladder threshold (all oracle SFs) the
    // banding is bit-for-bit legacy 16×4, and the output is EXACT pairs,
    // so the same brute-force oracle replays it
    "q96_minhash_scale_dups" -> baseOracles("q59_simhash128_dups"),
    // q95 = q83 against the persisted model — bit-identical by the same
    // argument as q91/q92 (the resample is deterministic in (id, model))
    "q95_dsir_resample_amortized" -> baseOracles("q83_dsir_resample"))
}
