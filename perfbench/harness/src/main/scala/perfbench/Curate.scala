package perfbench

import java.time.Instant

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.TextHashFunctions
import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** llm-pipeline: one caller curates a day shard of a crawled corpus per
  * pass — strip markup, exact dedup, MinHash near-duplicate pairs, duplicate
  * clusters, survivors — materialising the survivors through the noop sink. */
object Curate {
  val Days = 12
  val PerDay = 500
  val BatchDays = 4
  val WarmupSec = 2
  val RecallShards = 1
  val MinRecall = 0.99

  def apply(run: Run): Unit = {
    val shards = (0 until Days).map(d => Corpus.shard(run.seed, d, PerDay))
    val batches = (0 until Days by BatchDays).map { d =>
      val all = new java.util.ArrayList[org.apache.spark.sql.Row]()
      shards.slice(d, d + BatchDays).foreach(s => all.addAll(Corpus.rows(s)))
      all: java.util.List[org.apache.spark.sql.Row]
    }
    val (loaded, catalog) = Harness.setupThrice(run) { root =>
      val loaded = Harness.bulkLoad(run, root, "crawl", Corpus.schema, batches)
      (loaded, Harness.catalogOf(run, loaded.store))
    }(_ => ())

    val order = {
      val r = new java.util.SplittableRandom(run.seed)
      val a = Array.range(0, Days)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    var n = 0
    val pipeline = new Pipeline(run, catalog)
    def pass(traced: Boolean): Boolean = {
      run.attempt()
      val s = shards(order(n % Days))
      n += 1
      val got = pipeline.survivors(s.day, n, traced)
      // every base document survives, and at most the recall bar's share of
      // the planted duplicates may be missed (near-dup detection is approximate)
      val slack = math.floor((1 - MinRecall) * (s.exactOf.size + s.nearOf.size)).toLong
      val ok = got >= s.survivors && got <= s.survivors + slack
      if (!ok)
        run.fail("survivors", s"day ${s.day}: $got survivors, the generator planted " +
          s"${s.survivors} distinct documents (allowed up to ${s.survivors + slack})")
      ok
    }
    def loop(seconds: Int, traced: Boolean): Seq[Harness.Sample] = {
      val until = System.nanoTime() + seconds * 1000000000L
      val out = Seq.newBuilder[Harness.Sample]
      while (System.nanoTime() < until) {
        val t0 = System.nanoTime()
        val ok = try pass(traced) catch { case e: Exception => run.fail("pipeline", e.toString); false }
        val t1 = System.nanoTime()
        out += Harness.Sample(t0, t1, ok, (t1 - t0) / 1e6)
      }
      run.mark(s"measured ${if (traced) "traced" else "untraced"} passes")
      out.result()
    }

    val warmUntil = System.nanoTime() + WarmupSec * 1000000000L
    while (System.nanoTime() < warmUntil) pipeline.survivors(shards(order(n % Days)).day, -1, traced = false)
    run.mark("warmed up")

    val start = System.nanoTime()
    val untraced = Harness.latencyMetrics(loop(run.seconds, traced = false), start)
    Seq("qps", "p50_ms", "p95_ms").foreach(k => run.e2e(k) = untraced(k))
    run.info("latency_samples") = untraced("samples").toLong
    run.info("docs_per_s") = untraced("qps") * PerDay

    if (run.traced) {
      run.spark.sparkContext.addSparkListener(run.listener)
      run.tracer.on = true
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      val traced = Harness.latencyMetrics(loop(run.seconds, traced = true), t0)
      run.layer("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
      run.tracer.on = false
      run.drainListener()
      run.layer("trace.overhead_p50_ms") = traced("p50_ms") - untraced("p50_ms")
      run.layer("trace.overhead_p95_ms") = traced("p95_ms") - untraced("p95_ms")
      run.layer("trace.overhead_qps") = untraced("qps") - traced("qps")
      Seq("strip_markup", "exact_dedup", "minhash_pairs", "clusters").foreach { s =>
        run.layer(s"ext.${s}_ms") = run.tracer.meanSelf(s"ext.$s")
      }
      val passes = run.tracer.count("ext.survivors")
      run.layer("ext.candidate_pairs") = pipeline.candidates.toDouble / math.max(passes, 1)
      run.layer("ext.verify_precision") =
        if (pipeline.candidates == 0) 0.0 else pipeline.verified.toDouble / pipeline.candidates
      run.layer("catalog.table_ms") = run.tracer.meanSelf("catalog.table")
      run.layer ++= run.listener.execMetrics(_.startsWith("curate-"), passes)
    }

    (0 until RecallShards).foreach(i => recall(run, pipeline, shards(order(i))))
    val (bytes, rows) = Harness.storedBytes(loaded.store, "crawl")
    run.e2e("stored_bytes_per_row") = bytes.toDouble / rows
    run.info("stored_bytes") = bytes
    run.info("documents") = rows
    run.info("chunks") = loaded.store.readManifest("crawl").segments.size
  }

  /** Planted-duplicate recall on one shard: every exact copy must be
    * dropped by exact dedup, and every near copy must share a cluster with
    * the document its base kept. */
  def recall(run: Run, p: Pipeline, s: Shard): Unit = {
    run.attempt()
    val (kept, clusters) = p.labels(s.day)
    val keep = kept.toSet
    val copies = s.exactOf.toSeq.groupMap(_._2)(_._1)
    def keeperOf(base: Long): Long = (base +: copies.getOrElse(base, Nil)).find(keep).getOrElse(base)
    val exactCaught = s.exactOf.count { case (c, b) => !(keep(c) && keep(b)) }
    val nearCaught = s.nearOf.count { case (c, b) =>
      val k = keeperOf(b)
      !keep(c) || clusters.get(c).exists(cl => clusters.get(k).contains(cl))
    }
    val planted = s.exactOf.size + s.nearOf.size
    val r = (exactCaught + nearCaught).toDouble / planted
    run.info(s"recall_day${s.day}") = r
    if (r < MinRecall) run.fail("recall", f"day ${s.day}: planted-duplicate recall $r%.4f below $MinRecall")
  }

  final class Pipeline(run: Run, catalog: Catalog) {
    private val spark = run.spark
    private val tr = run.tracer
    var candidates = 0L
    var verified = 0L

    private def day(d: Int): DataFrame = {
      val s = Instant.ofEpochMilli(Gen.Epoch + d * Gen.DayMs)
      catalog.table(spark, "crawl", Seq(graft.model.Interval(s, s.plusMillis(Gen.DayMs))))
    }

    private def stages(d: Int, traced: Boolean): (DataFrame, DataFrame, DataFrame) = {
      def step(name: String)(df: => DataFrame): DataFrame =
        if (traced) tr.span(name)(Dedup.materialize(df)) else df
      val clean = step("ext.strip_markup")(
        day(d).select(col("id"), TextAnalysis.stripMarkup(col("html")).as("text")))
      val kept = step("ext.exact_dedup")(clean.join(
        Dedup.exact(clean, "text", "id").select(col("keep_id").as("id")), Seq("id"), "left_semi"))
      val pairs = step("ext.minhash_pairs")(Dedup.minhashDupPairs(kept, "text", "id"))
      if (traced) {
        candidates += candidatePairs(kept)
        verified += pairs.count()
      }
      val clusters = step("ext.clusters")(Dedup.dupClusters(pairs))
      (kept, pairs, clusters)
    }

    /** Distinct document pairs sharing at least one LSH band bucket under
      * `minhashDupPairs`' default geometry (64 hashes, 16 bands, 3-word
      * shingles): the candidates its verification step starts from. */
    private def candidatePairs(kept: DataFrame): Long = {
      val banded = kept.select(col("id"), posexplode(TextHashFunctions.band_keys(
        Dedup.minhashSignature(col("text"), 64, 3), 16)).as(Seq("band", "bucket")))
      val a = banded.withColumnRenamed("id", "id_a")
      val b = banded.withColumnRenamed("id", "id_b")
      a.join(b, Seq("band", "bucket")).where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
    }

    /** One pass over day `d`; returns the number of surviving documents. */
    def survivors(d: Int, n: Int, traced: Boolean): Long = {
      val sc = spark.sparkContext
      sc.setJobGroup(s"curate-$n", "perfbench curation pass")
      try {
        val (kept, _, clusters) = stages(d, traced)
        val dropped = clusters.filter(col("id") =!= col("cluster")).select("id")
        val obs = Observation(s"survivors-$n-${System.nanoTime()}")
        val out = kept.join(dropped, Seq("id"), "left_anti").observe(obs, count(lit(1)).as("n"))
        def save(): Unit = out.write.format("noop").mode("overwrite").save()
        if (traced) tr.span("ext.survivors")(save()) else save()
        obs.get("n").asInstanceOf[Long]
      } finally sc.clearJobGroup()
    }

    /** The ids surviving exact dedup, and each clustered id's cluster. */
    def labels(d: Int): (Seq[Long], Map[Long, Long]) = {
      val (kept, _, clusters) = stages(d, traced = false)
      (kept.select("id").collect().map(_.getLong(0)).toSeq,
        clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
  }
}
