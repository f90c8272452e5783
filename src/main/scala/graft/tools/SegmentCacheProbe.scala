package graft.tools

import org.apache.spark.sql.functions._

/** Dashboard-shape measurement for the per-(segment, query) result cache:
  * ingest the events fixture into a day-chunked SegmentStore, then time an
  * hour-granularity timeseries over a sliding D-day window —
  *
  *   1. cold:     every chunk fragment computes (the first dashboard load)
  *   2. advance:  the window moves one day — D−1 fragments hit, 1 computes
  *   3. complete: the same window again — every fragment hits, zero jobs
  *   4. nocache:  the identical query with the fragment cache disabled
  *                (the whole-query plan a cache-less engine would run)
  *
  * Prints ONE JSON line with seconds + per-phase segment hit/miss counts.
  * The number that matters at 100 TB is advance/nocache: a D-day dashboard
  * recomputes 1/D of its work per advance instead of all of it, and the
  * ratio widens linearly with the window width.
  *
  *   sbt "runMain graft.tools.SegmentCacheProbe /root/testdata/sf0.1 21"
  */
object SegmentCacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val days = args.lift(1).map(_.toInt).getOrElse(21)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = new graft.store.SegmentStore(
      java.nio.file.Files.createTempDirectory("graft-segprobe").toString)
    store.write(graft.sources.TableLoader.load(spark, sfDir, "events")
      .withColumn("__time", col("ts")).drop("ts"), "ev")
    val chunks = store.readManifest("ev").segments.map(_.chunk).distinct.sorted
    // windows start at offsets 0..2, each spanning `days` chunks
    require(chunks.size > days + 2,
      s"need > ${days + 2} chunks, have ${chunks.size}")
    val engine = new graft.engine.Engine(spark, new graft.store.SegmentCatalog(store))

    def window(i0: Int): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["${chunks(i0)}T00:00:00Z/${chunks(i0 + days)}T00:00:00Z"],
         |"granularity":"hour",
         |"aggregations":[{"type":"count","name":"cnt"},
         |  {"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    def timed(json: String): (Double, Int, Int) = {
      val t0 = System.nanoTime()
      engine.executeJson(json)
      val m = engine.metrics.last
      ((System.nanoTime() - t0) / 1e9, m.segmentHits, m.segmentMisses)
    }
    // JIT/codegen warmup on a cache-DISABLED engine so the measured cold
    // pass really computes every fragment (a caching warmup would leave
    // its fragments behind and turn "cold" into a mostly-hit run — the
    // first cut of this probe did exactly that)
    spark.conf.set("spark.graft.segmentCache.enabled", "false")
    val plain = new graft.engine.Engine(spark, new graft.store.SegmentCatalog(store))
    spark.conf.unset("spark.graft.segmentCache.enabled")
    // useCache=false: the second warmup must EXECUTE, not hit the
    // whole-query cache the first one populated
    def uncached(json: String): String = json.replace("\"granularity\"",
      "\"context\":{\"useCache\":\"false\",\"populateCache\":\"false\"},\"granularity\"")
    plain.executeJson(uncached(window(0)))
    plain.executeJson(uncached(window(0)))

    val (tCold, hc, mc) = timed(window(1))     // D cold fragments
    val (tAdv, ha, ma) = timed(window(2))      // D-1 hits, 1 cold
    val (tFull, hf, mf) = timed(                // all hits, zero Spark jobs
      window(2).replace("\"granularity\"",
        "\"context\":{\"queryId\":\"again\"},\"granularity\""))
    val t0 = System.nanoTime()
    plain.executeJson(uncached(window(2)))
    val tNo = (System.nanoTime() - t0) / 1e9

    // MONTH-granularity cycle over the same windows — the PARTIAL-merge
    // path (VERDICT r12 #1): day partials cache per chunk and merge
    // driver-side, so a monthly dashboard gets the same
    // only-the-hot-chunk-recomputes property. Same cold/advance/complete/
    // nocache phases; fragment keys are disjoint from the hourly run's
    // (different aggregation-bearing canonical? no — different PATH), so
    // this cycle's cold pass computes its own day partials.
    def monthly(i0: Int): String = window(i0).replace("\"hour\"", "\"month\"")
    plain.executeJson(uncached(monthly(0)))
    plain.executeJson(uncached(monthly(0)))
    val (tColdM, hcM, mcM) = timed(monthly(1))
    val (tAdvM, haM, maM) = timed(monthly(2))
    val (tFullM, hfM, mfM) = timed(monthly(2).replace("\"granularity\"",
      "\"context\":{\"queryId\":\"againM\"},\"granularity\""))
    val t1 = System.nanoTime()
    plain.executeJson(uncached(monthly(2)))
    val tNoM = (System.nanoTime() - t1) / 1e9

    // SKETCH-window arm (VERDICT r13 #1): the same monthly dashboard
    // cycle with a hyperUnique aggregator — day fragments carry mergeable
    // HLL++ register bytes and finalize at serve time, so the moving
    // monthly window gets the only-the-hot-chunk-recomputes property for
    // the LAST aggregator family that used to fall back to whole-query
    // compute. Fragment keys include the aggregations, so this cycle's
    // cold pass computes its own partials.
    def sketchMonthly(i0: Int): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["${chunks(i0)}T00:00:00Z/${chunks(i0 + days)}T00:00:00Z"],
         |"granularity":"month",
         |"aggregations":[{"type":"hyperUnique","name":"uu","fieldName":"user_id"},
         |  {"type":"count","name":"cnt"}]}""".stripMargin
    plain.executeJson(uncached(sketchMonthly(0)))
    plain.executeJson(uncached(sketchMonthly(0)))
    val (tColdS, hcS, mcS) = timed(sketchMonthly(1))
    val (tAdvS, haS, maS) = timed(sketchMonthly(2))
    val (tFullS, hfS, mfS) = timed(sketchMonthly(2).replace("\"granularity\"",
      "\"context\":{\"queryId\":\"againS\"},\"granularity\""))
    val t2 = System.nanoTime()
    plain.executeJson(uncached(sketchMonthly(2)))
    val tNoS = (System.nanoTime() - t2) / 1e9

    // TIMEZONE arm (VERDICT r14 #1): a Shanghai-daily dashboard. Every
    // UTC day chunk straddles two Shanghai days, so the r15 partial path
    // caches HOUR fragments per chunk and re-buckets them at serve time —
    // this window shape recomputed whole-query on every advance before.
    def tzDaily(i0: Int): String = window(i0).replace("\"hour\"",
      """{"type":"period","period":"P1D","timeZone":"Asia/Shanghai"}""")
    plain.executeJson(uncached(tzDaily(0)))
    plain.executeJson(uncached(tzDaily(0)))
    val (tColdT, hcT, mcT) = timed(tzDaily(1))
    val (tAdvT, haT, maT) = timed(tzDaily(2))
    val (tFullT, hfT, mfT) = timed(tzDaily(2).replace("\"granularity\"",
      "\"context\":{\"queryId\":\"againT\"},\"granularity\""))
    val t3 = System.nanoTime()
    plain.executeJson(uncached(tzDaily(2)))
    val tNoT = (System.nanoTime() - t3) / 1e9

    // KATHMANDU arm (VERDICT r15 #7 — measure before building): a
    // UTC+5:45 daily dashboard. The zone's bucket boundaries sit on a
    // :15/:45 minute grid, so classifyChunk's hour-fragment machinery
    // falls back conservatively and every advance should recompute
    // whole-query. If the sf1 advance cost lands >= 2x the tz_daily
    // arm's, MINUTE fragments (same machinery, 1440-step bound) pay;
    // otherwise the fallback is the right trade and stays.
    def tzKtm(i0: Int): String = window(i0).replace("\"hour\"",
      """{"type":"period","period":"P1D","timeZone":"Asia/Kathmandu"}""")
    plain.executeJson(uncached(tzKtm(0)))
    plain.executeJson(uncached(tzKtm(0)))
    val (tColdK, hcK, mcK) = timed(tzKtm(1))
    val (tAdvK, haK, maK) = timed(tzKtm(2))
    val (tFullK, hfK, mfK) = timed(tzKtm(2).replace("\"granularity\"",
      "\"context\":{\"queryId\":\"againK\"},\"granularity\""))
    val tK0 = System.nanoTime()
    plain.executeJson(uncached(tzKtm(2)))
    val tNoK = (System.nanoTime() - tK0) / 1e9

    // SEARCH arm (VERDICT r14 #7 — measure before building): search does
    // NOT decompose into fragments; a moving search window only has the
    // whole-query cache, so every advance recomputes. cold = first load,
    // advance = window moved (recompute), complete = same window again
    // (whole-query cache hit). If advance/nocache ≈ 1 and cold is
    // chunk-compute dominated, a per-chunk search cache would pay.
    def searchQ(i0: Int): String =
      s"""{"queryType":"search","dataSource":"ev",
         |"intervals":["${chunks(i0)}T00:00:00Z/${chunks(i0 + days)}T00:00:00Z"],
         |"searchDimensions":["event_type"],
         |"query":{"type":"insensitive_contains","value":"c"},
         |"sort":"count","limit":100}""".stripMargin
    plain.executeJson(uncached(searchQ(0)))
    plain.executeJson(uncached(searchQ(0)))
    val tColdSe = { val t = System.nanoTime()
      engine.executeJson(searchQ(1)); (System.nanoTime() - t) / 1e9 }
    val tAdvSe = { val t = System.nanoTime()
      engine.executeJson(searchQ(2)); (System.nanoTime() - t) / 1e9 }
    val tFullSe = { val t = System.nanoTime()
      engine.executeJson(searchQ(2)); (System.nanoTime() - t) / 1e9 }
    val t4 = System.nanoTime()
    plain.executeJson(uncached(searchQ(2)))
    val tNoSe = (System.nanoTime() - t4) / 1e9

    // STREAMING arm (VERDICT r13 #7): a live micro-batch append lands
    // inside a warm dashboard loop. The cache-aware handoff law (r13's
    // integration test, now MEASURED): each append bumps only the hot
    // chunk's manifest token, so the next dashboard serve recomputes
    // exactly ONE chunk (D−1 fragment hits) and reflects the new rows,
    // while closed chunks stay warm across the whole append cycle. A
    // separate narrow-schema datasource so the appended rows match the
    // stored schema exactly.
    val streaming = locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import spark.implicits._
      implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
      val lstore = new graft.store.SegmentStore(
        java.nio.file.Files.createTempDirectory("graft-segprobe-live").toString)
      lstore.write(graft.sources.TableLoader.load(spark, sfDir, "events")
        .select(col("ts").as("__time"), col("event_type"), col("value")),
        "evlive")
      val lchunks = lstore.readManifest("evlive").segments.map(_.chunk).distinct.sorted
      val lengine = new graft.engine.Engine(spark,
        new graft.store.SegmentCatalog(lstore))
      val i0 = 1
      val hotDay = lchunks(i0 + days - 1)
      def lwindow(ctx: String = ""): String =
        s"""{"queryType":"timeseries","dataSource":"evlive",
           |"intervals":["${lchunks(i0)}T00:00:00Z/${lchunks(i0 + days)}T00:00:00Z"],
           |"granularity":"hour",$ctx
           |"aggregations":[{"type":"count","name":"cnt"},
           |  {"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
      def ltimed(json: String): (Double, Int, Int) = {
        val t0 = System.nanoTime()
        lengine.executeJson(json)
        val m = lengine.metrics.last
        ((System.nanoTime() - t0) / 1e9, m.segmentHits, m.segmentMisses)
      }
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val stream = mem.toDF().toDF("__time", "event_type", "value")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-segprobe-ckpt").toString
      val q = graft.streaming.RealtimeIngest.start(stream, lstore, "evlive",
        watermark = None, checkpointDir = ckpt,
        trigger = Trigger.ProcessingTime("100 milliseconds"))
      try {
        val (tColdL, _, _) = ltimed(lwindow()) // warm the dashboard
        val hotBase = java.time.Instant.parse(s"${hotDay}T12:00:00Z")
        val appends = 5
        var advSum = 0.0
        var hits = 0; var misses = 0
        var lawHeld = true
        (1 to appends).foreach { k =>
          mem.addData((java.sql.Timestamp.from(hotBase.plusSeconds(k.toLong)),
            "live", 1.0))
          q.processAllAvailable()
          val (t, h, m) = ltimed(lwindow())
          advSum += t; hits += h; misses += m
          lawHeld &&= (h == days - 1 && m == 1)
        }
        // between appends the same window serves fully warm (all hits)
        val (tWarmL, hw, mw) = ltimed(lwindow(
          """"context":{"queryId":"liveAgain"},"""))
        lawHeld &&= (hw == days && mw == 0)
        (tColdL, advSum / appends, tWarmL, hits, misses, appends, lawHeld)
      } finally { q.stop(); q.awaitTermination() }
    }
    val (tColdL, tAdvL, tWarmL, hitsL, missesL, appendsL, lawHeldL) = streaming

    def f(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", d)
    println(s"""{"metric":"segment_cache_probe","unit":"sec","days":$days,""" +
      s""""cold":${f(tCold)},"advance":${f(tAdv)},"complete":${f(tFull)},""" +
      s""""nocache":${f(tNo)},""" +
      s""""counts":{"cold":[$hc,$mc],"advance":[$ha,$ma],"complete":[$hf,$mf]},""" +
      s""""month":{"cold":${f(tColdM)},"advance":${f(tAdvM)},""" +
      s""""complete":${f(tFullM)},"nocache":${f(tNoM)},""" +
      s""""counts":{"cold":[$hcM,$mcM],"advance":[$haM,$maM],"complete":[$hfM,$mfM]}},""" +
      s""""sketch":{"cold":${f(tColdS)},"advance":${f(tAdvS)},""" +
      s""""complete":${f(tFullS)},"nocache":${f(tNoS)},""" +
      s""""counts":{"cold":[$hcS,$mcS],"advance":[$haS,$maS],"complete":[$hfS,$mfS]}},""" +
      s""""tz_daily":{"cold":${f(tColdT)},"advance":${f(tAdvT)},""" +
      s""""complete":${f(tFullT)},"nocache":${f(tNoT)},""" +
      s""""counts":{"cold":[$hcT,$mcT],"advance":[$haT,$maT],"complete":[$hfT,$mfT]}},""" +
      s""""tz_kathmandu":{"cold":${f(tColdK)},"advance":${f(tAdvK)},""" +
      s""""complete":${f(tFullK)},"nocache":${f(tNoK)},""" +
      s""""counts":{"cold":[$hcK,$mcK],"advance":[$haK,$maK],"complete":[$hfK,$mfK]}},""" +
      s""""search":{"cold":${f(tColdSe)},"advance":${f(tAdvSe)},""" +
      s""""complete":${f(tFullSe)},"nocache":${f(tNoSe)}},""" +
      s""""streaming":{"cold":${f(tColdL)},"advance_mean":${f(tAdvL)},""" +
      s""""complete":${f(tWarmL)},"appends":$appendsL,""" +
      s""""counts":{"advance_total":[$hitsL,$missesL]},"law_held":$lawHeldL}}""")
    require(lawHeldL, "streaming handoff law violated: see counts above")
    spark.stop()
  }
}
