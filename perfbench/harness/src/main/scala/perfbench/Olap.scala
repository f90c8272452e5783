package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.engine.{Engine, HttpServer, ResultEncoder, SegmentResultCache}
import graft.model.QueryJson
import graft.plan.QueryPlanner
import graft.sources.Catalog
import org.apache.spark.sql.Row

/** The engine served over HTTP from a store loaded in setup. */
final case class Serving(loaded: Loaded, catalog: Catalog, engine: Engine, server: HttpServer) {
  def port: Int = server.boundPort
}

object Olap {
  val Clients = 2
  private val mapper = new ObjectMapper()

  /** Loads the events datasource and starts the engine's HTTP server, three
    * times over fresh stores; setup_s is the median, the last one serves. */
  def setup(run: Run, batches: Seq[java.util.List[Row]]): Serving =
    Harness.setupThrice(run) { root =>
      val loaded = Harness.bulkLoad(run, root, "events", Gen.eventSchema, batches)
      val catalog = Harness.catalogOf(run, loaded.store)
      val engine = new Engine(run.spark, catalog)
      val server = new HttpServer(engine)
      server.start()
      (loaded, Serving(loaded, catalog, engine, server))
    }(_.server.stop())._2

  def warmup(run: Run, sv: Serving, seconds: Int)(next: Int => Req): Unit = {
    Harness.closedLoop(run, Clients, System.nanoTime() + seconds * 1000000000L, "warmup") { c =>
      val r = next(c)
      try (Harness.post(sv.port, r.path, r.body)._1 == 200, 0.0)
      catch { case _: Exception => (false, 0.0) } // warm-up requests are not counted
    }
    run.mark("warmed up")
  }

  /** One measured phase; latency metrics plus the phase's cache deltas. */
  final case class Phase(lat: Map[String, Double], cache: Map[String, Long], gcMs: Long)

  def phase(run: Run, sv: Serving, kind: String)(op: Int => (Boolean, Double)): Phase = {
    val c0 = sv.engine.cacheStats
    val gc0 = Jvm.gcMs
    val start = System.nanoTime()
    val samples = Harness.closedLoop(run, Clients, start + run.seconds * 1000000000L, kind)(op)
    val c1 = sv.engine.cacheStats
    run.mark(s"measured ${if (run.tracer.on) "traced" else "untraced"} $kind phase")
    Phase(Harness.latencyMetrics(samples, start), c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) },
      Jvm.gcMs - gc0)
  }

  def latencyInto(run: Run, p: Phase): Unit = {
    Seq("qps", "p50_ms", "p95_ms").foreach(k => run.e2e(k) = p.lat(k))
    run.info("latency_samples") = p.lat("samples").toLong
  }

  def overheadInto(run: Run, untraced: Phase, traced: Phase): Unit = {
    run.layer("trace.overhead_p50_ms") = traced.lat("p50_ms") - untraced.lat("p50_ms")
    run.layer("trace.overhead_p95_ms") = traced.lat("p95_ms") - untraced.lat("p95_ms")
    run.layer("trace.overhead_qps") = untraced.lat("qps") - traced.lat("qps")
  }

  def cacheInto(run: Run, sv: Serving, p: Phase, decomposed: Long): Unit = {
    def ratio(h: String, m: String): Double = {
      val tot = p.cache(h) + p.cache(m)
      if (tot == 0) 0.0 else p.cache(h).toDouble / tot
    }
    run.layer("cache.result_hit_ratio") = ratio("resultCacheHits", "resultCacheMisses")
    run.layer("cache.segment_hit_ratio") = ratio("segmentCacheHits", "segmentCacheMisses")
    run.layer("cache.coalesced") = p.cache("segmentCacheCoalesced").toDouble
    val wasted = p.cache("segmentCachePartialOverflows") + p.cache("segmentCacheNotServeable") +
      p.cache("segmentCacheMergeErrors")
    run.layer("cache.wasted_merge_ratio") = if (decomposed == 0) 0.0 else wasted.toDouble / decomposed
    run.layer("cache.evictions") = p.cache("resultCacheEvictions").toDouble
    run.layer("cache.bytes") = sv.engine.cacheStats("resultCacheBytes").toDouble
    run.layer("jvm.gc_ms") = p.gcMs.toDouble
  }

  def storedInto(run: Run, sv: Serving): Unit = {
    val (bytes, rows) = Harness.storedBytes(sv.loaded.store, "events")
    run.e2e("stored_bytes_per_row") = bytes.toDouble / rows
    run.info("stored_bytes") = bytes
    run.info("stored_rows") = rows
    val segs = sv.loaded.store.readManifest("events").segments
    run.info("chunks") = segs.size
    run.layer.getOrElseUpdate("store.files_per_chunk", Stats.mean(segs.map(_.files.size.toDouble)))
  }

  private val QueryId = "\"queryId\":\"([^\"]+)\"".r

  // ==========================================================================
  // adhoc-olap
  // ==========================================================================

  object Adhoc {
    val Days = 30
    val PerDay = 1000
    val BatchDays = 10
    val MaxChecks = 150

    def apply(run: Run): Unit = {
      val ev = Gen.events(run.seed, 0, Days, PerDay)
      val batches = (0 until Days by BatchDays).map(d =>
        ev.rows(d * PerDay, math.min(d + BatchDays, Days) * PerDay))
      val sv = setup(run, batches)
      try {
        val warm = (0 until Clients).map(c => new AdhocStream(run.seed, 100 + c, Days))
        // long enough for both clients to walk part of the query cycle, so
        // the first query shapes are compiled before timing starts
        warmup(run, sv, 3)(c => warm(c).next())

        val streams = (0 until Clients).map(c => new AdhocStream(run.seed, c, Days))
        val checks = new ConcurrentLinkedQueue[(Check, String)]()
        val byKind = new ConcurrentLinkedQueue[(String, Double)]()
        def request(c: Int): (Req, Boolean, Double, Int) = {
          run.attempt()
          val r = streams(c).next()
          val t0 = System.nanoTime()
          val (code, body) = Harness.post(sv.port, r.path, r.body)
          val ms = (System.nanoTime() - t0) / 1e6
          byKind.add(r.kind -> ms)
          if (code != 200) {
            run.fail(s"http-${r.kind}", s"status $code: ${body.take(300)} for ${r.body}")
            (r, false, ms, 0)
          } else {
            r.check.foreach(ch => if (checks.size < MaxChecks) checks.add(ch -> body))
            (r, true, ms, body.length)
          }
        }
        val untraced = phase(run, sv, "query") { c =>
          val (_, ok, ms, _) = request(c)
          (ok, ms)
        }
        latencyInto(run, untraced)
        byKind.asScala.toSeq.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (k, ms) =>
          run.info(s"p50_ms_$k") = f"${Stats.median(ms)}%.1f (n=${ms.size})"
        }

        if (run.traced) {
          val t = new Steps(run, sv)
          run.spark.sparkContext.addSparkListener(run.listener)
          run.tracer.on = true
          val traced = phase(run, sv, "query") { c =>
            val (r, ok, httpMs, bytes) = request(c)
            if (ok && r.path == "/druid/v2") t(r, httpMs, bytes)
            (ok, httpMs)
          }
          run.tracer.on = false
          run.drainListener()
          overheadInto(run, untraced, traced)
          cacheInto(run, sv, traced, 0L)
          t.report()
        }
        verify(run, ev, checks.asScala.toSeq)
        storedInto(run, sv)
      } finally sv.server.stop()
    }

    /** Reconciles each checked response's `rows` counts with the events. */
    def verify(run: Run, ev: Events, checks: Seq[(Check, String)]): Unit = {
      run.info("checked_queries") = checks.size
      checks.foreach { case (ch, body) =>
        val want = expected(ev, ch)
        val got =
          try Right(observed(ch, body))
          catch { case e: Exception => Left(e.toString) }
        got match {
          case Right(g) if g == want =>
          case Right(g) =>
            val diff = (want.keySet ++ g.keySet).filter(k => want.get(k) != g.get(k)).take(3)
              .map(k => s"$k want ${want.get(k)} got ${g.get(k)}")
            run.fail("wrong-answer", s"$ch: ${diff.mkString("; ")}")
          case Left(e) => run.fail("wrong-answer", s"$ch: unparseable response ($e): ${body.take(300)}")
        }
      }
    }

    private def bucket(gran: String, t: Long): Long = gran match {
      case "all" => 0L
      case "hour" => t - Math.floorMod(t, Gen.HourMs)
      case "day" => t - Math.floorMod(t, Gen.DayMs)
      case "month" =>
        val d = java.time.Instant.ofEpochMilli(t).atZone(java.time.ZoneOffset.UTC).toLocalDate
        d.withDayOfMonth(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    }

    def expected(ev: Events, ch: Check): Map[(Long, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Long, String), Long]
      var i = ev.lowerBound(ch.start)
      val hi = ev.lowerBound(ch.end)
      while (i < hi) {
        if (ch.filter.forall(_.eval(ev, i))) {
          val k = (bucket(ch.gran, ev.time(i)),
            ch.groupDim.map(d => Vocab.values(d)(ev.dim(d, i))).getOrElse(""))
          m(k) = m.getOrElse(k, 0L) + 1
        }
        i += 1
      }
      m.toMap
    }

    def observed(ch: Check, body: String): Map[(Long, String), Long] = {
      val arr = mapper.readTree(body)
      arr.elements().asScala.map { o =>
        // granularity "all" groupBy rows carry no timestamp
        val ts = Option(o.get("timestamp")).fold(0L)(t =>
          bucket(ch.gran, java.time.Instant.parse(t.asText()).toEpochMilli))
        val (key, n) = ch.groupDim match {
          case None => ("", o.get("result").get("rows").asLong())
          case Some(d) =>
            val e = o.get("event")
            (e.get(Vocab.dims(d)).asText(), e.get("rows").asLong())
        }
        (ts, key) -> n
      }.toSeq.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0L)
    }
  }

  /** The traced client's side path for one native query: the same request
    * through `Engine.executeJson` in-process, then the engine's cache-off
    * steps one by one so each layer gets a self time. */
  final class Steps(run: Run, sv: Serving) {
    private val tr = run.tracer
    private val spark = run.spark
    private val overheadMs = new ConcurrentLinkedQueue[Double]()
    private val execMs = new ConcurrentLinkedQueue[Double]()
    private val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Int, Int, Long, Long)]()
    private val qids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def apply(r: Req, httpMs: Double, bytes: Int): Unit = {
      val qid = QueryId.findFirstMatchIn(r.body).map(_.group(1)).getOrElse("")
      qids.add(qid)
      val direct = r.body.replace(qid, qid + ".direct")
      val t0 = System.nanoTime()
      tr.span("engine.execute", qid)(sv.engine.executeJson(direct))
      val ms = (System.nanoTime() - t0) / 1e6
      execMs.add(ms)
      overheadMs.add(httpMs - ms)

      val sc = spark.sparkContext
      val q = tr.span("model.parse", qid)(QueryJson.parseQuery(r.body))
      try {
        sc.setJobGroup(qid + ".steps", "perfbench steps")
        val df = tr.span("plan.build", qid)(QueryPlanner.plan(spark, q, sv.catalog))
        val qe = df.queryExecution
        tr.span("catalyst.optimize_plan", qid)(qe.executedPlan)
        val rows = tr.span("exec.run", qid)(df.collect())
        sc.setJobGroup(qid + ".enc", "perfbench encode")
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        tr.span("engine.encode", qid)(ResultEncoder.encode(q, local))
        val ph = qe.tracker.phases
        def phMs(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
        val (cg, reused) = PlanStats.of(qe.executedPlan)
        phases.add((phMs("analysis"), phMs("optimization"), phMs("planning"), cg, reused,
          rows.length.toLong, bytes.toLong))
      } finally sc.clearJobGroup()
    }

    def report(): Unit = {
      val n = math.max(phases.size, 1).toDouble
      val ph = phases.asScala.toSeq
      run.info("traced_queries") = ph.size
      run.layer("http.overhead_ms") = Stats.median(overheadMs.asScala.toSeq)
      run.layer("model.parse_ms") = tr.meanSelf("model.parse")
      run.layer("plan.build_ms") = tr.meanSelf("plan.build")
      run.layer("catalyst.analysis_ms") = ph.map(_._1).sum / n
      run.layer("catalyst.optimization_ms") = ph.map(_._2).sum / n
      run.layer("catalyst.planning_ms") = ph.map(_._3).sum / n
      run.layer("catalyst.codegen_stages") = ph.map(_._4).sum / n
      run.layer("catalyst.reused_exchanges") = ph.map(_._5).sum / n
      run.layer("catalog.table_ms") = tr.meanSelf("catalog.table")
      run.layer("catalog.version_token_ms") = tr.meanSelf("catalog.version_token")
      val served = (g: String) => qids.contains(g)
      run.layer ++= run.listener.execMetrics(served, ph.size)
      val resultRows = ph.map(_._6).sum
      run.layer("exec.rows_examined_per_result_row") =
        if (resultRows == 0) 0.0 else run.listener.total(served).inRows.toDouble / resultRows
      val encJobsMs = run.listener.total(_.endsWith(".enc")).jobMs.sum
      val spans = tr.all.filter(s => s.parent == 0L && qids.contains(s.queryId))
      def total(name: String) = spans.filter(_.name == name).map(_.ms).sum
      val execute = total("engine.execute") / n
      val stepsMs = Seq("model.parse", "plan.build", "catalyst.optimize_plan", "exec.run",
        "engine.encode").map(total).sum / n
      run.layer("engine.execute_ms") = execute
      run.layer("engine.unattributed_ms") = execute - stepsMs
      // the steps run apart from the engine's own execution, so they can
      // add up to more than it (a negative unattributed time)
      run.info("attributed_share") = if (execute == 0) 0.0 else stepsMs / execute
      run.layer("engine.encode_ms") = math.max(total("engine.encode") - encJobsMs, 0.0) / n
      run.layer("engine.result_bytes") = ph.map(_._7).sum / n
      if (stepsMs < 0.9 * execute)
        System.err.println(f"[perfbench] spans cover only ${100 * stepsMs / execute}%.1f%% of " +
          "engine.execute_ms (below 90%)")
    }
  }

  // ==========================================================================
  // dashboard-live
  // ==========================================================================

  object Dashboard {
    val HistoryDays = 16
    val PerDay = 1500
    val BatchDays = 16
    val HotDay: Int = HistoryDays - 1
    val Now: Long = Gen.Epoch + HistoryDays * Gen.DayMs
    val PeriodMs = 1500L
    val BatchRows = 500
    val Checks = 2

    def apply(run: Run): Unit = {
      val ev = Gen.events(run.seed, 0, HistoryDays, PerDay)
      val batches = (0 until HistoryDays by BatchDays).map(d =>
        ev.rows(d * PerDay, math.min(d + BatchDays, HistoryDays) * PerDay))
      val sv = setup(run, batches)
      val panels = new Panels(Now)
      val decomposable = panels.all.map { p =>
        val q = QueryJson.parseQuery(p)
        SegmentResultCache.decompose(p, q, sv.catalog).isDefined ||
          SegmentResultCache.decomposePartial(p, q, sv.catalog).isDefined
      }
      run.info("decomposable_panels") = s"${decomposable.count(identity)} of ${panels.all.size}"
      val writer = new Writer(run, sv, HotDay, PeriodMs, BatchRows)
      writer.start()
      try {
        // fill the segment cache (one thread per core, as this is not
        // measured), then run the Zipf mix for a while
        val next = new java.util.concurrent.atomic.AtomicInteger
        val fillers = (0 until run.cpus).map(_ => new Thread(() => {
          var i = next.getAndIncrement()
          while (i < panels.fill.size) {
            Harness.post(sv.port, "/druid/v2", panels.fill(i))
            i = next.getAndIncrement()
          }
        }))
        fillers.foreach(_.start())
        fillers.foreach(_.join())
        run.mark("filled the caches")
        val wr = (0 until Clients).map(c => panels.draws(run.seed * 7 + 100 + c))
        warmup(run, sv, 2)(c => Req("/druid/v2", panels.all(wr(c).next()), "panel"))
        writer.compact()

        val rs = (0 until Clients).map(c => panels.draws(run.seed * 7 + c))
        val issued = new java.util.concurrent.atomic.AtomicLong
        val byKind = new ConcurrentLinkedQueue[(String, Double)]()
        def request(c: Int): (String, Boolean, Double) = {
          run.attempt()
          val i = rs(c).next()
          if (decomposable(i)) issued.incrementAndGet()
          val p = panels.all(i)
          val t0 = System.nanoTime()
          val (code, body) = Harness.post(sv.port, "/druid/v2", p)
          val ms = (System.nanoTime() - t0) / 1e6
          byKind.add((if (i < panels.complete.size) "complete" else "live") -> ms)
          if (code != 200) run.fail("http-panel", s"status $code: ${body.take(300)} for $p")
          (p, code == 200, ms)
        }
        writer.beginPhase(1)
        val untraced = phase(run, sv, "panel") { c =>
          val (_, ok, ms) = request(c)
          (ok, ms)
        }
        writer.beginPhase(0)
        latencyInto(run, untraced)
        writer.commitMetrics(1)
        byKind.asScala.toSeq.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (k, ms) =>
          run.info(s"p50_ms_$k") = f"${Stats.median(ms)}%.1f (n=${ms.size})"
        }
        run.info("cache_hits_result_segment") = Seq("resultCacheHits", "resultCacheMisses",
          "segmentCacheHits", "segmentCacheMisses").map(untraced.cache).mkString("/")

        if (run.traced) {
          writer.compact()
          issued.set(0)
          val overhead = new ConcurrentLinkedQueue[Double]()
          run.spark.sparkContext.addSparkListener(run.listener)
          writer.beginPhase(2)
          run.tracer.on = true
          val traced = phase(run, sv, "panel") { c =>
            val (p, ok, httpMs) = request(c)
            if (ok) {
              run.tracer.span("model.parse")(QueryJson.parseQuery(p))
              val t0 = System.nanoTime()
              run.tracer.span("engine.execute")(sv.engine.executeJson(p))
              overhead.add(httpMs - (System.nanoTime() - t0) / 1e6)
            }
            (ok, httpMs)
          }
          run.tracer.on = false
          writer.beginPhase(0)
          run.drainListener()
          overheadInto(run, untraced, traced)
          cacheInto(run, sv, traced, issued.get)
          run.layer("http.overhead_ms") = Stats.median(overhead.asScala.toSeq)
          run.layer("model.parse_ms") = run.tracer.meanSelf("model.parse")
          run.layer("engine.execute_ms") = run.tracer.meanSelf("engine.execute")
          run.layer("catalog.table_ms") = run.tracer.meanSelf("catalog.table")
          run.layer("catalog.version_token_ms") = run.tracer.meanSelf("catalog.version_token")
          val ops = traced.lat("samples").toInt * 2
          run.layer ++= run.listener.execMetrics(_ != "writer", ops)
        }
      } finally writer.stop()
      writer.compact()
      writer.storeMetrics()
      try verify(run, sv, panels, ev.size.toLong + writer.appendedRows)
      finally sv.server.stop()
      storedInto(run, sv)
    }

    /** Cache-served responses must equal the uncached answer at the same
      * segment version, and the total count must include every commit. */
    def verify(run: Run, sv: Serving, panels: Panels, totalRows: Long): Unit = {
      val r = new SplittableRandom(run.seed * 7 + 999)
      var byteDiffs = 0
      (0 until Checks).foreach { _ =>
        val p = panels.all(r.nextInt(panels.all.size))
        run.attempt()
        Harness.post(sv.port, "/druid/v2", p)
        val before = sv.engine.cacheStats("resultCacheHits")
        val (c1, cached) = Harness.post(sv.port, "/druid/v2", p)
        val hit = sv.engine.cacheStats("resultCacheHits") > before
        val (c2, fresh) = Harness.post(sv.port, "/druid/v2",
          p.stripSuffix("}") + ""","context":{"useCache":false,"populateCache":false}}""")
        if (c1 != 200 || c2 != 200) run.fail("cache-consistency", s"status $c1/$c2 for $p")
        else if (!hit) run.fail("cache-consistency", s"repeat was not served from the result cache: $p")
        else if (cached != fresh) {
          // merging per-chunk fragments sums doubles in another order than
          // the whole-query plan, so those may differ in the last digits, and
          // the two paths list groupBy rows (which carry no ordering spec) in
          // different orders; any other difference is a wrong answer
          byteDiffs += 1
          val (a, b) = (mapper.readTree(cached), mapper.readTree(fresh))
          val same = if (p.contains("\"groupBy\"")) sameRows(a, b) else sameJson(a, b)
          if (!same) {
            val at = cached.zip(fresh).indexWhere { case (a, b) => a != b }
            val from = math.max(0, at - 120)
            run.fail("cache-consistency", s"cached and uncached answers differ at char $at for " +
              s"$p: cached ...${cached.slice(from, at + 80)} uncached ...${fresh.slice(from, at + 80)}")
          }
        }
      }
      run.attempt()
      val total = s"""{"queryType":"timeseries","dataSource":"events","intervals":""" +
        s"""[${Gen.interval(Gen.Epoch, Now)}],"granularity":"all","aggregations":""" +
        """[{"type":"count","name":"rows"}],"context":{"useCache":false,"populateCache":false}}"""
      val (code, body) = Harness.post(sv.port, "/druid/v2", total)
      val got = if (code == 200) mapper.readTree(body).get(0).get("result").get("rows").asLong() else -1L
      if (got != totalRows) run.fail("freshness", s"total rows $got, generator appended up to $totalRows")
      run.info("check_panels") = Checks
      run.info("check_panels_not_byte_equal") = byteDiffs
    }

    /** Two result arrays holding the same rows in any order (by [[sameJson]]). */
    def sameRows(a: JsonNode, b: JsonNode): Boolean =
      a.isArray && b.isArray && a.size == b.size && {
        val rest = scala.collection.mutable.ArrayBuffer.from(b.elements().asScala)
        a.elements().asScala.forall { x =>
          val i = rest.indexWhere(sameJson(x, _))
          if (i >= 0) rest.remove(i)
          i >= 0
        }
      }

    /** Equal JSON, except that floating-point numbers need only agree to a
      * relative 1e-9. */
    def sameJson(a: JsonNode, b: JsonNode): Boolean =
      if (a.isFloatingPointNumber || b.isFloatingPointNumber)
        a.isNumber && b.isNumber && {
          val (x, y) = (a.asDouble, b.asDouble)
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
        }
      else if (a.isArray || a.isObject)
        a.getNodeType == b.getNodeType && a.size == b.size &&
          a.fieldNames().asScala.toSeq == b.fieldNames().asScala.toSeq &&
          (if (a.isArray) (0 until a.size).forall(i => sameJson(a.get(i), b.get(i)))
          else a.fieldNames().asScala.forall(f => sameJson(a.get(f), b.get(f))))
      else a == b
  }

  /** The open-loop ingest writer: one fixed-size batch into the newest day
    * chunk every `periodMs`, each commit timed from when it was due.
    *
    * The hot chunk is compacted only between measured phases, while no
    * query runs: `compactChunk` deletes the previous version's files at
    * once, and a query that had already listed them fails with
    * FILE_NOT_EXIST. */
  final class Writer(run: Run, sv: Serving, hotDay: Int, periodMs: Long, batchRows: Int) {
    @volatile private var phase = 0
    @volatile private var stopping = false
    private val store = sv.loaded.store
    private val chunk = java.time.LocalDate.ofEpochDay(
      (Gen.Epoch + hotDay * Gen.DayMs) / Gen.DayMs).toString
    // (phase, due, start, end) of each append
    private val commits = new ConcurrentLinkedQueue[(Int, Long, Long, Long)]()
    private val compactMs = new ConcurrentLinkedQueue[Double]()
    private val manifestMs = new ConcurrentLinkedQueue[Double]()
    private val chunkFiles = new ConcurrentLinkedQueue[Double]()
    @volatile var appendedRows = 0L
    private var appendBytes = 0L
    private var compactBytes = 0L
    private var error: Option[Throwable] = None
    private val storeLock = new Object

    private def liveFiles(): Set[String] = {
      val t0 = System.nanoTime()
      val m = store.readManifest("events")
      manifestMs.add((System.nanoTime() - t0) / 1e6)
      m.segments.filter(_.chunk == chunk).flatMap(_.files).toSet
    }
    private def bytesOf(fs: Set[String]): Long =
      fs.toSeq.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum

    // the schedule restarts with every phase, half a period in, so a phase of
    // a given length always holds the same number of commits
    private var generation = 0
    private var base = System.nanoTime() + periodMs * 500000L
    private var tick = 0L

    /** Starts phase `p` (0 = not measured) and restarts the schedule. */
    def beginPhase(p: Int): Unit = synchronized {
      phase = p
      generation += 1
      base = System.nanoTime() + periodMs * 500000L
      tick = 0
    }

    private def nextDue(): (Int, Long) = synchronized {
      tick += 1
      (generation, base + (tick - 1) * periodMs * 1000000L)
    }
    private def current(gen: Int): Boolean = synchronized(gen == generation)

    private val thread = new Thread(() => {
      run.spark.sparkContext.setJobGroup("writer", "perfbench ingest writer")
      var k = 0
      try while (!stopping) {
        val rows = Gen.events(run.seed * 7919L + k, hotDay, 1, batchRows).rows(0, batchRows)
        val df = run.spark.createDataFrame(rows, Gen.eventSchema).coalesce(1)
        val (gen, due) = nextDue()
        while (!stopping && current(gen) && System.nanoTime() < due) Thread.sleep(1)
        if (!stopping && current(gen)) {
          val before = liveFiles()
          val p = phase
          val s = System.nanoTime()
          storeLock.synchronized(run.tracer.span("store.append")(store.appendBatch(df, "events")))
          val e = System.nanoTime()
          commits.add((p, due, s, e))
          appendedRows += batchRows
          val after = liveFiles()
          chunkFiles.add(after.size.toDouble)
          appendBytes += bytesOf(after -- before)
        }
        k += 1
      } catch { case e: Throwable => error = Some(e) }
    }, "perfbench-writer")

    def start(): Unit = thread.start()

    /** Compacts the hot chunk into one file (call while no query runs). The
      * store's chunk lock fails a second writer fast, so this waits for an
      * in-flight append instead. */
    def compact(): Unit = storeLock.synchronized {
      val t0 = System.nanoTime()
      store.compactChunk(run.spark, "events", chunk)
      compactMs.add((System.nanoTime() - t0) / 1e6)
      compactBytes += bytesOf(liveFiles())
    }

    def stop(): Unit = {
      stopping = true
      thread.join()
      error.foreach { e =>
        run.attempt(); run.fail("ingest", e.toString)
      }
    }

    /** commit_p50_ms and ingest_lag_ms over the appends made in `p`. */
    def commitMetrics(p: Int): Unit = {
      val cs = commits.asScala.toSeq.filter(_._1 == p)
      run.e2e("commit_p50_ms") = Stats.median(cs.map { case (_, _, s, e) => (e - s) / 1e6 })
      run.e2e("ingest_lag_ms") = Stats.median(cs.map { case (_, d, _, e) => (e - d) / 1e6 })
      run.info("commits") = cs.size
      run.layer("writer.late_ms") = Stats.mean(cs.map { case (_, d, s, _) => (s - d) / 1e6 })
    }

    def storeMetrics(): Unit = {
      val all = commits.asScala.toSeq
      run.layer("store.append_ms") = Stats.mean(all.map { case (_, _, s, e) => (e - s) / 1e6 })
      run.layer("store.compact_ms") = Stats.mean(compactMs.asScala.toSeq)
      run.layer("store.manifest_read_ms") = Stats.mean(manifestMs.asScala.toSeq)
      run.layer("store.write_amp") =
        if (appendBytes == 0) 0.0 else (appendBytes + compactBytes).toDouble / appendBytes
      run.layer("store.files_per_chunk") = Stats.mean(chunkFiles.asScala.toSeq)
      run.info("appended_rows") = appendedRows
      run.info("compactions") = compactMs.size
    }
  }
}
