package graft

import graft.engine.Engine
import graft.model.{Aggregator, Granularity}
import graft.sources.MapCatalog
import graft.store.{SegmentCatalog, SegmentStore}

import java.nio.file.Files
import java.sql.Timestamp

/** Engine service semantics: result cache + invalidation, resource caps,
  * timeout — the query-service surface (SURVEY §2.12). */
class EngineSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  private lazy val raw = Seq(
    (ts("2024-05-01T01:00:00Z"), "click", 10.0),
    (ts("2024-05-01T02:00:00Z"), "view", 20.0),
    (ts("2024-05-02T03:00:00Z"), "view", 7.0),
  ).toDF("__time", "event_type", "value")

  private val tsQuery =
    """{"queryType":"timeseries","dataSource":"ev",
      |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
      |"granularity":"day",
      |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin

  test("result cache: same query + same segments → cache hit; write invalidates") {
    val store = new SegmentStore(Files.createTempDirectory("graft-cache").toString)
    store.write(raw, "ev")
    val engine = new Engine(spark, new SegmentCatalog(store))

    val r1 = engine.executeJson(tsQuery)
    val etag1 = engine.etag(tsQuery, graft.model.QueryJson.parseQuery(tsQuery))
    val r2 = engine.executeJson(tsQuery)
    assert(r1 == r2)

    // new data → new version token → etag changes, cache misses, fresh result
    store.appendBatch(Seq((ts("2024-05-02T04:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val etag2 = engine.etag(tsQuery, graft.model.QueryJson.parseQuery(tsQuery))
    assert(etag1 != etag2)
    val r3 = engine.executeJson(tsQuery)
    assert(r3 != r1)
    assert(r3.contains("\"cnt\":2")) // 05-02 now has 2 events
  }

  test("SQL result cache: same statement + same segments → cache hit; write invalidates") {
    val store = new SegmentStore(Files.createTempDirectory("graft-sqlcache").toString)
    store.write(raw, "ev")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val stmt = "SELECT event_type, count(*) AS cnt FROM ev GROUP BY 1 ORDER BY 1"

    val r1 = engine.executeSqlJson(stmt, Seq("ev"))
    val etag1 = engine.sqlEtag(stmt, Seq("ev"))
    val missesAfterFirst = engine.cacheStats("resultCacheMisses")
    val hitsBefore = engine.cacheStats("resultCacheHits")
    val r2 = engine.executeSqlJson(stmt, Seq("ev"))
    assert(r1 == r2)
    assert(engine.cacheStats("resultCacheHits") == hitsBefore + 1,
      "identical re-statement must be served from the result cache")
    // the hit lands in the metrics ring as cached with zero millis
    assert(engine.metrics.last.cached && engine.metrics.last.queryType == "Sql")

    // new data → new version token → etag changes, cache misses, fresh rows
    store.appendBatch(Seq((ts("2024-05-02T04:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val etag2 = engine.sqlEtag(stmt, Seq("ev"))
    assert(etag1 != etag2)
    val r3 = engine.executeSqlJson(stmt, Seq("ev"))
    assert(r3 != r1)
    assert(engine.cacheStats("resultCacheMisses") > missesAfterFirst)

    // the etag must also key on the STATEMENT, and resolve names from the
    // parsed plan when no explicit datasource list is given
    assert(engine.sqlEtag(stmt + " LIMIT 1", Seq("ev")) != etag2)
    assert(engine.sqlEtag(stmt) == etag2)
  }

  test("result cache evicts by byte budget, least-recently-used first") {
    spark.conf.set("spark.graft.resultCache.maxBytes", "600")
    try {
      val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
      def q(day: Int): String =
        s"""{"queryType":"timeseries","dataSource":"ev",
           |"intervals":["2024-05-0${day}T00:00:00Z/2024-05-0${day + 1}T00:00:00Z"],
           |"granularity":"day",
           |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
      engine.executeJson(q(1)) // each result is ~60-80 chars → ~150+ bytes/entry
      engine.executeJson(q(2))
      val hitsBefore = engine.cacheStats("resultCacheHits")
      engine.executeJson(q(1)) // hit — and refreshes q1's recency
      assert(engine.cacheStats("resultCacheHits") == hitsBefore + 1)
      assert(engine.cacheStats("resultCacheBytes") <= 600L)
      // overflow the budget: older entries must leave, bytes stay bounded
      (3 to 6).foreach(d => engine.executeJson(q(d)))
      val stats = engine.cacheStats
      assert(stats("resultCacheBytes") <= 600L)
      assert(stats("resultCacheEntries") < 6L)
      // an entry bigger than the whole budget is not cached at all
      spark.conf.set("spark.graft.resultCache.maxBytes", "10")
      val tiny = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
      tiny.executeJson(q(1))
      assert(tiny.cacheStats("resultCacheEntries") == 0L)
    } finally spark.conf.unset("spark.graft.resultCache.maxBytes")
  }

  test("useCache=false bypasses the cache") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val q = tsQuery.replace("\"context\":{}", "")
    val withCtx = q.dropRight(1) + ""","context":{"useCache":"false","populateCache":"false"}}"""
    assert(engine.executeJson(withCtx) == engine.executeJson(withCtx))
  }

  test("maxResults breach → 'Resource limit exceeded' (query-module-overview.md:86)") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val e = intercept[Engine.QueryError](engine.executeJson(
      """{"queryType":"groupBy","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"all","dimensions":["event_type"],
        |"context":{"maxResults":"1"},
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin))
    assert(e.error == "Resource limit exceeded")
  }

  test("maxResults is enforced during encode — single SQL execution, no probe") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    @volatile var starts = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            starts += 1
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      engine.executeJson(
        """{"queryType":"groupBy","dataSource":"ev",
          |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
          |"granularity":"all","dimensions":["event_type"],
          |"context":{"maxResults":"100","useCache":"false"},
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      // drain the async listener bus
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline && starts != last) {
        last = starts; Thread.sleep(300)
      }
      assert(starts == 1,
        s"expected exactly one SQL execution (cap enforced in-stream), saw $starts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("engine is safe under concurrent queries (8 parallel executeJson)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val futs = (1 to 8).map { i =>
      Future(engine.executeJson(
        s"""{"queryType":"timeseries","dataSource":"ev",
           |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
           |"granularity":"day","context":{"queryId":"conc-$i","useCache":"false"},
           |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin))
    }
    val results = futs.map(f => Await.result(f, 120.seconds))
    assert(results.toSet.size == 1) // all identical
    assert(results.head.contains("\"cnt\":2"))
  }

  test("queries behave identically over a many-file partitioned source") {
    // same rows written as 16 parquet files — results must not depend on
    // file layout (partial agg / merge correctness)
    val dir = java.nio.file.Files.createTempDirectory("graft-manyfiles").toString
    val big = (0 until 5000).map { i =>
      (ts(f"2024-05-${1 + i % 3}%02dT${i % 24}%02d:00:00Z"),
        Seq("a", "b", "c")(i % 3), i.toDouble)
    }
    import spark.implicits._
    big.toDF("__time", "event_type", "value").repartition(16)
      .write.mode("overwrite").parquet(dir)
    val engine = new Engine(spark, new MapCatalog(
      Map("ev16" -> spark.read.parquet(dir))))
    val q =
      """{"queryType":"groupBy","dataSource":"ev16",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"day","dimensions":["event_type"],
        |"aggregations":[{"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"value"}],
        |"limitSpec":{"type":"default","columns":[
        |  {"dimension":"event_type","direction":"ascending"}]}}""".stripMargin
    val fromFiles = engine.plan(q).collect().map(_.toString).sorted
    val inMem = new Engine(spark, new MapCatalog(
      Map("ev16" -> big.toDF("__time", "event_type", "value"))))
      .plan(q).collect().map(_.toString).sorted
    assert(fromFiles.sameElements(inMem))
  }

  test("executeSql runs SQL over catalog datasources with native functions") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val rows = engine.executeSql(
      """SELECT event_type, count(*) AS cnt,
        |  simhash64(array(event_type)) AS sig
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
      Seq("ev")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("click", "view"))
    assert(rows.forall(r => r.getLong(2) != 0L))
  }

  test("timeout context → 'Query timeout' error") {
    // a plan that cannot finish in 50ms but dies promptly when cancelled
    val engine = new Engine(spark, new MapCatalog(
      Map("big" -> SparkTestBase.interruptiblySlowDF(spark, ts("2024-05-01T00:00:00Z")))))
    val e = intercept[Engine.QueryError](engine.executeJson(
      """{"queryType":"timeseries","dataSource":"big",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-02T00:00:00Z"],
        |"granularity":"all","context":{"timeout":"50"},
        |"aggregations":[{"type":"longSum","name":"s","fieldName":"id"}]}""".stripMargin))
    assert(e.error == "Query timeout")
  }

  test("Long.MaxValue timeout sentinel does not spuriously time out") {
    // clients send huge values to mean "no timeout"; an unclamped
    // t0 + ms*1e6 overflows negative and every query would instantly fail
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val q = tsQuery.dropRight(1) +
      ""","context":{"timeout":"9223372036854775807","useCache":"false"}}"""
    assert(engine.executeJson(q).contains("cnt"))
    assert(engine.executeJsonStream(q).mkString.contains("cnt"))
  }

  test("timeout holds on the STREAMING path too (query-module-overview.md:83-86)") {
    val engine = new Engine(spark, new MapCatalog(
      Map("big" -> SparkTestBase.interruptiblySlowDF(spark, ts("2024-05-01T00:00:00Z")))))
    // consuming the stream blocks inside the first Spark job — only the
    // scheduled cancel-by-tag can break it; the surfaced error must still
    // be the documented QueryTimeoutException, not a bare cancellation
    val e = intercept[Engine.QueryError] {
      engine.executeJsonStream(
        """{"queryType":"timeseries","dataSource":"big",
          |"intervals":["2024-05-01T00:00:00Z/2024-05-02T00:00:00Z"],
          |"granularity":"all","context":{"timeout":"100","queryId":"stream-to"},
          |"aggregations":[{"type":"longSum","name":"s","fieldName":"id"}]}""".stripMargin)
        .foreach(_ => ())
    }
    assert(e.error == "Query timeout")
    assert(e.errorClass == "QueryTimeoutException")
    // the breached query's tasks must actually terminate, not linger
    val deadline = System.currentTimeMillis() + 10000
    def active = spark.sparkContext.statusTracker.getActiveJobIds()
    while (System.currentTimeMillis() < deadline && active.nonEmpty)
      Thread.sleep(200)
    assert(active.isEmpty, "timed-out query's tasks must terminate")
  }

  test("buffered timeout holds when the job ignores its kill flag") {
    // the spinning UDF never checks the kill flag: only the worker +
    // fut.get(ms) design returns the documented error at the deadline
    val engine = new Engine(spark, new MapCatalog(
      Map("spin" -> SparkTestBase.killFlagIgnoringDF(spark, ts("2024-05-01T00:00:00Z")))))
    val t0 = System.nanoTime()
    val e = intercept[Engine.QueryError](engine.executeJson(
      """{"queryType":"timeseries","dataSource":"spin",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-02T00:00:00Z"],
        |"granularity":"all","context":{"timeout":"200","queryId":"spin-to"},
        |"aggregations":[{"type":"longSum","name":"s","fieldName":"id"}]}""".stripMargin))
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(e.errorClass == "QueryTimeoutException", e.toString)
    assert(ms < 700, s"timeout surfaced after $ms ms")
    awaitNoActiveJobs()
    Thread.sleep(2500) // the spinning tasks end; the worker then finishes
    val rows = engine.metrics.filter(_.queryId == "spin-to")
    assert(rows.size == 1 && !rows.head.success, rows.toString)
  }

  test("abandoned stream's stale tag is cleared by the next task submission") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    // abandon a streaming query on THIS thread without consuming it — its
    // removeJobTag never runs, so the tag lingers on the thread
    engine.executeJsonStream(
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"day","context":{"queryId":"dead-stream","useCache":"false"},
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
    assert(spark.sparkContext.getJobTags()
      .contains(Engine.jobTag("dead-stream")), "precondition: tag lingers")
    // a task submitted on the same (pooled) thread must NOT inherit the
    // dead query's tag — a DELETE of "dead-stream" would cancel the ingest
    val store = new graft.store.SegmentStore(
      Files.createTempDirectory("graft-staletag").toString)
    new graft.ingest.TaskService(spark, store)
      .submit("""{"type":"noop","id":"after-dead-stream"}""")
    assert(!spark.sparkContext.getJobTags().contains(Engine.jobTag("dead-stream")),
      "task submission must clear the abandoned stream's tag")
    // same guarantee on the engine's explicit clear used by HTTP workers
    engine.executeJsonStream(
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"day","context":{"queryId":"dead-2","useCache":"false"},
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
    engine.clearThreadJobState()
    assert(!spark.sparkContext.getJobTags().contains(Engine.jobTag("dead-2")))
  }

  test("cache stats: hits/misses move when the result cache serves a query") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val before = engine.cacheStats
    engine.executeJson(tsQuery) // miss + populate
    engine.executeJson(tsQuery) // hit
    val after = engine.cacheStats
    assert(after("resultCacheMisses") > before("resultCacheMisses"))
    assert(after("resultCacheHits") > before("resultCacheHits"))
  }

  test("streaming path populates the whole-query cache on a full drain") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val r1 = engine.executeJsonStream(tsQuery).mkString // miss + populate
    assert(!engine.metrics.last.cached)
    val r2 = engine.executeJsonStream(tsQuery).mkString // served from cache
    assert(r2 == r1 && engine.metrics.last.cached, engine.metrics.last.toString)
    // the buffered path shares the same entry
    assert(engine.executeJson(tsQuery) == r1 && engine.metrics.last.cached)
    // populateCache=false leaves the stream un-cached
    val qNo = tsQuery.dropRight(1) +
      ""","context":{"populateCache":"false","queryId":"np"}}"""
    engine.executeJsonStream(qNo).mkString
    engine.executeJsonStream(qNo).mkString
    assert(!engine.metrics.last.cached,
      "populateCache=false stream must not populate")

    // ONE metric row per query, per outcome, on both paths
    def oneRow(e: Engine)(run: => Any): e.QueryMetric = {
      val n = e.metrics.size
      run
      assert(e.metrics.size == n + 1, e.metrics.drop(n).toString)
      e.metrics.last
    }
    def withCtx(q: String, ctx: String): String =
      q.dropRight(1) + s""","context":{$ctx}}"""
    type Exec = (Engine, String) => Any
    val buffered: Exec = (e, q) => e.executeJson(q)
    val streamed: Exec = (e, q) => e.executeJsonStream(q).mkString
    Seq("buffered" -> buffered, "stream" -> streamed).foreach { case (path, exec) =>
      val e = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
      val ok = withCtx(tsQuery, s""""queryId":"ok-$path"""")
      val computed = oneRow(e)(exec(e, ok))
      assert(computed.success && !computed.cached && computed.segmentHits == 0 &&
        computed.segmentMisses == 0, s"$path: $computed")
      val hit = oneRow(e)(exec(e, ok)) // whole-query hit
      assert(hit.success && hit.cached, s"$path: $hit")
      val capped = oneRow(e)(intercept[Engine.QueryError](exec(e,
        """{"queryType":"groupBy","dataSource":"ev",
          |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
          |"granularity":"all","dimensions":["event_type"],
          |"context":{"maxResults":"1"},
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)))
      assert(!capped.success && !capped.cached, s"$path: $capped")
    }
    // fragment-complete hit: a window never run whole whose chunks are warm
    val seg = new Engine(spark, new SegmentCatalog(segFixture("graft-segrows")))
    val window =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    val cold = oneRow(seg)(seg.executeJson(withCtx(window, """"queryId":"w0"""")))
    assert(cold.success && !cold.cached && cold.segmentHits == 0 &&
      cold.segmentMisses == 2, cold.toString)
    Seq("buffered" -> buffered, "stream" -> streamed).foreach { case (path, exec) =>
      val warm = oneRow(seg)(exec(seg, withCtx(window, s""""queryId":"w-$path"""")))
      assert(warm.success && warm.cached && warm.segmentHits == 2 &&
        warm.segmentMisses == 0, s"$path: $warm")
    }
    // timeouts: the buffered caller and the stream each report one failed
    // row, and the abandoned worker's later failure adds none
    val slow = new Engine(spark, new MapCatalog(
      Map("big" -> SparkTestBase.interruptiblySlowDF(spark, ts("2024-05-01T00:00:00Z")))))
    val slowQ =
      """{"queryType":"timeseries","dataSource":"big",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-02T00:00:00Z"],
        |"granularity":"all",
        |"aggregations":[{"type":"longSum","name":"s","fieldName":"id"}]}""".stripMargin
    Seq("buffered" -> buffered, "stream" -> streamed).foreach { case (path, exec) =>
      val id = s"to-$path"
      val timedOut = oneRow(slow)(intercept[Engine.QueryError](
        exec(slow, withCtx(slowQ, s""""queryId":"$id","timeout":"100""""))))
      assert(!timedOut.success && !timedOut.cached, s"$path: $timedOut")
      awaitNoActiveJobs()
      Thread.sleep(300) // the cancelled worker finishes after its job dies
      assert(slow.metrics.count(_.queryId == id) == 1, slow.metrics.toString)
    }
    // an abandoned stream's close() records one failed row, once
    val e = new Engine(spark, new MapCatalog(Map("ev" -> raw)))
    val abandoned = e.executeJsonStream(withCtx(tsQuery, """"queryId":"gone","useCache":"false""""))
    val closed = oneRow(e)(abandoned.asInstanceOf[AutoCloseable].close())
    assert(!closed.success && !closed.cached, closed.toString)
    abandoned.asInstanceOf[AutoCloseable].close()
    assert(e.metrics.count(_.queryId == "gone") == 1)
  }

  private def awaitNoActiveJobs(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def active = spark.sparkContext.statusTracker.getActiveJobIds()
    while (System.currentTimeMillis() < deadline && active.nonEmpty)
      Thread.sleep(200)
    assert(active.isEmpty, "cancelled query's tasks must terminate")
  }

  // -- per-(segment, query) result cache (VERDICT r11 #1; SURVEY §2.12) ----

  /** 4 day-chunks of events with distinguishable per-day values. */
  private def segFixture(prefix: String): graft.store.SegmentStore = {
    val store = new SegmentStore(Files.createTempDirectory(prefix).toString)
    val rows = for {
      d <- 1 to 4
      h <- Seq(1, 13)
    } yield (ts(f"2024-05-0${d}T$h%02d:30:00Z"),
      if (h == 1) "click" else "view", d * 10.0 + h)
    store.write(rows.toDF("__time", "event_type", "value"), "ev")
    store
  }

  private def withSegCache[A](enabled: Boolean)(f: => A): A = {
    spark.conf.set("spark.graft.segmentCache.enabled", enabled.toString)
    try f finally spark.conf.unset("spark.graft.segmentCache.enabled")
  }

  test("segment cache: decomposed results == whole-query results (ts/topN/groupBy)") {
    val store = segFixture("graft-segeq")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    // partial-day edges + a desc variant + zero-fill exercise the seams
    val queries = Seq(
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T12:00:00Z/2024-05-04T02:00:00Z"],
        |"granularity":"hour",
        |"aggregations":[{"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin,
      """{"queryType":"timeseries","dataSource":"ev","descending":true,
        |"intervals":["2024-05-01T12:00:00Z/2024-05-04T02:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"doubleMax","name":"mx","fieldName":"value"}]}""".stripMargin,
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-05T00:00:00Z"],
        |"granularity":"hour","context":{"skipEmptyBuckets":"true"},
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin,
      """{"queryType":"topN","dataSource":"ev","dimension":"event_type",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"day","threshold":2,"metric":"sv",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
    queries.foreach { q =>
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      assert(got == want, s"query: $q\n got=$got\nwant=$want")
      assert(seg.metrics.last.segmentMisses > 0,
        "eligible query must take the decomposed path")
    }
    // groupBy: fragment order is chunk-ascending while the whole plan's
    // order is partition-arbitrary — compare as sets of event objects
    val gq =
      """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-05-01T06:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(s: String) = {
      val a = m.readTree(s)
      (0 until a.size()).map(i => a.get(i).toString).toSet
    }
    assert(rows(seg.executeJson(gq)) == rows(whole.executeJson(gq)))
    assert(seg.metrics.last.segmentMisses == 3)
  }

  test("segment cache: moving window recomputes ONLY the advancing chunk") {
    val store = segFixture("graft-segwin")
    val engine = new Engine(spark, new SegmentCatalog(store))
    def window(d0: Int, d1: Int): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["2024-05-0${d0}T00:00:00Z/2024-05-0${d1}T00:00:00Z"],
         |"granularity":"hour","context":{"skipEmptyBuckets":"true"},
         |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    engine.executeJson(window(1, 4)) // cold: chunks 01,02,03 all compute
    assert(engine.metrics.last.segmentMisses == 3 &&
      engine.metrics.last.segmentHits == 0)
    // the dashboard advances one day: 02,03 stay warm, only 04 computes —
    // even though the whole-query etag (different intervals) misses
    engine.executeJson(window(2, 5))
    assert(engine.metrics.last.segmentHits == 2 &&
      engine.metrics.last.segmentMisses == 1,
      engine.metrics.last.toString)
    // identical re-run: every fragment hits, no Spark job → cached metric
    engine.executeJson(window(2, 5).replace(
      """"skipEmptyBuckets":"true"""",
      """"skipEmptyBuckets":"true","queryId":"rerun""""))
    assert(engine.metrics.last.segmentHits == 3 &&
      engine.metrics.last.segmentMisses == 0)
    val stats = engine.cacheStats
    assert(stats("segmentCacheHits") == 5L && stats("segmentCacheMisses") == 4L,
      stats.toString)
  }

  test("segment cache: a chunk write invalidates ONLY that chunk's fragment") {
    val store = segFixture("graft-seginv")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val q =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    val r1 = engine.executeJson(q)
    assert(r1.contains("\"cnt\":2"))
    store.appendBatch(Seq((ts("2024-05-02T05:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val r2 = engine.executeJson(q)
    // chunk 02's version bumped → its fragment recomputes; 01 and 03 hit
    assert(engine.metrics.last.segmentHits == 2 &&
      engine.metrics.last.segmentMisses == 1,
      engine.metrics.last.toString)
    assert(r2.contains("\"cnt\":3") && r2 != r1)
  }

  test("segment cache: a fragment-complete STREAM serves from cache, zero jobs") {
    val store = segFixture("graft-segstream")
    val engine = new Engine(spark, new SegmentCatalog(store))
    def window(d0: Int, d1: Int): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["2024-05-0${d0}T00:00:00Z/2024-05-0${d1}T00:00:00Z"],
         |"granularity":"hour","context":{"skipEmptyBuckets":"true"},
         |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    engine.executeJson(window(1, 4)) // warms fragments 01,02,03
    engine.executeJson(window(2, 5)) // warms fragment 04
    // window(1,5) was never run whole (its whole-query etag misses), but
    // every chunk it covers is warm — the stream must serve the merged
    // fragments without a single Spark job
    val want = withSegCache(false)(new Engine(spark, new SegmentCatalog(store)))
      .executeJson(window(1, 5))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val streamed = engine.executeJsonStream(window(1, 5)).mkString
      assert(streamed == want)
      val m = engine.metrics.last
      assert(m.cached && m.segmentHits == 4 && m.segmentMisses == 0, m.toString)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(jobs == 0, s"fragment-complete stream must run zero jobs, ran $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("segment cache: randomized decomposed == whole equivalence sweep") {
    // 15 seeded random combinations of granularity × partial-hour window ×
    // descending × skipEmptyBuckets × aggregator pair, with the CACHING
    // engine accumulating fragments across iterations — so later queries
    // merge cached and fresh fragments and must still equal the
    // cache-less whole-query run byte-for-byte
    val store = segFixture("graft-segrand")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val rnd = new scala.util.Random(42)
    val grans = Seq("\"hour\"", "\"thirty_minute\"", "\"day\"", "\"second\"",
      """{"type":"duration","duration":10800000}""",
      """{"type":"period","period":"PT1H","timeZone":"UTC"}""")
    val aggs = Seq(
      """{"type":"count","name":"cnt"}""",
      """{"type":"doubleSum","name":"sv","fieldName":"value"}""",
      """{"type":"doubleMax","name":"mx","fieldName":"value"}""",
      """{"type":"doubleMin","name":"mn","fieldName":"value"}""")
    (1 to 15).foreach { i =>
      val g = grans(rnd.nextInt(grans.size))
      val d0 = 1 + rnd.nextInt(2)
      val d1 = d0 + 1 + rnd.nextInt(4 - d0)
      val hs0 = f"${rnd.nextInt(24)}%02d"; val hs1 = f"${rnd.nextInt(24)}%02d"
      val desc = rnd.nextBoolean()
      val skip = rnd.nextBoolean()
      val a = rnd.shuffle(aggs).take(2).mkString(",")
      val q =
        s"""{"queryType":"timeseries","dataSource":"ev",
           |"intervals":["2024-05-0${d0}T$hs0:00:00Z/2024-05-0${d1}T$hs1:00:00Z"],
           |"granularity":$g,"descending":$desc,
           |"context":{"skipEmptyBuckets":"$skip"},
           |"aggregations":[$a]}""".stripMargin
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      assert(got == want, s"combo #$i diverged: $q\n got=${got.take(300)}\n" +
        s"want=${want.take(300)}")
    }
    // every random combo is a UNIQUE query (no shared fragments), so the
    // warm-merge case needs a fixed shape at two window positions: the
    // second mixes cached interior fragments with a fresh edge chunk and
    // must still equal the cache-less run
    def win(d0: Int, d1: Int) =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["2024-05-0${d0}T00:00:00Z/2024-05-0${d1}T00:00:00Z"],
         |"granularity":"hour",
         |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    assert(seg.executeJson(win(1, 4)) == whole.executeJson(win(1, 4)))
    assert(seg.executeJson(win(2, 5)) == whole.executeJson(win(2, 5)))
    val stats = seg.cacheStats
    assert(stats("segmentCacheHits") >= 2L && stats("segmentCacheMisses") > 0L,
      stats.toString)
  }

  test("segment cache: queries wider than maxSlices fall back to one plan") {
    spark.conf.set("spark.graft.segmentCache.maxSlices", "2")
    try {
      val store = segFixture("graft-segcap")
      val engine = new Engine(spark, new SegmentCatalog(store))
      // 3 chunks > cap of 2 → the single pruned whole-query plan runs
      engine.executeJson(
        """{"queryType":"timeseries","dataSource":"ev",
          |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      assert(engine.metrics.last.segmentHits == 0 &&
        engine.metrics.last.segmentMisses == 0,
        engine.metrics.last.toString)
      // a 2-chunk window still decomposes
      engine.executeJson(
        """{"queryType":"timeseries","dataSource":"ev",
          |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      assert(engine.metrics.last.segmentMisses == 2)
    } finally spark.conf.unset("spark.graft.segmentCache.maxSlices")
  }

  test("segment cache: non-nesting shapes fall back to the whole-query path") {
    val store = segFixture("graft-segfall")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val fallbacks = Seq(
      // origin-anchored period with a MID-HOUR origin: bucket boundaries
      // sit off the hour grid, outside even the r15 hour-fragment surface
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":{"type":"period","period":"P1M","origin":"2024-01-01T06:30:00Z"},
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin,
      // FilterH referencing a column OUTSIDE the query's own outputs: the
      // whole plan must raise its own unresolved-column error (r15 —
      // in-output FilterH now serves; see the serve-time having test)
      """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"month",
        |"having":{"type":"filter","filter":{"type":"selector","dimension":"no_such_col","value":"x"}},
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin,
      // a having name outside the query's own output columns must fall
      // back so the whole plan raises its unresolved-column error
      """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"month",
        |"limitSpec":{"type":"default","limit":3,
        |  "columns":[{"dimension":"no_such_col","direction":"descending"}]},
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin,
      // maxResults is a stream-truncation resource cap — not decomposable
      """{"context":{"maxResults":"1000"},
        |"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin,
      // approx topN's two-phase ranking is partition-dependent: per-chunk
      // fragments would not be byte-stable against the whole-query run
      """{"context":{"approxTopN":"true"},
        |"queryType":"topN","dataSource":"ev","dimension":"event_type",
        |"threshold":2,"metric":"sv",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
    fallbacks.foreach { q =>
      val r =
        try engine.executeJson(q)
        catch { case e: Exception => "[" + e.getMessage } // unresolved-column case
      assert(r.startsWith("["), r.take(60))
      assert(engine.metrics.last.segmentHits == 0 &&
        engine.metrics.last.segmentMisses == 0,
        s"must not decompose: $q")
    }
  }

  test("cache backend is pluggable: a swapped tier carries results AND " +
      "fragments; conf-driven load fails loudly (VERDICT r12 #2)") {
    val store = segFixture("graft-segbackend")
    val backend = new graft.FakeCacheBackend
    val engine = new Engine(spark, new SegmentCatalog(store),
      cacheBackend = Some(backend))
    val q =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
    val r1 = engine.executeJson(q)
    // whole-query result + 3 day fragments all landed in the swapped tier
    assert(backend.puts.get >= 4, s"puts=${backend.puts.get}")
    assert({
      import scala.jdk.CollectionConverters._
      backend.entries.keySet.asScala.exists(_.startsWith("seg:"))
    },
      "fragment keys must go through the backend")
    val r2 = engine.executeJson(q)
    assert(r2 == r1 && engine.metrics.last.cached,
      "second run must serve from the swapped backend")
    assert(backend.gets.get > 0)
    // the metrics contract: backend-reported storage stats + engine
    // counters, with the eviction field present
    val stats = engine.cacheStats
    assert(stats("resultCacheEntries") == backend.entries.size.toLong)
    assert(stats.contains("resultCacheEvictions") &&
      stats.contains("resultCacheBytes"))
    assert(engine.cacheBackendName == "fake")
    // conf-driven swap: a class name loads reflectively...
    spark.conf.set("spark.graft.resultCache.backend",
      "graft.FakeCacheBackend")
    try {
      val e2 = new Engine(spark, new SegmentCatalog(store))
      assert(e2.cacheBackendName == "fake")
      // ...and a typo'd tier fails construction, never falls open to an
      // unshared heap
      spark.conf.set("spark.graft.resultCache.backend", "no.such.Tier")
      intercept[ClassNotFoundException] {
        new Engine(spark, new SegmentCatalog(store))
      }
    } finally spark.conf.unset("spark.graft.resultCache.backend")
  }

  test("torn cached fragment degrades to a MISS (whole-plan result), " +
      "never a query error (r15 advice: lossy-never-wrong)") {
    import scala.jdk.CollectionConverters._
    val store = partialFixture("graft-segtorn")
    val backend = new graft.FakeCacheBackend
    val catalog = new SegmentCatalog(store)
    val engine = new Engine(spark, catalog, cacheBackend = Some(backend))
    val want = withSegCache(false)(new Engine(spark, catalog)).executeJson(
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-04-01T00:00:00Z/2024-07-01T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
    val q =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-04-01T00:00:00Z/2024-07-01T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    assert(engine.executeJson(q) == want) // cold: warms day partials
    // simulate the shared file tier's torn replace: truncate one cached
    // day-partial mid-value, and drop the whole-query entry so the next
    // run must take the fragment path
    val victim = backend.entries.asScala.collectFirst {
      case (k, v) if k.startsWith("seg:") && v.length > 10 => k
    }.getOrElse(fail("no non-trivial day partial cached"))
    backend.entries.put(victim,
      backend.entries.get(victim).dropRight(5)): Unit
    backend.entries.keySet.asScala.filterNot(_.startsWith("seg:")).toList
      .foreach(backend.entries.remove(_): Unit)
    val got = engine.executeJson(q)
    assert(got == want, s"torn fragment must fall back to the whole plan:\n$got")
    assert(engine.cacheStats("segmentCacheMergeErrors") >= 1L,
      engine.cacheStats.toString)
    // the fallback's metric row must not claim fragment hits (rewound)
    assert(engine.metrics.last.segmentHits == 0, engine.metrics.last.toString)
  }

  test("single-flight: concurrent identical cold queries compute each " +
      "fragment at most once (VERDICT r12 #6)") {
    val store = segFixture("graft-segflight")
    val backend = new graft.FakeCacheBackend
    val engine = new Engine(spark, new SegmentCatalog(store),
      cacheBackend = Some(backend))
    val q =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-05T00:00:00Z"],
        |"granularity":"hour",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val results = new Array[String](n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map(i => new Thread(() => {
      try { barrier.await(); results(i) = engine.executeJson(q) }
      catch { case t: Throwable => errs.add(t): Unit }
    }, s"flight-$i"))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)
    assert(results.toSet.size == 1, "all callers must see the same bytes")
    assert(results(0) == withSegCache(false)(
      new Engine(spark, new SegmentCatalog(store))).executeJson(q))
    // the single-flight law: every fragment key was computed and stored
    // by exactly ONE of the concurrent queries
    import scala.jdk.CollectionConverters._
    val segPuts = backend.putsByKey.asScala.collect {
      case (k, c) if k.startsWith("seg:") => k -> c.get
    }
    assert(segPuts.size == 4, s"4 chunk fragments expected: ${segPuts.size}")
    assert(segPuts.values.forall(_ == 1L),
      s"a fragment key was computed more than once: $segPuts")
    // the coalesced counter moved: at least one query awaited another's
    // in-flight compute instead of duplicating it (with a barrier start
    // and a real Spark job between claim and complete, losers always
    // arrive while the winner is computing)
    assert(engine.cacheStats("segmentCacheCoalesced") > 0L,
      engine.cacheStats.toString)
  }

  /** Multi-month fixture for the PARTIAL-merge path: data on scattered
    * days across Apr–Jun 2024 (with week/month-interior gaps, so the
    * zero-fill + segment-gap-skip seams are exercised), values exactly
    * representable in float so double/float sum re-association cannot
    * produce ulp noise in the byte-equality sweep. */
  private def partialFixture(prefix: String): graft.store.SegmentStore = {
    val store = new SegmentStore(Files.createTempDirectory(prefix).toString)
    val days = Seq("2024-04-28", "2024-04-30", "2024-05-01", "2024-05-02",
      "2024-05-09", "2024-05-17", "2024-05-31", "2024-06-01", "2024-06-12")
    val rows = for {
      d <- days
      h <- Seq(2, 15, 22)
    } yield (ts(f"${d}T$h%02d:30:00Z"),
      if (h == 2) "click" else "view", (d.takeRight(2).toInt * 4 + h).toDouble)
    store.write(rows.toDF("__time", "event_type", "value"), "ev")
    store
  }

  test("partial merge: non-nesting granularities == whole-query, randomized " +
      "(VERDICT r12 #1)") {
    val store = partialFixture("graft-segpart")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val rnd = new scala.util.Random(1313)
    val grans = Seq("\"month\"", "\"week\"", "\"quarter\"", "\"year\"",
      "\"all\"",
      """{"type":"duration","duration":172800000}""",
      """{"type":"period","period":"P1M","timeZone":"UTC"}""",
      """{"type":"period","period":"P1W"}""",
      // r15: timezone / origin-anchored shapes — boundary chunks decompose
      // at HOUR granularity and re-bucket at serve time
      """{"type":"period","period":"P1D","timeZone":"Asia/Shanghai"}""",
      """{"type":"period","period":"P1M","timeZone":"Asia/Shanghai"}""",
      """{"type":"period","period":"P1W","timeZone":"America/New_York"}""",
      """{"type":"period","period":"P1M","timeZone":"Europe/Berlin",
        |"origin":"2024-01-15T00:00:00Z"}""".stripMargin,
      """{"type":"duration","duration":172800000,
        |"origin":"2024-01-01T06:00:00Z"}""".stripMargin,
      """{"type":"period","period":"P2D","timeZone":"Asia/Tokyo"}""")
    val aggs = Seq(
      """{"type":"count","name":"cnt"}""",
      """{"type":"doubleSum","name":"sv","fieldName":"value"}""",
      """{"type":"longSum","name":"lv","fieldName":"value"}""",
      """{"type":"floatSum","name":"fv","fieldName":"value"}""",
      """{"type":"doubleMax","name":"mx","fieldName":"value"}""",
      """{"type":"longMin","name":"mn","fieldName":"value"}""",
      """{"type":"filtered","filter":{"type":"selector","dimension":"event_type","value":"click"},
        |"aggregator":{"type":"doubleSum","name":"cs","fieldName":"value"}}""".stripMargin,
      """{"type":"doubleLast","name":"lv","fieldName":"value"}""",
      """{"type":"longFirst","name":"fv2","fieldName":"value"}""",
      """{"type":"filtered","filter":{"type":"selector","dimension":"event_type","value":"view"},
        |"aggregator":{"type":"doubleFirst","name":"vf","fieldName":"value"}}""".stripMargin)
    val postAggs = Seq(
      "",
      ""","postAggregations":[{"type":"arithmetic","name":"ratio","fn":"/",
        |"fields":[{"type":"fieldAccess","fieldName":"a0"},
        |{"type":"fieldAccess","fieldName":"a1"}]}]""".stripMargin,
      ""","postAggregations":[{"type":"arithmetic","name":"scaled","fn":"*",
        |"fields":[{"type":"fieldAccess","fieldName":"a0"},
        |{"type":"constant","name":"k","value":2.5}]},
        |{"type":"doubleGreatest","name":"g","fields":[
        |{"type":"fieldAccess","fieldName":"a0"},
        |{"type":"fieldAccess","fieldName":"a1"}]}]""".stripMargin)
    val starts = Seq("2024-04-20T00:00:00Z", "2024-04-29T07:00:00Z",
      "2024-05-01T00:00:00Z", "2024-05-02T13:00:00Z")
    val ends = Seq("2024-05-10T00:00:00Z", "2024-05-31T17:00:00Z",
      "2024-06-05T00:00:00Z", "2024-06-30T00:00:00Z")
    (1 to 20).foreach { i =>
      val g = grans(rnd.nextInt(grans.size))
      val iv = s"${starts(rnd.nextInt(starts.size))}/${ends(rnd.nextInt(ends.size))}"
      val desc = rnd.nextBoolean()
      val skip = rnd.nextBoolean()
      val pair = rnd.shuffle(aggs).take(2)
      // post-aggs address the pair positionally via renamed fields
      val a = pair.zipWithIndex.map { case (s, j) =>
        s.replaceAll(""""name":"\w+"""", s""""name":"a$j"""")
      }.mkString(",")
      val pa = postAggs(rnd.nextInt(postAggs.size))
      val q =
        s"""{"queryType":"timeseries","dataSource":"ev",
           |"intervals":["$iv"],
           |"granularity":$g,"descending":$desc,
           |"context":{"skipEmptyBuckets":"$skip"},
           |"aggregations":[$a]$pa}""".stripMargin
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      assert(got == want, s"partial combo #$i diverged: $q\n got=${got.take(400)}\n" +
        s"want=${want.take(400)}")
      // streaming path must serve the identical bytes (now fully warm)
      val streamed = seg.executeJsonStream(q).mkString
      assert(streamed == want, s"partial stream #$i diverged: $q")
    }
    assert(seg.cacheStats("segmentCacheHits") > 0L)
  }

  test("partial merge: groupBy at non-nesting granularities == whole-query " +
      "event sets; shares partials; maxResults falls back") {
    val store = partialFixture("graft-segpartgb")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(s: String) = {
      val a = m.readTree(s)
      (0 until a.size()).map(i => a.get(i).toString).toSet
    }
    val rnd = new scala.util.Random(77)
    val grans = Seq("\"month\"", "\"week\"", "\"quarter\"", "\"year\"", "\"all\"",
      // r15: timezone shapes — boundary chunks at hour granularity; the
      // first/last agg set below exercises the time-ordered hour merge
      // over the groupBy plan's partition-arbitrary fragment row order
      """{"type":"period","period":"P1D","timeZone":"Asia/Shanghai"}""",
      """{"type":"period","period":"P1M","timeZone":"America/New_York"}""")
    val aggSets = Seq(
      """"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"},
        |{"type":"count","name":"cnt"}]""".stripMargin,
      """"aggregations":[{"type":"longMax","name":"mx","fieldName":"value"},
        |{"type":"filtered","filter":{"type":"selector","dimension":"event_type","value":"click"},
        |"aggregator":{"type":"longSum","name":"cs","fieldName":"value"}}]""".stripMargin,
      """"aggregations":[{"type":"doubleLast","name":"dl","fieldName":"value"},
        |{"type":"longFirst","name":"lf","fieldName":"value"}]""".stripMargin,
      """"aggregations":[]""") // distinct-dims path
    val dimSets = Seq(
      """"dimensions":["event_type"]""",
      """"dimensions":[{"type":"extraction","dimension":"event_type",
        |"outputName":"ep","extractionFn":{"type":"substring","index":0,"length":2}}]""".stripMargin)
    (1 to 18).foreach { i =>
      val q =
        s"""{"queryType":"groupBy","dataSource":"ev",
           |${dimSets(rnd.nextInt(dimSets.size))},
           |"intervals":["2024-04-2${rnd.nextInt(10)}T00:00:00Z/2024-06-1${rnd.nextInt(9)}T12:00:00Z"],
           |"granularity":${grans(rnd.nextInt(grans.size))},
           |${aggSets(rnd.nextInt(aggSets.size))}}""".stripMargin
      assert(rows(seg.executeJson(q)) == rows(whole.executeJson(q)),
        s"groupBy partial combo #$i diverged: $q")
      assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
        s"must take the partial path: $q")
      // streaming serve (now warm) agrees too
      assert(rows(seg.executeJsonStream(q).mkString) == rows(whole.executeJson(q)))
    }
    // post-aggs evaluate AFTER the merge
    val pq =
      """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"},
        |{"type":"count","name":"cnt"}],
        |"postAggregations":[{"type":"arithmetic","name":"avg","fn":"/",
        |"fields":[{"type":"fieldAccess","fieldName":"sv"},
        |{"type":"fieldAccess","fieldName":"cnt"}]}]}""".stripMargin
    assert(rows(seg.executeJson(pq)) == rows(whole.executeJson(pq)))
    // a quarter view of the same aggs reuses the month view's partials
    seg.executeJson(pq.replace("\"month\"", "\"quarter\""))
    assert(seg.metrics.last.segmentMisses == 0 &&
      seg.metrics.last.segmentHits == 9, seg.metrics.last.toString)
    // having / limitSpec now evaluate at serve time over the SAME warm
    // partials (r14: Druid's broker post-merge algebra) — zero misses,
    // same rows as the whole plan
    Seq(
      pq.replace(""""postAggregations"""",
        """"having":{"type":"greaterThan","aggregation":"cnt","value":1},"postAggregations""""),
      // columns:[] with NO limit: order-free, still serveable
      pq.replace(""""postAggregations"""",
        """"limitSpec":{"type":"default","columns":[]},"postAggregations""""))
      .foreach { q =>
        assert(rows(seg.executeJson(q)) == rows(whole.executeJson(q)),
          s"serve-time post-merge diverged: $q")
        assert(seg.metrics.last.segmentMisses == 0 &&
          seg.metrics.last.segmentHits == 9,
          s"must reuse the warm partials: $q → ${seg.metrics.last}")
      }
    // columns:[] + a limit BINDS an undefined order: the whole plan keeps
    // an arbitrary row subset while the merge's deterministic prefix would
    // keep a different one — the shape must FALL BACK so cache state never
    // changes the returned row set (r14 advice)
    val ulq = pq.replace(""""postAggregations"""",
      """"limitSpec":{"type":"default","limit":100,"columns":[]},"postAggregations"""")
    seg.executeJson(ulq)
    assert(seg.metrics.last.segmentHits == 0 &&
      seg.metrics.last.segmentMisses == 0,
      s"unordered binding limit must not decompose: ${seg.metrics.last}")
    // a name collision between a dim and an agg makes the merge's
    // name-keyed row map silently drop a field the whole plan would not —
    // must FALL BACK so cache state never changes the query's outcome
    // (whatever that outcome is, error included)
    val collq =
      """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
        |"intervals":["2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"count","name":"event_type"}]}""".stripMargin
    try seg.executeJson(collq) catch { case _: Exception => }
    assert(seg.metrics.last.segmentHits == 0 &&
      seg.metrics.last.segmentMisses == 0,
      s"colliding output names must not decompose: ${seg.metrics.last}")
    // maxResults (stream-truncation resource cap): whole-query fallback
    val mq = pq.replace("""{"queryType":"groupBy"""",
      """{"context":{"maxResults":"1000"},"queryType":"groupBy"""")
    seg.executeJson(mq)
    assert(seg.metrics.last.segmentHits == 0 &&
      seg.metrics.last.segmentMisses == 0, s"must not decompose: $mq")
  }

  test("partial merge: first/last compose across days, skipping all-null days") {
    // the sharp edge of positional first/last merging: a LATER day can
    // have rows whose metric is entirely null — its null day-last must be
    // skipped (the whole-query max_by skips null inputs), so the bucket's
    // last comes from the last day with any non-null value
    val store = new SegmentStore(
      Files.createTempDirectory("graft-segfl").toString)
    val rows: Seq[(Timestamp, String, Option[Double])] = Seq(
      (ts("2024-05-01T02:00:00Z"), "click", Some(1.0)),
      (ts("2024-05-01T15:00:00Z"), "view", Some(2.0)),
      (ts("2024-05-09T10:00:00Z"), "view", None), // rows, all-null metric
      (ts("2024-05-17T10:00:00Z"), "click", Some(5.0)),
      (ts("2024-05-29T10:00:00Z"), "view", None), // all-null LAST May day
      (ts("2024-06-02T10:00:00Z"), "view", None)) // June entirely null
    store.write(rows.toDF("__time", "event_type", "value"), "ev")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val q =
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-07-01T00:00:00Z"],
        |"granularity":"month",
        |"aggregations":[{"type":"doubleFirst","name":"fv","fieldName":"value"},
        |{"type":"doubleLast","name":"lv","fieldName":"value"}]}""".stripMargin
    val got = seg.executeJson(q)
    assert(seg.metrics.last.segmentMisses == 5, seg.metrics.last.toString)
    assert(got == whole.executeJson(q), got)
    // May: first 1.0, last 5.0 (the all-null 05-09/05-29 days skipped);
    // June: both null (rows exist, metric never non-null)
    assert(got.contains("\"fv\":1.0") && got.contains("\"lv\":5.0"), got)
    assert(got.contains("\"fv\":null") && got.contains("\"lv\":null"), got)
    // warm re-run (different queryId → whole-query etag misses) merges
    // the cached day partials to the same bytes
    assert(seg.executeJson(q.replace("\"granularity\"",
      "\"context\":{\"queryId\":\"fl2\"},\"granularity\"")) == got)
    assert(seg.metrics.last.segmentHits == 5, seg.metrics.last.toString)
  }

  test("partial merge: rollup count merges as sum(storedCount) — null over " +
      "zero contributing rows, not 0") {
    // on a rollup datasource, count compiles to sum(when(p, storedCount)),
    // whose empty value is NULL (unlike count(...)'s 0) — the code-review
    // finding: an unconditional 0 identity served different bytes than the
    // whole-query plan for a filtered count matching nothing under
    // skipEmptyBuckets / granularity all
    val store = new SegmentStore(
      Files.createTempDirectory("graft-segrollp").toString)
    val rows = Seq(
      (ts("2024-05-01T01:00:00Z"), "click", 10.0),
      (ts("2024-05-01T02:00:00Z"), "click", 20.0),
      (ts("2024-05-17T03:00:00Z"), "view", 7.0))
      .toDF("__time", "event_type", "value")
    store.write(rows, "evr", rollup = Some((Granularity.Simple("hour"),
      Seq("event_type"), Seq(Aggregator.Sum("sv", "value", "double")))))
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    // a filtered count whose filter matches NOTHING + a plain count
    def q(gran: String, skip: Boolean): String =
      s"""{"queryType":"timeseries","dataSource":"evr",
         |"intervals":["2024-05-01T00:00:00Z/2024-07-01T00:00:00Z"],
         |"granularity":$gran,
         |"context":{"skipEmptyBuckets":"$skip"},
         |"aggregations":[{"type":"count","name":"cnt"},
         |{"type":"filtered","filter":{"type":"selector","dimension":"event_type","value":"nope"},
         |"aggregator":{"type":"count","name":"none_cnt"}}]}""".stripMargin
    Seq(q("\"month\"", skip = true), q("\"month\"", skip = false),
      q("\"all\"", skip = false)).foreach { j =>
      val got = seg.executeJson(j)
      assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
        s"must take the partial path: $j")
      assert(got == whole.executeJson(j), s"query: $j\n got=$got")
      assert(got.contains("\"none_cnt\":null") || !j.contains("true"),
        s"filtered rollup count over nothing must be null: $got")
    }
  }

  test("partial merge: hyperUnique/cardinality serve as SKETCH partials — " +
      "estimates bit-identical to the whole plan (VERDICT r13 #1)") {
    val store = partialFixture("graft-segsketch")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val iv = "2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"
    val queries = Seq(
      // raw column → Spark HLL++ words (hllpp:)
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"month",
         |"aggregations":[{"type":"hyperUnique","name":"uq","fieldName":"event_type"}]}""".stripMargin,
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"all",
         |"aggregations":[{"type":"cardinality","name":"cd","fields":["event_type"]}]}""".stripMargin,
      // byRow multi-field tuple cardinality
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"week",
         |"aggregations":[{"type":"cardinality","name":"cd","fields":["event_type","value"],"byRow":true}]}""".stripMargin,
      // filtered sketch + mixed aggs + hyperUniqueCardinality post-agg
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"month","descending":true,
         |"aggregations":[
         |{"type":"filtered","filter":{"type":"selector","dimension":"event_type","value":"click"},
         |"aggregator":{"type":"hyperUnique","name":"uq","fieldName":"event_type"}},
         |{"type":"count","name":"cnt"}],
         |"postAggregations":[
         |{"type":"hyperUniqueCardinality","name":"huc","fieldName":"uq"},
         |{"type":"arithmetic","name":"r","fn":"/",
         |"fields":[{"type":"hyperUniqueCardinality","name":"huc2","fieldName":"uq"},
         |{"type":"fieldAccess","fieldName":"cnt"}]}]}""".stripMargin,
      // skipEmptyBuckets + quarter
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"quarter","context":{"skipEmptyBuckets":"true"},
         |"aggregations":[{"type":"hyperUnique","name":"uq","fieldName":"value"}]}""".stripMargin)
    queries.zipWithIndex.foreach { case (q, i) =>
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      assert(got == want, s"sketch partial #$i diverged: $q\n got=$got\nwant=$want")
      assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
        s"must take the partial path: $q")
      assert(seg.executeJsonStream(q).mkString == want,
        s"warm streaming serve diverged: $q")
    }
    // a CLIENT-supplied copy of the internal sketchPartials flag is
    // stripped at parse time — the result encoding must never depend on
    // which cache path serves (r14 review finding): finalized numbers,
    // never raw register strings
    locally {
      val spoofed = queries.head.replace("\"granularity\":\"month\",",
        "\"granularity\":\"month\",\"context\":{\"graft.sketchPartials\":\"true\"},")
      assert(spoofed != queries.head, "spoof must inject the flag")
      val r = withSegCache(false)(new Engine(spark, catalog)).executeJson(spoofed)
      assert(!r.contains("hllpp:") && !r.contains("hll11:"), r.take(200))
    }
    // groupBy with a sketch agg: merged per (bucket, dim), set-equal rows,
    // warm reuse across granularities
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(s: String) = {
      val a = m.readTree(s)
      (0 until a.size()).map(i => a.get(i).toString).toSet
    }
    val gq =
      s"""{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
         |"intervals":["$iv"],"granularity":"month",
         |"aggregations":[{"type":"hyperUnique","name":"uq","fieldName":"value"},
         |{"type":"count","name":"cnt"}]}""".stripMargin
    assert(rows(seg.executeJson(gq)) == rows(whole.executeJson(gq)))
    seg.executeJson(gq.replace("\"month\"", "\"quarter\""))
    assert(seg.metrics.last.segmentMisses == 0 &&
      seg.metrics.last.segmentHits == 9, seg.metrics.last.toString)

    // pre-built BinaryType sketch column (rollup segment) → the engine's
    // own p=11 registers (hll11:)
    val rstore = new SegmentStore(
      Files.createTempDirectory("graft-segsketchr").toString)
    val rrows = Seq(
      (ts("2024-05-01T01:00:00Z"), "click", 10.0),
      (ts("2024-05-01T02:00:00Z"), "view", 20.0),
      (ts("2024-05-17T03:00:00Z"), "view", 7.0),
      (ts("2024-06-02T05:00:00Z"), "tap", 3.0))
      .toDF("__time", "event_type", "value")
    rstore.write(rrows, "evr", rollup = Some((Granularity.Simple("hour"),
      Seq("event_type"), Seq(Aggregator.HyperUnique("uq", "value")))))
    val rcat = new SegmentCatalog(rstore)
    val rseg = new Engine(spark, rcat)
    val rwhole = withSegCache(false)(new Engine(spark, rcat))
    Seq("\"month\"", "\"all\"").foreach { g =>
      val q =
        s"""{"queryType":"timeseries","dataSource":"evr",
           |"intervals":["2024-05-01T00:00:00Z/2024-07-01T00:00:00Z"],
           |"granularity":$g,
           |"aggregations":[{"type":"hyperUnique","name":"uq","fieldName":"uq"},
           |{"type":"count","name":"cnt"}]}""".stripMargin
      val got = rseg.executeJson(q)
      assert(got == rwhole.executeJson(q), s"hll11 partial diverged: $q\n$got")
      assert(rseg.metrics.last.segmentMisses + rseg.metrics.last.segmentHits > 0,
        s"must take the partial path: $q")
    }
  }

  test("partial merge: topN at non-nesting granularities == whole-query " +
      "bytes; fragments shared across metric and threshold (VERDICT r13 #2)") {
    val store = partialFixture("graft-segtopn")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val iv = "2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"
    val metrics = Seq(
      """"sv"""",
      """{"type":"lexicographic"}""",
      """{"type":"alphanumeric"}""",
      """{"type":"inverted","metric":"sv"}""",
      """"ratio"""") // ranked by a post-aggregator
    val grans = Seq("\"month\"", "\"week\"", "\"all\"")
    def topn(metric: String, g: String, threshold: Int): String =
      s"""{"queryType":"topN","dataSource":"ev","dimension":"event_type",
         |"threshold":$threshold,"metric":$metric,
         |"intervals":["$iv"],"granularity":$g,
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"},
         |{"type":"count","name":"cnt"}],
         |"postAggregations":[{"type":"arithmetic","name":"ratio","fn":"/",
         |"fields":[{"type":"fieldAccess","fieldName":"sv"},
         |{"type":"fieldAccess","fieldName":"cnt"}]}]}""".stripMargin
    for (metric <- metrics; g <- grans) {
      val q = topn(metric, g, 2)
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      assert(got == want, s"topN partial diverged ($metric, $g):\n got=$got\nwant=$want")
      assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
        s"must take the partial path: $q")
      assert(seg.executeJsonStream(q).mkString == want,
        s"warm topN streaming serve diverged: $q")
    }
    Seq(1, 5).foreach { th =>
      val q = topn("\"sv\"", "\"month\"", th)
      assert(seg.executeJson(q) == whole.executeJson(q), s"threshold $th")
    }
    // all 9 day partials stayed warm across every metric/threshold/
    // granularity variant after the first (threshold and metric are
    // dropped from the partial fragment key)
    assert(seg.metrics.last.segmentMisses == 0 &&
      seg.metrics.last.segmentHits == 9, seg.metrics.last.toString)
    // dimension extraction in dim position decomposes too
    val eq =
      s"""{"queryType":"topN","dataSource":"ev",
         |"dimension":{"type":"extraction","dimension":"event_type","outputName":"ep",
         |"extractionFn":{"type":"substring","index":0,"length":2}},
         |"threshold":2,"metric":"sv",
         |"intervals":["$iv"],"granularity":"month",
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    assert(seg.executeJson(eq) == whole.executeJson(eq))
    assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0)
  }

  test("partial merge: groupBy having + limitSpec evaluate at serve time " +
      "== whole-query bytes on total orderings (VERDICT r13 #2)") {
    val store = partialFixture("graft-seghaving")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val iv = "2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"
    def gb(g: String, extra: String): String =
      s"""{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
         |"intervals":["$iv"],"granularity":$g,$extra
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"},
         |{"type":"count","name":"cnt"}]}""".stripMargin
    // the fixture's per-(bucket, dim) sums are pairwise distinct, so an
    // sv-led ordering is TOTAL and byte-equality is well-defined — the
    // test VERIFIES that precondition instead of assuming it
    def svValues(result: String): Seq[Double] = {
      val a = m.readTree(result)
      (0 until a.size()).map(i => a.get(i).get("event").get("sv").asDouble())
    }
    val plain = whole.executeJson(gb("\"month\"",
      """"limitSpec":{"type":"default","columns":[{"dimension":"sv","direction":"descending"}]},"""))
    val svs = svValues(plain)
    assert(svs.distinct.size == svs.size, s"fixture sums must be distinct: $svs")
    val cases = Seq(
      // ordered cut: sv desc, limit inside the row count
      gb("\"month\"",
        """"limitSpec":{"type":"default","limit":3,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      // multi-column: dim asc (lexicographic), then sv desc
      gb("\"week\"",
        """"limitSpec":{"type":"default","limit":5,
          |"columns":[{"dimension":"event_type","direction":"ascending"},
          |{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      // numeric + strlen dimensionOrders
      gb("\"month\"",
        """"limitSpec":{"type":"default","limit":4,
          |"columns":[{"dimension":"cnt","direction":"ascending","dimensionOrder":"numeric"},
          |{"dimension":"sv","direction":"ascending","dimensionOrder":"numeric"}]},""".stripMargin),
      gb("\"all\"",
        """"limitSpec":{"type":"default",
          |"columns":[{"dimension":"event_type","direction":"descending","dimensionOrder":"strlen"},
          |{"dimension":"sv","direction":"ascending"}]},""".stripMargin),
      // having forms: gt / and / or / not / dimSelector, with an ordered cut
      gb("\"month\"",
        """"having":{"type":"greaterThan","aggregation":"cnt","value":2},
          |"limitSpec":{"type":"default","limit":4,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      gb("\"month\"",
        """"having":{"type":"and","havingSpecs":[
          |{"type":"greaterThan","aggregation":"sv","value":50},
          |{"type":"not","havingSpec":{"type":"dimSelector","dimension":"event_type","value":"click"}}]},
          |"limitSpec":{"type":"default","limit":10,
          |"columns":[{"dimension":"sv","direction":"ascending"}]},""".stripMargin),
      gb("\"week\"",
        """"having":{"type":"or","havingSpecs":[
          |{"type":"equalTo","aggregation":"cnt","value":1},
          |{"type":"lessThan","aggregation":"sv","value":100}]},
          |"limitSpec":{"type":"default","limit":6,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      // having WITHOUT limitSpec (set law, checked as bytes of sorted
      // merge vs whole-plan set below)
      gb("\"quarter\"",
        """"having":{"type":"greaterThan","aggregation":"cnt","value":2},"""),
      // r15: FilterH — a FULL filter spec over the aggregated row,
      // analyzed/evaluated by Spark itself at serve time. Selector on the
      // dim; bound(numeric) on an agg; like + regex + search on the dim;
      // an In with a non-integral literal against the LONG count column
      // (legacy-cast coercion must match the whole plan); nested not/and.
      gb("\"month\"",
        """"having":{"type":"filter","filter":{"type":"selector",
          |"dimension":"event_type","value":"click"}},
          |"limitSpec":{"type":"default","limit":8,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      gb("\"month\"",
        """"having":{"type":"filter","filter":{"type":"bound",
          |"dimension":"sv","lower":"120","upper":"260.5","ordering":"numeric"}},
          |"limitSpec":{"type":"default","limit":8,
          |"columns":[{"dimension":"sv","direction":"ascending"}]},""".stripMargin),
      gb("\"week\"",
        """"having":{"type":"filter","filter":{"type":"and","fields":[
          |{"type":"like","dimension":"event_type","pattern":"%ie%"},
          |{"type":"not","field":{"type":"regex","dimension":"event_type","pattern":"^c"}}]}},
          |"limitSpec":{"type":"default","limit":9,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      gb("\"month\"",
        """"having":{"type":"filter","filter":{"type":"in",
          |"dimension":"cnt","values":["3","2.5","nope"]}},
          |"limitSpec":{"type":"default","limit":9,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      gb("\"month\"",
        """"having":{"type":"filter","filter":{"type":"search",
          |"dimension":"event_type","query":{"type":"insensitive_contains","value":"IEW"}}},
          |"limitSpec":{"type":"default","limit":9,
          |"columns":[{"dimension":"sv","direction":"ascending"}]},""".stripMargin),
      // FilterH nested INSIDE and/not having combinators (3VL composition)
      gb("\"month\"",
        """"having":{"type":"and","havingSpecs":[
          |{"type":"filter","filter":{"type":"bound","dimension":"sv",
          |"lower":"100","ordering":"numeric"}},
          |{"type":"not","havingSpec":{"type":"filter","filter":
          |{"type":"selector","dimension":"event_type","value":"click"}}}]},
          |"limitSpec":{"type":"default","limit":9,
          |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin),
      // FilterH over an extraction on the dim (substring upper)
      gb("\"month\"",
        """"having":{"type":"filter","filter":{"type":"selector",
          |"dimension":"event_type","value":"VI",
          |"extractionFn":{"type":"cascade","extractionFns":[
          |{"type":"substring","index":0,"length":2},{"type":"upper"}]}}},
          |"limitSpec":{"type":"default","limit":9,
          |"columns":[{"dimension":"sv","direction":"ascending"}]},""".stripMargin))
    def rowSet(s: String) = {
      val a = m.readTree(s)
      (0 until a.size()).map(i => a.get(i).toString).toSet
    }
    cases.zipWithIndex.foreach { case (q, i) =>
      val got = seg.executeJson(q)
      val want = whole.executeJson(q)
      if (q.contains("limitSpec"))
        assert(got == want, s"having/limit combo #$i diverged: $q\n got=$got\nwant=$want")
      else assert(rowSet(got) == rowSet(want), s"having combo #$i diverged: $q")
      assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
        s"must take the partial path: $q")
      assert({
        val streamed = seg.executeJsonStream(q).mkString
        if (q.contains("limitSpec")) streamed == want
        else rowSet(streamed) == rowSet(want)
      }, s"warm streaming serve diverged: $q")
    }
    // a binding limit whose ordering TIES at the cut is order-dependent
    // (the whole plan keeps an arbitrary subset of the tied rows): the
    // merge detects the tie and falls back — observable in the counter,
    // never a silently different row set (r15 review finding). The
    // fixture's per-month counts: Apr/Jun click = 2 each (the tie),
    // May view = 10 etc.
    val tieq = gb("\"month\"",
      """"limitSpec":{"type":"default","limit":1,
        |"columns":[{"dimension":"cnt","direction":"ascending","dimensionOrder":"numeric"}]},""".stripMargin)
    val tieRes = seg.executeJson(tieq)
    assert(m.readTree(tieRes).size() == 1)
    assert(seg.metrics.last.segmentHits == 0 &&
      seg.metrics.last.segmentMisses == 0,
      s"tied cut must fall back: ${seg.metrics.last}")
    assert(seg.cacheStats("segmentCacheNotServeable") > 0L,
      seg.cacheStats.toString)
    // limit 2 keeps BOTH tied rows — the cut is between 2 and 4, no tie —
    // so it serves (set law: the order between the tied pair is arbitrary
    // in the whole plan)
    val tieq2 = tieq.replace("\"limit\":1", "\"limit\":2")
    assert(rowSet(seg.executeJson(tieq2)) == rowSet(whole.executeJson(tieq2)))
    assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
      s"untied cut must serve: ${seg.metrics.last}")
    // DAY granularity + limitSpec sits on the partial surface too (the
    // nesting decompose refuses limitSpec); same-sv ties across buckets
    // make the byte order unspecified in BOTH paths, so the law here is
    // set equality plus the path assertion
    val dq = gb("\"day\"",
      """"limitSpec":{"type":"default",
        |"columns":[{"dimension":"sv","direction":"descending"}]},""".stripMargin)
    assert(rowSet(seg.executeJson(dq)) == rowSet(whole.executeJson(dq)))
    assert(seg.metrics.last.segmentMisses + seg.metrics.last.segmentHits > 0,
      s"day+limitSpec must decompose: $dq")
  }

  test("partial merge: driver group bound overflows fall back to the " +
      "whole-query plan (correct bytes either way)") {
    val store = partialFixture("graft-segbound")
    val catalog = new SegmentCatalog(store)
    spark.conf.set("spark.graft.segmentCache.maxPartialGroups", "1")
    try {
      val seg = new Engine(spark, catalog)
      val whole = withSegCache(false)(new Engine(spark, catalog))
      val q =
        """{"queryType":"groupBy","dataSource":"ev","dimensions":["event_type"],
          |"intervals":["2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"],
          |"granularity":"month",
          |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def rowSet(s: String) = {
        val a = m.readTree(s)
        (0 until a.size()).map(i => a.get(i).toString).toSet
      }
      val want = rowSet(whole.executeJson(q))
      // cold: fragments compute, the merge overflows (6 groups > 1),
      // the whole plan serves — bytes stay correct
      assert(rowSet(seg.executeJson(q)) == want)
      // the fallback is observable, never silent, and never reported as a
      // cached serve (counters rewound)
      assert(seg.cacheStats("segmentCachePartialOverflows") > 0L,
        seg.cacheStats.toString)
      assert(seg.metrics.last.segmentHits == 0 &&
        seg.metrics.last.segmentMisses == 0, seg.metrics.last.toString)
      // warm streaming: the fully-cached merge overflows too and falls
      // through to the streaming whole plan
      assert(rowSet(seg.executeJsonStream(q).mkString) == want)
      // a topN over the same bound falls back identically
      val tq =
        """{"queryType":"topN","dataSource":"ev","dimension":"event_type",
          |"threshold":2,"metric":"sv",
          |"intervals":["2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"],
          |"granularity":"month",
          |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
      assert(seg.executeJson(tq) ==
        withSegCache(false)(new Engine(spark, catalog)).executeJson(tq))
    } finally spark.conf.unset("spark.graft.segmentCache.maxPartialGroups")
  }

  test("file-backed cache tier: fragments computed by one engine serve a " +
      "second engine instance with zero jobs; stats surface (VERDICT r13 #3)") {
    val store = partialFixture("graft-segfiletier")
    val catalog = new SegmentCatalog(store)
    val dir = Files.createTempDirectory("graft-filetier")
    spark.conf.set("spark.graft.resultCache.backend", "file")
    spark.conf.set("spark.graft.resultCache.dir", dir.toString)
    try {
      val a = new Engine(spark, catalog)
      val b = new Engine(spark, catalog) // fresh instance: zero shared heap
      def q(g: String) =
        s"""{"queryType":"timeseries","dataSource":"ev",
           |"intervals":["2024-04-20T00:00:00Z/2024-06-20T00:00:00Z"],
           |"granularity":"$g",
           |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
      // the reference engine gets an ISOLATED heap tier — it must not
      // pre-populate the shared directory with the very results under test
      val whole = withSegCache(false)(new Engine(spark, catalog,
        cacheBackend = Some(new graft.engine.CacheBackend.HeapLru(1L << 20))))
      assert(a.executeJson(q("month")) == whole.executeJson(q("month")))
      assert(a.cacheBackendName == "file")
      // engine B asks for the QUARTER view: different whole-query etag,
      // same day partials — every fragment hits THROUGH THE DIRECTORY and
      // the serve runs zero Spark jobs (the same law the cross-JVM
      // rehearsal asserts with a genuinely forked broker JVM)
      val wantQ = whole.executeJson(q("quarter"))
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(b.executeJson(q("quarter")) == wantQ)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
        assert(jobs == 0, s"second engine must serve from the shared dir, ran $jobs jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(b.metrics.last.segmentHits == 9 && b.metrics.last.segmentMisses == 0,
        b.metrics.last.toString)
      // storage stats are served from RUNNING estimates, not a per-poll
      // directory sweep (r15: a metrics scraper over an NFS tier must not
      // trigger a metadata storm): a store constructed NOW (fresh rescan)
      // sees engine A's writes; engine B's own store was constructed
      // before them and reports its local view until its next rescan
      val fresh = new graft.engine.CacheBackend.FileStore(dir, 1L << 20)
      assert(fresh.stats("entries") > 0 && fresh.stats("bytes") > 0,
        fresh.stats.toString)
      // a FOREIGN write (another broker) is invisible to the estimate
      // until a rescan re-trues it — proving stats don't list the dir
      val before = fresh.stats("entries")
      Files.write(dir.resolve("f00d".padTo(64, '0') + ".cache"),
        "foreign".getBytes)
      assert(fresh.stats("entries") == before, fresh.stats.toString)
      fresh.rescanNow()
      assert(fresh.stats("entries") == before + 1, fresh.stats.toString)
      val tiny = new graft.engine.CacheBackend.FileStore(
        Files.createTempDirectory("graft-filetiny"), 64L)
      tiny.put("k1", "x" * 40); tiny.put("k2", "y" * 40)
      assert(tiny.stats("evictions") >= 1 && tiny.stats("bytes") <= 64L,
        tiny.stats.toString)
      // an entry larger than the whole budget is never stored
      tiny.put("k3", "z" * 100)
      assert(tiny.get("k3").isEmpty)
      // put failures are counted (r14 advice: a dead tier must be
      // observable) — break the tier by replacing its directory with a file
      val deadDir = Files.createTempDirectory("graft-filedead")
      val dead = new graft.engine.CacheBackend.FileStore(deadDir, 1L << 20)
      Files.delete(deadDir)
      Files.write(deadDir, "not a directory".getBytes)
      dead.put("k", "v")
      assert(dead.stats("putFailures") == 1L, dead.stats.toString)
      assert(dead.get("k").isEmpty)
    } finally {
      spark.conf.unset("spark.graft.resultCache.backend")
      spark.conf.unset("spark.graft.resultCache.dir")
    }
  }

  test("partial merge: monthly window advances recompute only the hot chunk; " +
      "fragments shared across granularities and post-aggs") {
    val store = partialFixture("graft-segpartwin")
    val catalog = new SegmentCatalog(store)
    val engine = new Engine(spark, catalog)
    def monthly(end: String, extra: String = ""): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["2024-04-01T00:00:00Z/$end"],
         |"granularity":"month"$extra,
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    // cold: all 8 chunks in [Apr 1, Jun 2) compute — as day partials
    engine.executeJson(monthly("2024-06-02T00:00:00Z"))
    assert(engine.metrics.last.segmentMisses == 8 &&
      engine.metrics.last.segmentHits == 0, engine.metrics.last.toString)
    // the dashboard extends into June: only chunk 2024-06-12 is new
    engine.executeJson(monthly("2024-06-30T00:00:00Z"))
    assert(engine.metrics.last.segmentHits == 8 &&
      engine.metrics.last.segmentMisses == 1, engine.metrics.last.toString)
    // ALL slices hit across granularity switches (month→quarter→week→all),
    // a sort flip, a skipEmptyBuckets flip, and added post-aggs: the
    // partial fragment key drops exactly those fields
    val variants = Seq(
      monthly("2024-06-30T00:00:00Z").replace("\"month\"", "\"quarter\""),
      monthly("2024-06-30T00:00:00Z").replace("\"month\"", "\"week\""),
      monthly("2024-06-30T00:00:00Z").replace("\"month\"", "\"all\""),
      monthly("2024-06-30T00:00:00Z", ",\"descending\":true"),
      monthly("2024-06-30T00:00:00Z",
        ",\"context\":{\"skipEmptyBuckets\":\"true\"}"),
      monthly("2024-06-30T00:00:00Z",
        ""","postAggregations":[{"type":"arithmetic","name":"dbl","fn":"+",
          |"fields":[{"type":"fieldAccess","fieldName":"sv"},
          |{"type":"fieldAccess","fieldName":"sv"}]}]""".stripMargin))
    variants.foreach { q =>
      engine.executeJson(q)
      assert(engine.metrics.last.segmentHits == 9 &&
        engine.metrics.last.segmentMisses == 0,
        s"variant must reuse all day partials: $q → ${engine.metrics.last}")
    }
    // fully-warm stream: zero Spark jobs (the merge is driver-side)
    val want = withSegCache(false)(new Engine(spark, catalog))
      .executeJson(monthly("2024-06-30T00:00:00Z"))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val streamed = engine.executeJsonStream(
        monthly("2024-06-30T00:00:00Z")).mkString
      assert(streamed == want)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(jobs == 0, s"fully-warm partial merge must run zero jobs, ran $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a write into May invalidates ONLY that chunk's partial
    store.appendBatch(Seq((ts("2024-05-09T09:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val r = engine.executeJson(monthly("2024-06-30T00:00:00Z"))
    assert(engine.metrics.last.segmentHits == 8 &&
      engine.metrics.last.segmentMisses == 1, engine.metrics.last.toString)
    assert(r == withSegCache(false)(new Engine(spark, catalog))
      .executeJson(monthly("2024-06-30T00:00:00Z")))
  }

  test("partial merge: timezone dashboard — boundary chunks decompose at " +
      "hour granularity, advances stay incremental, fragments shared " +
      "across TZ views (VERDICT r14 #1)") {
    val store = partialFixture("graft-segparttz")
    val catalog = new SegmentCatalog(store)
    val engine = new Engine(spark, catalog)
    val whole = withSegCache(false)(new Engine(spark, catalog))
    def q(gran: String, end: String): String =
      s"""{"queryType":"timeseries","dataSource":"ev",
         |"intervals":["2024-04-20T00:00:00Z/$end"],
         |"granularity":$gran,
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"},
         |{"type":"doubleLast","name":"dl","fieldName":"value"}]}""".stripMargin
    val shDay = """{"type":"period","period":"P1D","timeZone":"Asia/Shanghai"}"""
    val shMonth = """{"type":"period","period":"P1M","timeZone":"Asia/Shanghai"}"""
    // cold Shanghai-daily dashboard: every UTC day chunk straddles two
    // Shanghai days, so all 8 in-window chunks decompose at HOUR
    // granularity — bytes must equal the whole plan's
    assert(engine.executeJson(q(shDay, "2024-06-02T00:00:00Z")) ==
      whole.executeJson(q(shDay, "2024-06-02T00:00:00Z")))
    assert(engine.metrics.last.segmentMisses == 8 &&
      engine.metrics.last.segmentHits == 0, engine.metrics.last.toString)
    // the window advances into June: only the new chunk recomputes
    assert(engine.executeJson(q(shDay, "2024-06-30T00:00:00Z")) ==
      whole.executeJson(q(shDay, "2024-06-30T00:00:00Z")))
    assert(engine.metrics.last.segmentHits == 8 &&
      engine.metrics.last.segmentMisses == 1, engine.metrics.last.toString)
    // a Shanghai MONTHLY view of the same window: interior chunks want
    // DAY fragments (cold), but the month-boundary chunks (2024-04-30,
    // 2024-05-31 — each contains a 16:00Z Shanghai month boundary) reuse
    // the daily view's HOUR fragments
    assert(engine.executeJson(q(shMonth, "2024-06-30T00:00:00Z")) ==
      whole.executeJson(q(shMonth, "2024-06-30T00:00:00Z")))
    assert(engine.metrics.last.segmentHits == 2 &&
      engine.metrics.last.segmentMisses == 7, engine.metrics.last.toString)
    // a quarter view in the same TZ: no quarter boundary falls in the
    // window, so every chunk is interior — it reuses the monthly view's 7
    // day fragments; only the two month-boundary chunks (hour there, day
    // here) recompute
    val shQuarter =
      """{"type":"period","period":"P3M","timeZone":"Asia/Shanghai"}"""
    assert(engine.executeJson(q(shQuarter, "2024-06-30T00:00:00Z")) ==
      whole.executeJson(q(shQuarter, "2024-06-30T00:00:00Z")))
    assert(engine.metrics.last.segmentHits == 7 &&
      engine.metrics.last.segmentMisses == 2, engine.metrics.last.toString)
    // a :45-offset zone has off-hour-grid boundaries: whole-query fallback
    val ktm = """{"type":"period","period":"P1D","timeZone":"Asia/Kathmandu"}"""
    assert(engine.executeJson(q(ktm, "2024-06-30T00:00:00Z")) ==
      whole.executeJson(q(ktm, "2024-06-30T00:00:00Z")))
    assert(engine.metrics.last.segmentHits == 0 &&
      engine.metrics.last.segmentMisses == 0, engine.metrics.last.toString)
    // topN re-buckets hour partials at serve time too
    val topn =
      s"""{"queryType":"topN","dataSource":"ev","dimension":"event_type",
         |"metric":"sv","threshold":2,
         |"intervals":["2024-04-20T00:00:00Z/2024-06-30T00:00:00Z"],
         |"granularity":$shDay,
         |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    assert(engine.executeJson(topn) == whole.executeJson(topn))
    assert(engine.metrics.last.segmentMisses == 9 &&
      engine.metrics.last.segmentHits == 0, engine.metrics.last.toString)
  }
}
