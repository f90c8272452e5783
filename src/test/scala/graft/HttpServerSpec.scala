package graft

import graft.engine.{Engine, HttpServer}
import graft.ingest.TaskService
import graft.sources.MapCatalog
import graft.store.SegmentStore

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

/** REST surface: POST /druid/v2 (query), DELETE /druid/v2/{id} (cancel),
  * POST /druid/indexer/v1/task (+status) — reference
  * `query/query-module-overview.md:3-6,55-59`. */
class HttpServerSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  private lazy val events = Seq(
    (ts("2024-03-01T01:00:00Z"), "click", 10.0),
    (ts("2024-03-02T02:00:00Z"), "view", 20.0),
  ).toDF("__time", "event_type", "value")

  private lazy val client = HttpClient.newHttpClient()

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /druid/v2 runs a query; errors return the documented shape") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val ok = post(s"$base/druid/v2",
        """{"queryType":"timeseries","dataSource":"ev",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      assert(ok.statusCode() == 200)
      assert(ok.body().contains("\"cnt\":1"))

      val bad = post(s"$base/druid/v2", """{"queryType":"nope","dataSource":"ev"}""")
      assert(bad.statusCode() == 500)
      assert(bad.body().contains("\"errorMessage\"") && bad.body().contains("\"host\""))

      val cancel = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/some-query-id")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cancel.statusCode() == 202)

      // etag round-trip: repeat with If-None-Match → 304
      val q = """{"queryType":"timeBoundary","dataSource":"ev"}"""
      val first = post(s"$base/druid/v2", q)
      val tag = first.headers().firstValue("ETag").orElse("")
      assert(tag.nonEmpty)
      val second = client.send(HttpRequest.newBuilder(URI.create(s"$base/druid/v2"))
        .header("If-None-Match", tag)
        .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(second.statusCode() == 304)
    } finally srv.stop()
  }

  test("JSON bodies are escaped: quote-containing ids cannot corrupt responses") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val evil = java.net.URLEncoder.encode("""id"with"quotes""", "UTF-8")
      val cancel = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/$evil")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cancel.statusCode() == 202)
      // body must parse as JSON despite the embedded quotes
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(cancel.body())
      assert(node.get("cancelled").asText().contains("\"with\""))
      // etag is a 128-bit hex digest, not a 32-bit hashCode pair
      val q = """{"queryType":"timeBoundary","dataSource":"ev"}"""
      val tag = post(s"$base/druid/v2", q).headers().firstValue("ETag").orElse("")
      assert(tag.matches("[0-9a-f]{32}"), s"etag '$tag' is not a 128-bit digest")

      // metrics endpoint reports the query just run
      val metrics = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(metrics.statusCode() == 200)
      val mroot = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(metrics.body())
      val marr = mroot.get("queries")
      assert(marr.isArray && marr.size() > 0)
      val last = marr.get(marr.size() - 1)
      assert(last.get("queryType").asText() == "TimeBoundary")
      assert(last.get("success").asBoolean())
      assert(mroot.get("cache").has("resultCacheHits"))

      // LSH observability family: run a banded dedup, then the ring entry
      // (kind + bucket/candidate stats) must surface at the endpoint
      import spark.implicits._
      val docs = (0L until 50L).map(i => (i, s"doc $i text body ${i % 7}"))
        .toDF("doc_id", "text")
      graft.ext.Dedup.minhashDupPairs(docs, "text", "doc_id",
        threshold = 0.9).count()
      val m2 = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val lsh = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(m2.body()).get("lsh")
      assert(lsh.isArray && lsh.size() > 0, "lsh ring missing from metrics")
      val entry = lsh.get(lsh.size() - 1)
      assert(entry.has("kind") && entry.has("estCandidates") &&
        entry.has("overflowBuckets"))
    } finally srv.stop()
  }

  test("POST /druid/v2/sql runs SQL and returns row objects") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events, "ev2" -> events)))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val resp = post(s"$base/druid/v2/sql",
        """{"query":"SELECT event_type, count(*) AS cnt FROM ev GROUP BY 1 ORDER BY 1"}""")
      assert(resp.statusCode() == 200)
      // SQL results stream as chunked transfer — a big SELECT * never
      // buffers whole on the driver or in server memory
      assert(resp.headers().firstValue("Transfer-encoding").orElse("")
        .contains("chunked"))
      val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
      assert(arr.isArray && arr.size() == 2)
      assert(arr.get(0).get("event_type").asText() == "click")
      assert(arr.get(0).get("cnt").asLong() == 1L)

      // comma-separated FROM lists register every named table, including
      // DISTINCT tables carrying aliases (TPC-H style)
      val multi = post(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS n FROM ev a, ev2 b WHERE a.event_type = b.event_type"}""")
      assert(multi.statusCode() == 200)
      assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(multi.body())
        .get(0).get("n").asLong() == 2L)

      // client mistakes are 400s, not "Unknown exception" 500s
      val bad = post(s"$base/druid/v2/sql", "{}")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("missing 'query'"))

      val om = new com.fasterxml.jackson.databind.ObjectMapper()

      // a CTE named like a datasource SHADOWS it — the parser-based table
      // probe must not register the view over the CTE (the old regex probe
      // registered 'ev' and could clobber evaluation order)
      val cte = post(s"$base/druid/v2/sql",
        """{"query":"WITH ev AS (SELECT 1 AS one) SELECT sum(one) AS s FROM ev"}""")
      assert(cte.statusCode() == 200)
      assert(om.readTree(cte.body()).get(0).get("s").asLong() == 1L)

      // quoted identifiers in table position resolve as datasources
      val quoted = post(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS n FROM `ev`"}""")
      assert(quoted.statusCode() == 200)
      assert(om.readTree(quoted.body()).get(0).get("n").asLong() == 2L)

      // a commented-out FROM must not probe; the real table still registers
      val commented = post(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS n -- FROM nonexistent\nFROM ev2"}""")
      assert(commented.statusCode() == 200)
      assert(om.readTree(commented.body()).get(0).get("n").asLong() == 2L)

      // expression subqueries (IN (SELECT ...)) register their tables too
      val subq = post(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS n FROM ev WHERE event_type IN (SELECT event_type FROM ev2)"}""")
      assert(subq.statusCode() == 200)
      assert(om.readTree(subq.body()).get(0).get("n").asLong() == 2L)

      // etag round-trip, native-path parity: repeat with If-None-Match → 304
      val stmt = """{"query":"SELECT count(*) AS n FROM ev"}"""
      val first = post(s"$base/druid/v2/sql", stmt)
      val tag = first.headers().firstValue("ETag").orElse("")
      assert(tag.nonEmpty, "SQL responses must carry an ETag")
      val second = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/druid/v2/sql"))
          .header("If-None-Match", tag)
          .POST(HttpRequest.BodyPublishers.ofString(stmt)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(second.statusCode() == 304)
      // a DIFFERENT statement's tag must not 304 this one
      val other = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/druid/v2/sql"))
          .header("If-None-Match", tag)
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"SELECT count(*) AS n FROM ev2"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(other.statusCode() == 200)
      // a full re-POST (no If-None-Match) is served from the result cache
      val rerun = post(s"$base/druid/v2/sql", stmt)
      assert(rerun.statusCode() == 200 && rerun.body() == first.body())
      val hits = om.readTree(client.send(HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
        .get("cache").get("resultCacheHits").asLong()
      assert(hits >= 1L)
    } finally srv.stop()
  }

  test("SQL endpoint honours the body's context: queryId, timeout, useCache, " +
      "populateCache") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events,
      "big" -> SparkTestBase.interruptiblySlowDF(spark, ts("2024-03-01T00:00:00Z")))))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val before = engine.cacheStats
      val off = post(s"$base/druid/v2/sql", """{"query":"SELECT count(*) AS n FROM ev",""" +
        """"context":{"queryId":"sql-ctx","useCache":false,"populateCache":false}}""")
      assert(off.statusCode() == 200 && om.readTree(off.body()).get(0).get("n").asLong() == 2L)
      val after = engine.cacheStats
      Seq("resultCacheEntries", "resultCacheHits", "resultCacheMisses").foreach(k =>
        assert(after(k) == before(k), s"$k moved: ${before(k)} -> ${after(k)}"))
      assert(engine.metrics.last.queryId == "sql-ctx", engine.metrics.last.toString)

      // DELETE /druid/v2/{queryId} reaches a running statement
      val slow = """{"query":"SELECT sum(id) AS s FROM big","context":{"queryId":"sql-slow"}}"""
      val pending = client.sendAsync(HttpRequest.newBuilder(URI.create(s"$base/druid/v2/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(slow)).build(),
        HttpResponse.BodyHandlers.ofString())
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
          spark.sparkContext.statusTracker.getJobIdsForGroup("sql-slow").isEmpty)
        Thread.sleep(50)
      client.send(HttpRequest.newBuilder(URI.create(s"$base/druid/v2/sql-slow"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      val cancelled = pending.get(20, java.util.concurrent.TimeUnit.SECONDS)
      assert(cancelled.statusCode() == 500, cancelled.body())
      assert(om.readTree(cancelled.body()).get("error").asText() == "Query cancelled",
        cancelled.body())

      // context `timeout` holds on the SQL endpoint too
      val timed = post(s"$base/druid/v2/sql",
        """{"query":"SELECT sum(id) AS s FROM big","context":{"timeout":"200"}}""")
      assert(timed.statusCode() == 500, timed.body())
      assert(om.readTree(timed.body()).get("errorClass").asText() ==
        "QueryTimeoutException", timed.body())
      val quiet = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < quiet &&
          spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(200)
    } finally srv.stop()
  }

  test("each request is prepared once: one versionToken per datasource and one " +
      "authorizer call per POST") {
    val tokens = new java.util.concurrent.atomic.AtomicInteger
    val checks = new java.util.concurrent.atomic.AtomicInteger
    val catalog = new MapCatalog(Map("ev" -> events)) {
      override def versionToken(name: String): String = {
        tokens.incrementAndGet(); "static"
      }
    }
    val authorizer = new graft.engine.QueryAuthorizer {
      def authorize(identity: Option[String], datasources: Seq[String]): Boolean = {
        checks.incrementAndGet(); true
      }
    }
    val engine = new Engine(spark, catalog, authorizer)
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val native = post(s"$base/druid/v2",
        """{"queryType":"timeseries","dataSource":"ev",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      assert(native.statusCode() == 200, native.body())
      assert(tokens.get == 1 && checks.get == 1, s"native: ${tokens.get} ${checks.get}")
      tokens.set(0); checks.set(0)
      val sql = post(s"$base/druid/v2/sql", """{"query":"SELECT count(*) AS n FROM ev"}""")
      assert(sql.statusCode() == 200, sql.body())
      assert(tokens.get == 1 && checks.get == 1, s"sql: ${tokens.get} ${checks.get}")
    } finally srv.stop()
  }

  test("SQL lookup registration is gated on the PARSED call, not a substring") {
    // a statement merely touching an identifier containing "lookup" (e.g. a
    // column alias `lookup_count`) must not trigger driver-side lookup
    // materialization; an actual LOOKUP('k','name') call must
    val lkp = Seq(("click", "CLICK!"), ("view", "VIEW!")).toDF("key", "value")
    val catalog = new MapCatalog(Map("ev" -> events)) {
      override def lookupNames: Seq[String] = Seq("et_name")
      override def lookupTable(spark: org.apache.spark.sql.SparkSession,
          name: String): Option[org.apache.spark.sql.DataFrame] =
        if (name == "et_name") Some(lkp) else None
    }
    val engine = new Engine(spark, catalog)
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      def lookupMisses(): Long = {
        val m = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        om.readTree(m.body()).get("cache").get("lookupCacheMisses").asLong()
      }
      val noCall = post(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS lookup_count FROM ev"}""")
      assert(noCall.statusCode() == 200)
      assert(om.readTree(noCall.body()).get(0).get("lookup_count").asLong() == 2L)
      assert(lookupMisses() == 0L,
        "an identifier containing 'lookup' must not materialize lookup tables")

      val call = post(s"$base/druid/v2/sql",
        """{"query":"SELECT lookup(event_type, 'et_name') AS nm, count(*) AS n FROM ev GROUP BY 1 ORDER BY 1"}""")
      assert(call.statusCode() == 200)
      assert(om.readTree(call.body()).get(0).get("nm").asText() == "CLICK!")
      assert(lookupMisses() == 1L, "a real LOOKUP() call must register (one build)")
    } finally srv.stop()
  }

  test("context.stream=true → chunked transfer with the same body") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val q =
        """{"queryType":"scan","dataSource":"ev",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"columns":["__time","event_type"],"order":"ascending",
          |"context":{"stream":"true"}}""".stripMargin
      val resp = post(s"$base/druid/v2", q)
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Transfer-encoding").orElse("")
        .contains("chunked"))
      // body identical to the buffered path (minus the stream flag's etag)
      val buffered = post(s"$base/druid/v2", q.replace("\"stream\":\"true\"",
        "\"stream\":\"false\""))
      assert(resp.body() == buffered.body())
    } finally srv.stop()
  }

  test("streaming past the cap → 429 QueryCapacityExceededException") {
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val srv = new HttpServer(engine, streamCap = 0) // saturated from the start
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val stream = post(s"$base/druid/v2",
        """{"queryType":"scan","dataSource":"ev",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"context":{"stream":"true"}}""".stripMargin)
      assert(stream.statusCode() == 429)
      assert(stream.body().contains("QueryCapacityExceededException"))
      val sql = post(s"$base/druid/v2/sql", """{"query":"SELECT 1 AS one"}""")
      assert(sql.statusCode() == 429)
      // the buffered query path is NOT capped by stream permits
      val buffered = post(s"$base/druid/v2",
        """{"queryType":"timeBoundary","dataSource":"ev"}""")
      assert(buffered.statusCode() == 200)
    } finally srv.stop()
  }

  test("full stack: ingest over HTTP, query the new segments over HTTP") {
    import graft.store.SegmentCatalog
    val store = new SegmentStore(Files.createTempDirectory("graft-e2e").toString)
    val engine = new Engine(spark, new SegmentCatalog(store))
    val srv = new HttpServer(engine, Some(new TaskService(spark, store)))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val input = Files.createTempDirectory("graft-e2e-in").toString
      events.write.mode("overwrite").parquet(input)

      // 1. ingest through the task endpoint
      val sub = post(s"$base/druid/indexer/v1/task",
        s"""{"type":"index","id":"e2e","dataSource":"ev_http",
           |"inputPath":"$input","inputFormat":"parquet",
           |"timestampColumn":"__time"}""".stripMargin)
      assert(sub.statusCode() == 200)

      // 2. query the freshly ingested datasource through the query endpoint
      val res = post(s"$base/druid/v2",
        """{"queryType":"timeseries","dataSource":"ev_http",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
      assert(res.statusCode() == 200)
      assert(res.body().contains("\"sv\":10.0") && res.body().contains("\"sv\":20.0"))

      // 3. observability: the metrics endpoint reports the ingest task's
      // rows/bytes/duration and a result-cache hit after a re-query
      val res2 = post(s"$base/druid/v2",
        """{"queryType":"timeseries","dataSource":"ev_http",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
      assert(res2.statusCode() == 200)
      val metrics = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val mroot = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(metrics.body())
      assert(mroot.get("cache").get("resultCacheHits").asLong() >= 1L,
        "identical re-query must land as a result-cache hit")
      val taskNodes = (0 until mroot.get("tasks").size()).map(mroot.get("tasks").get)
      val e2eTask = taskNodes.find(_.get("id").asText() == "e2e")
        .getOrElse(fail("ingest task missing from metrics"))
      assert(e2eTask.get("rows").asLong() == 2L)
      assert(e2eTask.get("bytes").asLong() > 0L)
      assert(e2eTask.has("durationMs"))
      // segment family: the freshly ingested datasource's timeline
      val dsNodes = (0 until mroot.get("datasources").size())
        .map(mroot.get("datasources").get)
      val evds = dsNodes.find(_.get("datasource").asText() == "ev_http")
        .getOrElse(fail("datasource missing from segment metrics"))
      assert(evds.get("segments").asInt() == 2) // two day chunks
      assert(evds.get("rows").asLong() == 2L)
      assert(mroot.get("jvm").get("heapMaxBytes").asLong() > 0L)
    } finally srv.stop()
  }

  test("task endpoint: submit + status; duplicate rejected with 400") {
    val store = new SegmentStore(Files.createTempDirectory("graft-http").toString)
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val srv = new HttpServer(engine, Some(new TaskService(spark, store)))
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val ok = post(s"$base/druid/indexer/v1/task", """{"type":"noop","id":"http1"}""")
      assert(ok.statusCode() == 200 && ok.body().contains("http1"))

      val st = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/indexer/v1/task/http1/status")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(st.statusCode() == 200 && st.body().contains("SUCCESS"))

      val dup = post(s"$base/druid/indexer/v1/task", """{"type":"noop","id":"http1"}""")
      assert(dup.statusCode() == 400 && dup.body().contains("already exists"))
    } finally srv.stop()
  }

  test("metrics endpoint carries the retention family when the rules loop " +
      "is wired (r15)") {
    val store = new SegmentStore(Files.createTempDirectory("graft-httpret").toString)
    store.write(Seq((ts("2024-01-05T10:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
    val tasks = new TaskService(spark, store)
    spark.conf.set("spark.graft.retention.rules", "ev:dropBefore=P90D")
    try {
      val retention = new graft.ingest.RetentionService(spark, store, tasks)
      retention.evaluate(java.time.Instant.parse("2024-06-01T00:00:00Z"))
      val srv = new HttpServer(engine, Some(tasks), retention = Some(retention))
      srv.start()
      try {
        val m = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/druid/v2/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(m.statusCode() == 200)
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(m.body())
        val ret = root.get("retention")
        assert(ret != null, m.body().take(200))
        assert(ret.get("retentionCycles").asLong() == 1L, ret.toString)
        assert(ret.get("retentionKills").asLong() == 1L, ret.toString)
        // the emitted task itself shows in the task family
        assert(m.body().contains("retention-kill-ev-2024-01-05-v1"))
      } finally srv.stop()
    } finally spark.conf.unset("spark.graft.retention.rules")
  }

  private def postAs(url: String, body: String, identity: Option[String])
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    identity.foreach(b.header("Authorization", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("AUTHORIZING: per-datasource READ check → 403 ForbiddenException (r11 #5)") {
    import graft.engine.QueryAuthorizer
    val engine = new Engine(spark,
      new MapCatalog(Map("ev" -> events, "secret" -> events)),
      QueryAuthorizer.AllowList(Map("alice" -> Set("ev"))))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def tsq(ds: String) =
        s"""{"queryType":"timeseries","dataSource":"$ds",
           |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
           |"granularity":"day",
           |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
      // allowed identity + allowed datasource → 200
      val ok = postAs(s"$base/druid/v2", tsq("ev"), Some("alice"))
      assert(ok.statusCode() == 200, ok.body())
      // allowed identity, unauthorized datasource → 403, documented shape
      val deny = postAs(s"$base/druid/v2", tsq("secret"), Some("alice"))
      assert(deny.statusCode() == 403, deny.body())
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(deny.body())
      assert(node.get("error").asText() == "Forbidden")
      assert(node.get("errorClass").asText() == "ForbiddenException")
      assert(node.has("errorMessage") && node.has("host"))
      // unknown identity and anonymous callers → deny-by-default
      assert(postAs(s"$base/druid/v2", tsq("ev"), Some("mallory"))
        .statusCode() == 403)
      assert(postAs(s"$base/druid/v2", tsq("ev"), None).statusCode() == 403)
      // the SQL endpoint runs the same lifecycle step
      assert(postAs(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS c FROM secret"}""",
        Some("alice")).statusCode() == 403)
      assert(postAs(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS c FROM ev"}""",
        Some("alice")).statusCode() == 200)
      // r12 review: a client-supplied datasources list cannot narrow the
      // check — the statement's parsed references authorize too, so
      // claiming ["ev"] while reading `secret` still denies
      assert(postAs(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS c FROM secret","datasources":["ev"]}""",
        Some("alice")).statusCode() == 403)
      // nor does a case variant dodge the catalog probe (Spark resolves
      // relations case-insensitively, so FROM SECRET reads `secret`)
      assert(postAs(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS c FROM SECRET"}""",
        Some("alice")).statusCode() == 403)
      // ...while an ALLOWED table's case variant still works
      assert(postAs(s"$base/druid/v2/sql",
        """{"query":"SELECT count(*) AS c FROM EV"}""",
        Some("alice")).statusCode() == 200)
      // a denied caller cannot probe freshness via If-None-Match: the
      // authorization check precedes the 304 shortcut
      val tag = postAs(s"$base/druid/v2", tsq("ev"), Some("alice"))
        .headers().firstValue("ETag").orElse("")
      assert(tag.nonEmpty)
      val probe = client.send(HttpRequest.newBuilder(URI.create(s"$base/druid/v2"))
        .header("If-None-Match", tag).header("Authorization", "mallory")
        .POST(HttpRequest.BodyPublishers.ofString(tsq("ev"))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(probe.statusCode() == 403, s"etag probe must 403, got ${probe.statusCode()}")
      // denied queries land in the metrics ring as failures (the reference
      // logs denied queries — the Logging lifecycle step still runs)
      assert(engine.metrics.exists(m => !m.success))
      // identity is in the audit trail (r12 #7): ring rows carry the
      // caller, and per-identity cumulative counters surface at
      // /druid/v2/metrics with deny counts visible after the 403s above
      assert(engine.metrics.exists(_.identity.contains("alice")))
      val m = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(m.body())
      val ids = (0 until root.get("identities").size())
        .map(root.get("identities").get(_))
        .map(n => n.get("identity").asText() ->
          (n.get("queries").asLong(), n.get("denied").asLong())).toMap
      assert(ids("alice")._1 > 0 && ids("alice")._2 > 0, ids.toString)
      assert(ids("mallory")._2 > 0, ids.toString)
      assert(ids("anonymous")._2 > 0, ids.toString)
      val qRows = root.get("queries")
      assert((0 until qRows.size()).exists(i =>
        Option(qRows.get(i).get("identity")).exists(_.asText() == "alice")),
        "ring rows must carry the caller identity")
    } finally srv.stop()
  }

  test("metrics endpoint reports the FILE cache tier: backend name, " +
      "entries, bytes, evictions (VERDICT r13 #3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-httpfilecache")
    spark.conf.set("spark.graft.resultCache.backend", "file")
    spark.conf.set("spark.graft.resultCache.dir", dir.toString)
    try {
      val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
      val srv = new HttpServer(engine)
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        val q =
          """{"queryType":"timeseries","dataSource":"ev",
            |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
            |"granularity":"day",
            |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
        val r1 = postAs(s"$base/druid/v2", q, None)
        val r2 = postAs(s"$base/druid/v2", q, None)
        assert(r1.statusCode() == 200 && r2.body() == r1.body())
        assert(engine.metrics.last.cached, "second run must hit the file tier")
        val m = client.send(java.net.http.HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val cache = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(m.body()).get("cache")
        assert(cache.get("backend").asText() == "file", m.body().take(300))
        assert(cache.get("resultCacheEntries").asLong() >= 1L)
        assert(cache.get("resultCacheBytes").asLong() > 0L)
        assert(cache.has("resultCacheEvictions"), m.body().take(300))
      } finally srv.stop()
    } finally {
      spark.conf.unset("spark.graft.resultCache.backend")
      spark.conf.unset("spark.graft.resultCache.dir")
    }
  }

  test("token-mapped authentication: valid token resolves the principal; " +
      "bad/absent tokens → 403 and never leak into the audit (VERDICT r13 #4)") {
    spark.conf.set("spark.graft.auth.tokens", "s3cr3t:alice;t0k2:bob")
    spark.conf.set("spark.graft.auth.acl", "alice:ev")
    try {
      val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)))
      val srv = new HttpServer(engine)
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        val q =
          """{"queryType":"timeseries","dataSource":"ev",
            |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
            |"granularity":"day",
            |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
        // a valid token (bare or RFC 6750 Bearer) resolves to its principal,
        // and the ACL authorizes the PRINCIPAL
        assert(postAs(s"$base/druid/v2", q, Some("s3cr3t")).statusCode() == 200)
        assert(postAs(s"$base/druid/v2", q, Some("Bearer s3cr3t")).statusCode() == 200)
        // a valid token whose principal the ACL doesn't allow still denies
        assert(postAs(s"$base/druid/v2", q, Some("t0k2")).statusCode() == 403)
        // asserting a PRINCIPAL NAME is no longer enough (the r12 advice
        // hole): with tokens armed, 'alice' is just an unknown token
        val spoof = postAs(s"$base/druid/v2", q, Some("alice"))
        assert(spoof.statusCode() == 403, spoof.body())
        assert(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(spoof.body()).get("errorClass").asText() == "ForbiddenException")
        // absent header → 403 (the ACL has no anonymous grant)
        assert(postAs(s"$base/druid/v2", q, None).statusCode() == 403)
        // SQL endpoint runs the same resolution
        assert(postAs(s"$base/druid/v2/sql",
          """{"query":"SELECT count(*) AS c FROM ev"}""",
          Some("s3cr3t")).statusCode() == 200)
        assert(postAs(s"$base/druid/v2/sql",
          """{"query":"SELECT count(*) AS c FROM ev"}""",
          Some("wrong")).statusCode() == 403)
        // the WHOLE surface is gated when armed — cancellation is
        // destructive by queryId and metrics carries the audit trail
        assert(client.send(java.net.http.HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/some-query-id")).DELETE().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 403)
        assert(client.send(java.net.http.HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 403)
        assert(client.send(java.net.http.HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/some-query-id"))
          .header("Authorization", "s3cr3t").DELETE().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 202)
        // audit counters key by the RESOLVED identity; rejected tokens
        // aggregate under (invalid-token) — the presented secret is never
        // an audit key and never appears in the metrics body
        assert(engine.metrics.exists(_.identity.contains("alice")))
        val m = client.send(java.net.http.HttpRequest.newBuilder(
          URI.create(s"$base/druid/v2/metrics"))
          .header("Authorization", "s3cr3t").GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(m.body())
        val ids = (0 until root.get("identities").size())
          .map(root.get("identities").get(_))
          .map(n => n.get("identity").asText() ->
            (n.get("queries").asLong(), n.get("denied").asLong())).toMap
        assert(ids("alice")._1 > 0, ids.toString)
        assert(ids("(invalid-token)")._2 > 0, ids.toString)
        assert(!m.body().contains("s3cr3t") && !m.body().contains("t0k2") &&
          !m.body().contains("wrong"), "secrets must never reach the audit")
      } finally srv.stop()
      // a malformed token map fails Engine construction loudly, and the
      // error withholds the entry (it may be a half-typed secret)
      spark.conf.set("spark.graft.auth.tokens", "no-colon-here")
      val e = intercept[IllegalArgumentException] {
        new Engine(spark, new MapCatalog(Map("ev" -> events)))
      }
      assert(!e.getMessage.contains("no-colon-here"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.auth.tokens")
      spark.conf.unset("spark.graft.auth.acl")
    }
  }

  test("SQL endpoint is read-only and flat-named: multipart refs, file " +
      "paths, and SET/DDL/DML are rejected (r12 advice)") {
    import graft.engine.QueryAuthorizer
    // a real parquet directory a path-based read WOULD reach if permitted —
    // the r12 advice's bypass: authorization reasons about flat datasource
    // names, so path/multipart references must never execute
    val leakDir = Files.createTempDirectory("graft-secret-seg").toString
    events.write.mode("overwrite").parquet(leakDir)
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)),
      QueryAuthorizer.AllowList(Map("alice" -> Set("ev"))))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def sqlAs(stmt: String, id: Option[String]) =
        postAs(s"$base/druid/v2/sql",
          s"""{"query":${new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(stmt)}}""", id)
      // the bypass itself: SELECT from a parquet path — 403, not data
      val path = sqlAs(s"SELECT * FROM parquet.`$leakDir`", Some("alice"))
      assert(path.statusCode() == 403, s"${path.statusCode()} ${path.body()}")
      assert(path.body().contains("ForbiddenException"))
      // other multipart shapes: global_temp and catalog-qualified names
      assert(sqlAs("SELECT * FROM global_temp.x", Some("alice"))
        .statusCode() == 403)
      assert(sqlAs("SELECT * FROM spark_catalog.default.ev", Some("alice"))
        .statusCode() == 403)
      // a multipart ref hidden in a subquery is still caught
      assert(sqlAs(
        s"SELECT 1 WHERE EXISTS (SELECT 1 FROM parquet.`$leakDir`)",
        Some("alice")).statusCode() == 403)
      // read-only surface: SET/RESET (shared-session conf mutation), DDL,
      // DML all reject — and the session conf is demonstrably untouched
      assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
      assert(sqlAs("SET spark.sql.ansi.enabled=true", Some("alice"))
        .statusCode() == 403)
      assert(sqlAs("RESET", Some("alice")).statusCode() == 403)
      assert(spark.conf.get("spark.sql.ansi.enabled") == "false",
        "a rejected SET must not have mutated the shared session")
      assert(sqlAs("DROP TABLE ev", Some("alice")).statusCode() == 403)
      assert(sqlAs("CREATE TABLE t2 (a INT) USING parquet", Some("alice"))
        .statusCode() == 403)
      assert(sqlAs("INSERT INTO ev SELECT * FROM ev", Some("alice"))
        .statusCode() == 403)
      // ordinary flat-named reads still work for the authorized identity
      assert(sqlAs("SELECT count(*) AS c FROM ev", Some("alice"))
        .statusCode() == 200)
      // ACL membership is required even for statements that resolve no
      // datasource: an unknown identity's SELECT 1 denies, alice's passes
      assert(sqlAs("SELECT 1 AS one", Some("mallory")).statusCode() == 403)
      assert(sqlAs("SELECT 1 AS one", None).statusCode() == 403)
      assert(sqlAs("SELECT 1 AS one", Some("alice")).statusCode() == 200)
      // defense in depth: the engine forces runSQLOnFiles off, so even the
      // embedding-library SQL surface won't resolve path-based relations
      assert(spark.conf.get("spark.sql.runSQLOnFiles") == "false")
    } finally srv.stop()
  }

  test("audit identities: credentials are redacted and the counter map is " +
      "bounded (review findings)") {
    import graft.engine.QueryAuthorizer
    val engine = new Engine(spark, new MapCatalog(Map("ev" -> events)),
      QueryAuthorizer.AllowList(Map("alice" -> Set("ev"))))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val q = """{"queryType":"timeBoundary","dataSource":"ev"}"""
      // an RFC 7235 credential ('scheme value') must NEVER appear verbatim
      // in the metrics surface — neither in ring rows nor in the
      // per-identity counters (it would leak at the unauthenticated
      // metrics endpoint); it records as scheme#<hash-prefix>
      postAs(s"$base/druid/v2", q, Some("Basic dXNlcjpwYXNz"))
      val m = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(!m.body().contains("dXNlcjpwYXNz"),
        "raw credential leaked into the metrics surface")
      assert(m.body().contains("\"Basic#"), m.body().take(400))
      assert(engine.metrics.forall(
        _.identity.forall(!_.contains("dXNlcjpwYXNz"))))
      // the counter map is caller-keyed — a flood of distinct identities
      // (cheap: denied queries never reach Spark) must aggregate past the
      // cap instead of growing driver heap without bound
      (1 to 1200).foreach { i =>
        try engine.executeJson(q, Some(s"mallory-$i"))
        catch { case _: Engine.QueryError => () }
      }
      val stats = engine.identityStats
      assert(stats.size <= 1026, s"identity map unbounded: ${stats.size}")
      assert(stats.exists(_._1 == "(other)"),
        "overflow identities must aggregate under (other)")
      val other = stats.find(_._1 == "(other)").get
      assert(other._3 > 0, "overflow denies must still be counted")
    } finally srv.stop()
  }

  test("conf-driven ACL: spark.graft.auth.acl arms the default authorizer") {
    spark.conf.set("spark.graft.auth.acl", "alice:ev|ev2; bob:ev2")
    try {
      val engine = new Engine(spark,
        new MapCatalog(Map("ev" -> events, "ev2" -> events)))
      val srv = new HttpServer(engine)
      srv.start()
      try {
        val base = s"http://127.0.0.1:${srv.boundPort}"
        val q = """{"queryType":"timeBoundary","dataSource":"ev"}"""
        assert(postAs(s"$base/druid/v2", q, Some("alice")).statusCode() == 200)
        assert(postAs(s"$base/druid/v2", q, Some("bob")).statusCode() == 403)
        assert(postAs(s"$base/druid/v2", q, None).statusCode() == 403)
      } finally srv.stop()
      // malformed ACL fails construction loudly — never falls open
      spark.conf.set("spark.graft.auth.acl", "alice=ev")
      intercept[IllegalArgumentException] {
        new Engine(spark, new MapCatalog(Map("ev" -> events)))
      }
    } finally spark.conf.unset("spark.graft.auth.acl")
  }

  test("metrics endpoint contract: lsh families + segment-cache counters (r11 #7)") {
    import spark.implicits._
    val store = new SegmentStore(Files.createTempDirectory("graft-mcontract").toString)
    store.write(events, "ev_mx")
    val engine = new Engine(spark, new graft.store.SegmentCatalog(store))
    val srv = new HttpServer(engine)
    srv.start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // populate the two newest lsh families: a CAPPED fuzzy-decon run and
      // a bucket-mode DSIR build
      val docs = (1L to 40L).map(i => (i, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
      val bench = Seq((900L, "w1 w2 w3 w4 w5 w6")).toDF("bench_id", "text")
      graft.ext.Decontaminate.fuzzyContaminationHits(docs, bench,
        "doc_id", "bench_id", "text", bucketCap = 4).count()
      graft.ext.Vocabulary.dsirModel(docs, bench.toDF("doc_id", "text"), "text",
        numBuckets = 64).logRatio.count()
      // a decomposable query through the engine moves the segment counters
      val q =
        """{"queryType":"timeseries","dataSource":"ev_mx",
          |"intervals":["2024-03-01T00:00:00Z/2024-03-03T00:00:00Z"],
          |"granularity":"day",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin
      post(s"$base/druid/v2", q)
      post(s"$base/druid/v2", q.replace("\"granularity\"",
        "\"context\":{\"queryId\":\"mx2\"},\"granularity\""))
      val m = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/druid/v2/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(m.body())
      val kinds = (0 until root.get("lsh").size())
        .map(root.get("lsh").get(_).get("kind").asText()).toSet
      assert(kinds.contains("fuzzy-decon"),
        s"fuzzy-decon family missing from /druid/v2/metrics lsh ring: $kinds")
      assert(kinds.contains("dsir-bucket"),
        s"dsir-bucket family missing from /druid/v2/metrics lsh ring: $kinds")
      val cache = root.get("cache")
      assert(cache.has("segmentCacheHits") && cache.has("segmentCacheMisses"))
      // the cache-tier contract (r12 #2): backend name + storage stats
      assert(cache.get("backend").asText() == "heap", cache.toString)
      assert(cache.has("resultCacheBytes") && cache.has("resultCacheEntries")
        && cache.has("resultCacheEvictions"), cache.toString)
      assert(cache.get("segmentCacheHits").asLong() >= 2L, cache.toString)
      val qs = root.get("queries")
      val lastQ = qs.get(qs.size() - 1)
      assert(lastQ.has("segmentHits") && lastQ.has("segmentMisses"))
      assert(lastQ.get("segmentHits").asInt() == 2, lastQ.toString)
    } finally srv.stop()
  }
}
