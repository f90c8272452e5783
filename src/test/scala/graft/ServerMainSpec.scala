package graft

import graft.store.SegmentStore
import graft.tools.ServerMain

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

/** The production entry point's wiring contract: conf → catalog + engine +
  * tasks + retention + HTTP server, the retention loop actually started,
  * segment datasources shadowing same-named static tables, and loud
  * failures on inconsistent conf (VERDICT r15 #2 — before this main the
  * rules loop shipped unstartable). */
class ServerMainSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s))

  private lazy val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("wire() + start(): query over HTTP, task submit, retention loop " +
      "running, segment datasource shadows the static table") {
    val storeRoot = Files.createTempDirectory("graft-srvmain").toString
    val store = new SegmentStore(storeRoot)
    // a segment datasource named like the STATIC events table — the
    // layered catalog must serve this (fresher, ingested) copy
    store.write(Seq((ts("2031-07-01T10:00:00Z"), "shadowed", 1.0))
      .toDF("__time", "event_type", "value"), "events")

    withConf(
      "spark.graft.server.data" -> "/root/testdata/sf0.001",
      "spark.graft.server.store" -> storeRoot,
      "spark.graft.server.port" -> "0",
      "spark.graft.retention.rules" -> "events:dropBefore=P90D",
      "spark.graft.retention.dryRun" -> "true",
      "spark.graft.retention.periodMs" -> "50") {
      val wired = ServerMain.wire(spark)
      assert(wired.tasks.isDefined && wired.retention.isDefined &&
        wired.retentionPeriodMs.contains(50L))
      wired.start()
      try {
        val base = s"http://127.0.0.1:${wired.server.boundPort}"

        // the layered catalog: 'events' resolves through the SEGMENT
        // timeline (the 2031 row), not the static sf0.001 parquet
        val tb = post(s"$base/druid/v2",
          """{"queryType":"timeBoundary","dataSource":"events"}""")
        assert(tb.statusCode() == 200, tb.body())
        assert(tb.body().contains("2031-07-01T10:00:00"), tb.body())
        // ...while a store-less name falls back to the static dir
        val li = post(s"$base/druid/v2",
          """{"queryType":"timeBoundary","dataSource":"lineitem"}""")
        assert(li.statusCode() == 200, li.body())

        // ingestion surface is armed: a noop task round-trips
        val task = post(s"$base/druid/indexer/v1/task",
          """{"type":"noop","id":"srvmain-noop"}""")
        assert(task.statusCode() == 200, task.body())
        val st = get(s"$base/druid/indexer/v1/task/srvmain-noop/status")
        assert(st.statusCode() == 200 && st.body().contains("SUCCESS"),
          st.body())

        // the retention loop is STARTED (not just constructed): cycles
        // accumulate on the metrics endpoint without any manual evaluate
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var cycles = 0L
        while (cycles < 1 && System.nanoTime() < deadline) {
          val m = get(s"$base/druid/v2/metrics")
          val ret = mapper.readTree(m.body()).get("retention")
          if (ret != null) cycles = ret.get("retentionCycles").asLong()
          if (cycles < 1) Thread.sleep(25)
        }
        assert(cycles >= 1, "retention loop did not tick within 10s")

        // dry-run honored: the 2031 segment survives the running loop
        val tb2 = post(s"$base/druid/v2",
          """{"queryType":"timeBoundary","dataSource":"events"}""")
        assert(tb2.body().contains("2031-07-01T10:00:00"), tb2.body())
      } finally wired.stop()
    }
  }

  test("stop() drains an in-flight chunked stream within the grace " +
      "period (VERDICT r16 #5)") {
    withConf(
      "spark.graft.server.data" -> "/root/testdata/sf0.01",
      "spark.graft.server.port" -> "0",
      "spark.graft.server.stopGraceSec" -> "30") {
      val wired = ServerMain.wire(spark)
      wired.start()
      val stopDone = new java.util.concurrent.CountDownLatch(1)
      try {
        // a chunked scan whose body (60k lineitem rows, ~10 MB of JSON)
        // overflows the loopback socket buffers of a NON-reading client,
        // so the handler genuinely blocks mid-write — stop() then fires
        // against a provably in-flight stream, not a completed one
        val q =
          """{"queryType":"scan","dataSource":"lineitem",
            |"intervals":["1970-01-01T00:00:00Z/2100-01-01T00:00:00Z"],
            |"context":{"stream":"true"}}""".stripMargin
        val sock = new java.net.Socket("127.0.0.1", wired.server.boundPort)
        try {
          sock.setSoTimeout(60000)
          val body = q.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val head = (s"POST /druid/v2 HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            s"Content-Type: application/json\r\n" +
            s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          sock.getOutputStream.write(head)
          sock.getOutputStream.write(body)
          sock.getOutputStream.flush()
          // read ONLY the status line, then stall the consumer
          val in = sock.getInputStream
          val status = new StringBuilder
          var c = in.read()
          while (c >= 0 && c != '\n') { status.append(c.toChar); c = in.read() }
          assert(status.toString.contains("200"), status.toString)
          Thread.sleep(300) // handler fills the buffers and blocks on write
          new Thread(() => { wired.stop(); stopDone.countDown() },
            "graft-test-stop").start()
          // resume consuming: the bounded drain must let the stream finish —
          // the chunked terminator proves the body completed, never cut
          val rest = in.readAllBytes()
          val tail = new String(rest.takeRight(16),
            java.nio.charset.StandardCharsets.UTF_8)
          assert(tail.endsWith("0\r\n\r\n"), s"chunked body truncated: ...$tail")
          assert(stopDone.await(30, java.util.concurrent.TimeUnit.SECONDS),
            "stop() did not return after the stream drained")
        } finally sock.close()
      } finally if (stopDone.getCount > 0) wired.stop()
    }
  }

  test("wire() fails loudly on inconsistent conf") {
    // no data root at all
    val e1 = intercept[IllegalArgumentException] { ServerMain.wire(spark) }
    assert(e1.getMessage.contains("spark.graft.server.data"), e1.getMessage)
    // a started loop needs a store
    withConf(
      "spark.graft.server.data" -> "/root/testdata/sf0.001",
      "spark.graft.retention.periodMs" -> "1000") {
      val e2 = intercept[IllegalArgumentException] { ServerMain.wire(spark) }
      assert(e2.getMessage.contains("server.store"), e2.getMessage)
    }
    // ...and rules
    val root = Files.createTempDirectory("graft-srvmain2").toString
    withConf(
      "spark.graft.server.store" -> root,
      "spark.graft.retention.periodMs" -> "1000") {
      val e3 = intercept[IllegalArgumentException] { ServerMain.wire(spark) }
      assert(e3.getMessage.contains("retention.rules"), e3.getMessage)
    }
    // static-only wiring is fine and carries no task/retention surface.
    // wire() binds the HTTP listener, so stop it even though it was never
    // started (ADVICE r16: the unclosed socket leaked for the test JVM)
    withConf("spark.graft.server.data" -> "/root/testdata/sf0.001",
      "spark.graft.server.port" -> "0") {
      val wired = ServerMain.wire(spark)
      try {
        assert(wired.tasks.isEmpty && wired.retention.isEmpty)
        assert(wired.catalog.datasourceNames.contains("events") &&
          wired.catalog.datasourceNames.contains("events_mv"))
      } finally wired.stop()
    }
  }

  test("every runnable main builds its session through Sessions") {
    // one conf set for the bench, the oracle dump, the rehearsals and the
    // probes: a second builder site is where their confs drift apart
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith("graft/tools/Sessions.scala")))
    val offenders = for {
      f <- files if !f.endsWith("graft/tools/Sessions.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if builderCall.findFirstIn(code).isDefined
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(offenders.isEmpty,
      s"SparkSession.builder() outside graft.tools.Sessions: ${offenders.mkString(", ")}")
  }

  test("every SegmentStore mutation commits through the one commit function") {
    // lock → flip → retire has one home: a mutation that took its own chunk
    // locks or flipped the manifest itself would skip the retire step that
    // every overshadowed version must pass through
    val lines = Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/store/SegmentStore.scala")).asScala.toList
    val start = lines.indexWhere(_.contains("private def commit("))
    assert(start >= 0, "SegmentStore has no commit function")
    // commit's body ends at the next class-member-level line
    val end = lines.indexWhere(_.matches("  \\S.*"), start + 1)
    for (name <- Seq("withChunkLocks", "updateManifest", "deleteUnreferenced")) {
      val calls = for {
        (line, i) <- lines.zipWithIndex
        code = line.trim
        if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
        if code.contains(name + "(") && !code.contains("def " + name)
      } yield i
      assert(calls.size == 1 && calls.forall(i => i > start && i < end),
        s"$name( call sites outside commit: ${calls.map(_ + 1).mkString(", ")}")
    }
  }

  test("the partial merge evaluates the planner's expressions, not mirrors") {
    // post-aggregator, having and ranking semantics live only in Compilers
    // and QueryPlanner: a case over their specs, or a hand-built cast, in
    // PartialMerge is a second definition that can drift from the planner
    val mirror = ("case\\s+(\\w+\\s*:\\s*)?(PostAggregator|HavingSpec|TopNMetricSpec)\\." +
      "|import\\s+.*\\b(PostAggregator|HavingSpec|TopNMetricSpec)\\._" +
      "|\\bCast\\(").r
    val lines = Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/engine/PartialMerge.scala")).asScala
    val offenders = for {
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if mirror.findFirstIn(code).isDefined
    } yield s"PartialMerge.scala:${i + 1}: $code"
    assert(offenders.isEmpty, s"hand mirrors in PartialMerge: ${offenders.mkString("; ")}")
  }

  test("one rollup layout: SegmentStore.Rollup alone builds rollup rows") {
    // batch write, the merge task and streaming windowedRollup share one
    // builder; a second place that names the stored count or compiles
    // stored metrics is a second rollup layout, and a streaming window
    // grouped outside the builder buckets apart from granularityCol
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val store = "graft/store/SegmentStore.scala"
    val lines = Files.readAllLines(root.resolve(store)).asScala.toList
    val start = lines.indexWhere(_.contains("private[graft] object Rollup {"))
    assert(start >= 0, "SegmentStore has no Rollup builder")
    val end = lines.indexWhere(_.matches("  }"), start + 1)
    val outside = for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if code.contains("\"__rollup_count\"") || code.contains("storedMetricCol(")
      if rel != store || i <= start || i >= end
    } yield s"$rel:${i + 1}"
    assert(outside.isEmpty, s"rollup layout outside SegmentStore.Rollup: ${outside.mkString(", ")}")
    val windowed = for {
      f <- files if root.relativize(f).toString.startsWith("graft/streaming/")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if "\\bwindow\\s*\\(".r.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(windowed.isEmpty, s"streaming code groups by its own window: ${windowed.mkString(", ")}")
  }

  test("one cardinality sketch: no second HLL layout under src/main") {
    // rollup storage, the hllpp_* functions and cached partials share
    // Hllpp's words; a second register layout is where a rollup's answer
    // and the raw rows' approx_count_distinct drift apart
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val texts = files.map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
    val legacy = for {
      (f, text) <- texts
      (line, i) <- text.linesIterator.zipWithIndex
      if line.contains("hll11") || line.contains("object Hll ")
    } yield s"$f:${i + 1}"
    assert(legacy.isEmpty, s"the p = 11 sketch is back: ${legacy.mkString(", ")}")
    val hll = "(?i)hyperloglog|\\bhll|numberOfLeadingZeros".r
    val aggregates = for {
      (f, text) <- texts if hll.findFirstIn(text).isDefined
      m <- "extends\\s+TypedImperativeAggregate".r.findAllMatchIn(text)
    } yield f
    assert(aggregates == List("graft/functions/HllppSketch.scala"),
      s"HLL-building TypedImperativeAggregates: ${aggregates.mkString(", ")}")
  }
}
