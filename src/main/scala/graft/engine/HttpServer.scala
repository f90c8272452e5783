package graft.engine

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer => JdkHttpServer}
import graft.ingest.TaskService

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Minimal HTTP layer over the engine — the reference's query-service REST
  * surface (reference `query/query-module-overview.md:3-6,55-59`;
  * `arch/indexing-service/indexing-service-submit-task.md:10`):
  *
  *   POST   /druid/v2            JSON query → Druid-shaped JSON results
  *   DELETE /druid/v2/{queryId}  cancel a running query
  *   POST   /druid/indexer/v1/task   submit an ingestion task
  *   GET    /druid/indexer/v1/task/{id}/status
  *
  * Built on the JDK's HttpServer (zero extra dependencies); errors surface
  * as HTTP 500 + the documented `{error, errorMessage, errorClass, host}`
  * body.
  */
class HttpServer(engine: Engine, tasks: Option[TaskService] = None, port: Int = 0,
    streamCap: Int = 12,
    retention: Option[graft.ingest.RetentionService] = None,
    host: String = "127.0.0.1") {

  private val server = JdkHttpServer.create(new InetSocketAddress(host, port), 0)

  // concurrent handlers: without an executor everything runs on the single
  // dispatcher thread, so a long streaming response would block every other
  // request — including DELETE /druid/v2/{id}, making HTTP cancellation of
  // an in-flight query impossible. BOUNDED pool: an unbounded one would let
  // a burst of slow streams spawn a thread (and a driver-side result
  // consumer) per request with no backpressure.
  private def namedPool(size: Int, prefix: String) =
    java.util.concurrent.Executors.newFixedThreadPool(size,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  server.setExecutor(namedPool(16, "graft-http"))

  // streaming responses are capped BELOW the pool size: the JDK server has
  // one executor for every context, so 16 concurrent long-running streams
  // would occupy all worker threads and the DELETE that cancels them (or a
  // metrics probe) would queue behind the very requests it needs to act
  // on. Streams past the cap get an immediate 429 (upstream Druid's status
  // for QueryCapacityExceededException — a documented deviation from the
  // reference's five-500s error table, which predates per-code statuses)
  // rather than silently joining that queue.
  private val streamPermits = new java.util.concurrent.Semaphore(streamCap)

  private def capacityExceeded(ex: HttpExchange): Unit =
    respond(ex, 429, jsonObj("error" -> "Query capacity exceeded",
      "errorMessage" -> "too many concurrent streaming queries",
      "errorClass" -> "QueryCapacityExceededException"))

  /** actual bound port (useful with port=0) */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Build a JSON object body via Jackson — never by string interpolation:
    * queryIds / task ids / exception messages may contain quotes and would
    * otherwise yield malformed JSON. */
  private def jsonObj(fields: (String, String)*): String = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Caller principal for the AUTHORIZING lifecycle step (reference
    * `query/query-internal-procedure.md:68-96`): the `Authorization`
    * header, resolved through the engine's token map when
    * `spark.graft.auth.tokens` is armed (valid token → principal, anything
    * else → 403) and forwarded verbatim otherwise — the engine's
    * `QueryAuthorizer` decides what it means. Absent header = anonymous. */
  private def identityOf(ex: HttpExchange): Option[String] =
    engine.resolveTransportIdentity(
      Option(ex.getRequestHeaders.getFirst("Authorization")))

  /** Serve a prepared query: a 304 when the client's If-None-Match names
    * its etag, else the result — chunked when `stream`, buffered otherwise.
    * The prepared request was authorized before this point, so the
    * conditional-request shortcut is never open to a denied caller. */
  private def serve(ex: HttpExchange, prep: engine.Prepared, stream: Boolean): Unit =
    if (Option(ex.getRequestHeaders.getFirst("If-None-Match")).contains(prep.etag)) {
      ex.getResponseHeaders.add("ETag", prep.etag)
      ex.sendResponseHeaders(304, -1)
      ex.close()
    } else if (!stream) {
      val body = engine.execute(prep)
      ex.getResponseHeaders.add("ETag", prep.etag)
      respond(ex, 200, body)
    } else if (!streamPermits.tryAcquire()) capacityExceeded(ex)
    else try {
      // chunked transfer: result chunks flushed as the query executes
      // partition-at-a-time — a big scan never sits in server memory. The
      // stream (and its plan) is created BEFORE committing the 200, so
      // plan-time failures keep the 5-code error contract; a mid-stream
      // failure after chunks have been flushed can only truncate the body
      // (inherent to chunked encoding).
      val chunks = engine.open(prep, populateFragments = false)
      ex.getResponseHeaders.add("ETag", prep.etag)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0L) // length 0 → chunked encoding
      val os = ex.getResponseBody
      // a client disconnect throws from os.write — OUTSIDE the iterator's
      // next() — so the stream's own cleanup never runs; close() cancels
      // the abandoned query + its timeout watchdog, and
      // clearThreadJobState drops the tag so this pooled thread cannot
      // leak it into its next request
      try chunks.foreach(s => os.write(s.getBytes(StandardCharsets.UTF_8)))
      finally {
        try os.close()
        finally {
          chunks match {
            case c: AutoCloseable =>
              try c.close() catch { case _: Exception => () }
            case _ =>
          }
          engine.clearThreadJobState()
        }
      }
    } finally streamPermits.release()

  server.createContext("/druid/v2", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        // token AUTHENTICATION gates the WHOLE surface when armed — not
        // just the query POSTs: cancellation (destructive by queryId),
        // and the metrics endpoint (per-identity audit counters) must not
        // stay anonymous behind an armed token map. No-op when unarmed.
        val identity = identityOf(ex)
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("POST", "/druid/v2/sql") | ("POST", "/druid/v2/sql/") =>
            // reference SQL endpoint: {"query": "...", "datasources": [...],
            // "context": {...}} → JSON array of row objects, ALWAYS chunked:
            // the rows stream off toLocalIterator while the statement
            // executes, so a big SELECT * is O(chunk) on the driver.
            // Planning (and SQL analysis errors) happen BEFORE the 200 is
            // committed, so bad statements keep their error status. The
            // SQL etag keys on (statement, datasource version tokens), so
            // 304s stay valid exactly until a referenced datasource changes.
            val node = mapper.readTree(readBody(ex))
            val sql = Option(node.get("query")).map(_.asText()).getOrElse(
              throw new IllegalArgumentException("missing 'query' field"))
            val dss = Option(node.get("datasources")).map { arr =>
              (0 until arr.size()).map(arr.get(_).asText())
            }.getOrElse(Seq.empty)
            serve(ex, engine.prepareSql(sql, dss,
              graft.model.QueryJson.context(node), identity), stream = true)
          case ("POST", "/druid/v2") | ("POST", "/druid/v2/") =>
            // etag / If-None-Match (reference query/query-internal-procedure.md:43-47)
            val prep = engine.prepare(readBody(ex), identity)
            serve(ex, prep, stream = prep.context.get("stream").exists(_.toBoolean))
          case ("GET", "/druid/v2/metrics") =>
            // metric families (reference `TOC.md:50-58`): the query ring
            // (query/time family — queryId, type, wall millis, success,
            // cache hit, result bytes; newest last), cache hit/miss
            // counters, and per-task ingest metrics (rows/bytes/duration)
            val root = mapper.createObjectNode()
            val arr = root.putArray("queries")
            engine.metrics.foreach { m =>
              val o = arr.addObject()
              o.put("queryId", m.queryId); o.put("queryType", m.queryType)
              o.put("millis", m.millis); o.put("success", m.success)
              o.put("cached", m.cached); o.put("bytes", m.bytes)
              o.put("segmentHits", m.segmentHits)
              o.put("segmentMisses", m.segmentMisses)
              m.identity.foreach(o.put("identity", _))
            }
            // per-identity audit counters (reference query monitoring
            // family, `TOC.md:51`): cumulative queries + AUTHORIZING
            // denies per caller principal — deny spikes are the signal an
            // operator alerts on
            val iarr = root.putArray("identities")
            engine.identityStats.foreach { case (id, q, d) =>
              val o = iarr.addObject()
              o.put("identity", id); o.put("queries", q); o.put("denied", d)
            }
            val cache = root.putObject("cache")
            cache.put("backend", engine.cacheBackendName)
            engine.cacheStats.toSeq.sortBy(_._1).foreach { case (k, v) => cache.put(k, v) }
            // segment family: per-datasource segment count + live rows from
            // the manifest timeline (driver-side, no Spark job)
            val darr = root.putArray("datasources")
            engine.segmentStats.foreach { case (n, segs, rows) =>
              val o = darr.addObject()
              o.put("datasource", n); o.put("segments", segs); o.put("rows", rows)
            }
            // JVM family: the numbers an operator checks before anything else
            val rt = Runtime.getRuntime
            val jvm = root.putObject("jvm")
            jvm.put("heapUsedBytes", rt.totalMemory() - rt.freeMemory())
            jvm.put("heapMaxBytes", rt.maxMemory())
            jvm.put("availableProcessors", rt.availableProcessors())
            val tarr = root.putArray("tasks")
            tasks.toSeq.flatMap(_.statusList).sortBy(_.id).foreach { st =>
              val o = tarr.addObject()
              o.put("id", st.id); o.put("status", st.state)
              st.rows.foreach(o.put("rows", _))
              st.bytes.foreach(o.put("bytes", _))
              o.put("durationMs", st.durationMs)
            }
            // retention family (r15 — the Coordinator's rules loop):
            // cycle/kill/archive/skip/failure counters; the emitted tasks
            // themselves appear in the task list above
            retention.foreach { r =>
              val o = root.putObject("retention")
              r.stats.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
            }
            // LSH family: the dedup/near-dup observability ring — candidate
            // estimates and bucket-cap truncation reports (capture
            // degradation is detectable here instead of silent)
            val larr = root.putArray("lsh")
            graft.ext.Dedup.lshStats.foreach { s =>
              val o = larr.addObject()
              o.put("kind", s.kind); o.put("buckets", s.buckets)
              o.put("overflowBuckets", s.overflowBuckets)
              o.put("droppedMembers", s.droppedMembers)
              o.put("maxBucket", s.maxBucket)
              o.put("estCandidates", s.estCandidates)
              // the multiband auto-switch decision (first-class fields)
              s.armWide.foreach { w =>
                o.put("armWide", w)
                o.put("armCorpusDocs", s.armCorpusDocs)
                o.put("armThresholdDocs", s.armThresholdDocs)
              }
            }
            respond(ex, 200, mapper.writeValueAsString(root))
          case ("DELETE", path) if path.startsWith("/druid/v2/") =>
            val queryId = path.stripPrefix("/druid/v2/")
            engine.cancel(queryId)
            respond(ex, 202, jsonObj("cancelled" -> queryId))
          case _ => respond(ex, 405, """{"error":"unsupported method"}""")
        }
      } catch {
        // AUTHORIZING deny → 403 with the documented error shape
        // (reference `query/query-internal-procedure.md:71-74`)
        case e: Engine.QueryError if e.errorClass == "ForbiddenException" =>
          respond(ex, 403, e.toJson)
        case e: Engine.QueryError => respond(ex, 500, e.toJson)
        case e @ (_: IllegalArgumentException |
                  _: com.fasterxml.jackson.core.JacksonException) =>
          // malformed request body / missing fields: client error, not 500
          respond(ex, 400, jsonObj("error" -> "Bad request",
            "errorMessage" -> String.valueOf(e.getMessage)))
        case e: Exception => respond(ex, 500, Engine.QueryError.unknown(e).toJson)
      }
  })

  server.createContext("/druid/indexer/v1/task", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        // same token gate as the query surface: task submission mutates
        // datasources and must not stay anonymous behind an armed map
        identityOf(ex): Unit
        val svc = tasks.getOrElse(
          throw new IllegalStateException("no TaskService configured"))
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("POST", "/druid/indexer/v1/task") =>
            val id = svc.submit(readBody(ex))
            respond(ex, 200, jsonObj("task" -> id))
          case ("GET", path) if path.endsWith("/status") =>
            val id = path.stripPrefix("/druid/indexer/v1/task/").stripSuffix("/status")
            svc.status(id) match {
              case Some(st) =>
                val o = mapper.createObjectNode()
                o.put("task", st.id)
                val s = o.putObject("status")
                s.put("id", st.id); s.put("status", st.state)
                respond(ex, 200, mapper.writeValueAsString(o))
              case None => respond(ex, 404, jsonObj("error" -> s"unknown task '$id'"))
            }
          case _ => respond(ex, 405, """{"error":"unsupported method"}""")
        }
      } catch {
        case e: Engine.QueryError if e.errorClass == "ForbiddenException" =>
          respond(ex, 403, e.toJson)
        case e: IllegalStateException if e.getMessage.contains("already exists") =>
          respond(ex, 400, jsonObj("error" -> e.getMessage))
        case e: Exception => respond(ex, 500, Engine.QueryError.unknown(e).toJson)
      }
  })

  def start(): Unit = server.start()

  /** Close the listening socket (no NEW exchanges), then block up to
    * `graceSec` seconds for in-flight exchange handlers — chunked
    * streaming responses and synchronous ingest-task submits — to finish
    * before cutting them (JDK HttpServer stop semantics). A stream still
    * writing past the grace gets its socket closed, which surfaces to the
    * handler as a write failure and runs the same cleanup path as a
    * client disconnect (query-job cancellation + thread-state clear), so
    * a cut never leaks running Spark jobs. */
  def stop(graceSec: Int): Unit = server.stop(graceSec)

  /** Immediate stop — in-flight exchanges are cut, with the disconnect
    * cleanup path reclaiming their jobs. Servers that should DRAIN on
    * shutdown (ServerMain) call `stop(graceSec)`. */
  def stop(): Unit = stop(0)
}
