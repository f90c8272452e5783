package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.model._
import graft.plan.QueryPlanner
import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Engine façade — the Spark-native equivalent of Druid's single query
  * endpoint `POST /druid/v2` (reference `query/query-module-overview.md:3-6`,
  * `query/query-internal-procedure.md:13-29`):
  *
  *   json → Query ADT → QueryPlanner → DataFrame → Catalyst → result rows
  *        → Druid-shaped JSON (`[{timestamp, result}]` per query type).
  *
  * Cancellation mirrors `DELETE /druid/v2/{id}` by running every query in a
  * Spark job group keyed by queryId (`query/query-module-overview.md:55-59`);
  * the error model mirrors `query/query-module-overview.md:60-87`.
  */
class Engine(spark: SparkSession, catalog: Catalog,
    authorizer: QueryAuthorizer = QueryAuthorizer.AllowAll,
    cacheBackend: Option[CacheBackend] = None) {

  import Engine._

  // an explicitly supplied authorizer wins; the default resolves through
  // `spark.graft.auth.acl` so a deployment can turn on the AUTHORIZING
  // step with configuration alone (absent conf = allow-all)
  private val effectiveAuthorizer: QueryAuthorizer =
    if (authorizer ne QueryAuthorizer.AllowAll) authorizer
    else QueryAuthorizer.fromConf(spark)

  // token-mapped transport authentication (`spark.graft.auth.tokens`):
  // when armed, the HTTP layer resolves Authorization headers through this
  // secret → principal map and rejects everything else — see [[AuthTokens]]
  private val authTokens: Option[Map[String, String]] = AuthTokens.fromConf(spark)
  if (authTokens.isEmpty &&
      (effectiveAuthorizer ne QueryAuthorizer.AllowAll)) {
    // an ACL without an authenticator trusts client-asserted principals:
    // deployable (a fronting proxy may authenticate), but worth a loud note
    org.slf4j.LoggerFactory.getLogger(classOf[Engine]).warn(
      "an authorizer is armed but spark.graft.auth.tokens is not set: " +
        "identities are CLIENT-ASSERTED unless a fronting authenticator " +
        "rewrites the Authorization header to a principal name")
  }
  if (authTokens.isDefined) {
    // the engine's HTTP surface is plaintext: shared secrets transit in
    // the clear unless a fronting TLS terminator covers the hop, and they
    // sit in Spark conf (visible to conf dumps / the Spark UI environment
    // page) — name both so the deployment posture is a decision, not an
    // accident (r14 verdict #6)
    org.slf4j.LoggerFactory.getLogger(classOf[Engine]).warn(
      "spark.graft.auth.tokens is armed: tokens transit PLAINTEXT HTTP " +
        "(front this server with a TLS terminator) and are readable from " +
        "Spark conf dumps — treat the conf as secret material")
  }

  /** Transport-layer identity resolution: with [[AuthTokens]] armed, a
    * valid token resolves to its principal and anything else — absent,
    * malformed, unknown — raises the documented 403 shape (and counts
    * under the fixed `(invalid-token)` audit key, never the presented
    * secret). Unarmed, the header forwards verbatim (the documented
    * fronting-authenticator contract). */
  def resolveTransportIdentity(header: Option[String]): Option[String] =
    authTokens match {
      case None => header
      case Some(tokens) =>
        // constant-time membership: a HashMap lookup short-circuits on the
        // first differing byte (a timing side channel over a shared
        // secret); MessageDigest.isEqual compares full length regardless
        // (r14 advice). The scan is over the CONFIGURED token count — a
        // handful — so the cost is nil.
        header.map(AuthTokens.tokenOf).flatMap { presented =>
          val pb = presented.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          tokens.collectFirst {
            case (t, principal) if java.security.MessageDigest.isEqual(
              t.getBytes(java.nio.charset.StandardCharsets.UTF_8), pb) =>
              principal
          }
        } match {
          case some @ Some(_) => some
          case None =>
            countersFor(Some("(invalid-token)"))._2.incrementAndGet()
            throw QueryError("Forbidden",
              "invalid or missing authorization token", "ForbiddenException")
        }
    }

  // Druid comparisons/casts are lenient (no-match, not error) — ANSI off.
  spark.conf.set("spark.sql.ansi.enabled", "false")
  // Druid is UTC-native: granularity bucketing, the zero-fill spine join
  // and timeFormat extraction all assume session-tz = UTC. An externally
  // built session in a local zone would silently mis-join every spine
  // bucket (all-zero timeseries), so the engine enforces it.
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  // The SQL surface addresses datasources by flat name only. With Spark's
  // default runSQLOnFiles=true, `SELECT * FROM parquet.`/any/path`` reads
  // arbitrary readable files — bypassing the per-datasource AUTHORIZING
  // step entirely (a caller denied `secret` could read its segment parquet
  // by path). Disabled for the engine's session; the transport path ALSO
  // rejects multipart relations outright (defense in depth — this conf is
  // session-mutable, the parse-time rejection is not).
  spark.conf.set("spark.sql.runSQLOnFiles", "false")

  /** Parse + plan without executing — the logical surface. */
  def plan(json: String): DataFrame =
    QueryPlanner.plan(spark, QueryJson.parseQuery(json), catalog)

  def plan(q: Query): DataFrame = QueryPlanner.plan(spark, q, catalog)

  /** (query json, datasource versions) → cached result JSON. LRU, keyed so
    * any segment change invalidates (reference
    * `query/query-internal-procedure.md:43-47`, context `useCache`/
    * `populateCache` `TOC.md:39`). Evicts by accumulated BYTES, not entry
    * count — entries are whole buffered result strings, so a count bound
    * would let a handful of large results pressure driver memory. */
  private val resultCacheMaxBytes: Long =
    spark.conf.getOption("spark.graft.resultCache.maxBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
  // per-(segment, query) fragment caching (SegmentResultCache): on by
  // default
  private val segmentCacheEnabled: Boolean =
    spark.conf.getOption("spark.graft.segmentCache.enabled")
      .forall(_.toBoolean)
  // widest query the fragment cache will decompose: past this many chunk
  // slices, per-chunk planning/scheduling overhead and LRU churn from
  // fragment population outweigh the moving-window benefit — the query
  // falls back to the single pruned whole-query plan (and its cache)
  private val segmentCacheMaxSlices: Int =
    spark.conf.getOption("spark.graft.segmentCache.maxSlices")
      .map(_.toInt).getOrElse(128)
  // bound on the groups a serve-time partial MERGE may materialize on the
  // driver (groupBy/topN post-merge evaluation): past it the merge throws
  // PartialMerge.Overflow and the query falls back to the whole-query plan
  // — a high-cardinality dimension must not balloon driver memory. Sized
  // like the partial-bucket bound: far past any dashboard shape, far under
  // the driver's buffered-result ceiling.
  private val segmentCacheMaxPartialGroups: Int =
    spark.conf.getOption("spark.graft.segmentCache.maxPartialGroups")
      .map(_.toInt).getOrElse(100000)
  // the cache STORAGE tier (VERDICT r12 #2): an explicit backend wins;
  // the default resolves through `spark.graft.resultCache.backend` —
  // absent conf = the original byte-budgeted in-heap LRU
  private val resultStore: CacheBackend = cacheBackend.getOrElse(
    CacheBackend.fromConf(spark, resultCacheMaxBytes))

  private def cachePut(key: String, value: String): Unit =
    resultStore.put(key, value)

  // cache observability (reference metric families, `TOC.md:50-58`): a cache
  // whose hit rate cannot be observed cannot be sized — counters are the
  // first thing an operator asks for. Incremented on the query path only
  // when the cache is actually consulted (useCache=false touches neither).
  private val resultCacheHits = new java.util.concurrent.atomic.AtomicLong
  private val resultCacheMisses = new java.util.concurrent.atomic.AtomicLong
  private val lookupCacheHits = new java.util.concurrent.atomic.AtomicLong
  private val lookupCacheMisses = new java.util.concurrent.atomic.AtomicLong
  private val segmentCacheHits = new java.util.concurrent.atomic.AtomicLong
  private val segmentCacheMisses = new java.util.concurrent.atomic.AtomicLong
  // cold fragments served by AWAITING another query's in-flight compute
  // instead of duplicating it (the single-flight seam, VERDICT r12 #6)
  private val segmentCacheCoalesced = new java.util.concurrent.atomic.AtomicLong
  // serve-time partial merges abandoned at the maxPartialGroups bound
  // (whole-plan fallback): a persistently climbing value says this
  // datasource's dimension cardinality outgrew the partial path — raise
  // the bound or accept whole-plan latency (observable, never silent)
  private val segmentCachePartialOverflows =
    new java.util.concurrent.atomic.AtomicLong
  // serve-time merges abandoned because an evaluation could not reproduce
  // the whole plan (FilterH analysis/eval, a value conversion, a binding
  // limit cutting a tie): each one is fragment compute + merge work done
  // and thrown away before the whole plan recomputes — a climbing value
  // says some dashboard's shape silently pays double (observable here,
  // r15 review finding)
  private val segmentCacheNotServeable =
    new java.util.concurrent.atomic.AtomicLong
  // serve-time merges that DIED (torn cached fragment → parse error):
  // degraded to a miss per the lossy-never-wrong contract, but a climbing
  // value says a cache tier is serving corrupt bytes — investigate it
  private val segmentCacheMergeErrors =
    new java.util.concurrent.atomic.AtomicLong

  /** Cache observability, surfaced at `GET /druid/v2/metrics`: the
    * engine's hit/miss counters (lookup-path semantics, identical across
    * backends) plus the storage tier's own entries/bytes/evictions. */
  def cacheStats: Map[String, Long] = {
    val s = resultStore.stats
    Map(
      "resultCacheHits" -> resultCacheHits.get,
      "resultCacheMisses" -> resultCacheMisses.get,
      "resultCacheEntries" -> s.getOrElse("entries", 0L),
      "resultCacheBytes" -> s.getOrElse("bytes", 0L),
      "resultCacheEvictions" -> s.getOrElse("evictions", 0L),
      "lookupCacheHits" -> lookupCacheHits.get,
      "lookupCacheMisses" -> lookupCacheMisses.get,
      "segmentCacheHits" -> segmentCacheHits.get,
      "segmentCacheMisses" -> segmentCacheMisses.get,
      "segmentCacheCoalesced" -> segmentCacheCoalesced.get,
      "segmentCachePartialOverflows" -> segmentCachePartialOverflows.get,
      "segmentCacheNotServeable" -> segmentCacheNotServeable.get,
      "segmentCacheMergeErrors" -> segmentCacheMergeErrors.get)
  }

  /** The active storage tier's name (metrics endpoint field). */
  def cacheBackendName: String = resultStore.name

  private def cacheLookup(key: String): Option[String] = {
    val hit = cachePeek(key)
    if (hit.isDefined) resultCacheHits.incrementAndGet()
    else resultCacheMisses.incrementAndGet()
    hit
  }

  /** Counter-neutral lookup (the segment-cache path keeps its own
    * hit/miss accounting). */
  private def cachePeek(key: String): Option[String] = resultStore.get(key)

  private def datasourceNames(ds: DataSource): Seq[String] = ds match {
    case DataSource.Table(n)   => Seq(n)
    case DataSource.Union(ns)  => ns
    case DataSource.QueryD(q0) => datasourceNames(q0.dataSource)
  }

  /** Cache key / HTTP etag for a query against current segment versions.
    * SHA-256 (truncated to 128 bits) — a 32-bit hashCode pair collides at
    * birthday scale ~2^16 cached queries and would serve a WRONG result. */
  def etag(json: String, query: Query): String = {
    val versions = datasourceNames(query.dataSource)
      .map(n => s"$n=${catalog.versionToken(n)}").mkString(";")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte) // unambiguous separator
    md.update(versions.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** The AUTHORIZING lifecycle step (reference
    * `query/query-internal-procedure.md:68-96`): per-datasource READ check
    * BEFORE execution or any cache read; a deny records a failed metric
    * (the reference logs denied queries too) and raises the documented
    * `ForbiddenException` shape, which the HTTP layer maps to 403. */
  private def authorize(queryType: String, queryId: String,
      identity: Option[String], names: Seq[String]): Unit =
    if (!effectiveAuthorizer.authorize(identity, names)) {
      countersFor(identity)._2.incrementAndGet() // per-identity deny count
      record(QueryMetric(queryId, queryType, 0L,
        success = false, cached = false, bytes = 0L, identity = identity))
      throw QueryError("Forbidden",
        s"READ denied on datasource(s) [${names.mkString(", ")}]" +
          identity.fold(" for anonymous caller")(id => s" for '$id'"),
        "ForbiddenException")
    }

  /** One request, prepared once (the lifecycle's INITIALIZE and AUTHORIZE
    * steps, reference `query/query-internal-procedure.md:68-96`): the
    * query is parsed, its queryId assigned, the caller authorized, the
    * etag computed and the context flags read exactly once, then handed to
    * the HTTP layer (ETag / If-None-Match) and on to execution. The
    * authorization check precedes the etag, so a denied caller cannot use
    * 304s to confirm a datasource's existence or the freshness of its
    * segments.
    * `fragments` is the per-(segment, query) serve `(useCache,
    * populateFragments, hits, misses) => merged result`; `compute` plans
    * and encodes the whole query as a chunk stream. */
  private[engine] final class Prepared(val queryType: String,
      val queryId: String, identity: Option[String], val etag: String,
      val context: Map[String, String],
      val fragments: (Boolean, Boolean, AtomicInteger, AtomicInteger) => Option[String],
      val compute: () => Iterator[String]) {
    val timeoutMs: Option[Long] = Engine.parseTimeout(context)
    val useCache: Boolean = context.get("useCache").forall(_.toBoolean)
    val populateCache: Boolean = context.get("populateCache").forall(_.toBoolean)
    private val recorded = new java.util.concurrent.atomic.AtomicBoolean

    /** The LOGGING step: the request's one metric row — the first outcome
      * reported wins (a buffered timeout is reported by the waiting caller
      * while the abandoned worker may still finish later). */
    def record(millis: Long, success: Boolean, cached: Boolean = false,
        bytes: Long = 0L, segmentHits: Int = 0, segmentMisses: Int = 0): Unit =
      if (recorded.compareAndSet(false, true))
        Engine.this.record(QueryMetric(queryId, queryType, millis, success,
          cached, bytes, segmentHits, segmentMisses, identity))

    def timeoutError: QueryError = QueryError("Query timeout",
      s"query $queryId timed out after ${timeoutMs.getOrElse(0L)}ms",
      "QueryTimeoutException")
  }

  /** Prepare a native JSON query. Parse failures propagate as thrown (the
    * HTTP layer maps a malformed body to 400); in-process callers go
    * through [[prepareChecked]]. */
  private[engine] def prepare(json: String, identity: Option[String]): Prepared = {
    val query = QueryJson.parseQuery(json)
    val queryType = query.getClass.getSimpleName
    val queryId = query.context.getOrElse("queryId", UUID.randomUUID().toString)
    authorize(queryType, queryId, identity, datasourceNames(query.dataSource))
    // groupBy resource cap → the documented "Resource limit exceeded" error
    // (`query/query-module-overview.md:86`). Enforced inside the encode
    // iteration — one execution, no probe job.
    val maxResults = query.context.get("maxResults").flatMap(_.toIntOption)
    new Prepared(queryType, queryId, identity, etag(json, query), query.context,
      runSegmentCached(json, query, _, _, _, _),
      () => ResultEncoder.encodeStream(query, QueryPlanner.plan(spark, query, catalog),
        maxResults, segmentIdFor = segmentPagingMapper(query)))
  }

  private def prepareChecked(json: String, identity: Option[String]): Prepared =
    try prepare(json, identity)
    catch {
      case qe: QueryError => throw qe
      case NonFatal(e) => throw QueryError.unknown(e)
    }

  /** Execute a JSON query; returns the result as a single JSON string in the
    * query type's Druid result shape. Honors context `timeout` (millis),
    * `queryId` (cancellation key) and `useCache`/`populateCache`.
    * `identity` is the transport-extracted caller principal for the
    * AUTHORIZING step (None = anonymous). */
  def executeJson(json: String, identity: Option[String] = None): String =
    execute(prepareChecked(json, identity))

  /** Streaming variant of executeJson: the result arrives as JSON chunks
    * while the DataFrame executes partition-at-a-time — a large scan/select
    * never materializes on the driver (reference scan's no-materialization
    * property, `query/query-internal-procedure.md:152-189`). A prior cached
    * result (whole-query, or a fragment-COMPLETE per-segment hit) is served
    * as one chunk with zero Spark jobs; population happens on a successful
    * full drain with bounded accumulation, so big scans still never
    * materialize whole on the driver. Cold segment FRAGMENTS are not
    * populated here (their boundaries are invisible in the merged stream;
    * the buffered path populates them). Errors raised mid-stream propagate
    * from the iterator in the documented [[QueryError]] shape. */
  def executeJsonStream(json: String,
      identity: Option[String] = None): Iterator[String] =
    open(prepareChecked(json, identity), populateFragments = false)

  /** Buffered execution of a prepared request: the stream of [[open]],
    * drained. Without a timeout it drains on the caller's thread. With one,
    * two mechanisms, both needed: the drain runs on a worker +
    * fut.get(ms), so the CLIENT gets QueryTimeoutException at the deadline
    * even when the Spark job ignores its kill flag (whole-stage-codegen
    * loops never check TaskContext.isInterrupted — an in-thread wait would
    * block for the job's natural runtime), and the stream's fixed-delay
    * re-cancel watchdog makes the job itself actually die. The watchdog
    * outlives the CLIENT deadline on purpose — it keeps cancelling until
    * the worker's stream finishes; disarming it when fut.get times out
    * would resurrect the late-started-job leak. */
  private[engine] def execute(p: Prepared): String = p.timeoutMs match {
    case None => open(p, populateFragments = true).mkString
    case Some(ms) =>
      val t0 = System.nanoTime()
      val fut = Engine.timedQueryPool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = open(p, populateFragments = true).mkString
      })
      try fut.get(ms, TimeUnit.MILLISECONDS)
      catch {
        // a QueryError raised inside the worker (the maxResults cap, the
        // timeout itself) keeps its documented error code
        case e: java.util.concurrent.ExecutionException if e.getCause != null =>
          throw e.getCause
        case e @ (_: TimeoutException | _: InterruptedException) =>
          cancel(p.queryId) // immediate cancel; the watchdog keeps retrying
          p.record((System.nanoTime() - t0) / 1000000L, success = false)
          throw (if (e.isInstanceOf[TimeoutException]) p.timeoutError
            else QueryError("Query interrupted", String.valueOf(e.getMessage),
              e.getClass.getName))
      } finally fut.cancel(true) // interrupt the worker if still waiting
  }

  /** The EXECUTE step shared by every request — native and SQL, buffered
    * and streamed: the whole-query cache lookup, then a [[QueryRun]]. */
  private[engine] def open(p: Prepared, populateFragments: Boolean): Iterator[String] = {
    if (p.useCache) cacheLookup(p.etag).foreach { hit =>
      p.record(0L, success = true, cached = true, bytes = hit.length.toLong)
      return Iterator.single(hit)
    }
    new QueryRun(p, populateFragments)
  }

  /** One executing request, as a chunk iterator: it sets the job group,
    * tag and scheduler pool, serves from the per-(segment, query) cache or
    * plans the whole query, and on finish — full drain, failure, timeout or
    * `close()` — records the one metric row, populates the whole-query
    * cache and clears what it set on the thread.
    *
    * `populateFragments=false` (the stream) makes the fragment serve
    * lookup-only: it serves only when EVERY slice is warm — the
    * fully-warm dashboard window with zero Spark jobs — and otherwise falls
    * through to the whole-query plan, leaving cold fragments cold.
    *
    * AutoCloseable so an ABANDONED stream (client disconnect throws from
    * the HTTP write, outside the iterator) can release its resources:
    * without close(), the fixed-delay watchdog would keep firing
    * cancel(queryId) for the life of the JVM — cancelling any future query
    * that reuses the same queryId (fixed ids are common for dashboards)
    * and accumulating immortal tasks on the scheduler. */
  private final class QueryRun(p: Prepared, populateFragments: Boolean)
      extends Iterator[String] with AutoCloseable {
    private val sc = spark.sparkContext
    private val t0 = System.nanoTime()
    // Job TAG as well as group: group cancellation does not reliably reach
    // AQE's stage-materialization jobs (observed: tasks kept running after
    // cancelJobGroup); tags propagate through SQLExecution to those jobs
    // and cancelJobsWithTag interrupts them. Stale state from an abandoned
    // stream on this thread is cleared first — otherwise a cancel of the
    // OLD queryId would kill this query. The same clearing covers a REUSED
    // timedQueryPool worker: Spark's local properties are
    // InheritableThreadLocal, cloned only at thread creation, so a recycled
    // worker still carries the query it was created under — without the
    // reset its jobs would be tagged as some finished query, its own
    // watchdog would reach nothing (the late-started-job leak), and a
    // retried DELETE of the OLD id would kill this query. Set BEFORE
    // planning, so plan-time jobs (SQL lookup collects, file listings,
    // timeBoundary probes) fall under the same cancellation umbrella.
    sc.clearJobTags()
    sc.clearJobGroup()
    sc.setJobGroup(p.queryId, s"graft query ${p.queryId}", interruptOnCancel = true)
    sc.addJobTag(Engine.jobTag(p.queryId))
    // context `priority` → scheduler pool (Druid query prioritization,
    // reference `query/query-module-overview.md:55`); takes effect when the
    // session runs the FAIR scheduler, harmless otherwise
    p.context.get("priority").foreach { pr =>
      sc.setLocalProperty("spark.scheduler.pool",
        if (pr.toIntOption.exists(_ > 0)) "graft_high" else "graft_low")
    }
    // context `timeout` (reference timeout contract,
    // `query/query-module-overview.md:83-86`): a deadline check per chunk
    // handles the fast case, and a scheduled cancel-by-tag breaks a chunk
    // computation that is BLOCKED inside a Spark job (a per-next() check
    // alone never runs while the call is stuck) — the resulting
    // cancellation is translated to QueryTimeoutException. Fixed-delay
    // re-cancel, not one-shot: cancellation only reaches RUNNING jobs, and
    // a job may be submitted (and block) after the deadline tick — a
    // later tick must still break it.
    private val deadline = p.timeoutMs.map(ms => t0 + ms * 1000000L)
    private val watchdog = p.timeoutMs.map(ms =>
      Engine.timeoutScheduler.scheduleWithFixedDelay(
        new Runnable { def run(): Unit = cancel(p.queryId) },
        ms, math.max(ms / 4, 25L), TimeUnit.MILLISECONDS))
    // per-(segment, query) counts for this query's metric row
    private val hits = new AtomicInteger
    private val misses = new AtomicInteger
    private var bytes = 0L
    private var finished = false
    // populate the whole-query cache on a SUCCESSFUL full drain: chunks
    // accumulate only while the result could still fit the cache's entry
    // bound (2 bytes a char against the byte budget, HeapLru's own rule) —
    // a result too big to store stops buffering instead of pressuring the
    // driver
    private val acc = new java.lang.StringBuilder
    private var accFits = p.populateCache
    private val inner: Iterator[String] =
      try p.fragments(p.useCache, populateFragments && p.populateCache, hits, misses)
        .fold(p.compute())(Iterator.single)
      catch { case e: Throwable if failure(e) => fail(e) }

    def hasNext: Boolean = !finished && {
      checkDeadline()
      val more = try inner.hasNext catch { case e: Throwable if failure(e) => fail(e) }
      if (!more) finish(success = true)
      more
    }

    def next(): String = {
      checkDeadline()
      val s = try inner.next() catch { case e: Throwable if failure(e) => fail(e) }
      bytes += s.length
      if (accFits) {
        if (2L * (acc.length() + s.length) <= resultCacheMaxBytes) acc.append(s)
        else { accFits = false; acc.setLength(0) }
      }
      s
    }

    def close(): Unit =
      if (!finished) {
        cancel(p.queryId) // stop the abandoned query's still-running jobs
        finish(success = false)
      }

    private def failure(e: Throwable): Boolean =
      NonFatal(e) || e.isInstanceOf[InterruptedException]

    private def checkDeadline(): Unit =
      if (deadline.exists(System.nanoTime() > _)) fail(p.timeoutError)

    /** Finish on a failure and raise it in the documented error shape. The
      * watchdog's cancel surfaces as a cancellation exception from the
      * blocked Spark job, and can beat a waiting caller's own deadline — a
      * failure at/past the deadline IS the timeout, not a client-visible
      * 'Query cancelled'. */
    private def fail(e: Throwable): Nothing = {
      val err = e match {
        case qe: QueryError => qe
        case _ if deadline.exists(System.nanoTime() > _) => p.timeoutError
        case _: InterruptedException =>
          QueryError("Query interrupted", String.valueOf(e.getMessage), e.getClass.getName)
        case _ if isCancellation(e) =>
          QueryError("Query cancelled", s"query ${p.queryId} cancelled", e.getClass.getName)
        case _ => QueryError.unknown(e)
      }
      // stop whatever the drained-so-far plan still runs
      if (err.errorClass == "QueryTimeoutException") cancel(p.queryId)
      finish(success = false)
      throw err
    }

    private def finish(success: Boolean): Unit =
      if (!finished) {
        finished = true
        watchdog.foreach(_.cancel(false))
        val millis = (System.nanoTime() - t0) / 1000000L
        if (!success) p.record(millis, success = false)
        else {
          if (accFits) cachePut(p.etag, acc.toString)
          // a fully-segment-cached result ran no Spark job — report it cached
          p.record(millis, success = true,
            cached = hits.get > 0 && misses.get == 0, bytes = bytes,
            segmentHits = hits.get, segmentMisses = misses.get)
        }
        // leave the (possibly pooled) thread clean so the tag cannot leak
        // into whatever runs on it next
        sc.setLocalProperty("spark.scheduler.pool", null)
        sc.removeJobTag(Engine.jobTag(p.queryId))
        sc.clearJobGroup()
      }
  }

  /** Per-segment pagingIdentifiers shim (reference
    * `query/query-module-overview.md:36`): for a select on a SegmentStore-
    * backed table, when the client sent Druid-shaped segment identifiers or
    * asked via context `pagingFormat=segment`, map day-chunk timestamps to
    * Druid segment ids so the encoder emits `{segmentId: offset}`. */
  private def segmentPagingMapper(query: Query): Option[Long => String] = query match {
    case sel: Query.Select =>
      val wants = sel.pagingSpec.pagingIdentifiers.keys
        .exists(QueryPlanner.SegmentPaging.isSegmentKey) ||
        sel.context.get("pagingFormat").contains("segment")
      if (!wants) None
      else sel.dataSource match {
        case DataSource.Table(n) =>
          val versionByChunk = catalog.segmentInfos(n)
            .map(i => i._1 -> i._2).toMap
          if (versionByChunk.isEmpty) None
          else Some { (dayMicros: Long) =>
            val chunk = QueryPlanner.SegmentPaging.chunkOf(dayMicros)
            QueryPlanner.SegmentPaging.segmentId(
              n, chunk, versionByChunk.getOrElse(chunk, 1))
          }
        case _ => None
      }
    case _ => None
  }

  /** Per-(segment, query) cached execution (reference
    * `query/query-internal-procedure.md:43-47`, `TOC.md:39,53`; SURVEY
    * §2.12 phase-2): when the query decomposes into per-chunk slices
    * (`SegmentResultCache`'s nesting decomposition), serve each chunk's encoded
    * fragment from the cache when its (query, chunk, version) key hits,
    * compute only the cold chunks, and merge by concatenation. A moving
    * dashboard window thus recomputes ONLY the advancing chunk — the
    * closed chunks stay warm across requests whose overall intervals (and
    * whole-query etags) differ.
    *
    * ALL cold chunks compute in ONE Spark job — a single plan over the
    * union of their sub-intervals whose encoded rows split per chunk
    * ([[ResultEncoder.encodeFragments]]) — so a fully-cold query costs
    * the same as the whole-query plan (manifest-pruned to the same
    * chunks) plus fragment bookkeeping, and runs on the caller's thread
    * under the same cancellation group/tag as any other query. Returns
    * None when the query doesn't decompose or is wider than
    * `segmentCacheMaxSlices` (the whole-query path then runs unchanged).
    *
    * A fragment larger than the whole cache budget is never stored
    * (`cachePut`'s rule), so such a chunk recomputes every request — by
    * design (storing it would evict everything else), and visible as a
    * persistently climbing `segmentCacheMisses` counter rather than
    * silent. */
  private def runSegmentCached(json: String, query: Query,
      useCache: Boolean, populateCache: Boolean,
      hits: AtomicInteger, misses: AtomicInteger): Option[String] = {
    if (!segmentCacheEnabled || !(useCache || populateCache)) return None
    SegmentResultCache.decompose(json, query, catalog)
      .filter(_.size <= segmentCacheMaxSlices) match {
      case Some(slices) =>
        collectFragments(slices, useCache, populateCache, hits, misses)
          .map { frags =>
            val ordered = query match {
              case t: Query.Timeseries if t.descending => frags.reverse
              case _ => frags
            }
            ordered.filter(_.nonEmpty).mkString("[", ",", "]")
          }
      case None =>
        // PARTIAL-aggregate path (Druid's broker partial merge,
        // reference `arch/druid-arch.md:38-40`): non-nesting granularities
        // cache day-level partial fragments and merge them driver-side at
        // serve time — a monthly dashboard gets the same
        // only-the-hot-chunk-recomputes property daily ones have.
        try {
          SegmentResultCache.decomposePartial(json, query, catalog)
            .filter(_.size <= segmentCacheMaxSlices)
            .flatMap { slices =>
              collectFragments(slices, useCache, populateCache, hits, misses)
                .map(frags => mergePartial(query, frags.toSeq))
            }
        } catch {
          // driver group bound exceeded mid-merge: fall back to the whole
          // plan (the computed day partials stay cached — not wasted, a
          // narrower window over the same data still reuses them). The
          // fragment counters are REWOUND: the whole plan serves this
          // query, so a metric row claiming cached fragment hits would
          // overstate cache effectiveness (r14 review finding).
          case _: PartialMerge.Overflow =>
            segmentCachePartialOverflows.incrementAndGet()
            segmentCacheHits.addAndGet(-hits.get.toLong)
            segmentCacheMisses.addAndGet(-misses.get.toLong)
            hits.set(0); misses.set(0)
            None
          // a serve-time evaluation the merge cannot reproduce (FilterH
          // analysis/eval, a value conversion): the whole plan serves the
          // query — or raises its own, better error
          case _: PartialMerge.NotServeable =>
            segmentCacheNotServeable.incrementAndGet()
            segmentCacheHits.addAndGet(-hits.get.toLong)
            segmentCacheMisses.addAndGet(-misses.get.toLong)
            hits.set(0); misses.set(0)
            None
          // a torn/corrupt cached fragment (a shared file-tier ATOMIC_MOVE
          // fallback mid-replace, a truncated write) raises a parse error
          // at merge time — degrade to a MISS (whole-query plan), never a
          // query error (r15 advice: the lossy-never-wrong contract)
          case NonFatal(_) =>
            segmentCacheMergeErrors.incrementAndGet()
            segmentCacheHits.addAndGet(-hits.get.toLong)
            segmentCacheMisses.addAndGet(-misses.get.toLong)
            hits.set(0); misses.set(0)
            None
        }
    }
  }

  /** Serve-time merge dispatch for the partial-fragment path. `rollup`
    * tells the count merge which algebra the day fragments used: on a
    * rollup datasource the planner compiles count to `sum(storedCount)`,
    * whose empty value is null, not 0. Throws [[PartialMerge.Overflow]]
    * when the merge would exceed the driver group bound — callers fall
    * back to the whole-query plan. */
  private def mergePartial(query: Query, frags: Seq[String]): String = {
    val rollup = query.dataSource match {
      case DataSource.Table(n) => catalog.rollupCountColumn(n).isDefined
      case _ => false
    }
    query match {
      case t: Query.Timeseries =>
        PartialMerge.merge(t, frags, chunkCoverageOf(t.dataSource), rollup)
      case gq: Query.GroupBy =>
        PartialMerge.mergeGroupBy(gq, frags, rollup,
          segmentCacheMaxPartialGroups, Some((spark, catalog)))
      case tn: Query.TopN =>
        PartialMerge.mergeTopN(tn, frags, rollup, segmentCacheMaxPartialGroups)
      case other => throw new IllegalStateException(
        s"not a partial-merge shape: ${other.getClass.getSimpleName}")
    }
  }

  private def chunkCoverageOf(ds: DataSource): Option[Seq[Interval]] =
    ds match {
      case DataSource.Table(n) => catalog.chunkCoverage(n)
      case _ => None
    }

  /** SINGLE-FLIGHT registry for cold fragment computations (VERDICT r12
    * #6): fragment key → the future its claiming query will complete. A
    * dashboard fan-out of N identical widgets previously computed (and
    * populated) the same cold fragments N×; now exactly one query claims
    * each key (`computeIfAbsent` — one winner per key under every
    * interleaving) and the rest await its future. No deadlock is
    * possible: a query completes ALL its claimed futures before awaiting
    * anyone else's, so waits never form a cycle. A failed/cancelled
    * computation completes its futures exceptionally and waiters fall
    * back to computing those slices themselves (correctness over
    * economy). */
  private val inflightFragments =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.CompletableFuture[String]]()
  // how long a query awaits another's in-flight cold-fragment compute
  // before computing those slices itself
  private val InflightWaitMs = 600000L

  /** Look up / compute the fragments for `slices`, aligned by index.
    * Cold fragments compute from ONE plan per distinct sub-query TEMPLATE
    * (the slice's sub-query with intervals stripped) over the union of
    * that template's sub-intervals — one template on the nesting path and
    * for all-interior partial decompositions, at most two (day + hour)
    * when a timezone/origin granularity splits boundary chunks out at
    * hour granularity. Returns None when populateCache=false and any
    * slice is cold (cold fragments would be computed and thrown away — no
    * benefit over the single whole-query plan). */
  private def collectFragments(
      slices: Seq[SegmentResultCache.ChunkSlice],
      useCache: Boolean, populateCache: Boolean,
      hits: AtomicInteger, misses: AtomicInteger): Option[Array[String]] = {
    val frags = new Array[String](slices.size)
    val cold0 = scala.collection.mutable.ArrayBuffer.empty[Int]
    slices.zipWithIndex.foreach { case (s, i) =>
      (if (useCache) cachePeek(s.key) else None) match {
        case Some(f) => frags(i) = f
        case None    => cold0 += i
      }
    }
    if (!populateCache && cold0.nonEmpty) None
    else Some {
      hits.addAndGet(slices.size - cold0.size)
      segmentCacheHits.addAndGet((slices.size - cold0.size).toLong)
      misses.addAndGet(cold0.size)
      segmentCacheMisses.addAndGet(cold0.size.toLong)
      // single-flight claim: for each cold key, either WE created the
      // in-flight future (ours to compute) or another query is already
      // computing it (await instead of duplicating the work)
      val cold = scala.collection.mutable.ArrayBuffer.empty[Int]
      val awaited = scala.collection.mutable.ArrayBuffer
        .empty[(Int, java.util.concurrent.CompletableFuture[String])]
      cold0.foreach { i =>
        var created: java.util.concurrent.CompletableFuture[String] = null
        val f = inflightFragments.computeIfAbsent(slices(i).key, _ => {
          created = new java.util.concurrent.CompletableFuture[String]()
          created
        })
        if (f eq created) cold += i else awaited += ((i, f))
      }
      if (awaited.nonEmpty)
        segmentCacheCoalesced.addAndGet(awaited.size.toLong)
      try {
        computeFragments(slices, cold.toSeq, frags, populateCache)
        cold.foreach { i =>
          val f = inflightFragments.remove(slices(i).key)
          if (f != null) f.complete(frags(i))
        }
      } catch {
        case t: Throwable =>
          cold.foreach { i =>
            val f = inflightFragments.remove(slices(i).key)
            if (f != null) f.completeExceptionally(t)
          }
          throw t
      }
      if (awaited.nonEmpty) {
        // await the other queries' results; anything that fails or times
        // out is recomputed HERE (claim-free — last-write-wins populate
        // is correct, just not coalesced)
        val leftover = scala.collection.mutable.ArrayBuffer.empty[Int]
        awaited.foreach { case (i, f) =>
          try frags(i) = f.get(InflightWaitMs,
            java.util.concurrent.TimeUnit.MILLISECONDS)
          catch {
            // a cancelled query's interrupt must ABORT the query (the
            // engine maps it to 'Query interrupted'), not be consumed
            // here and trigger a fresh recompute for a dead caller
            case ie: InterruptedException => throw ie
            case _: Exception => leftover += i
          }
        }
        if (leftover.nonEmpty)
          computeFragments(slices, leftover.toSeq, frags, populateCache)
      }
      frags
    }
  }

  /** Compute the `cold`-indexed slices' fragments into `frags`, one
    * coalesced plan per distinct sub-query template, populating the cache
    * when asked. */
  private def computeFragments(
      slices: Seq[SegmentResultCache.ChunkSlice], cold: Seq[Int],
      frags: Array[String], populateCache: Boolean): Unit =
    // group by the slice's template (sub-query sans intervals): the
    // nesting path has one group; the partial path has one (all-interior)
    // or two (day + hour boundary chunks under a timezone/origin
    // granularity). Groups write disjoint fragment indexes.
    cold.groupBy(i => SegmentResultCache.withIntervals(
        slices(i).subQuery, Seq.empty))
      .foreach { case (template, coldIdx) =>
        computeFragmentGroup(template, slices, coldIdx, frags, populateCache)
      }

  /** Compute one template group's fragments from ONE coalesced plan. */
  private def computeFragmentGroup(template: Query,
      slices: Seq[SegmentResultCache.ChunkSlice], cold: Seq[Int],
      frags: Array[String], populateCache: Boolean): Unit = {
      if (cold.nonEmpty) {
        // ALL cold fragments from ONE plan over the union of their
        // sub-intervals, split per chunk while encoding: a cold D-day
        // window costs one Spark job like the whole-query plan —
        // per-chunk sub-queries paid ~D× scheduling/planning overhead
        // on small chunks (measured 2.9 s vs 0.54 s for a cold 21-chunk
        // window at sf0.1 by SegmentCacheProbe before this rewrite).
        // The split is sound for exactly the decomposable shapes: each
        // row's bucket lies in one chunk, so routing rows by bucket day
        // reproduces the fragment a per-chunk sub-query would emit.
        val coldSlices = cold.map(slices(_))
        val coldQuery = SegmentResultCache.withIntervals(template,
          SegmentResultCache.coalesceIntervals(coldSlices.flatMap(s =>
            SegmentResultCache.intervalsOf(s.subQuery)).toSeq))
        val df = QueryPlanner.plan(spark, coldQuery, catalog)
        // day-chunk of a row's bucket: tolerate both timestamp flavors
        // (java.sql.Timestamp, and java.time.Instant under
        // datetimeJava8API=true — the tsString rule), and memoize the
        // day→chunk render (the Select encoder's trick): rows arrive
        // time-ordered, so the common case is one long division
        var lastDayIdx = Long.MinValue
        var lastChunk: String = null
        val byChunk = ResultEncoder.encodeFragments(coldQuery, df, { row =>
          val us = row.getAs[Any]("__time") match {
            case t: java.sql.Timestamp =>
              val i = t.toInstant
              i.getEpochSecond * 1000000L + i.getNano / 1000L
            case i: java.time.Instant =>
              i.getEpochSecond * 1000000L + i.getNano / 1000L
            case other => throw new IllegalStateException(
              s"unexpected __time value for fragment routing: $other")
          }
          val d = Math.floorDiv(us, 86400000000L)
          if (d != lastDayIdx) {
            lastDayIdx = d
            lastChunk = QueryPlanner.SegmentPaging.chunkOf(us)
          }
          lastChunk
        })
        coldSlices.zip(cold).foreach { case (s, i) =>
          // a chunk can legitimately yield zero rows (skipEmptyBuckets,
          // filters) — its fragment is EMPTY and still cached, so it
          // doesn't recompute on every later window
          val frag = byChunk.getOrElse(s.chunk, "")
          frags(i) = frag
          if (populateCache) cachePut(s.key, frag)
        }
      }
  }

  /** Per-query metrics ring (Druid's query/time + bytes emission,
    * reference `query/query-internal-procedure.md:152-189`).
    * `segmentHits`/`segmentMisses` count per-(segment, query) fragment
    * cache outcomes when the query took the decomposed path (both 0 on
    * the whole-query path). */
  final case class QueryMetric(queryId: String, queryType: String, millis: Long,
      success: Boolean, cached: Boolean, bytes: Long,
      segmentHits: Int = 0, segmentMisses: Int = 0,
      identity: Option[String] = None)

  private val metricsRing = new java.util.concurrent.ConcurrentLinkedDeque[QueryMetric]()

  // per-identity audit counters (VERDICT r12 #7 — the reference's query
  // monitoring family, `TOC.md:51`): cumulative, unlike the bounded ring.
  // `queries` counts recorded metric rows (attempts, denied included);
  // `denied` counts AUTHORIZING rejections. Anonymous callers aggregate
  // under "anonymous".
  private val identityCounters = new java.util.concurrent.ConcurrentHashMap[
    String, (java.util.concurrent.atomic.AtomicLong,
      java.util.concurrent.atomic.AtomicLong)]()

  /** Audit rendering of a caller identity. RFC 7235 credentials are
    * `scheme value` (they contain a space): storing one verbatim would
    * leak it in cleartext at the unauthenticated metrics endpoint, so a
    * scheme-prefixed value records as `scheme#<sha256-prefix>` — still a
    * stable per-caller audit key, never a replayable secret. The
    * documented principal-name shape (a bare token, what a fronting
    * authenticator rewrites the header to) passes through. */
  private def auditIdentity(identity: Option[String]): Option[String] =
    identity.map { id =>
      val sp = id.indexOf(' ')
      if (sp < 0) id
      else {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val h = md.digest(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(4).map(b => f"$b%02x").mkString
        id.substring(0, sp) + "#" + h
      }
    }

  /** Most identities one process should ever track — the counter map is
    * keyed by a CALLER-CONTROLLED string, so without a bound a loop of
    * random Authorization headers grows driver heap (and the metrics
    * response) without limit. Past the cap, new identities aggregate
    * under `(other)` — known identities keep exact counts. */
  private val MaxTrackedIdentities = 1024

  private def countersFor(identity: Option[String]) = {
    val key0 = auditIdentity(identity).getOrElse("anonymous")
    val key =
      if (identityCounters.containsKey(key0) ||
          identityCounters.size < MaxTrackedIdentities) key0
      else "(other)"
    identityCounters.computeIfAbsent(key,
      _ => (new java.util.concurrent.atomic.AtomicLong,
        new java.util.concurrent.atomic.AtomicLong))
  }

  /** Per-identity (queries, denied) counts, for the metrics endpoint. */
  def identityStats: Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    identityCounters.asScala.toSeq
      .map { case (id, (q, d)) => (id, q.get, d.get) }.sortBy(_._1)
  }

  private def record(m: QueryMetric): Unit = {
    countersFor(m.identity)._1.incrementAndGet()
    // ring rows carry the AUDIT rendering, never a raw credential
    metricsRing.addLast(m.copy(identity = auditIdentity(m.identity)))
    while (metricsRing.size() > 256) metricsRing.pollFirst()
  }

  /** Most recent query metrics, newest last. */
  def metrics: Seq[QueryMetric] = {
    import scala.jdk.CollectionConverters._
    metricsRing.iterator().asScala.toSeq
  }

  /** Segment metric family (reference `TOC.md:50-58`): per enumerable
    * datasource, (segment count, live rows) straight from the manifest
    * timeline — no Spark job. Empty for catalogs without a timeline. */
  def segmentStats: Seq[(String, Int, Long)] =
    catalog.datasourceNames.map { n =>
      val infos = catalog.segmentInfos(n)
      (n, infos.size, infos.map(_._3).sum)
    }

  /** Drop any job group/tag left on the CALLING thread — for pooled callers
    * (HTTP workers) after a streaming response ends abnormally: a client
    * disconnect throws outside the iterator, skipping its removeJobTag, and
    * the stale tag would mark the thread's next submission cancellable under
    * the dead query's id. */
  def clearThreadJobState(): Unit = {
    spark.sparkContext.clearJobTags()
    spark.sparkContext.clearJobGroup()
  }

  /** `DELETE /druid/v2/{id}` equivalent. Cancels by tag (reaches AQE
    * stage-materialization jobs) and by group (direct jobs). */
  def cancel(queryId: String): Unit = {
    spark.sparkContext.cancelJobsWithTag(Engine.jobTag(queryId))
    spark.sparkContext.cancelJobGroup(queryId)
  }

  /** SQL surface (SURVEY §2.1 Q10 — Druid SQL ≈ Catalyst): registers the
    * named datasources as temp views plus the engine's native functions,
    * then runs the statement.
    *
    * TRUST BOUNDARY: this DataFrame-returning API is the embedding
    * library surface — like `plan(query)`, it does NOT run the
    * AUTHORIZING step (the embedder already holds the SparkSession and
    * could read any path). Transport-facing callers go through
    * `executeSqlJson*`, which authorizes every resolved datasource. */
  // LOOKUP maps memoized per name, holding (version, map) — collecting every
  // lookup table on every SQL call would put a driver materialization on
  // the query hot path. Name-keyed single-entry-per-name: a version change
  // REPLACES the entry, so superseded maps drop in O(1) with no
  // scan-and-remove pass over the key set.
  private val lookupCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Map[String, String])]

  def executeSql(sql: String, datasources: Seq[String]): DataFrame = {
    // drop any job group/tag left on this (possibly pooled) thread by an
    // abandoned streaming query — otherwise a DELETE of that old queryId
    // would cancel THIS statement's jobs
    spark.sparkContext.clearJobTags()
    spark.sparkContext.clearJobGroup()
    executeSqlTagged(sql, datasources)
  }

  /** `executeSql` body without the stale-state clearing — for callers that
    * have already set their OWN job group/tag on this thread, so even the
    * statement's preparatory jobs (lookup collects, file listings) fall
    * under that cancellation umbrella. */
  private def executeSqlTagged(sql: String, datasources: Seq[String]): DataFrame = {
    datasources.foreach(n => catalog.table(spark, n).createOrReplaceTempView(n))
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    // LOOKUP('key', 'name') over the catalog's registered lookups — only
    // built when the statement actually CALLS the function (parsed-plan
    // check, not a substring probe: a column named `lookup_count` must not
    // trigger driver-side lookup materialization)
    if (catalog.lookupNames.nonEmpty && sqlCallsLookup(sql)) {
      val lkps = catalog.lookupNames.flatMap { n =>
        val version = catalog.versionToken(n)
        catalog.lookupTable(spark, n).map { df =>
          val m = lookupCache.get(n) match {
            case Some((v, cached)) if v == version =>
              lookupCacheHits.incrementAndGet(); cached
            case _ =>
              lookupCacheMisses.incrementAndGet()
              val fresh = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
              // put replaces any superseded version — single entry per name
              lookupCache.put(n, (version, fresh))
              fresh
          }
          n -> m
        }
      }.toMap
      if (lkps.nonEmpty)
        graft.functions.GraftFunctionRegistry.registerLookups(spark, lkps)
    }
    spark.sql(sql)
  }

  /** Whether the statement CALLS the `lookup` function, via Spark's own
    * parser: any `UnresolvedFunction` named `lookup` anywhere in the parsed
    * plan, including expression subqueries. Parse failures yield false —
    * the statement then fails in `spark.sql` with the parser's own error,
    * and registering lookups for it would have been pointless anyway. */
  private def sqlCallsLookup(sql: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case NonFatal(_) => return false }
    plan.collectWithSubqueries {
      case p => p.expressions.exists(_.exists {
        case f: UnresolvedFunction =>
          f.nameParts.size == 1 && f.nameParts.head.equalsIgnoreCase("lookup")
        case _ => false
      })
    }.exists(identity)
  }

  /** Parse a statement with Spark's own parser; None on parse failure —
    * the statement then fails in `spark.sql` with the parser's own error,
    * so callers that merely inspect the plan can treat None as "nothing
    * found". */
  private def parsedSqlPlan(sql: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    try Some(spark.sessionState.sqlParser.parsePlan(sql))
    catch { case NonFatal(_) => None }

  /** Single-part table identifiers a statement references, via Spark's own
    * parser: every `UnresolvedRelation` in the (unresolved) parsed plan —
    * including inside expression subqueries — minus CTE-defined names, which
    * shadow datasources. Exact under quoted identifiers, comments, and CTEs,
    * where a regex FROM-probe mis-fires. Parse failures yield no names; the
    * statement then fails in `spark.sql` with the parser's own error. */
  private def sqlTableReferences(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import java.util.Locale
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    val cteNames = plan.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase(Locale.ROOT))
    }.flatten.toSet
    plan.collectWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        r.multipartIdentifier.head
    }.distinct.filterNot(n => cteNames.contains(n.toLowerCase(Locale.ROOT)))
  }

  /** Transport-facing statement-shape gate, run on every `/druid/v2/sql`
    * statement BEFORE name resolution. Two rejections, both Forbidden:
    *
    *  - **multipart relations** (`parquet.`/path``, `global_temp.x`,
    *    catalog-qualified names): the SQL surface addresses datasources by
    *    flat name, and the per-datasource AUTHORIZING step can only reason
    *    about flat names — a multipart reference would resolve through
    *    Spark (file paths, global temp views) while being invisible to the
    *    authorizer (the r12 advice's bypass). Rejected rather than
    *    resolved: no multipart reference has a legitimate meaning on this
    *    surface.
    *  - **non-query statements** (SET/RESET, DDL, DML — any plan
    *    containing a `Command` or legacy `ParsedStatement`, or an
    *    `InsertIntoStatement`): the reference's SQL endpoint is read-only
    *    (Druid SQL is SELECT-only); a `SET spark.sql.ansi.enabled=true`
    *    through a shared session would silently change query semantics for
    *    every tenant.
    *
    * Parse failures pass through — `spark.sql` then raises the parser's
    * own (more useful) error. */
  private def assertTransportSqlShape(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{Command,
      InsertIntoStatement, ParsedStatement}
    val multipart = plan.collectWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size > 1 =>
        r.multipartIdentifier.mkString(".")
    }
    if (multipart.nonEmpty)
      throw QueryError("Forbidden",
        s"multipart table references are not allowed on the SQL " +
          s"endpoint: [${multipart.distinct.mkString(", ")}] — datasources " +
          "are flat names", "ForbiddenException")
    val command = plan.collectWithSubqueries {
      case c: Command => c.getClass.getSimpleName
      case c: ParsedStatement => c.getClass.getSimpleName
      case c: InsertIntoStatement => c.getClass.getSimpleName
    }
    if (command.nonEmpty)
      throw QueryError("Forbidden",
        s"only read-only queries are allowed on the SQL endpoint; got " +
          s"[${command.distinct.mkString(", ")}]", "ForbiddenException")
  }

  /** SQL over HTTP (`POST /druid/v2/sql`): runs the statement against the
    * named datasources (or every bare identifier that resolves as one) and
    * returns the rows as a JSON array of objects — the reference's SQL
    * result shape. Buffered convenience over `executeSqlJsonStream`. */
  def executeSqlJson(sql: String, datasources: Seq[String],
      identity: Option[String] = None): String =
    executeSqlJsonStream(sql, datasources, identity).mkString

  /** The datasource names a statement touches: the UNION of the explicit
    * list and every bare identifier in the parsed plan that resolves in
    * the catalog (probed case-sensitively, then lowercased — Spark
    * resolves relations case-insensitively, so `FROM SECRET` reads the
    * `secret` view and MUST authorize as `secret`). Shared by
    * authorization, execution, and the etag so all three see the SAME
    * names. The union matters for authorization: trusting a
    * client-supplied `datasources` list alone would let a caller
    * authorize `["ev"]` while the statement reads a temp view another
    * request registered for a datasource they are denied (found by the
    * r12 review pass). */
  private def resolvedSqlNames(sql: String, datasources: Seq[String]): Seq[String] = {
    def resolves(n: String): Boolean =
      try { catalog.table(spark, n); true } catch { case NonFatal(_) => false }
    val plan = parsedSqlPlan(sql)
    plan.foreach(assertTransportSqlShape) // reject multipart refs + commands
    val parsed = plan.toSeq.flatMap(sqlTableReferences).flatMap { n =>
      if (resolves(n)) Some(n)
      else {
        val lower = n.toLowerCase(java.util.Locale.ROOT)
        if (lower != n && resolves(lower)) Some(lower) else None
      }
    }
    (datasources ++ parsed).distinct
  }

  /** Cache key / HTTP etag for a SQL statement against current datasource
    * versions — the SQL twin of `etag` (same SHA-256/128-bit shape, domain-
    * separated so a SQL key can never collide with a native-query key). Any
    * segment change in a referenced datasource changes its version token
    * and thus the etag, so staleness is impossible by construction. */
  def sqlEtag(sql: String, datasources: Seq[String] = Seq.empty): String =
    sqlEtagResolved(sql, resolvedSqlNames(sql, datasources))

  private def sqlEtagResolved(sql: String, names: Seq[String]): String = {
    val versions = names
      .map(n => s"$n=${catalog.versionToken(n)}").mkString(";")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update("sql".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte) // domain separator vs native-query etags
    md.update(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(0.toByte)
    md.update(versions.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Streaming variant: result chunks arrive while the statement executes
    * partition-at-a-time — a big `SELECT *` through SQL never materializes
    * on the driver (same O(chunk) contract as the native query path,
    * reference `query/query-internal-procedure.md:152-189`). Completion and
    * failure land in the metrics ring once the stream is drained. */
  def executeSqlJsonStream(sql: String, datasources: Seq[String],
      identity: Option[String] = None): Iterator[String] =
    open(prepareSql(sql, datasources, Map.empty, identity), populateFragments = false)

  /** Prepare a SQL statement: the statement is parsed and its names
    * catalog-probed ONCE ([[resolvedSqlNames]]), then threaded through
    * authorization, the etag and execution. `context` carries the same
    * `queryId`/`timeout`/`useCache`/`populateCache` keys as a native
    * query's. The result cache is the native path's store and
    * invalidation: key = (statement, datasource version tokens). */
  private[engine] def prepareSql(sql: String, datasources: Seq[String],
      context: Map[String, String], identity: Option[String]): Prepared = {
    val names = resolvedSqlNames(sql, datasources)
    val queryId = context.getOrElse("queryId", "sql-" + UUID.randomUUID().toString)
    authorize("Sql", queryId, identity, names)
    new Prepared("Sql", queryId, identity, sqlEtagResolved(sql, names), context,
      (_, _, _, _) => None,
      () => ResultEncoder.encodeRowsStream(executeSqlTagged(sql, names)))
  }

  private def isCancellation(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.getMessage != null && c.getMessage.contains("cancelled")) return true
      c = c.getCause
    }
    false
  }
}

object Engine {

  /** Spark job tag for a queryId (tags may not contain commas). */
  def jobTag(queryId: String): String = "graft-query-" + queryId.replace(",", "_")

  /** Context `timeout` millis, clamped to one year: clients send
    * Long.MaxValue as a "no timeout" sentinel, and `t0 + ms * 1e6` would
    * overflow into an instant spurious QueryTimeoutException. Non-positive
    * values mean no timeout (upstream semantics). */
  private[engine] def parseTimeout(context: Map[String, String]): Option[Long] =
    context.get("timeout").flatMap(_.toLongOption)
      .filter(_ > 0L)
      .map(math.min(_, 365L * 24 * 3600 * 1000))

  /** Shared daemon pool for timed buffered queries — one worker per
    * in-flight timed query, reused when idle. Daemon + shared (vs. the
    * previous per-query `newSingleThreadExecutor`): an interrupt-ignoring
    * zombie query holds its worker only until the job dies, and lingering
    * workers can never block JVM exit or grow without a matching number of
    * live zombies. */
  private[engine] lazy val timedQueryPool =
    Executors.newCachedThreadPool(new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-timed-query-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  /** Shared daemon scheduler for the timeout watchdogs — one thread for
    * the whole JVM; each armed timeout is disarmed when its query's stream
    * finishes. */
  private[engine] lazy val timeoutScheduler = {
    val ex = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-timeout-watchdog"); t.setDaemon(true); t
        }
      })
    ex.setRemoveOnCancelPolicy(true) // drained streams must not pile up tasks
    ex
  }

  /** Error contract (reference `query/query-module-overview.md:60-87`):
    * `{error, errorMessage, errorClass, host}` with the five documented codes. */
  final case class QueryError(error: String, errorMessage: String, errorClass: String,
      host: String = java.net.InetAddress.getLoopbackAddress.getHostName)
      extends RuntimeException(s"$error: $errorMessage") {
    def toJson: String = {
      val m = new ObjectMapper()
      val o = m.createObjectNode()
      o.put("error", error); o.put("errorMessage", errorMessage)
      o.put("errorClass", errorClass); o.put("host", host)
      m.writeValueAsString(o)
    }
  }

  object QueryError {
    def unknown(e: Throwable): QueryError =
      QueryError("Unknown exception", String.valueOf(e.getMessage), e.getClass.getName)
  }
}

/** Per-query-type Druid JSON result shapes (reference
  * `query/query-timeseries.md:60-72` for timeseries; others per the Druid
  * v0.12.1 API surface the overview links to).
  *
  * STREAMING: results are written through a Jackson `JsonGenerator` and
  * handed out as string chunks while `toLocalIterator` advances — the driver
  * never holds the full document (or the full row set). A 1M-row scan uses
  * O(chunk) driver memory, matching scan's documented no-materialization
  * property (reference `query/query-internal-procedure.md:152-189`). */
object ResultEncoder {

  private val mapper = new ObjectMapper()
  private val isoFmt = DateTimeFormatter.ISO_INSTANT

  private def tsString(v: Any): String = v match {
    case t: java.sql.Timestamp => isoFmt.format(t.toInstant)
    case i: Instant => isoFmt.format(i)
    case other => String.valueOf(other)
  }

  import com.fasterxml.jackson.core.JsonGenerator

  private def writeVal(g: JsonGenerator, v: Any): Unit = v match {
    case null                    => g.writeNull()
    case b: Boolean              => g.writeBoolean(b)
    case i: Int                  => g.writeNumber(i)
    case l: Long                 => g.writeNumber(l)
    case f: Float                => g.writeNumber(f)
    case d: Double               => g.writeNumber(d)
    case d: java.math.BigDecimal => g.writeNumber(d)
    case t: java.sql.Timestamp   => g.writeString(tsString(t))
    case s: Seq[_]               =>
      g.writeStartArray(); s.foreach(writeVal(g, _)); g.writeEndArray()
    case other                   => g.writeString(String.valueOf(other))
  }

  private def writeField(g: JsonGenerator, k: String, v: Any): Unit = {
    g.writeFieldName(k); writeVal(g, v)
  }

  /** Growable char sink the chunk iterator drains between rows. */
  private final class ChunkBuffer extends java.io.Writer {
    private val sb = new java.lang.StringBuilder(1 << 16)
    override def write(cbuf: Array[Char], off: Int, len: Int): Unit =
      sb.append(cbuf, off, len)
    override def flush(): Unit = ()
    override def close(): Unit = ()
    def size: Int = sb.length
    def drain(): String = { val s = sb.toString; sb.setLength(0); s }
  }

  /** Buffered encode — drains the stream. Semantics identical to the
    * streaming path (single execution, including the maxResults cap). */
  def encode(q: Query, df: DataFrame, maxResults: Option[Int] = None,
      segmentIdFor: Option[Long => String] = None): String =
    encodeStream(q, df, maxResults, segmentIdFor = segmentIdFor).mkString

  /** The (prologue, per-row, epilogue) writers for the three BUCKETED
    * result shapes (timeseries / groupBy / topN) against a given
    * generator — shared by the main stream encode and the per-chunk
    * fragment split so the two renderings can never drift. */
  private def bucketedWriters(q: Query,
      gen: JsonGenerator, fieldNames: Array[String])
      : (() => Unit, Row => Unit, () => Unit) = q match {
    case _: Query.Timeseries =>
      (() => gen.writeStartArray(),
        (row: Row) => {
          gen.writeStartObject()
          writeField(gen, "timestamp", tsString(row.getAs[Any]("__time")))
          gen.writeFieldName("result"); gen.writeStartObject()
          fieldNames.filterNot(_ == "__time")
            .foreach(f => writeField(gen, f, row.getAs[Any](f)))
          gen.writeEndObject(); gen.writeEndObject()
        },
        () => gen.writeEndArray())

    case _: Query.GroupBy =>
      (() => gen.writeStartArray(),
        (row: Row) => {
          gen.writeStartObject()
          writeField(gen, "version", "v1")
          if (fieldNames.contains("__time"))
            writeField(gen, "timestamp", tsString(row.getAs[Any]("__time")))
          gen.writeFieldName("event"); gen.writeStartObject()
          fieldNames.filterNot(_ == "__time")
            .foreach(f => writeField(gen, f, row.getAs[Any](f)))
          gen.writeEndObject(); gen.writeEndObject()
        },
        () => gen.writeEndArray())

    case _: Query.TopN =>
      // rows arrive ordered by (__time, rank) — group into per-bucket arrays
      var curTs: String = null
      (() => gen.writeStartArray(),
        (row: Row) => {
          val ts = tsString(row.getAs[Any]("__time"))
          if (ts != curTs) {
            if (curTs != null) { gen.writeEndArray(); gen.writeEndObject() }
            gen.writeStartObject()
            writeField(gen, "timestamp", ts)
            gen.writeFieldName("result"); gen.writeStartArray()
            curTs = ts
          }
          gen.writeStartObject()
          fieldNames.filterNot(_ == "__time")
            .foreach(f => writeField(gen, f, row.getAs[Any](f)))
          gen.writeEndObject()
        },
        () => {
          if (curTs != null) { gen.writeEndArray(); gen.writeEndObject() }
          gen.writeEndArray()
        })

    case other => throw new IllegalArgumentException(
      s"not a bucketed result shape: ${other.getClass.getSimpleName}")
  }

  /** Encode a bucketed result (timeseries / groupBy / topN) SPLIT into
    * per-chunk fragments in ONE execution: every row routes to its chunk's
    * own writer (each with independent grouping state), so computing N
    * cold chunk fragments costs one Spark job — not N — while producing
    * the same fragment bytes a per-chunk sub-query would (sound because
    * the segment-cache decomposability condition guarantees each row's
    * bucket lies in exactly one chunk). Returns chunk → fragment (outer
    * array brackets stripped); chunks with no rows are absent. */
  def encodeFragments(q: Query, df: DataFrame,
      chunkOfRow: Row => String): Map[String, String] = {
    val fieldNames = df.schema.fieldNames
    final case class St(buf: ChunkBuffer, gen: JsonGenerator,
        writeRow: Row => Unit, epilogue: () => Unit)
    val states = scala.collection.mutable.LinkedHashMap.empty[String, St]
    def stateFor(chunk: String): St = states.getOrElseUpdate(chunk, {
      val buf = new ChunkBuffer
      val gen = mapper.getFactory.createGenerator(buf)
      val (prologue, writeRow, epilogue) = bucketedWriters(q, gen, fieldNames)
      prologue()
      St(buf, gen, writeRow, epilogue)
    })
    val rows = df.toLocalIterator()
    while (rows.hasNext) {
      val row = rows.next()
      stateFor(chunkOfRow(row)).writeRow(row)
    }
    states.iterator.map { case (chunk, st) =>
      st.epilogue(); st.gen.close()
      chunk -> SegmentResultCache.stripArray(st.buf.drain())
    }.toMap
  }

  /** Plain rows → JSON array of objects (the SQL endpoint's result shape).
    * Buffered convenience over `encodeRowsStream` — tests and callers that
    * genuinely want the whole document. */
  def encodeRows(df: DataFrame): String = encodeRowsStream(df).mkString

  /** Streaming variant of `encodeRows`: rows pulled partition-at-a-time via
    * `toLocalIterator`, handed out as ~64K-char chunks — a large `SELECT *`
    * through the SQL endpoint uses O(chunk) driver memory, same as the
    * native query path. Values resolved BY INDEX — by-name lookup silently
    * collapses duplicate output column names (SELECT a, b AS a). */
  def encodeRowsStream(df: DataFrame, chunkChars: Int = 1 << 16): Iterator[String] = {
    val buf = new ChunkBuffer
    val gen = mapper.getFactory.createGenerator(buf)
    val fieldNames = df.schema.fieldNames
    val rows = df.toLocalIterator()
    new Iterator[String] {
      private var started = false
      private var exhausted = false
      def hasNext: Boolean = !exhausted
      def next(): String = {
        if (exhausted) throw new NoSuchElementException("stream exhausted")
        if (!started) { gen.writeStartArray(); started = true }
        while (buf.size < chunkChars && rows.hasNext) {
          val row = rows.next()
          gen.writeStartObject()
          fieldNames.indices.foreach(i => writeField(gen, fieldNames(i), row.get(i)))
          gen.writeEndObject()
          gen.flush()
        }
        if (!rows.hasNext) {
          gen.writeEndArray(); gen.close()
          exhausted = true
        }
        buf.drain()
      }
    }
  }

  /** Stream the result JSON as chunks of ~64K chars. Rows are pulled from
    * `df.toLocalIterator()` (partition-at-a-time execution); `maxResults`
    * (groupBy resource cap) is enforced on the SAME iteration — no separate
    * probe job. `segmentIdFor` (select only): when set, pagingIdentifiers
    * are emitted in Druid's per-segment `{segmentId: offset}` shape — the
    * function maps a row's epoch-micros __time to its segment id. */
  def encodeStream(q: Query, df: DataFrame, maxResults: Option[Int] = None,
      chunkChars: Int = 1 << 16,
      segmentIdFor: Option[Long => String] = None): Iterator[String] = {
    val buf = new ChunkBuffer
    val gen = mapper.getFactory.createGenerator(buf)
    val rawRows = df.toLocalIterator()
    val rows: java.util.Iterator[Row] = maxResults match {
      case Some(mx) if q.isInstanceOf[Query.GroupBy] =>
        new java.util.Iterator[Row] {
          private var n = 0
          def hasNext: Boolean = rawRows.hasNext
          def next(): Row = {
            n += 1
            if (n > mx)
              throw Engine.QueryError("Resource limit exceeded",
                s"groupBy produced more than maxResults=$mx rows",
                "ResourceLimitExceededException")
            rawRows.next()
          }
        }
      case _ => rawRows
    }
    val fieldNames = df.schema.fieldNames

    // Per-type (prologue, per-row, epilogue) against the shared generator.
    val (prologue, writeRow, epilogue): (() => Unit, Row => Unit, () => Unit) =
      q match {
        case _: Query.Timeseries | _: Query.GroupBy | _: Query.TopN =>
          bucketedWriters(q, gen, fieldNames)

        case _: Query.SearchQ =>
          (() => {
            gen.writeStartArray(); gen.writeStartObject()
            gen.writeFieldName("result"); gen.writeStartArray()
          },
            (row: Row) => {
              gen.writeStartObject()
              fieldNames.foreach(f => writeField(gen, f, row.getAs[Any](f)))
              gen.writeEndObject()
            },
            () => { gen.writeEndArray(); gen.writeEndObject(); gen.writeEndArray() })

        case _: Query.TimeBoundary | _: Query.DataSourceMetadata =>
          (() => gen.writeStartArray(),
            (row: Row) => {
              gen.writeStartObject()
              gen.writeFieldName("result"); gen.writeStartObject()
              fieldNames.foreach(f => writeField(gen, f, row.getAs[Any](f)))
              gen.writeEndObject(); gen.writeEndObject()
            },
            () => gen.writeEndArray())

        case sc: Query.Scan =>
          // Druid scan framing: a sequence of {columns, events} result
          // objects of at most `batchSize` events each; `resultFormat`
          // picks the event shape — objects (list, the default) or
          // positional row arrays (compactedList). Batching is pure
          // encoder state over the same partition-at-a-time iteration —
          // no extra pass, O(chunk) driver memory unchanged.
          val compact = sc.resultFormat == "compactedList"
          var inBatch = 0
          def openScanObj(): Unit = {
            gen.writeStartObject()
            gen.writeFieldName("columns"); gen.writeStartArray()
            fieldNames.foreach(gen.writeString)
            gen.writeEndArray()
            gen.writeFieldName("events"); gen.writeStartArray()
          }
          def closeScanObj(): Unit = { gen.writeEndArray(); gen.writeEndObject() }
          (() => { gen.writeStartArray(); openScanObj() },
            (row: Row) => {
              if (inBatch == sc.batchSize) {
                closeScanObj(); openScanObj(); inBatch = 0
              }
              if (compact) {
                gen.writeStartArray()
                fieldNames.indices.foreach(i => writeVal(gen, row.get(i)))
                gen.writeEndArray()
              } else {
                gen.writeStartObject()
                fieldNames.indices.foreach(i =>
                  writeField(gen, fieldNames(i), row.get(i)))
                gen.writeEndObject()
              }
              inBatch += 1
            },
            () => { closeScanObj(); gen.writeEndArray() })

        case sel: Query.Select =>
          // keyset cursor state: rows seen, last __time, #rows at exactly it;
          // plus per-day-chunk row counts for the segment-id compat shape
          var n = 0
          var lastTsMicros = Long.MinValue
          var countAtLastTs = 0
          val perChunk = scala.collection.mutable.LinkedHashMap.empty[String, Int]
          // rows arrive time-ordered, so the day changes a handful of times
          // per page — memoize the (day index → chunk string) mapping to
          // keep Instant/LocalDate allocation out of the per-row loop
          var lastDayIdx = Long.MinValue
          var lastChunk: String = null
          (() => {
            gen.writeStartArray(); gen.writeStartObject()
            gen.writeFieldName("result"); gen.writeStartObject()
            gen.writeFieldName("events"); gen.writeStartArray()
          },
            (row: Row) => {
              gen.writeStartObject()
              fieldNames.foreach(f => writeField(gen, f, row.getAs[Any](f)))
              gen.writeEndObject()
              n += 1
              row.getAs[Any]("__time") match {
                case t: java.sql.Timestamp =>
                  val i = t.toInstant
                  val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
                  if (us == lastTsMicros) countAtLastTs += 1
                  else { lastTsMicros = us; countAtLastTs = 1 }
                  if (segmentIdFor.isDefined) {
                    val dayIdx = Math.floorDiv(us, 86400000000L)
                    if (dayIdx != lastDayIdx) {
                      lastDayIdx = dayIdx
                      lastChunk = QueryPlanner.SegmentPaging.chunkOf(us)
                    }
                    perChunk.update(lastChunk, perChunk.getOrElse(lastChunk, 0) + 1)
                  }
                case _ =>
              }
            },
            () => {
              gen.writeEndArray()
              val incoming = sel.pagingSpec.pagingIdentifiers
              val legacyOffset = incoming.nonEmpty &&
                incoming.keys.forall(k =>
                  !k.startsWith(QueryPlanner.CursorKeyPrefix) &&
                    !QueryPlanner.SegmentPaging.isSegmentKey(k))
              // Druid 0.12 emits NEGATIVE offsets for descending selects
              // (-k = k rows consumed from the top of the descending
              // order); the engine's native shape is positive consumed-row
              // counts in both directions (documented deviation). The
              // context flag opts a byte-faithful Druid client into the
              // negative shape — magnitudes are identical, and the planner
              // reads cursors by magnitude, so pages round-trip in either
              // shape.
              val negPaging = sel.descending &&
                sel.context.get("druidNegativePagingIdentifiers")
                  .exists(_.equalsIgnoreCase("true"))
              val sign = if (negPaging) -1 else 1
              gen.writeFieldName("pagingIdentifiers"); gen.writeStartObject()
              if (legacyOffset) {
                // legacy global-offset clients keep cumulative offset semantics
                gen.writeFieldName("offset")
                gen.writeNumber(sign * (incoming.values.map(math.abs).max + n))
              } else if (n == 0) {
                // exhausted: echo the incoming cursor unchanged (clients
                // detect the end by an empty events array)
                incoming.foreach { case (k, v) =>
                  gen.writeFieldName(k); gen.writeNumber(v)
                }
              } else segmentIdFor match {
                case Some(idFor) =>
                  // Druid-compat `{segmentId: offset}`: cumulative consumed
                  // rows per touched segment — incoming offsets carry over
                  // when a page continues inside the same segment
                  perChunk.foreach { case (chunk, cnt) =>
                    val dayUs = java.time.LocalDate.parse(chunk)
                      .atStartOfDay(java.time.ZoneOffset.UTC)
                      .toInstant.getEpochSecond * 1000000L
                    val key = idFor(dayUs)
                    gen.writeFieldName(key)
                    gen.writeNumber(
                      sign * (math.abs(incoming.getOrElse(key, 0)) + cnt))
                  }
                case None =>
                  // keyset cursor (`t:<epochMicros> -> k`): rows consumed at
                  // the page's last timestamp, carried over when the page
                  // continues inside the same timestamp
                  val key = QueryPlanner.cursorKey(lastTsMicros)
                  gen.writeFieldName(key)
                  gen.writeNumber(
                    sign * (math.abs(incoming.getOrElse(key, 0)) + countAtLastTs))
              }
              gen.writeEndObject()
              gen.writeEndObject(); gen.writeEndObject(); gen.writeEndArray()
            })

        case _: Query.SegmentMetadata =>
          (() => gen.writeStartArray(),
            (row: Row) => {
              gen.writeStartObject()
              fieldNames.foreach(f => writeField(gen, f, row.getAs[Any](f)))
              gen.writeEndObject()
            },
            () => gen.writeEndArray())
      }

    new Iterator[String] {
      private var started = false
      private var exhausted = false
      def hasNext: Boolean = !exhausted
      def next(): String = {
        if (exhausted) throw new NoSuchElementException("stream exhausted")
        if (!started) { prologue(); started = true }
        while (buf.size < chunkChars && rows.hasNext) {
          writeRow(rows.next()); gen.flush()
        }
        if (!rows.hasNext) {
          epilogue(); gen.close()
          exhausted = true
        }
        buf.drain()
      }
    }
  }
}
