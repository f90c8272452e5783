package graft.tools

import graft.engine.{Engine, HttpServer}
import graft.ingest.{RetentionService, TaskService}
import graft.sources.{Catalog, ParquetDirCatalog}
import graft.store.{SegmentCatalog, SegmentStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The production server entry point — the long-running process that IS
  * the reference deployment's query node (reference
  * `query/query-internal-procedure.md:13-29`: a server receives JSON
  * queries over HTTP and serves results): catalog + [[Engine]] +
  * [[TaskService]] + [[RetentionService]] wired from Spark conf, an
  * [[HttpServer]] bound on a configured port, the Coordinator-style
  * retention loop started, and a clean stop on SIGTERM. Every other main
  * in this repo is one-shot (QueryCli) or a test/probe harness; this is
  * the one an operator runs.
  *
  * Configuration (all through Spark conf — pass `-Dspark.graft.…=…` to
  * the JVM or preload a SparkSession; `spark.*` system properties flow
  * into the session automatically):
  *
  *   spark.graft.server.data       static parquet-dir catalog root
  *                                 (TESTDATA layout: <name>.parquet)
  *   spark.graft.server.store      segment-store root — arms ingestion
  *                                 (task submit/status over HTTP) and
  *                                 segment-timeline datasources
  *   spark.graft.server.port       HTTP port (default 8082; 0 = ephemeral)
  *   spark.graft.server.host       bind address (default 127.0.0.1 — the
  *                                 engine speaks PLAINTEXT HTTP, so wider
  *                                 binds belong behind a TLS terminator)
  *   spark.graft.server.streamCap  concurrent streaming responses (12)
  *   spark.graft.server.stopGraceSec  seconds to drain in-flight
  *                                 exchanges on SIGTERM before cutting
  *                                 them (default 5; 0 = immediate cut —
  *                                 cut streams cancel their Spark jobs)
  *   spark.graft.retention.periodMs  start the retention rules loop with
  *                                 this period (requires .store and
  *                                 spark.graft.retention.rules)
  *
  * plus the engine's own conf surface picked up downstream:
  * `spark.graft.auth.tokens` / `.acl` (authentication/authorization),
  * `spark.graft.resultCache.*` (whole-query + fragment cache tiers),
  * `spark.graft.retention.rules` / `.archiveRoot` / `.dryRun`.
  *
  * At least one of `.data` / `.store` must be set. When both are, segment
  * datasources shadow same-named static tables (the ingested timeline is
  * the fresher copy) and everything else falls back to the static dir.
  */
object ServerMain {

  /** Segments-first catalog: names with a manifest under the store resolve
    * through the segment timeline (interval routing, rollup metadata,
    * version tokens); everything else — including the fixture lookups —
    * falls back to the static parquet dir. */
  private[tools] class LayeredCatalog(segments: SegmentCatalog,
      static: ParquetDirCatalog) extends Catalog {
    // one manifest stat, not a directory enumeration: this runs on every
    // table resolution of every served query (ADVICE r16), and
    // datasourceNames re-lists the store root per call. Freshness is
    // identical — manifest presence is the ownership criterion either way.
    private def owns(name: String): Boolean = segments.hasDatasource(name)
    private def pick(name: String): Catalog =
      if (owns(name)) segments else static
    def table(spark: SparkSession, name: String): DataFrame =
      pick(name).table(spark, name)
    override def table(spark: SparkSession, name: String,
        intervals: Seq[graft.model.Interval]): DataFrame =
      pick(name).table(spark, name, intervals)
    override def rollupCountColumn(name: String): Option[String] =
      pick(name).rollupCountColumn(name)
    override def segmentInfos(name: String): Seq[(String, Int, Long)] =
      pick(name).segmentInfos(name)
    override def chunkCoverage(name: String): Option[Seq[graft.model.Interval]] =
      pick(name).chunkCoverage(name)
    override def lookupTable(spark: SparkSession, name: String): Option[DataFrame] =
      static.lookupTable(spark, name)
    override def lookupNames: Seq[String] = static.lookupNames
    override def versionToken(name: String): String =
      pick(name).versionToken(name)
    override def datasourceNames: Seq[String] =
      (segments.datasourceNames ++ static.datasourceNames).distinct.sorted
  }

  /** Everything `main` starts, exposed so tests (and the multi-JVM
    * rehearsal) can drive the identical wiring in-process. */
  final case class Wired(engine: Engine, catalog: Catalog,
      tasks: Option[TaskService],
      retention: Option[RetentionService], server: HttpServer,
      retentionPeriodMs: Option[Long], stopGraceSec: Int = 5) {
    def start(): Unit = {
      server.start()
      retentionPeriodMs.foreach { p =>
        retention.get.start(p)
      }
    }
    /** Shutdown order: the retention loop first (no new scheduled work),
      * then the HTTP server with a BOUNDED drain — in-flight chunked
      * responses and synchronous ingest submits get `stopGraceSec` seconds
      * to finish before their sockets are cut (VERDICT r16 #5). A cut
      * stream runs the disconnect cleanup path (job cancellation), so
      * nothing keeps running on the Spark session `main` stops next. */
    def stop(): Unit = {
      retention.foreach(_.stop())
      server.stop(stopGraceSec)
    }
  }

  /** Conf-driven wiring — fails LOUDLY on an inconsistent conf (a server
    * that silently starts without its datasources or its retention loop is
    * an operational trap, the parseRules rule). */
  def wire(spark: SparkSession): Wired = {
    val conf = spark.conf
    val dataDir = conf.getOption("spark.graft.server.data")
    val storeRoot = conf.getOption("spark.graft.server.store")
    require(dataDir.isDefined || storeRoot.isDefined,
      "set spark.graft.server.data (static parquet dir) and/or " +
        "spark.graft.server.store (segment-store root)")

    val store = storeRoot.map(new SegmentStore(_))
    val catalog: Catalog = (store, dataDir) match {
      case (Some(st), Some(d)) =>
        new LayeredCatalog(new SegmentCatalog(st), new ParquetDirCatalog(d))
      case (Some(st), None) => new SegmentCatalog(st)
      case (None, Some(d)) => new ParquetDirCatalog(d)
      case _ => throw new IllegalStateException("unreachable")
    }
    val tasks = store.map(new TaskService(spark, _))
    val periodMs = conf.getOption("spark.graft.retention.periodMs").map(_.toLong)
    val rulesSet = conf.getOption("spark.graft.retention.rules").exists(_.nonEmpty)
    if (periodMs.isDefined) {
      require(store.isDefined,
        "spark.graft.retention.periodMs requires spark.graft.server.store")
      require(rulesSet,
        "spark.graft.retention.periodMs requires spark.graft.retention.rules")
      require(periodMs.get > 0,
        s"spark.graft.retention.periodMs must be positive: ${periodMs.get}")
    }
    // the service constructs (and validates its rules) whenever rules are
    // present, even without a started loop — runNow()/dry-run stay usable
    val retention =
      if (rulesSet && store.isDefined)
        Some(new RetentionService(spark, store.get, tasks.get))
      else None
    val engine = new Engine(spark, catalog)
    val server = new HttpServer(engine, tasks,
      port = conf.getOption("spark.graft.server.port").map(_.toInt).getOrElse(8082),
      streamCap = conf.getOption("spark.graft.server.streamCap")
        .map(_.toInt).getOrElse(12),
      retention = retention,
      host = conf.getOption("spark.graft.server.host").getOrElse("127.0.0.1"))
    val graceSec = conf.getOption("spark.graft.server.stopGraceSec")
      .map(_.toInt).getOrElse(5)
    require(graceSec >= 0,
      s"spark.graft.server.stopGraceSec must be >= 0: $graceSec")
    Wired(engine, catalog, tasks, retention, server, periodMs, graceSec)
  }

  def main(args: Array[String]): Unit = {
    // args are a convenience alias for the two roots, so an operator can
    // `ServerMain <dataDir> [storeRoot]` without -D plumbing
    val builder = Sessions.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32").toInt)
      .config("spark.ui.enabled",
        sys.props.getOrElse("spark.ui.enabled", "false"))
    args.headOption.foreach(builder.config("spark.graft.server.data", _))
    args.drop(1).headOption.foreach(builder.config("spark.graft.server.store", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))

    val wired = wire(spark)
    val done = new java.util.concurrent.CountDownLatch(1)
    // SIGTERM/SIGINT → stop the retention loop, the HTTP listener, then
    // Spark — in that order, so no new work lands on a stopping session
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try wired.stop() finally {
        try spark.stop() catch { case scala.util.control.NonFatal(_) => }
        done.countDown()
      }
    }, "graft-server-shutdown"))
    wired.start()
    // the parseable liveness line (the rehearsal's subprocess check greps
    // it); port resolved AFTER start so port=0 reports the ephemeral bind
    println(s"graft-server listening on port ${wired.server.boundPort}" +
      s" (datasources: ${wired.catalog.datasourceNames.mkString(",")})")
    wired.retentionPeriodMs.foreach(p =>
      println(s"graft-server retention loop started (periodMs=$p)"))
    done.await()
  }
}
