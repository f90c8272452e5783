package perfbench

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.Catalog
import graft.store.{SegmentCatalog, SegmentStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Everything one run shares: the session, its options, the tracer and the
  * listener, and the tallies that become the result line. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val traced: Boolean, val cpus: Int) {
  val tracer = new Tracer
  val listener = new ExecListener
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val firstFailure = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def attempt(): Unit = attemptedN.incrementAndGet()

  /** Counts a failed or wrong operation; prints the first one of each kind. */
  def fail(kind: String, msg: => String): Unit = {
    failedN.incrementAndGet()
    if (firstFailure.putIfAbsent(kind, "x") == null) {
      val m = msg
      firstFailure.put(kind, m)
      System.err.println(s"[perfbench] first failure of kind '$kind': $m")
    }
  }
  def failures: Map[String, String] = firstFailure.asScala.toMap

  /** Prints how long the JVM has been up when a phase of the run ends. */
  def mark(phase: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $phase")

  /** Waits until the listener has seen every event posted so far. */
  def drainListener(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
}

/** A store loaded in setup, and what loading it cost. */
final case class Loaded(store: SegmentStore, rows: Long, writeMs: Seq[Double],
    lagMs: Seq[Double])

object Harness {

  /** Bulk-loads `batches` into datasource `ds` of a fresh store at `root`:
    * one `SegmentStore.write` commit per batch, all due when loading starts. */
  def bulkLoad(run: Run, root: Path, ds: String, schema: StructType,
      batches: Seq[java.util.List[Row]]): Loaded = {
    val store = new SegmentStore(root.toString)
    val t0 = System.nanoTime()
    val (writeMs, lagMs) = batches.map { rows =>
      val df = run.spark.createDataFrame(rows, schema)
      val s = System.nanoTime()
      run.tracer.span("store.load")(store.write(df, ds))
      val e = System.nanoTime()
      ((e - s) / 1e6, (e - t0) / 1e6)
    }.unzip
    Loaded(store, batches.map(_.size.toLong).sum, writeMs, lagMs)
  }

  /** Runs `setup` three times over fresh stores: setup_s is the median
    * time, the load metrics cover every setup but the first (which also
    * warms up the JVM's write path), and every setup but the last is torn
    * down with `dispose` and its store deleted. */
  def setupThrice[T](run: Run)(setup: Path => (Loaded, T))(dispose: T => Unit): (Loaded, T) = {
    val reps = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      val r = setup(run.work.resolve(s"store-$k"))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    reps.init.foreach { case ((l, t), _) =>
      dispose(t)
      deleteTree(java.nio.file.Paths.get(l.store.root))
    }
    run.e2e("setup_s") = Stats.median(reps.map(_._2))
    loadMetrics(run, reps.tail.map(_._1._1))
    run.mark(reps.map(r => f"${r._2}%.2f").mkString("set up three times (", " s, ", " s)"))
    reps.last._1
  }

  /** The store's catalog, wrapped so that a traced run times the calls into it. */
  def catalogOf(run: Run, store: SegmentStore): Catalog = {
    val base = new SegmentCatalog(store)
    if (run.traced) new TracingCatalog(base, run.tracer) else base
  }

  /** The bulk-load end-to-end metrics over every setup of a run. */
  private def loadMetrics(run: Run, loads: Seq[Loaded]): Unit = {
    run.e2e("load_rows_per_s") = loads.map(_.rows).sum / (loads.flatMap(_.writeMs).sum / 1e3)
    run.e2e("commit_p50_ms") = Stats.median(loads.flatMap(_.writeMs))
    run.e2e("ingest_lag_ms") = Stats.median(loads.flatMap(_.lagMs))
    run.layer("store.load_ms") = Stats.median(loads.map(_.writeMs.sum))
  }

  /** On-disk parquet bytes of a datasource's live segments, and its rows. */
  def storedBytes(store: SegmentStore, ds: String): (Long, Long) = {
    val segs = store.readManifest(ds).segments
    val bytes = segs.flatMap(_.files).map(f => Files.size(java.nio.file.Paths.get(f))).sum
    (bytes, segs.map(_.rowCount).sum)
  }

  /** One operation of a measured loop: when it started and ended, whether
    * it succeeded, and its latency (the whole operation, or the timed
    * request inside it when the operation also does traced side work). */
  final case class Sample(startNs: Long, endNs: Long, ok: Boolean, ms: Double)

  /** Runs `clients` closed-loop threads until `untilNs`; `op(client)` does
    * one request and returns whether it succeeded and its latency in ms. */
  def closedLoop(run: Run, clients: Int, untilNs: Long, kind: String)(
      op: Int => (Boolean, Double)): Seq[Sample] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < untilNs) {
          val t0 = System.nanoTime()
          val (ok, ms) =
            try op(c)
            catch { case e: Exception => run.fail(kind, e.toString); (false, (System.nanoTime() - t0) / 1e6) }
          out.add(Sample(t0, System.nanoTime(), ok, ms))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** qps, p50_ms and p95_ms of one measured phase that began at `startNs`. */
  def latencyMetrics(samples: Seq[Sample], startNs: Long): Map[String, Double] = {
    val ms = samples.map(_.ms)
    val endNs = if (samples.isEmpty) startNs + 1 else samples.map(_.endNs).max
    Map("qps" -> samples.size / ((endNs - startNs) / 1e9),
      "p50_ms" -> Stats.median(ms), "p95_ms" -> Stats.quantile(ms, 0.95),
      "samples" -> samples.size.toDouble)
  }

  /** One keep-alive HTTP/1.1 connection per calling thread (the JDK client
    * sets TCP_NODELAY, so no Nagle delay is added on the client side). */
  private val clients = ThreadLocal.withInitial[HttpClient](() =>
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

  /** POSTs `body` to the engine's server on localhost; (status, body). */
  def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val resp = clients.get.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode, resp.body)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally w.close()
    }

  /** Host canary, recorded but not gated: a fixed xorshift loop on one
    * thread and on every core, and one summing pass over 64 MiB. */
  def canary(cpus: Int): Map[String, Double] = {
    @volatile var sink = 0L
    def loop(): Long = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val mem = new Array[Long](8 << 20)
    java.util.Arrays.fill(mem, 0x9e3779b97f4a7c15L)
    def memPass(): Unit = { var s = 0L; var i = 0; while (i < mem.length) { s += mem(i); i += 1 }; sink ^= s }
    sink ^= loop(); memPass() // warm the JIT
    val one = timed(sink ^= loop())
    val all = timed {
      val ts = (1 to cpus).map(_ => new Thread(() => { sink ^= loop() }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val bw = timed(memPass())
    Map("canary_cpu1_ms" -> one, "canary_cpuall_ms" -> all, "canary_mem_ms" -> bw)
  }
}
