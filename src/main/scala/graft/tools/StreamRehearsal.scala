package graft.tools

import java.nio.file.Files

import graft.store.SegmentStore
import graft.streaming.RealtimeIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-ingest rehearsal — the last ingest surface without a measured
  * number: `RealtimeIngest.start` (append path) and `windowedRollup`
  * (stateful path) driven by the `rate` source at increasing rows/s to
  * find the sustainable single-box micro-batch throughput, with the same
  * visibility guarantees the batch rehearsal pins:
  *
  *  - SUSTAINED THROUGHPUT: at a fixed trigger interval, committed rows/s
  *    must track the offered rate (no unbounded batch backlog). Throughput
  *    is REPORTED for every rate step; only the LOWEST step is asserted,
  *    at `SustainedFraction` (0.7×) of the offered rate — the lowest step
  *    must be comfortably sustainable while the higher steps exist to
  *    measure the ceiling, read off as the first step whose
  *    committed/offered ratio falls under `SustainedFraction`. On a
  *    cluster the sink parallelism is the executor count — this measures
  *    the per-box share.
  *  - EXACT ROW ACCOUNTING: after stopping at a processed-offsets barrier,
  *    segment rows == the rate source's delivered row range (exactly-once
  *    through appendBatch's batchId replay guard).
  *  - CONCURRENT READER: a reader polling during ingest sees only whole
  *    committed batches (monotone counts; the manifest snapshot claim on
  *    the streaming path).
  *
  * Usage: `sbt "runMain graft.tools.StreamRehearsal [rowsPerSec...]"`
  * (defaults 50k/200k/800k/1.6M/3.2M rows/s, 15s per step — the top two
  * steps exist to drive the pipeline PAST saturation so the artifact
  * names the knee instead of three sustained points, VERDICT r17 #7).
  */
object StreamRehearsal {
  /** Single source of truth for the sustained-throughput contract (see
    * scaladoc): the lowest rate step must commit at least this fraction
    * of the offered rate; higher steps only report, and a step falling
    * under this ratio marks the measured ceiling. */
  val SustainedFraction = 0.7

  def main(args: Array[String]): Unit = {
    val rates: Seq[Long] =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(50000L, 200000L, 800000L, 1600000L, 3200000L)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    var failures = 0
    def check(label: String)(ok: => Boolean, detail: => String): Unit = {
      val pass = try ok catch { case e: Throwable =>
        System.err.println(s"[stream-rehearsal] ERROR $label: $e"); false }
      if (!pass) failures += 1
      println(s"[stream-rehearsal] ${if (pass) "PASS" else "FAIL"} $label: $detail")
    }

    // per-step artifact rows (VERDICT r16 #6: the reference's one
    // quantitative streaming claim is ingest rate — pin ours per round):
    // (offered, committedRows, wallSec, rowsPerSec, commitLatAvgMs,
    //  commitLatMaxMs, batches, sustained)
    val stepResults = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Double, Double, Int, Boolean)]

    rates.foreach { rate =>
      val root = Files.createTempDirectory("graft_stream").toString
      val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
      val store = new SegmentStore(root)
      // rate source → events shape; event time = wall clock (no late rows)
      val stream = spark.readStream.format("rate")
        .option("rowsPerSecond", rate).option("numPartitions", 8).load()
        .select(col("timestamp").as("__time"), col("value").as("event_id"),
          (col("value") % 97).as("user_id"),
          (col("value") % 1000).cast("double").as("value"))
      val q = RealtimeIngest.start(stream, store, "stream_events",
        watermark = None, checkpointDir = ckpt,
        trigger = Trigger.ProcessingTime("2 seconds"))

      // concurrent reader: poll committed counts during ingest
      val observed = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      val runMs = 15000L
      while ((System.nanoTime() - t0) / 1e6 < runMs && q.isActive) {
        Thread.sleep(1000)
        try observed += store.read(spark, "stream_events").count()
        catch { case _: Throwable => () } // pre-first-commit: no segments yet
      }
      // Graceful stop, NOT processAllAvailable: against a live rate source
      // "all available" is a moving target — a sink slower than the offered
      // rate never catches up and the call never returns (measured: wedged
      // at the first step). stop() finishes the in-flight batch; committed
      // rows are whole batches by construction.
      // COMMIT LATENCY from the engine's own progress events, captured
      // BEFORE stop() (stop clears recentProgress on some paths): per
      // committed micro-batch, triggerExecution = source read + transform
      // + appendBatch segment commit — the end-to-end batch latency
      val progress = q.recentProgress.toSeq
      q.stop(); q.awaitTermination()
      val wallSecs = (System.nanoTime() - t0) / 1e9
      val lats = progress.filter(_.numInputRows > 0).flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
      val latAvg = if (lats.isEmpty) -1.0 else lats.sum / lats.size
      val latMax = if (lats.isEmpty) -1.0 else lats.max

      val committed = store.read(spark, "stream_events").count()
      val throughput = committed / wallSecs
      val sustained = throughput >= SustainedFraction * rate
      stepResults += ((rate, committed, wallSecs, throughput, latAvg,
        latMax, lats.size, sustained))
      // exact accounting: the rate source delivers a contiguous value
      // range; committed rows must be exactly that range, once each
      val agg = store.read(spark, "stream_events")
        .agg(count(lit(1)), countDistinct(col("event_id")),
          min(col("event_id")), max(col("event_id"))).head()
      val (cnt, dist, lo, hi) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
      check(s"rate${rate}_exactly_once")(
        cnt == dist && lo == 0L && cnt == hi + 1,
        s"rows=$cnt distinct=$dist range=[$lo,$hi]")
      val monotone = observed.sliding(2).forall(w => w.size < 2 || w(0) <= w(1))
      check(s"rate${rate}_reader_monotone")(monotone,
        s"${observed.size} polls, counts=${observed.take(8).mkString(",")}...")
      // throughput is REPORTED for every step; only sustainability of the
      // lowest step is asserted (higher steps measure the ceiling)
      val label = f"rate${rate}_throughput"
      val detail = f"offered=$rate/s committed=$committed in $wallSecs%.1fs " +
        f"(${throughput / 1e3}%.0fk rows/s, ${throughput / rate}%.2fx offered)"
      if (rate == rates.min) check(label)(sustained, detail)
      else println(s"[stream-rehearsal] INFO $label: $detail")
    }

    // stateful path: windowed rollup under watermark at the middle rate
    locally {
      val root = Files.createTempDirectory("graft_stream_ru").toString
      val ckpt = Files.createTempDirectory("graft_stream_ru_ckpt").toString
      val store = new SegmentStore(root)
      val rate = rates(rates.size / 2)
      val stream = spark.readStream.format("rate")
        .option("rowsPerSecond", rate).option("numPartitions", 8).load()
        .select(col("timestamp").as("__time"),
          (col("value") % 5).cast("string").as("event_type"),
          lit(1L).as("n"))
      val q = RealtimeIngest.windowedRollup(stream, store, "stream_rollup",
        granularity = "2 seconds", watermark = "1 second",
        dims = Seq("event_type"), aggExprs = Seq(sum(col("n")).as("cnt")),
        checkpointDir = ckpt)
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e6 < 15000L && q.isActive)
        Thread.sleep(500)
      q.stop(); q.awaitTermination() // see append-path note on stop()
      // closed 2s windows × ≤5 event types; counts per (window, type) sum
      // to the rows of CLOSED windows (open window held back by watermark)
      val out = store.read(spark, "stream_rollup")
      val rows = out.count()
      val total = out.agg(sum(col("cnt"))).head().getLong(0)
      check("rollup_windows_committed")(rows > 0 && total > 0,
        s"rollupRows=$rows eventsInClosedWindows=$total")
    }

    // JSON artifact (VERDICT r16 #6): per-step rows/s + commit latency,
    // plus the sustained-throughput LAW result — the trend pin the
    // segcache laws established. `value` = best committed rows/s across
    // steps (the measured single-box micro-batch ingest ceiling).
    locally {
      def fmt(d: Double): String =
        String.format(java.util.Locale.ROOT, "%.4f", d)
      val steps = stepResults.map { case (off, rows, wall, thr, la, lm, b, sus) =>
        // avg_batch_rows is the backlog signal past the knee: an
        // over-offered pipeline commits ever-larger micro-batches (the
        // source keeps generating while the sink lags), so batch size and
        // commit latency inflate together while rows/s plateaus
        s"""{"offered_rows_per_sec":$off,"committed_rows":$rows,""" +
          s""""wall_sec":${fmt(wall)},"rows_per_sec":${fmt(thr)},""" +
          s""""commit_latency_ms_avg":${fmt(la)},"commit_latency_ms_max":${fmt(lm)},""" +
          s""""batches":$b,"avg_batch_rows":${if (b > 0) rows / b else -1},""" +
          s""""sustained":$sus}"""
      }.mkString("[", ",", "]")
      val best = if (stepResults.isEmpty) 0.0 else stepResults.map(_._4).max
      val lawHeld = stepResults.headOption.forall(_._8)
      // THE KNEE (VERDICT r17 #7): the first offered rate whose committed/
      // offered ratio fell under SustainedFraction — null when every step
      // sustained (the box's ceiling is past the top step). The max
      // SUSTAINED rows/s is the number the 100-TB sizing math should use;
      // `value` (best committed rows/s anywhere) may exceed it past the
      // knee by draining backlog in oversized batches.
      val knee = stepResults.find(!_._8).map(_._1)
      val maxSustained = stepResults.filter(_._8).map(_._4)
        .maxOption.getOrElse(0.0)
      val line = s"""{"metric":"stream_ingest_rows_per_sec","value":${fmt(best)},""" +
        s""""unit":"rows/sec","sustained_fraction":$SustainedFraction,""" +
        s""""law_held":$lawHeld,""" +
        s""""knee_offered_rows_per_sec":${knee.map(_.toString).getOrElse("null")},""" +
        s""""max_sustained_rows_per_sec":${fmt(maxSustained)},""" +
        s""""steps":$steps,"failures":$failures}"""
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_streaming.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[stream-rehearsal] artifact written to $out")
      println(line)
    }

    println(s"[stream-rehearsal] ${if (failures == 0) "ALL PASS" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
