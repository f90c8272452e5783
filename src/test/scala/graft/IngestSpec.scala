package graft

import graft.engine.Engine
import graft.ingest.TaskService
import graft.model.{Aggregator, Granularity}
import graft.store.{SegmentCatalog, SegmentStore}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** Ingestion/segment-management lifecycle (SURVEY §2.9, §3.3):
  * index → query → compact/merge/kill, status transitions, duplicate
  * rejection, interval locks, rollup-aware counting end-to-end. */
class IngestSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  private def freshStore(): SegmentStore =
    new SegmentStore(Files.createTempDirectory("graft-seg").toString)

  private lazy val raw = Seq(
    (ts("2024-05-01T01:00:00Z"), "click", 10.0),
    (ts("2024-05-01T01:30:00Z"), "click", 20.0),
    (ts("2024-05-01T05:00:00Z"), "view", 5.0),
    (ts("2024-05-02T03:00:00Z"), "view", 7.0),
  ).toDF("__time", "event_type", "value")

  test("hasDatasource: hostile names are absent, never a thrown 500") {
    // client-supplied datasource names reach the O(1) manifest stat; a
    // name the filesystem rejects (NUL) must read as not-owned like the
    // old listing-based check did, not surface InvalidPathException on
    // every served query resolution (ADVICE r17)
    val cat = new SegmentCatalog(freshStore())
    for (bad <- Seq("\u0000", "ev\u0000il", "", ".", "..", "a/b", "a\\b"))
      assert(!cat.hasDatasource(bad), s"expected absent: ${bad.length} chars")
    assert(!cat.hasDatasource("simply-missing"))
  }

  test("index task writes day-chunked segments; queries read them back") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    val input = Files.createTempDirectory("graft-in").toString
    raw.write.mode("overwrite").parquet(input)

    val id = svc.submit(
      s"""{"type":"index","id":"t1","dataSource":"ev","inputPath":"$input",
         |"inputFormat":"parquet","timestampColumn":"__time"}""".stripMargin)
    assert(id == "t1")
    assert(svc.status("t1").get.state == "SUCCESS")

    val m = store.readManifest("ev")
    assert(m.segments.map(_.chunk).sorted == Seq("2024-05-01", "2024-05-02"))
    assert(m.segments.map(_.rowCount).sum == 4)

    // query through the engine over the segment catalog
    val engine = new Engine(spark, new SegmentCatalog(store))
    val rows = engine.plan(
      """{"queryType":"timeseries","dataSource":"ev",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getAs[Long]("cnt"), r.getAs[Double]("sv"))).toSeq ==
      Seq((3L, 35.0), (1L, 7.0)))
  }

  test("zero-fill skips segment gaps: missing chunks yield NO buckets (query-timeseries.md:93)") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    // data on May 1 and May 4 only → chunks exist only for those days
    val gapped = Seq(
      (ts("2024-05-01T01:00:00Z"), "click", 10.0),
      (ts("2024-05-04T02:00:00Z"), "view", 7.0),
    ).toDF("__time", "event_type", "value")
    val input = Files.createTempDirectory("graft-gap-in").toString
    gapped.write.mode("overwrite").parquet(input)
    svc.submit(
      s"""{"type":"index","id":"tg","dataSource":"evg","inputPath":"$input",
         |"inputFormat":"parquet","timestampColumn":"__time"}""".stripMargin)

    val engine = new Engine(spark, new SegmentCatalog(store))
    val rows = engine.plan(
      """{"queryType":"timeseries","dataSource":"evg",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-06T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect()
    // May 2/3/5 have no segments → absent; NOT zero-filled rows
    assert(rows.map(_.getAs[Timestamp]("__time")).toSeq ==
      Seq(ts("2024-05-01T00:00:00Z"), ts("2024-05-04T00:00:00Z")))

    // a killed chunk opens a gap the same way
    svc.submit("""{"type":"kill","id":"tk","dataSource":"evg","chunk":"2024-05-04"}""")
    val after = engine.plan(
      """{"queryType":"timeseries","dataSource":"evg",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-06T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect()
    assert(after.map(_.getAs[Timestamp]("__time")).toSeq ==
      Seq(ts("2024-05-01T00:00:00Z")))
  }

  test("reader racing appendBatch never sees a partial batch (manifest-flip atomicity)") {
    // SegmentStore.scala documents that visibility is solely the atomic
    // manifest flip. The hazard: a batch's part-files surface in the
    // version dir one rename at a time during job-commit, so a reader
    // listing the DIRECTORY mid-commit would count a strict subset of the
    // batch. Readers scan the manifest-pinned file list instead — every
    // count a racing reader observes must be a whole number of batches.
    val store = freshStore()
    val batchRows = 5
    store.write((0 until batchRows).map(i =>
      (ts("2024-05-01T01:00:00Z"), s"e$i", i.toDouble))
      .toDF("__time", "event_type", "value"), "race")

    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerFail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        (1 to 12).foreach { b =>
          store.appendBatch((0 until batchRows).map(i =>
            (ts("2024-05-01T02:00:00Z"), s"b${b}e$i", i.toDouble))
            .toDF("__time", "event_type", "value"), "race", batchId = Some(b.toLong))
        }
      } catch { case t: Throwable => writerFail.set(t) }
      finally writerDone.set(true)
    })
    writer.start()
    val observed = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iters = 0
    while ((!writerDone.get || iters < 100) && iters < 400) {
      observed += store.read(spark, "race").count()
      iters += 1
    }
    writer.join()
    assert(writerFail.get == null, s"writer failed: ${writerFail.get}")
    observed.foreach { c =>
      assert(c % batchRows == 0,
        s"reader observed $c rows mid-append — a partial batch became visible")
    }
    // counts only move forward (monotone visibility), and the final state
    // holds every batch exactly once
    assert(observed.toSeq == observed.sorted.toSeq, "visibility went backwards")
    assert(store.read(spark, "race").count() == 13L * batchRows)
  }

  test("rollup index pre-aggregates and count is rewritten to sum") {
    val store = freshStore()
    store.write(raw, "ev_rollup", rollup = Some((Granularity.Simple("hour"),
      Seq("event_type"), Seq(Aggregator.Sum("sv", "value", "double")))))

    // stored rows: (05-01T01,click,30),(05-01T05,view,5),(05-02T03,view,7)
    assert(store.read(spark, "ev_rollup").count() == 3)

    val engine = new Engine(spark, new SegmentCatalog(store))
    val rows = engine.plan(
      """{"queryType":"timeseries","dataSource":"ev_rollup",
        |"intervals":["2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"],
        |"granularity":"all",
        |"aggregations":[{"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"sv"}]}""".stripMargin)
      .collect()
    // count must report RAW rows (4), not rolled-up rows (3)
    assert(rows.head.getAs[Long]("cnt") == 4L)
    assert(rows.head.getAs[Double]("sv") == 42.0)
  }

  test("multi-chunk ingest is a single pass: jobs don't scale with chunk count") {
    // SegmentStore.write used to run one filtered write per chunk — a full
    // source re-scan AND rollup recompute per day (O(chunks × corpus); at a
    // 100-TB backfill over 365 chunks that is ~366 full passes). The
    // single-pass design stages ONE partitionBy("dt") job and commits with
    // metadata-only renames, so the Spark job count is a small constant
    // regardless of how many chunks the frame spans.
    val nChunks = 25
    val wide = (1 to nChunks).flatMap { d =>
      Seq((ts(f"2024-07-$d%02dT01:00:00Z"), "click", d.toDouble),
        (ts(f"2024-07-$d%02dT02:00:00Z"), "view", d * 2.0))
    }.toDF("__time", "event_type", "value")
    val input = Files.createTempDirectory("graft-wide").toString
    wide.write.mode("overwrite").parquet(input)
    val src = spark.read.parquet(input)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def stableJobCount(): Int = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    }

    val store = freshStore()
    spark.sparkContext.addSparkListener(listener)
    try {
      store.write(src, "wide", rollup = Some((Granularity.Simple("hour"),
        Seq("event_type"), Seq(Aggregator.Sum("sv", "value", "double")))))
      val writeJobs = stableJobCount()
      // pre-fix this was ≥ nChunks+1 (a distinct() scan + one write per
      // chunk); AQE may split the one staged query into a few stage-jobs
      assert(writeJobs <= 4 && writeJobs >= 1,
        s"rollup write of $nChunks chunks ran $writeJobs jobs — per-chunk re-scan is back")

      jobs.set(0)
      // rolled-shaped rows (same schema as the stored segments)
      val extra = (1 to nChunks).map(d =>
        (ts(f"2024-07-$d%02dT05:00:00Z"), "extra", 1.0, 1L))
        .toDF("__time", "event_type", "sv", "__rollup_count")
      store.appendBatch(extra, "wide")
      val appendJobs = stableJobCount()
      assert(appendJobs <= 4 && appendJobs >= 1,
        s"append of $nChunks chunks ran $appendJobs jobs — per-chunk re-scan is back")
    } finally spark.sparkContext.removeSparkListener(listener)

    // and the committed state is exactly what the per-chunk writer produced
    val m = store.readManifest("wide")
    assert(m.segments.map(_.chunk).distinct.size == nChunks)
    assert(m.segments.map(_.rowCount).sum == nChunks * 3L) // 2 rolled + 1 appended per day
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(store.root, "wide"))
      .iterator().asScala.count(_.getFileName.toString.startsWith(".staging")) == 0,
      "staging dirs must be cleaned up")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val total = engine.plan(
      """{"queryType":"timeseries","dataSource":"wide",
        |"intervals":["2024-07-01T00:00:00Z/2024-08-01T00:00:00Z"],
        |"granularity":"all",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"sv"}]}""".stripMargin)
      .collect().head.getAs[Double]("sv")
    // rolled-up sv = Σd (d + 2d) = 3·Σd; appended rows add sv = 1 per day
    assert(total == 3.0 * (1 to nChunks).sum + nChunks)
  }

  test("clustered snapshots: manifest records the layout; the join on the cluster key needs no shuffle") {
    val store = freshStore()
    val left = (1 to 2000).map(i => (i.toLong, s"l$i", i * 2.0)).toDF("k", "lv", "amt")
    val right = (1 to 2000).map(i => (i.toLong, s"r${i % 7}")).toDF("k", "rv")
    store.writeClustered(left, "fact_l", "k", nBuckets = 4)
    store.writeClustered(right, "fact_r", "k", nBuckets = 4)

    // manifest roundtrip: layout metadata survives a fresh store instance
    val reread = new SegmentStore(store.root).readManifest("fact_l")
    assert(reread.segments.map(_.clusterBy) == Seq(Some(("k", 4))))

    // with broadcast off (the 100-TB fact-fact regime), the bucketed join
    // plans ZERO shuffles and ZERO sorts; the same join over plain parquet
    // reads shuffles (and sorts) both sides
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val clustered = store.readClustered(spark, "fact_l")
        .join(store.readClustered(spark, "fact_r"), "k")
      val cPlan = clustered.queryExecution.executedPlan.toString
      assert(!cPlan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$cPlan")
      assert(cPlan.contains("Bucketed: true"), s"scan must be bucketed:\n$cPlan")
      // a LOCAL per-bucket sort remains: since Spark 3.0 the scan only
      // reports bucket sort order under the legacy conf
      // spark.sql.legacy.bucketedTableScan.outputOrdering — the layout IS
      // sorted (one file per bucket, SORTED BY recorded), so that sort is a
      // no-shuffle O(n) pass over presorted runs, not a scale cost

      val plainDir = Files.createTempDirectory("graft-plain")
      left.write.parquet(s"$plainDir/l"); right.write.parquet(s"$plainDir/r")
      val plain = spark.read.parquet(s"$plainDir/l")
        .join(spark.read.parquet(s"$plainDir/r"), "k")
      assert(plain.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))

      // same rows either way (layout is a plan property, not a semantics one)
      assert(clustered.orderBy("k").collect().toSeq ==
        plain.orderBy("k").collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    // whole-snapshot rewrite: new version wins, old files overshadow-deleted
    store.writeClustered(left.limit(10), "fact_l", "k", nBuckets = 4)
    assert(store.readClustered(spark, "fact_l").count() == 10)
    assert(new SegmentStore(store.root).readManifest("fact_l")
      .segments.map(_.version) == Seq(2))
  }

  test("append (compact) task preserves data, bumps version") {
    val store = freshStore()
    store.write(raw, "ev")
    val v1 = store.readManifest("ev").segments.find(_.chunk == "2024-05-01").get
    store.compactChunk(spark, "ev", "2024-05-01", targetFiles = 1)
    val v2 = store.readManifest("ev").segments.find(_.chunk == "2024-05-01").get
    assert(v2.version == v1.version + 1)
    assert(v2.rowCount == v1.rowCount)
    assert(store.read(spark, "ev").count() == 4)
  }

  test("index task ingests JSON and CSV input formats") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    val jsonIn = Files.createTempDirectory("graft-json").toString
    raw.withColumn("__time", col("__time").cast("string"))
      .write.mode("overwrite").json(jsonIn)
    svc.submit(
      s"""{"type":"index","id":"j1","dataSource":"ev_json","inputPath":"$jsonIn",
         |"inputFormat":"json","timestampColumn":"__time"}""".stripMargin)
    assert(store.read(spark, "ev_json").count() == 4)

    val csvIn = Files.createTempDirectory("graft-csv").toString
    raw.write.mode("overwrite").option("header", "true").csv(csvIn)
    svc.submit(
      s"""{"type":"index","id":"c1","dataSource":"ev_csv","inputPath":"$csvIn",
         |"inputFormat":"csv","timestampColumn":"__time"}""".stripMargin)
    assert(store.read(spark, "ev_csv").count() == 4)
    assert(store.read(spark, "ev_csv").schema("__time").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("index task flattenSpec projects nested JSON into dimensions") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    val withProps = raw.withColumn("props",
      concat(lit("""{"k": """), (col("value") * 2).cast("int"), lit("""}""")))
    val input = Files.createTempDirectory("graft-fl").toString
    withProps.write.mode("overwrite").parquet(input)

    svc.submit(
      s"""{"type":"index","id":"fl1","dataSource":"ev_flat","inputPath":"$input",
         |"inputFormat":"parquet","timestampColumn":"__time",
         |"flattenSpec":{"fields":[{"name":"k","column":"props","expr":"$$.k"}]}}""".stripMargin)
    val out = store.read(spark, "ev_flat")
    assert(out.columns.contains("k"))
    assert(out.where(col("k") === "20").count() == 1) // value=10.0 → k=20
  }

  test("merge task re-aggregates rolled-up shards in a chunk") {
    val store = freshStore()
    // two appends create unmerged shards of the same rollup rows
    val rolled = Seq(
      (ts("2024-05-01T01:00:00Z"), "click", 30.0, 2L),
      (ts("2024-05-01T05:00:00Z"), "view", 5.0, 1L),
    ).toDF("__time", "event_type", "sv", "__rollup_count")
    store.write(rolled, "evr", rollup = None)
    store.appendBatch(Seq((ts("2024-05-01T01:00:00Z"), "click", 10.0, 1L))
      .toDF("__time", "event_type", "sv", "__rollup_count"), "evr")
    assert(store.read(spark, "evr").count() == 3)

    store.mergeChunk(spark, "evr", "2024-05-01", Seq("event_type"),
      Seq(Aggregator.Sum("sv", "sv", "double")))
    val out = store.read(spark, "evr").collect()
    assert(out.length == 2) // click shards merged
    val click = out.find(_.getAs[String]("event_type") == "click").get
    assert(click.getAs[Double]("sv") == 40.0)
    assert(click.getAs[Long]("__rollup_count") == 3L)
  }

  test("convert_segment task rewrites a chunk with new writer options") {
    val store = freshStore()
    store.write(raw, "ev")
    val before = store.readManifest("ev").segments.find(_.chunk == "2024-05-01").get
    store.convertChunk(spark, "ev", "2024-05-01",
      Map("compression" -> "gzip"))
    val after = store.readManifest("ev").segments.find(_.chunk == "2024-05-01").get
    assert(after.version == before.version + 1)
    assert(after.rowCount == before.rowCount)
    assert(store.read(spark, "ev").count() == 4)
  }

  test("kill task removes chunk data and metadata") {
    val store = freshStore()
    store.write(raw, "ev")
    store.killChunk("ev", "2024-05-01")
    val m = store.readManifest("ev")
    assert(m.segments.map(_.chunk) == Seq("2024-05-02"))
    assert(store.read(spark, "ev").count() == 1)
  }

  test("move task relocates files and repoints the manifest") {
    val store = freshStore()
    store.write(raw, "ev")
    val newRoot = Files.createTempDirectory("graft-tier2").toString
    store.moveChunk("ev", "2024-05-02", newRoot)
    val m = store.readManifest("ev")
    assert(m.segments.find(_.chunk == "2024-05-02").get.path.startsWith(newRoot))
    assert(store.read(spark, "ev").count() == 4)
  }

  test("interval routing reads only overlapping segment chunks") {
    val store = freshStore()
    store.write(raw, "ev")
    import graft.model.Interval
    // only 2024-05-01 overlaps
    val routed = store.readIntervals(spark, "ev",
      Seq(Interval.parse("2024-05-01T00:00:00Z/2024-05-02T00:00:00Z")))
    assert(routed.inputFiles.forall(_.contains("dt=2024-05-01")))
    assert(routed.count() == 3)
    // no overlap → empty with intact schema
    val none = store.readIntervals(spark, "ev",
      Seq(Interval.parse("2030-01-01T00:00:00Z/2030-01-02T00:00:00Z")))
    assert(none.count() == 0 && none.columns.contains("__time"))
  }

  test("concurrent ingest into DIFFERENT chunks keeps both (manifest race)") {
    // chunk locks permit this concurrency by design; the manifest
    // read-modify-write must still be atomic or the last writer drops the
    // other task's segments and the survivor references deleted paths
    val store = freshStore()
    val df1 = Seq((ts("2024-06-01T01:00:00Z"), "a", 1.0))
      .toDF("__time", "event_type", "value")
    val df2 = Seq((ts("2024-06-02T01:00:00Z"), "b", 2.0))
      .toDF("__time", "event_type", "value")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(store.write(df1, "race"))
    val f2 = Future(store.write(df2, "race"))
    Await.result(f1, 120.seconds); Await.result(f2, 120.seconds)
    val m = store.readManifest("race")
    assert(m.segments.map(_.chunk).sorted == Seq("2024-06-01", "2024-06-02"))
    // every advertised path actually exists on disk (no dangling deletes)
    m.segments.foreach(s => assert(Files.exists(java.nio.file.Paths.get(s.path)),
      s"manifest references deleted path ${s.path}"))
    assert(spark.read.parquet(m.segments.map(_.path): _*).count() == 2)
  }

  test("concurrent ingest from TWO store instances over one root (shared monitor)") {
    // per-instance monitors would both be passed and the second
    // FileChannel.lock() would throw OverlappingFileLockException (JDK file
    // locks don't block on same-JVM contention) — the monitor map must be
    // JVM-global keyed by manifest path
    val root = Files.createTempDirectory("graft-2stores").toString
    val storeA = new SegmentStore(root)
    val storeB = new SegmentStore(root)
    val df1 = Seq((ts("2024-06-01T01:00:00Z"), "a", 1.0))
      .toDF("__time", "event_type", "value")
    val df2 = Seq((ts("2024-06-02T01:00:00Z"), "b", 2.0))
      .toDF("__time", "event_type", "value")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 3).foreach { i =>
      val f1 = Future(storeA.write(df1, s"race2-$i"))
      val f2 = Future(storeB.write(df2, s"race2-$i"))
      Await.result(f1, 120.seconds); Await.result(f2, 120.seconds)
      val m = storeA.readManifest(s"race2-$i")
      assert(m.segments.map(_.chunk).sorted == Seq("2024-06-01", "2024-06-02"))
      m.segments.foreach(s => assert(Files.exists(java.nio.file.Paths.get(s.path))))
    }
  }

  test("duplicate task id is rejected (submit-task.md:45-48)") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    svc.submit("""{"type":"noop","id":"dup"}""")
    val e = intercept[IllegalStateException](
      svc.submit("""{"type":"noop","id":"dup"}"""))
    assert(e.getMessage.contains("already exists"))
  }

  test("failed task records FAILED status with the error") {
    val store = freshStore()
    val svc = new TaskService(spark, store)
    intercept[Exception](svc.submit(
      """{"type":"index","id":"bad","dataSource":"x",
        |"inputPath":"/nonexistent","inputFormat":"parquet"}""".stripMargin))
    assert(svc.status("bad").get.state == "FAILED")
  }

  test("interval lock: concurrent writer on a locked chunk fails") {
    val store = freshStore()
    store.write(raw, "ev")
    // simulate a held lock (another task mid-write)
    val lockFile = java.nio.file.Paths.get(store.root, "ev", ".lock-2024-05-01")
    Files.createFile(lockFile)
    try {
      val e = intercept[Exception](store.compactChunk(spark, "ev", "2024-05-01"))
      assert(e.getMessage.contains("interval lock"))
    } finally Files.deleteIfExists(lockFile)
  }

  test("segmentMetadata merge=false lists one row per manifest segment") {
    val store = freshStore()
    store.write(raw, "ev")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val rows = engine.plan(
      """{"queryType":"segmentMetadata","dataSource":"ev","merge":false}""")
      .collect()
    assert(rows.map(r => (r.getAs[String]("segment_id"), r.getAs[Long]("rows"))).toSeq ==
      Seq(("2024-05-01", 3L), ("2024-05-02", 1L)))
  }

  test("compaction policy rewrites old chunks; retention kills them") {
    import graft.ingest.Compactor
    val store = freshStore()
    store.write(raw, "ev") // chunks 2024-05-01, 2024-05-02
    // append twice to fragment 05-01
    store.appendBatch(Seq((ts("2024-05-01T09:00:00Z"), "view", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    val compacted = Compactor.compactOlderThan(spark, store, "ev",
      java.time.Instant.parse("2024-05-02T00:00:00Z"))
    assert(compacted == Seq("2024-05-01"))
    assert(store.read(spark, "ev").count() == 5)
    val killed = Compactor.enforceRetention(store, "ev",
      java.time.Instant.parse("2024-05-02T00:00:00Z"))
    assert(killed == Seq("2024-05-01"))
    assert(store.readManifest("ev").segments.map(_.chunk) == Seq("2024-05-02"))
  }

  test("native functions resolve through the SQL surface") {
    // (withExtensions only applies to a fresh SparkContext — in-JVM tests
    // exercise the registry route; GraftExtensions wires the same builders)
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    val r = spark.sql(
      "SELECT round(cosine_similarity(array(3.0D,4.0D), array(3.0D,4.0D)), 3) v")
      .collect().head.getDouble(0)
    assert(r == 1.0)
    val h = spark.sql("SELECT simhash64(array('a','b','c')) v").collect().head.getLong(0)
    assert(h == spark.sql("SELECT simhash64(array('a','b','c')) v").collect().head.getLong(0))
  }

  test("streaming ingest: micro-batches land as queryable segments; late data dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("__time", "event_type", "value")

    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = graft.streaming.RealtimeIngest.start(stream, store, "live",
      watermark = None, checkpointDir = ckpt, trigger = Trigger.AvailableNow())

    mem.addData((ts("2024-06-01T10:00:00Z"), "click", 1.0),
      (ts("2024-06-01T11:00:00Z"), "view", 2.0))
    q.awaitTermination(60000)

    assert(store.read(spark, "live").count() == 2)

    // second batch appends to the same chunk
    val q2 = graft.streaming.RealtimeIngest.start(stream, store, "live",
      watermark = None, checkpointDir = ckpt, trigger = Trigger.AvailableNow())
    mem.addData((ts("2024-06-01T12:00:00Z"), "click", 3.0))
    q2.awaitTermination(60000)
    assert(store.read(spark, "live").count() == 3)

    // engine sees fresh data immediately (queryable-before-handoff)
    val engine = new Engine(spark, new SegmentCatalog(store))
    val r = engine.plan(
      """{"queryType":"timeBoundary","dataSource":"live","bound":"both"}""")
      .collect().head
    assert(r.getAs[Timestamp]("maxTime") == ts("2024-06-01T12:00:00Z"))
  }

  test("streaming dedup: cross-batch duplicate keys dropped, state survives restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("__time", "fp", "value")

    // data added BEFORE each AvailableNow start: a stateful AvailableNow
    // query plans its batches from the offsets available at start
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    mem.addData((ts("2024-06-01T10:00:00Z"), "a", 1.0),
      (ts("2024-06-01T10:01:00Z"), "b", 2.0),
      (ts("2024-06-01T10:02:00Z"), "a", 3.0)) // within-batch duplicate
    val q = graft.streaming.RealtimeIngest.startDeduped(stream, store, "sdedup",
      Seq("fp"), watermark = "1 hour", checkpointDir = ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(store.read(spark, "sdedup").count() == 2)

    // restart from the same checkpoint: the dedup state is durable, so a
    // cross-RESTART duplicate is still dropped while a fresh key lands
    mem.addData((ts("2024-06-01T10:03:00Z"), "a", 4.0), // cross-restart dup
      (ts("2024-06-01T10:04:00Z"), "c", 5.0))
    val q2 = graft.streaming.RealtimeIngest.startDeduped(stream, store, "sdedup",
      Seq("fp"), watermark = "1 hour", checkpointDir = ckpt,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val got = store.read(spark, "sdedup")
    assert(got.count() == 3)
    assert(got.select("fp").collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "b", "c")))
    // the kept row for each key is its FIRST occurrence
    assert(got.where(col("fp") === "a").select("value").head().getDouble(0) == 1.0)
  }

  test("streaming append × fragment cache: a realtime micro-batch " +
      "invalidates exactly the hot chunk (VERDICT r12 #5)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("__time", "event_type", "value")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    // three days land through the streaming path
    mem.addData(
      (ts("2024-06-01T10:00:00Z"), "click", 1.0),
      (ts("2024-06-02T10:00:00Z"), "view", 2.0),
      (ts("2024-06-03T10:00:00Z"), "click", 4.0))
    val q0 = graft.streaming.RealtimeIngest.start(stream, store, "live",
      watermark = None, checkpointDir = ckpt, trigger = Trigger.AvailableNow())
    q0.awaitTermination(60000)

    val engine = new Engine(spark, new SegmentCatalog(store))
    val daily =
      """{"queryType":"timeseries","dataSource":"live",
        |"intervals":["2024-06-01T00:00:00Z/2024-06-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"value"}]}""".stripMargin
    val monthly = daily.replace("\"day\"", "\"month\"")
    // warm both the nesting-path fragments and the day-PARTIAL fragments
    val d1 = engine.executeJson(daily)
    assert(engine.metrics.last.segmentMisses == 3)
    engine.executeJson(monthly)
    assert(engine.metrics.last.segmentMisses == 3)
    // fully warm: zero Spark jobs for either shape
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      engine.executeJsonStream(daily).mkString
      engine.executeJsonStream(monthly).mkString
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(jobs == 0, s"warm queries must run zero jobs, ran $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)

    // a NEW micro-batch through the SAME checkpoint appends to June 2 only:
    // the chunk's manifest token (version AND rowCount) must invalidate
    // exactly that chunk's fragments on both paths
    mem.addData((ts("2024-06-02T18:00:00Z"), "click", 8.0))
    val q1 = graft.streaming.RealtimeIngest.start(stream, store, "live",
      watermark = None, checkpointDir = ckpt, trigger = Trigger.AvailableNow())
    q1.awaitTermination(60000)

    val d2 = engine.executeJson(daily)
    assert(engine.metrics.last.segmentHits == 2 &&
      engine.metrics.last.segmentMisses == 1, engine.metrics.last.toString)
    assert(d2 != d1 && d2.contains("\"sv\":10.0"), d2) // 2.0 + 8.0
    engine.executeJson(monthly)
    assert(engine.metrics.last.segmentHits == 2 &&
      engine.metrics.last.segmentMisses == 1, engine.metrics.last.toString)
    // merged monthly total reflects the append: 1 + 2 + 4 + 8
    assert(engine.executeJson(monthly).contains("\"sv\":15.0"))
  }

  test("unfiltered timeBoundary scans only the first and last non-empty " +
      "chunks (Druid's metadata answer)") {
    val store = freshStore()
    val days = Seq("2024-05-01", "2024-05-02", "2024-05-03", "2024-05-09",
      "2024-05-17")
    store.write(days.zipWithIndex.map { case (d, i) =>
      (ts(s"${d}T0${i + 1}:00:00Z"), "click", i.toDouble)
    }.toDF("__time", "event_type", "value"), "ev")
    val engine = new Engine(spark, new SegmentCatalog(store))
    val df = engine.plan(
      """{"queryType":"timeBoundary","dataSource":"ev","bound":"both"}""")
    // the plan reads ONLY the earliest and latest chunks' files — at
    // 100 TB that is 2 chunks instead of the whole datasource
    val files = df.inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("dt=2024-05-01") || f.contains("dt=2024-05-17")),
      files.mkString(", "))
    val r = df.collect().head
    assert(r.getAs[Timestamp]("minTime") == ts("2024-05-01T01:00:00Z"))
    assert(r.getAs[Timestamp]("maxTime") == ts("2024-05-17T05:00:00Z"))
    // single-bound variants prune to exactly one chunk each
    assert(engine.plan(
      """{"queryType":"timeBoundary","dataSource":"ev","bound":"minTime"}""")
      .inputFiles.forall(_.contains("dt=2024-05-01")))
    assert(engine.plan(
      """{"queryType":"timeBoundary","dataSource":"ev","bound":"maxTime"}""")
      .inputFiles.forall(_.contains("dt=2024-05-17")))
    // FILTERED timeBoundary probes chunks from each end and stops at the
    // first match (r14): exact semantics preserved, O(1) chunks in the
    // dashboard-typical case instead of a datasource scan
    val filtered = engine.plan(
      """{"queryType":"timeBoundary","dataSource":"ev","bound":"both",
        |"filter":{"type":"selector","dimension":"value","value":"3.0"}}""".stripMargin)
      .collect().head
    assert(filtered.getAs[Timestamp]("minTime") == ts("2024-05-09T04:00:00Z"))
    assert(filtered.getAs[Timestamp]("maxTime") == ts("2024-05-09T04:00:00Z"))
    // job-count pins: an early-hit filter (matches the first AND last
    // chunks) resolves bound=both in exactly 2 probe jobs — one batch per
    // end — regardless of how many chunks sit between them
    locally {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      def stableJobCount(): Int = {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
        jobs.get()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val early = engine.plan(
          """{"queryType":"timeBoundary","dataSource":"ev","bound":"both",
            |"filter":{"type":"selector","dimension":"event_type","value":"click"}}""".stripMargin)
        // one batch per end; AQE may materialize an agg collect as up to
        // two stage-jobs, so the pin is per-BATCH (2 batches → ≤ 4 jobs),
        // independent of how many chunks sit between the ends
        val earlyJobs = stableJobCount()
        assert(earlyJobs <= 4,
          s"early-hit probe must scan one batch per end, ran $earlyJobs jobs")
        val r2 = early.collect().head
        assert(r2.getAs[Timestamp]("minTime") == ts("2024-05-01T01:00:00Z"))
        assert(r2.getAs[Timestamp]("maxTime") == ts("2024-05-17T05:00:00Z"))
        // a LATE hit walks exponentially-growing batches: for the middle
        // chunk of five, min needs batches 1+2+4clipped (3), max needs 1+2
        // (2) — 5 batches, bounded by log(N), never N per-chunk jobs
        jobs.set(0)
        engine.plan(
          """{"queryType":"timeBoundary","dataSource":"ev","bound":"both",
            |"filter":{"type":"selector","dimension":"value","value":"3.0"}}""".stripMargin)
        val lateJobs = stableJobCount()
        assert(lateJobs > earlyJobs && lateJobs <= 10,
          s"late-hit probe ran $lateJobs jobs (early ran $earlyJobs)")
        // filter matching NOTHING: all batches probed (3 per end), null
        // bounds — the same bytes the full scan produces
        jobs.set(0)
        val none = engine.plan(
          """{"queryType":"timeBoundary","dataSource":"ev","bound":"both",
            |"filter":{"type":"selector","dimension":"event_type","value":"nope"}}""".stripMargin)
          .collect().head
        assert(none.isNullAt(0) && none.isNullAt(1), none.toString)
        // 6 batches; AQE job count per batch varies with the batch's file
        // count (measured ~2.2/batch) — the pin is the log-shaped bound
        assert(stableJobCount() <= 15, s"no-match probe ran ${jobs.get()} jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // dataSourceMetadata prunes to the latest chunk the same way
    val dsm = engine.plan(
      """{"queryType":"dataSourceMetadata","dataSource":"ev"}""")
    assert(dsm.inputFiles.forall(_.contains("dt=2024-05-17")),
      dsm.inputFiles.mkString(", "))
    assert(dsm.collect().head.getAs[Timestamp]("maxIngestedEventTime") ==
      ts("2024-05-17T05:00:00Z"))
  }

  test("appendBatch replay protection: a retried batchId is a no-op") {
    val store = freshStore()
    def batch(h: Int) = Seq((ts(f"2024-06-01T$h%02d:00:00Z"), "click", 1.0))
      .toDF("__time", "event_type", "value")
    store.appendBatch(batch(10), "rp", Some(0L))
    assert(store.read(spark, "rp").count() == 1)
    // crash-between-append-and-checkpoint replay: same id → skipped
    store.appendBatch(batch(10), "rp", Some(0L))
    assert(store.read(spark, "rp").count() == 1)
    // next batch appends
    store.appendBatch(batch(11), "rp", Some(1L))
    assert(store.read(spark, "rp").count() == 2)
    // batchId-less appends (non-streaming callers) never skip
    store.appendBatch(batch(12), "rp", None)
    store.appendBatch(batch(12), "rp", None)
    assert(store.read(spark, "rp").count() == 4)
  }

  test("streaming ingest drops events later than the watermark period") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("__time", "event_type", "value")
    val ckpt = Files.createTempDirectory("graft-ckpt-wm").toString

    // one running query, two micro-batches (the rejection horizon is
    // process-local to the run — a restart re-seeds it by design)
    val q = graft.streaming.RealtimeIngest.start(stream, store, "wm",
      watermark = Some("1 hour"), checkpointDir = ckpt,
      trigger = Trigger.ProcessingTime("500 milliseconds"))
    try {
      // batch 1 establishes the high-watermark at 11:00
      mem.addData((ts("2024-06-01T10:00:00Z"), "click", 1.0),
        (ts("2024-06-01T11:00:00Z"), "view", 2.0))
      q.processAllAvailable()
      assert(store.read(spark, "wm").count() == 2)

      // batch 2: 09:00 is 2h behind the 11:00 high-watermark → dropped;
      // 10:30 is inside the 1h window → kept
      mem.addData((ts("2024-06-01T09:00:00Z"), "late", 9.0),
        (ts("2024-06-01T10:30:00Z"), "ok", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val types = store.read(spark, "wm").select("event_type")
      .collect().map(_.getString(0)).toSet
    assert(types == Set("click", "view", "ok"), s"late event must be dropped: $types")
  }

  test("sessionization: gap-based sessions close via event-time timeout state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val stream = mem.toDF().toDF("entity", "__time", "value")

    val out = graft.streaming.Sessionize.sessions(stream, "entity", "value",
      gapMinutes = 30, watermark = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()

    // u1: two events 10 min apart (one session), then a 2h gap, then one more
    mem.addData(
      ("u1", ts("2024-06-01T10:00:00Z"), 1.0),
      ("u1", ts("2024-06-01T10:10:00Z"), 2.0))
    q.processAllAvailable()
    mem.addData(("u1", ts("2024-06-01T12:30:00Z"), 5.0)) // watermark passes 10:40
    q.processAllAvailable()
    mem.addData(("u2", ts("2024-06-01T15:00:00Z"), 9.0)) // push watermark further
    q.processAllAvailable()
    q.stop()

    val sessions = spark.sql("SELECT * FROM sessions_out").collect()
    val first = sessions.find(r => r.getAs[String]("entity") == "u1" &&
      r.getAs[Timestamp]("session_start") == ts("2024-06-01T10:00:00Z"))
    assert(first.isDefined, s"got: ${sessions.mkString(";")}")
    assert(first.get.getAs[Long]("n_events") == 2L)
    assert(first.get.getAs[Double]("sum_value") == 3.0)
    assert(first.get.getAs[Timestamp]("session_end") == ts("2024-06-01T10:10:00Z"))
  }

  test("streaming windowed rollup drops late rows beyond the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("__time", "event_type", "value")
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString

    // watermark 30 min, 1-hour tumbling windows
    val q = graft.streaming.RealtimeIngest.windowedRollup(stream, store, "agg",
      granularity = "1 hour", watermark = "30 minutes", dims = Seq("event_type"),
      aggExprs = Seq(count(lit(1)).as("cnt"), sum(col("value")).as("sv")),
      checkpointDir = ckpt)
    // batch 1 advances the watermark to 12:30 (max 13:00 - 30min)
    mem.addData(
      (ts("2024-06-01T10:05:00Z"), "click", 1.0),
      (ts("2024-06-01T10:10:00Z"), "click", 2.0),
      (ts("2024-06-01T13:00:00Z"), "view", 9.0))
    q.processAllAvailable()
    // batch 2: row at 10:20 is now beyond the watermark → dropped; the
    // closed 10:00 window emits without it
    mem.addData((ts("2024-06-01T10:20:00Z"), "click", 100.0))
    q.processAllAvailable()
    q.stop()

    val out = store.read(spark, "agg")
      .select("__time", "event_type", "cnt", "sv").collect()
    // only the 10:00 window closed (watermark 12:30) — and WITHOUT the late row
    val w10 = out.find(_.getAs[Timestamp]("__time") == ts("2024-06-01T10:00:00Z"))
    assert(w10.isDefined)
    assert(w10.get.getAs[Long]("cnt") == 2L)
    assert(w10.get.getAs[Double]("sv") == 3.0)
  }

  test("retention rules: conf-driven kill/archive sweep emits the existing " +
      "task types, idempotent across cycles (VERDICT r14 #4)") {
    import graft.ingest.RetentionService
    val store = freshStore()
    // synthetic timeline: an ancient, an old, and a recent chunk — plus a
    // second datasource the rules do NOT mention (must stay untouched)
    store.write(Seq(
      (ts("2024-01-05T10:00:00Z"), "click", 1.0),
      (ts("2024-03-10T10:00:00Z"), "view", 2.0),
      (ts("2024-05-20T10:00:00Z"), "view", 3.0),
    ).toDF("__time", "event_type", "value"), "ev")
    store.write(Seq((ts("2023-01-01T00:00:00Z"), "x", 1.0))
      .toDF("__time", "event_type", "value"), "other")
    val archiveRoot = Files.createTempDirectory("graft-cold").toString
    spark.conf.set("spark.graft.retention.rules",
      "ev:dropBefore=P90D|archiveBefore=P30D")
    spark.conf.set("spark.graft.retention.archiveRoot", archiveRoot)
    try {
      val tasks = new TaskService(spark, store)
      val svc = new RetentionService(spark, store, tasks)
      val now = java.time.Instant.parse("2024-06-01T00:00:00Z")
      // cutoffs: drop <= 2024-03-03, archive <= 2024-05-02 →
      // 01-05 kills, 03-10 archives, 05-20 stays
      val dry = svc.evaluate(now, dryRun = true)
      assert(dry.dryRun && dry.submitted.isEmpty)
      assert(dry.planned.map(a => (a.taskType, a.dataSource, a.chunk)) == Seq(
        ("kill", "ev", "2024-01-05"), ("archive", "ev", "2024-03-10")),
        dry.planned.toString)
      // dry-run touched nothing
      assert(store.readManifest("ev").segments.map(_.chunk).sorted ==
        Seq("2024-01-05", "2024-03-10", "2024-05-20"))
      // real cycle: tasks run through TaskService (status lifecycle)
      val r1 = svc.evaluate(now)
      assert(r1.submitted == Seq("retention-kill-ev-2024-01-05-v1",
        "retention-archive-ev-2024-03-10-v1"), r1.toString)
      assert(tasks.status("retention-kill-ev-2024-01-05-v1").exists(_.state == "SUCCESS"))
      val segs = store.readManifest("ev").segments
      assert(segs.map(_.chunk).sorted == Seq("2024-03-10", "2024-05-20"))
      val archived = segs.find(_.chunk == "2024-03-10").get
      assert(archived.path.startsWith(archiveRoot),
        s"archived segment must live under the cold root: ${archived.path}")
      // the archived chunk stays QUERYABLE (archive repoints, kill deletes)
      val engine = new Engine(spark, new SegmentCatalog(store))
      val res = engine.executeJson(
        """{"queryType":"timeseries","dataSource":"ev",
          |"intervals":["2024-01-01T00:00:00Z/2024-06-01T00:00:00Z"],
          |"granularity":"all",
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      assert(res.contains("\"cnt\":2"), res)
      // the unmentioned datasource is untouched
      assert(store.readManifest("other").segments.map(_.chunk) == Seq("2023-01-01"))
      // degenerate zero-length periods are rejected, not divided by
      intercept[IllegalArgumentException](
        RetentionService.parseRules("ev:dropBefore=P0D")): Unit
      // idempotence: the same cycle re-plans NOTHING (killed chunk is
      // gone, archived chunk already lives under the root)
      val r2 = svc.evaluate(now)
      assert(r2.planned.isEmpty, r2.toString)
      // later: the archived chunk ages past dropBefore and is killed even
      // though it lives in cold storage; the recent chunk ages into the
      // archive band in the same cycle
      val later = java.time.Instant.parse("2024-07-15T00:00:00Z")
      val r3 = svc.evaluate(later)
      assert(r3.submitted == Seq("retention-kill-ev-2024-03-10-v1",
        "retention-archive-ev-2024-05-20-v1"), r3.toString)
      assert(store.readManifest("ev").segments.map(_.chunk) == Seq("2024-05-20"))
      assert(store.readManifest("ev").segments.head.path.startsWith(archiveRoot))
      // a squatting task id makes the sweep SKIP (duplicate-id rejection),
      // observable in the counters, never doubled or crashed
      val evenLater = java.time.Instant.parse("2024-09-15T00:00:00Z")
      tasks.submit("""{"type":"noop","id":"retention-kill-ev-2024-05-20-v1"}""")
      val r4 = svc.evaluate(evenLater)
      assert(r4.skipped == Seq("retention-kill-ev-2024-05-20-v1"), r4.toString)
      assert(store.readManifest("ev").segments.map(_.chunk) == Seq("2024-05-20"))
      // the squatter is SUCCESS-terminal, so this is a genuine idempotent
      // skip — the next cycle does NOT escalate to a retry id
      val r4b = svc.evaluate(evenLater)
      assert(r4b.skipped == Seq("retention-kill-ev-2024-05-20-v1"), r4b.toString)
      assert(svc.stats == Map("retentionCycles" -> 6L, "retentionKills" -> 2L,
        "retentionArchives" -> 2L, "retentionSkipped" -> 2L,
        "retentionFailures" -> 0L, "retentionRetryQueue" -> 0L),
        svc.stats.toString)
      // a FAILED holder of the deterministic id is RETRIED under a fresh
      // id on the next cycle (a transient failure must not permanently
      // exempt a chunk from retention)
      intercept[Exception](tasks.submit(
        """{"type":"index","id":"retention-kill-other-2023-01-01-v1",
          |"dataSource":"other","inputPath":"/no/such/input",
          |"inputFormat":"parquet","timestampColumn":"__time"}""".stripMargin))
      assert(tasks.status("retention-kill-other-2023-01-01-v1")
        .exists(_.state == "FAILED"))
      spark.conf.set("spark.graft.retention.rules", "other:dropBefore=P90D")
      spark.conf.set("spark.graft.retention.archiveRoot", archiveRoot)
      val svc2 = new RetentionService(spark, store, tasks)
      val s1 = svc2.evaluate(now)
      assert(s1.skipped == Seq("retention-kill-other-2023-01-01-v1"), s1.toString)
      assert(store.readManifest("other").segments.nonEmpty)
      val s2 = svc2.evaluate(now)
      assert(s2.submitted == Seq("retention-kill-other-2023-01-01-v1-retry1"),
        s2.toString)
      assert(store.readManifest("other").segments.isEmpty)
      // malformed policies fail LOUDLY at construction
      intercept[IllegalArgumentException](
        RetentionService.parseRules("ev:dropBefore=banana"))
      intercept[IllegalArgumentException](
        RetentionService.parseRules("ev:dropBefore=P30D|archiveBefore=P90D"))
      intercept[IllegalArgumentException](RetentionService.parseRules("ev:"))
      // calendar-aware validation (r15 advice): 'P1M' drop with 'P30D'
      // archive flips ordering after a 28-day February — the archive-
      // before-drop guarantee would silently break, so reject
      intercept[IllegalArgumentException](
        RetentionService.parseRules("ev:dropBefore=P1M|archiveBefore=P30D"))
      // P12M == P1Y on every calendar date (zero-width archive band) even
      // though the old day-count approximation said 372 vs 365
      intercept[IllegalArgumentException](
        RetentionService.parseRules("ev:dropBefore=P1Y|archiveBefore=P12M"))
      // P1M archive under P2M drop is safe on every date — must parse
      assert(RetentionService.parseRules("ev:dropBefore=P2M|archiveBefore=P1M")
        .head.archiveBefore.contains(java.time.Period.ofMonths(1)))
      spark.conf.set("spark.graft.retention.rules", "ev:archiveBefore=P30D")
      spark.conf.unset("spark.graft.retention.archiveRoot")
      intercept[IllegalArgumentException](
        new RetentionService(spark, store, tasks))
    } finally {
      spark.conf.unset("spark.graft.retention.rules")
      if (spark.conf.getOption("spark.graft.retention.archiveRoot").isDefined)
        spark.conf.unset("spark.graft.retention.archiveRoot")
    }
  }

  test("retention loop runs on a schedule (dry-run) and stops") {
    import graft.ingest.RetentionService
    val store = freshStore()
    store.write(Seq((ts("2024-01-05T10:00:00Z"), "x", 1.0))
      .toDF("__time", "event_type", "value"), "ev")
    spark.conf.set("spark.graft.retention.rules", "ev:dropBefore=P90D")
    spark.conf.set("spark.graft.retention.dryRun", "true")
    try {
      val svc = new RetentionService(spark, store,
        new TaskService(spark, store))
      svc.start(periodMs = 50L)
      try {
        val deadline = System.nanoTime() + 10_000_000_000L
        while (svc.stats("retentionCycles") < 1L &&
            System.nanoTime() < deadline) Thread.sleep(20)
        assert(svc.stats("retentionCycles") >= 1L, svc.stats.toString)
        // dry-run submitted nothing: the chunk survives every cycle
        assert(store.readManifest("ev").segments.nonEmpty)
      } finally svc.stop()
      intercept[IllegalArgumentException] { // double start is rejected
        svc.start(50L); svc.start(50L)
      }
      svc.stop()
    } finally {
      spark.conf.unset("spark.graft.retention.rules")
      spark.conf.unset("spark.graft.retention.dryRun")
    }
  }
}
