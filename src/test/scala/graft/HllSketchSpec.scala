package graft

import graft.engine.Engine
import graft.functions.Hllpp
import graft.functions.HllppFunctions._
import graft.model.{Aggregator, Granularity}
import graft.store.{SegmentCatalog, SegmentStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** The engine's one mergeable cardinality sketch (`Hllpp` words behind
  * `hllpp_build`/`_merge`/`_estimate`, SURVEY §7.2): accuracy, merge
  * associativity, the full rollup round-trip (build at ingest → store as
  * binary → merge+finalize at query time), and rollup == raw bit-exactly. */
class HllSketchSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  private def words(df: DataFrame, c: String): Array[Byte] =
    df.agg(hllpp_build(col(c))).head().getAs[Array[Byte]](0)

  private def estimateOf(ws: Array[Byte]*): Long =
    ws.map(Tuple1(_)).toDF("w")
      .agg(hllpp_estimate(hllpp_merge(col("w")))).head().getLong(0)

  test("sketch estimate within 5% of exact distinct") {
    val n = 50000
    val est = estimateOf(words(spark.range(1, n + 1).toDF("k"), "k"))
    assert(math.abs(est - n).toDouble / n < 0.05, s"est=$est for n=$n")
  }

  test("sketch estimate holds the 5% band ACROSS regimes, incl. n ≈ register count") {
    // the regime that broke at sf0.1: Spark's approx_count_distinct (rsd
    // 0.05) missed the documented ±5% band at n=1500 vs m=2048 registers.
    // The sketch must hold the band through the linear-counting regime,
    // the bias-corrected transition and the raw-HLL regime.
    for (n <- Seq(100, 500, 1500, 2048, 3000, 5120, 8000, 20000)) {
      val keys = spark.range(1, n + 1).select((col("id") * 2654435761L).as("k"))
      val est = estimateOf(words(keys, "k")) // spread keys
      assert(math.abs(est - n).toDouble / n < 0.05, s"est=$est for n=$n")
    }
  }

  test("raw-column hyperUnique/cardinality estimates hold ±5% at n≈m (built-in HLL++ path)") {
    // engine-path regression for the sf0.1 q30 failure: a raw (non-sketch)
    // column at 1500 uniques per bucket must estimate within the band.
    // Raw columns route to approx_count_distinct(rsd 0.023) since round
    // 10; hllpp_merge is the sketch-typed/rollup-storage path.
    val n = 1500
    val df = (0 until 3).flatMap(b => (1 to n).map(u =>
      (Timestamp.from(java.time.Instant.parse(s"2024-01-0${b + 1}T00:00:00Z")),
        b * 1000000L + u)))
      .toDF("__time", "uid")
    val out = new Engine(spark,
      new graft.sources.MapCatalog(Map("hll_raw_band" -> df))).plan(
      """{"queryType":"timeseries","dataSource":"hll_raw_band",
        |"intervals":["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"],
        |"granularity":"day",
        |"aggregations":[
        |  {"type":"hyperUnique","name":"uu","fieldName":"uid"},
        |  {"type":"cardinality","name":"cc","fields":["uid"]}]}""".stripMargin)
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      val uu = r.getAs[Number]("uu").longValue()
      val cc = r.getAs[Number]("cc").longValue()
      assert(math.abs(uu - n).toDouble / n < 0.05, s"hyperUnique est=$uu for n=$n")
      assert(math.abs(cc - n).toDouble / n < 0.05, s"cardinality est=$cc for n=$n")
    }
  }

  test("merge of disjoint sketches ≈ union cardinality") {
    val a = words(spark.range(1, 10001).toDF("k"), "k")
    val b = words(spark.range(10001, 20001).toDF("k"), "k")
    val est = estimateOf(a, b)
    assert(math.abs(est - 20000).toDouble / 20000 < 0.05, s"est=$est")
  }

  test("merge of identical sketches is idempotent") {
    val a = words(spark.range(1, 5001).toDF("k"), "k")
    val b = words(spark.range(1, 5001).toDF("k"), "k")
    val before = estimateOf(a)
    assert(estimateOf(a, b) == before)
  }

  test("DataFrame aggregate: build + estimate matches exact within 5%") {
    val df = (1 to 20000).map(i => (i % 7, s"user_${i % 3000}")).toDF("g", "u")
    // build per-group sketches, merge them in a second aggregation, finalize
    val merged = df.groupBy($"g")
      .agg(hllpp_build($"u").as("sk"))
      .agg(hllpp_merge($"sk").as("m"))
      .select(hllpp_estimate($"m").as("est"))
      .collect().head.getAs[Long]("est")
    assert(math.abs(merged - 3000).toDouble / 3000 < 0.05, s"est=$merged")
  }

  test("hllpp_merge rejects raw input at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(1L, 2L).toDF("u").agg(hllpp_merge($"u")).collect())
    assert(e.getMessage.contains("hllpp_merge requires binary sketch input"),
      e.getMessage)
  }

  test("a graft session leaves Spark's own hll_sketch_* functions reachable") {
    graft.functions.GraftFunctionRegistry.registerAll(spark)
    assert(spark.sql("SELECT hll_sketch_estimate(hll_sketch_agg(id)) FROM range(100)")
      .head().getLong(0) == 100L)
    assert(spark.sql("SELECT hllpp_estimate(hllpp_merge(w)) FROM " +
        "(SELECT hllpp_build(id) AS w FROM range(1000) GROUP BY id % 7)").head().getLong(0) ==
      spark.range(1000).agg(approx_count_distinct(col("id"), Hllpp.Rsd)).head().getLong(0))
  }

  test("no graft SQL function name is a Spark built-in") {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .listFunction().map(_.funcName.toLowerCase).toSet
    val clashes = graft.functions.GraftFunctionRegistry.builders.map(_._1)
      .filter(n => builtin(n.toLowerCase))
    assert(clashes.isEmpty, s"graft functions shadowing Spark built-ins: ${clashes.mkString(", ")}")
  }

  test("HLL++ words finalize to the approx_count_distinct estimate " +
      "bit-exactly, split-merged or whole (r14 sketch partials)") {
    val df = (1 to 20000).map(i => (i.toLong, s"u${i % 7331}"))
      .toDF("id", "u")
    val want = df.agg(approx_count_distinct(col("u"), Hllpp.Rsd)).head().getLong(0)
    // whole-corpus words → estimate
    val whole = df.agg(hllpp_build(col("u")).as("w"))
      .select(hllpp_estimate(col("w"))).head().getLong(0)
    assert(whole == want, s"whole=$whole want=$want")
    // per-half words merged driver-side (the partial-merge path's exact
    // mechanics) → the SAME estimate: register union is order-free
    val halves = Seq(df.where(col("id") % 2 === 0), df.where(col("id") % 2 === 1))
      .map(words(_, "u"))
    val acc = Hllpp.newBuffer()
    halves.foreach(Hllpp.mergeInto(acc, _))
    assert(Hllpp.estimate(acc) == want)
    // and merged in Spark through hllpp_merge
    assert(estimateOf(halves: _*) == want)
  }

  test("streaming windowed rollup can build HLL sketches; query merges them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val stream = mem.toDF().toDF("__time", "event_type", "user_id")
    val store = new SegmentStore(Files.createTempDirectory("graft-hll-stream").toString)
    val ckpt = Files.createTempDirectory("graft-hll-ckpt").toString

    val q = graft.streaming.RealtimeIngest.windowedRollup(stream, store, "live_hll",
      (Granularity.Simple("hour"), Seq("event_type"),
        Seq(Aggregator.HyperUnique("uu_sketch", "user_id"), Aggregator.Count("cnt"))),
      watermark = "10 minutes", checkpointDir = ckpt)
    // window closes when watermark passes: emit 10:00 window via later event
    mem.addData((0 until 300).map(i =>
      (ts(f"2024-08-01T10:${i % 60}%02d:00Z"), "click", (i % 120).toLong)): _*)
    q.processAllAvailable()
    mem.addData((ts("2024-08-01T12:00:00Z"), "click", 1L))
    q.processAllAvailable()
    q.stop()

    val stored = store.read(spark, "live_hll")
    assert(stored.schema("uu_sketch").dataType == org.apache.spark.sql.types.BinaryType)
    val est = stored.select(hllpp_estimate(
      hllpp_merge(stored("uu_sketch"))).as("est"))
      .collect().head.getAs[Long]("est")
    assert(math.abs(est - 120).toDouble / 120 < 0.06, s"est=$est")
  }

  test("rollup segment with hyperUnique sketch: query merges stored sketches") {
    val raw = (0 until 2000).map { i =>
      (ts(f"2024-07-01T${i % 24}%02d:00:00Z"), s"type_${i % 3}", (i % 400).toLong)
    }.toDF("__time", "event_type", "user_id")

    val store = new SegmentStore(Files.createTempDirectory("graft-hll").toString)
    store.write(raw, "ev_hll", rollup = Some((Granularity.Simple("hour"),
      Seq("event_type"), Seq(Aggregator.HyperUnique("uu", "user_id")))))

    // stored column is a binary sketch
    val stored = store.read(spark, "ev_hll")
    assert(stored.schema("uu").dataType == org.apache.spark.sql.types.BinaryType)

    // hyperUnique over the rolled-up table merges sketches, finalizes
    val engine = new Engine(spark, new SegmentCatalog(store))
    val est = engine.plan(
      """{"queryType":"timeseries","dataSource":"ev_hll",
        |"intervals":["2024-07-01T00:00:00Z/2024-07-02T00:00:00Z"],
        |"granularity":"all",
        |"aggregations":[{"type":"hyperUnique","name":"uu","fieldName":"uu"}]}""".stripMargin)
      .collect().head.getAs[Long]("uu")
    assert(math.abs(est - 400).toDouble / 400 < 0.05, s"est=$est")
  }

  test("hyperUnique over a rollup datasource == approx_count_distinct(·, 0.023) " +
      "over its raw rows, bit-for-bit, cached partials or not") {
    // int (with nulls), long and string fields over three days; the rollup
    // stores hllpp_build words per (hour, event_type) row
    val raw = (0 until 3000).map { k =>
      (ts(f"2024-07-0${1 + k % 3}T${k % 24}%02d:${k % 60}%02d:00Z"), s"type_${k % 4}",
        if (k % 7 == 0) None else Some(k % 700), k * 2654435761L % 5000L, s"u${k % 900}")
    }.toDF("__time", "event_type", "i", "l", "s")
    val store = new SegmentStore(Files.createTempDirectory("graft-hll-eq").toString)
    store.write(raw, "ev_raw")
    store.write(raw, "ev_roll", rollup = Some((Granularity.Simple("hour"),
      Seq("event_type"), Seq(Aggregator.HyperUnique("ui", "i"),
        Aggregator.HyperUnique("ul", "l"), Aggregator.HyperUnique("us", "s")))))
    val engine = new Engine(spark, new SegmentCatalog(store))
    def query(ds: String, g: String, fields: Seq[String], context: String): String =
      s"""{"queryType":"timeseries","dataSource":"$ds",
         |"intervals":["2024-06-30T00:00:00Z/2024-07-05T00:00:00Z"],
         |"granularity":"$g","context":{$context},
         |"aggregations":[${Seq("ui", "ul", "us").zip(fields).map { case (n, f) =>
           s"""{"type":"hyperUnique","name":"$n","fieldName":"$f"}""" }.mkString(",")}]}"""
        .stripMargin
    val whole = "\"useCache\":\"false\",\"populateCache\":\"false\""
    for (g <- Seq("hour", "day", "all")) {
      val want = engine.executeJson(query("ev_raw", g, Seq("i", "l", "s"), whole))
      assert(want.contains("\"ui\":"), want.take(200))
      val rolled = query("ev_roll", g, Seq("ui", "ul", "us"), "")
      // the whole plan, then the cached path cold (populate) and warm
      assert(engine.executeJson(query("ev_roll", g, Seq("ui", "ul", "us"), whole)) == want,
        s"useCache:false rollup diverged from raw at $g")
      assert(engine.executeJson(rolled) == want, s"cached rollup diverged at $g")
      val m = engine.metrics.last
      assert(m.segmentMisses + m.segmentHits > 0, s"must take the cached path at $g: $m")
      assert(engine.executeJson(rolled) == want, s"warm rollup diverged at $g")
    }
    // and through the functions directly: all rows, one estimate each way
    val stored = store.read(spark, "ev_roll")
    for ((w, f) <- Seq("ui" -> "i", "ul" -> "l", "us" -> "s"))
      assert(stored.agg(hllpp_estimate(hllpp_merge(col(w)))).head().getLong(0) ==
        raw.agg(approx_count_distinct(col(f), 0.023)).head().getLong(0), w)
  }

  test("a 2,048-byte p = 11 sketch column fails with its cause and remedy") {
    // the pre-HLL++ rollup layout: one byte per register at p = 11
    val old = Seq((ts("2024-07-01T00:00:00Z"), new Array[Byte](2048)))
      .toDF("__time", "uu")
    val engine = new Engine(spark, new graft.sources.MapCatalog(Map("ev_p11" -> old)))
    val e = intercept[Exception](engine.plan(
      """{"queryType":"timeseries","dataSource":"ev_p11",
        |"intervals":["2024-07-01T00:00:00Z/2024-07-02T00:00:00Z"],
        |"granularity":"all",
        |"aggregations":[{"type":"hyperUnique","name":"uu","fieldName":"uu"}]}""".stripMargin)
      .collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("2,048-byte p = 11 sketch") &&
      msgs.contains("re-run the index task"), msgs)
  }
}
