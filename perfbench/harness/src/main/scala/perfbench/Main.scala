package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * `PERFBENCH_RESULT {"attempted":..,"failed":..,"e2e":{..},"layer":{..},
  * "info":{..},"failures":{..}}`.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cpus <n>`. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "adhoc-olap" -> (r => Olap.Adhoc(r)),
    "dashboard-live" -> (r => Olap.Dashboard(r)),
    "llm-pipeline" -> (r => Curate(r)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), cpus)
    run.mark("Spark session started")
    try {
      Workloads(workload)(run)
      run.mark("checked")
      run.e2e("peak_rss_mb") = Jvm.peakRssMb
      run.layer("jvm.heap_after_gc_mb") = Jvm.heapAfterGcMb
      if (run.traced) run.tracer.write(work.resolve("spans.jsonl"))
      run.info ++= Harness.canary(cpus)
      run.mark("host canary run")
      println("PERFBENCH_RESULT " + toJson(run))
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def str(s: String): String = mapper.writeValueAsString(s)

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def toJson(run: Run): String = {
    def any(v: Any): String = v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case s => str(String.valueOf(s))
    }
    obj(Seq(
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "e2e" -> obj(run.e2e.map { case (k, v) => k -> num(v) }),
      "layer" -> obj(run.layer.map { case (k, v) => k -> num(v) }),
      "info" -> obj(run.info.map { case (k, v) => k -> any(v) }),
      "failures" -> obj(run.failures.map { case (k, v) => k -> str(v) })))
  }
}
