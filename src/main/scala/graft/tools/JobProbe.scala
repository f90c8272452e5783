package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall breakdown for any SparkEntry query: which scheduler jobs a
  * single pass runs, what each costs, and what the gaps between them
  * (driver-side planning / checkpoint barriers) add up to — "how many
  * actions does this query pay and which of them matter", the fixed-stage
  * tax that dominates sub-second queries at bench SF. Pointed at a
  * near-dup entry (q22, q23, …) it decomposes `Dedup.nearDupPairs`.
  * Usage: sbt "runMain graft.tools.JobProbe q89_perplexity_buckets [sfDir] [reps]"
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_PROBE_AQE", "true"))
      .config("spark.sql.codegen.wholeStage",
        sys.env.getOrElse("SPARK_GRAFT_PROBE_CODEGEN", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BYPASS_THRESHOLD", "200"))
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-shuffle"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class Rec(id: Int, var desc: String = "", var start: Long = 0L,
      var end: Long = 0L, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val r = Rec(js.jobId)
        val execId = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(id => s"exec=$id ").getOrElse("")
        r.desc = execId + Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.long"))
              .map(_.split("\n").find(l => l.contains("graft") &&
                !l.contains("graft.tools")).getOrElse("").trim)))
          .getOrElse("")
        r.start = js.time
        r.stages = js.stageIds.size
        jobs.put(js.jobId, r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
    }

    val fn = graft.SparkEntry.queries(name)
    // warm pass (JIT/codegen/broadcast warmth) before the instrumented ones
    fn(spark, dir).count()

    (1 to reps).foreach { rep =>
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[jobprobe] $name rep$rep build=$tBuild%.3f s")
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(100) // drain the listener bus
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq.sortBy(_.id)
      val jobSum = recs.map(r => (r.end - r.start) / 1e3).sum
      System.err.println(
        f"[jobprobe] $name rep$rep wall=$wall%.3f s rows=$n " +
          f"jobs=${recs.size} jobWall=$jobSum%.3f s gaps=${wall - jobSum}%.3f s")
      recs.foreach { r =>
        System.err.println(f"[jobprobe]   job${r.id}%-4d ${(r.end - r.start) / 1e3}%7.3f s " +
          f"stages=${r.stages}%-3d ${r.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
