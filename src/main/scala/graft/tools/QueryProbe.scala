package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{Bench, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plans and per-job timings of declared queries, on the bench's session
  * and through the bench's own action ([[Bench.run]]), so a probe number
  * is a bench number.
  *
  * Usage: sbt "runMain graft.tools.QueryProbe <outDir> [sfDir] [q1,q2,...] [passes]"
  *
  * Every query (or every one whose name contains a listed substring)
  * gets `<outDir>/<query>.txt`: the static `explain("formatted")` plan,
  * captured without running anything. With `passes > 0` (default 0) it
  * then runs one warm pass and `passes` timed ones. Each timed pass
  * prints to stderr the plan-build time (the query function, including
  * any actions it runs eagerly), the wall time, every scheduler job with
  * its duration and stage count, and the gaps: wall time with no job
  * running (driver-side planning, checkpoint barriers). The last timed
  * pass's actions, with their AQE-final executed plans and
  * `ReusedExchange` counts, go to `<outDir>/<query>.executed.txt`.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProbe <outDir> [sfDir] [q1,q2,...] [passes]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(want => all.filter(n => want.exists(n.contains)))
      .getOrElse(all)
    val passes = args.lift(3).map(_.toInt).getOrElse(0)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, desc: String, start: Long, stages: Int,
        var end: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k)))
        val desc = prop("spark.sql.execution.id").map(id => s"exec=$id ").getOrElse("") +
          prop("spark.job.description").orElse(prop("callSite.long").map(
            _.split("\n").find(l => l.contains("graft") && !l.contains("graft.tools"))
              .getOrElse("").trim)).getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time, js.stageIds.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    })
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add((funcName, qe)): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def write(name: String, text: String): Unit =
      Files.write(new java.io.File(outDir, name).toPath, text.getBytes(UTF_8)): Unit

    names.foreach { n =>
      try {
        val fn = SparkEntry.queries(n)
        write(s"$n.txt", fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        System.err.println(s"[queryprobe] wrote $n")
        if (passes > 0) Bench.run(n, fn(spark, sfDir)) // warm pass
        (1 to passes).foreach { pass =>
          GraftBridge.drainListenerBus(spark.sparkContext)
          jobs.clear(); actions.clear()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val build = (System.nanoTime() - t0) / 1e9
          Bench.run(n, df)
          val wall = (System.nanoTime() - t0) / 1e9
          GraftBridge.drainListenerBus(spark.sparkContext)
          val recs = jobs.values.asScala.toSeq.sortBy(_.id)
          // job time = the union of job intervals: AQE runs broadcast and
          // shuffle-stage jobs concurrently, so a plain sum over-counts
          val spans = recs.filter(_.end >= 0).map(r => (r.start, r.end)).sorted
          val busyMs = spans.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
            if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
          }._1
          System.err.println(f"[queryprobe] $n pass$pass build=$build%.3f s")
          System.err.println(f"[queryprobe] $n pass$pass wall=$wall%.3f s " +
            f"jobs=${recs.size} jobWall=${busyMs / 1e3}%.3f s gaps=${wall - busyMs / 1e3}%.3f s")
          recs.foreach { r =>
            val dur = if (r.end >= 0) f"${(r.end - r.start) / 1e3}%7.3f s" else "running"
            System.err.println(f"[queryprobe]   job${r.id}%-4d $dur " +
              f"stages=${r.stages}%-3d ${r.desc.take(110)}")
          }
          if (pass == passes) {
            val ran = actions.asScala.toSeq.map { case (func, qe) =>
              (func, qe.executedPlan, reusedExchanges(qe.executedPlan)) }
            write(s"$n.executed.txt",
              s"ReusedExchange total: ${ran.map(_._3).sum}\n" +
                ran.zipWithIndex.map { case ((func, plan, reused), i) =>
                  s"\n== action $i: $func (ReusedExchange: $reused) ==\n$plan"
                }.mkString)
            System.err.println(s"[queryprobe] wrote $n.executed.txt")
          }
        }
      } catch {
        case t: Throwable =>
          System.err.println(s"[queryprobe] FAILED $n: ${t.getMessage}")
      }
    }
    spark.stop()
  }

  /** `ReusedExchange` nodes in an executed plan, looking through adaptive
    * plans, query stages and subqueries (the plan string would count the
    * initial plan's reuse a second time). */
  private def reusedExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => reusedExchanges(a.executedPlan)
    case s: QueryStageExec => reusedExchanges(s.plan)
    case _: ReusedExchangeExec => 1
    case _ => (p.children ++ p.subqueries).map(reusedExchanges).sum
  }
}
