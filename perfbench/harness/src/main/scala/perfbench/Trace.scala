package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sources.Catalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One timed call into a layer. `parent` is the enclosing span on the same
  * thread (0 = none); spans of one request share `queryId`. */
final case class Span(id: Long, parent: Long, name: String, queryId: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Recording is off until `on` is set, so the same
  * wrappers cost one volatile read in an untraced phase. */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Span]](() => new java.util.ArrayDeque[Span]())

  def span[T](name: String, queryId: String = "")(body: => T): T =
    if (!on) body
    else {
      val st = stack.get
      val parent = st.peek()
      val qid = if (queryId.nonEmpty || parent == null) queryId else parent.queryId
      val open = Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id, name, qid,
        System.nanoTime(), 0L)
      st.push(open)
      try body
      finally {
        st.pop()
        spans.add(open.copy(endNs = System.nanoTime()))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus what its children cover. */
  def selfMs: Seq[(Span, Double)] = {
    val s = all
    val childMs = s.groupMapReduce(_.parent)(_.ms)(_ + _)
    s.map(sp => sp -> (sp.ms - childMs.getOrElse(sp.id, 0.0)))
  }

  /** Mean self time per call of the spans named `name` (0 when absent). */
  def meanSelf(name: String): Double = {
    val xs = selfMs.collect { case (s, ms) if s.name == name => ms }
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  def count(name: String): Int = all.count(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","queryId":"${s.queryId}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** A catalog that times the engine's calls into the wrapped one. */
final class TracingCatalog(inner: Catalog, tracer: Tracer) extends Catalog {
  def table(spark: SparkSession, name: String): DataFrame =
    tracer.span("catalog.table")(inner.table(spark, name))
  override def table(spark: SparkSession, name: String,
      intervals: Seq[graft.model.Interval]): DataFrame =
    tracer.span("catalog.table")(inner.table(spark, name, intervals))
  override def versionToken(name: String): String =
    tracer.span("catalog.version_token")(inner.versionToken(name))
  override def rollupCountColumn(name: String): Option[String] = inner.rollupCountColumn(name)
  override def segmentInfos(name: String): Seq[(String, Int, Long)] = inner.segmentInfos(name)
  override def chunkCoverage(name: String): Option[Seq[graft.model.Interval]] =
    inner.chunkCoverage(name)
  override def lookupTable(spark: SparkSession, name: String): Option[DataFrame] =
    inner.lookupTable(spark, name)
  override def lookupNames: Seq[String] = inner.lookupNames
  override def datasourceNames: Seq[String] = inner.datasourceNames
}

/** Spark task and job counters, attributed by job group (the engine runs
  * each query in a job group named after its queryId). */
final class ExecListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, inRows, inBytes, shWrite, shRead, spill = 0L
    val schedWaitMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val jobMs = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  private final class JobRec(val group: String, val submitMs: Long) {
    var firstTaskMs = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val aggs = new ConcurrentHashMap[String, Agg]()

  private def agg(group: String): Agg = aggs.computeIfAbsent(group, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(group, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    val a = agg(group)
    a.synchronized { a.jobs += 1; a.stages += e.stageIds.size }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      if (j.firstTaskMs < 0) {
        j.firstTaskMs = e.taskInfo.launchTime
        val a = agg(j.group)
        a.synchronized(a.schedWaitMs += (j.firstTaskMs - j.submitMs))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val a = agg(j.group)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inRows += m.inputMetrics.recordsRead
          a.inBytes += m.inputMetrics.bytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      val a = agg(j.group)
      a.synchronized(a.jobMs += (e.time - j.submitMs))
    }

  /** Sum of the aggregates of every group `keep` accepts. */
  def total(keep: String => Boolean): Agg = {
    val t = new Agg
    aggs.asScala.foreach { case (g, a) =>
      if (keep(g)) a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks; t.failedTasks += a.failedTasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.inRows += a.inRows
        t.inBytes += a.inBytes; t.shWrite += a.shWrite; t.shRead += a.shRead; t.spill += a.spill
        t.schedWaitMs ++= a.schedWaitMs; t.jobMs ++= a.jobMs
      }
    }
    t
  }

  /** Per-operation exec.* metrics over the groups `keep` accepts. */
  def execMetrics(keep: String => Boolean, ops: Int): Map[String, Double] = {
    val t = total(keep)
    val n = math.max(ops, 1).toDouble
    Map(
      "exec.jobs" -> t.jobs / n, "exec.stages" -> t.stages / n, "exec.tasks" -> t.tasks / n,
      "exec.task_run_ms" -> t.runMs / n, "exec.task_cpu_ms" -> t.cpuNs / 1e6 / n,
      "exec.gc_ms" -> t.gcMs / n,
      "exec.sched_wait_ms" -> Stats.median(t.schedWaitMs.map(_.toDouble).toSeq),
      "exec.input_rows" -> t.inRows / n, "exec.input_bytes" -> t.inBytes / n,
      "exec.shuffle_write_bytes" -> t.shWrite / n, "exec.shuffle_read_bytes" -> t.shRead / n,
      "exec.spill_bytes" -> t.spill / n,
      "exec.task_fail_frac" -> (if (t.tasks == 0) 0.0 else t.failedTasks.toDouble / t.tasks))
  }
}

object PlanStats {
  /** (whole-stage codegen stages, reused exchanges) in an executed plan,
    * looking through adaptive plans, query stages and subqueries. */
  def of(p: SparkPlan): (Int, Int) = {
    var codegen = 0
    var reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => reused += 1
        case w: WholeStageCodegenExec => codegen += 1; walk(w.child)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(p)
    (codegen, reused)
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
    .map(_.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
