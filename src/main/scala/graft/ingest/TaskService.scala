package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{Aggregator, QueryJson}
import graft.store.SegmentStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Task ADT — mirrors the reference's `Task` JsonSubTypes registry
  * (`arch/indexing-service/indexing-service-submit-task.md:75-93`). */
sealed trait Task { def id: String; def taskType: String }
object Task {
  /** batch index: read input, parse timestamp, optional rollup, write
    * segments (`index`/`index_hadoop` collapse into one Spark job — SURVEY
    * §2.9). `flatten`: (outputColumn, sourceJsonColumn, jsonPath) triples —
    * Druid's ingest-time flattenSpec for nested input (SURVEY §1.2). */
  final case class Index(id: String, dataSource: String, inputPath: String,
      inputFormat: String, timestampColumn: String,
      rollup: Option[SegmentStore.RollupSpec],
      flatten: Seq[(String, String, String)] = Seq.empty)
      extends Task { def taskType = "index" }
  final case class Append(id: String, dataSource: String, chunk: String,
      targetFiles: Int) extends Task { def taskType = "append" }
  final case class Merge(id: String, dataSource: String, chunk: String,
      dims: Seq[String], metricAggs: Seq[Aggregator])
      extends Task { def taskType = "merge" }
  final case class Kill(id: String, dataSource: String, chunk: String)
      extends Task { def taskType = "kill" }
  final case class Move(id: String, dataSource: String, chunk: String,
      targetRoot: String) extends Task { def taskType = "move" }
  final case class Archive(id: String, dataSource: String, chunk: String,
      archiveRoot: String) extends Task { def taskType = "archive" }
  final case class Restore(id: String, dataSource: String, chunk: String,
      liveRoot: String) extends Task { def taskType = "restore" }
  final case class ConvertSegment(id: String, dataSource: String, chunk: String,
      options: Map[String, String]) extends Task { def taskType = "convert_segment" }
  final case class Noop(id: String) extends Task { def taskType = "noop" }
}

/** Task submission/execution/completion — the Spark-native collapse of the
  * Overlord → MiddleManager → Peon choreography (reference
  * `arch/indexing-service` docs, traced in SURVEY §3.3). ZK announcement,
  * worker selection and JVM forking become the Spark scheduler; what is
  * preserved:
  *   - the task-type semantics (each type maps onto a SegmentStore job),
  *   - the status lifecycle pending → running → SUCCESS/FAILED
  *     (`indexing-service-submit-task.md:148`, `indexing-service-end-task.md:227`),
  *   - duplicate-id rejection ("Task already exists",
  *     `indexing-service-submit-task.md:45-48`),
  *   - interval locking via SegmentStore's chunk locks (TaskLockbox,
  *     `indexing-service-submit-task.md:132`).
  */
class TaskService(spark: SparkSession, store: SegmentStore) {

  import TaskService._

  private val mapper = new ObjectMapper()
  private val statuses = new java.util.concurrent.ConcurrentHashMap[String, TaskStatus]()

  def status(id: String): Option[TaskStatus] = Option(statuses.get(id))

  def statusList: Seq[TaskStatus] = statuses.values().asScala.toSeq

  /** POST /druid/indexer/v1/task equivalent: parse, reject duplicates,
    * run synchronously as a Spark job (job group = task id), record the
    * terminal status. Returns the task id. */
  def submit(taskJson: String): String = {
    val task = parseTask(taskJson)
    if (statuses.putIfAbsent(task.id, TaskStatus(task.id, "RUNNING")) != null)
      throw new IllegalStateException(s"Task[${task.id}] already exists")
    // this thread may be an HTTP pool thread that previously served a
    // streaming query abandoned mid-stream (os.write throws OUTSIDE the
    // iterator, so the stream's removeJobTag never ran) — without clearing,
    // this task's jobs would carry the stale query tag and a later
    // DELETE /druid/v2/{oldQueryId} would cancel the ingestion
    spark.sparkContext.clearJobTags()
    spark.sparkContext.setJobGroup(task.id, s"graft task ${task.id}",
      interruptOnCancel = true)
    val t0 = System.nanoTime()
    def elapsedMs: Long = (System.nanoTime() - t0) / 1000000L
    try {
      run(task)
      val (rows, bytes) = harvest(task)
      statuses.put(task.id, TaskStatus(task.id, "SUCCESS", None,
        rows, bytes, elapsedMs))
    } catch {
      case NonFatal(e) =>
        statuses.put(task.id, TaskStatus(task.id, "FAILED", Option(e.getMessage),
          durationMs = elapsedMs))
        throw e
    } finally spark.sparkContext.clearJobGroup()
    task.id
  }

  /** Post-task ingest metrics (reference metric families, `TOC.md:50-58`):
    * live rows from the manifest the task just flipped (row counts are
    * already recorded there — no extra Spark job), bytes from the segment
    * files on disk. Datasource-wide totals: every task type rewrites whole
    * chunks, so "rows/bytes now live" is the number an operator sizes by. */
  private def harvest(task: Task): (Option[Long], Option[Long]) = {
    val ds = task match {
      case t: Task.Index => Some(t.dataSource)
      case t: Task.Append => Some(t.dataSource)
      case t: Task.Merge => Some(t.dataSource)
      case t: Task.Kill => Some(t.dataSource)
      case t: Task.Move => Some(t.dataSource)
      case t: Task.Archive => Some(t.dataSource)
      case t: Task.Restore => Some(t.dataSource)
      case t: Task.ConvertSegment => Some(t.dataSource)
      case _: Task.Noop => None
    }
    ds match {
      case None => (None, None)
      case Some(d) =>
        val segs = store.readManifest(d).segments
        val bytes = segs.map { s =>
          val p = java.nio.file.Paths.get(s.path)
          if (!java.nio.file.Files.exists(p)) 0L
          else {
            val walk = java.nio.file.Files.walk(p)
            try walk.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_))
              .map(java.nio.file.Files.size).sum
            finally walk.close()
          }
        }.sum
        (Some(segs.map(_.rowCount).sum), Some(bytes))
    }
  }

  private def run(task: Task): Unit = task match {
    case t: Task.Index =>
      val raw: DataFrame = t.inputFormat match {
        case "parquet" => spark.read.parquet(t.inputPath)
        case "json"    => spark.read.json(t.inputPath)
        case "csv"     => spark.read.option("header", "true").csv(t.inputPath)
        case f         => throw new IllegalArgumentException(s"unknown input format '$f'")
      }
      // always coerce to TimestampType — text formats (csv/json) deliver
      // the time column as string even when it is already named __time
      val withTime = raw.withColumn("__time",
        col(t.timestampColumn).cast("timestamp"))
      // flattenSpec: project nested JSON fields into flat dimension columns
      val flattened = t.flatten.foldLeft(withTime) { case (d, (out, src, path)) =>
        d.withColumn(out, get_json_object(col(src), path))
      }
      store.write(flattened, t.dataSource, t.rollup)
    case t: Task.Append  => store.compactChunk(spark, t.dataSource, t.chunk, t.targetFiles)
    case t: Task.Merge   => store.mergeChunk(spark, t.dataSource, t.chunk, t.dims, t.metricAggs)
    case t: Task.Kill    => store.killChunk(t.dataSource, t.chunk)
    case t: Task.Move    => store.moveChunk(t.dataSource, t.chunk, t.targetRoot)
    case t: Task.Archive => store.moveChunk(t.dataSource, t.chunk, t.archiveRoot)
    case t: Task.Restore => store.moveChunk(t.dataSource, t.chunk, t.liveRoot)
    case t: Task.ConvertSegment =>
      store.convertChunk(spark, t.dataSource, t.chunk, t.options)
    case _: Task.Noop    => ()
  }

  // -- task JSON parsing (polymorphic on `type`) ----------------------------

  /** The rollup spec of an index task's `rollup` or a merge task:
    * `queryGranularity`, `dimensions` and `metricsSpec`. */
  private def rollupSpec(n: JsonNode): SegmentStore.RollupSpec = {
    def list(f: String): Seq[JsonNode] =
      Option(n.get(f)).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    (QueryJson.parseGranularity(Option(n.get("queryGranularity"))),
      list("dimensions").map(_.asText()), list("metricsSpec").map(QueryJson.parseAggregator))
  }

  def parseTask(json: String): Task = {
    val n = mapper.readTree(json)
    def s(f: String): String = Option(n.get(f)).map(_.asText())
      .getOrElse(throw new IllegalArgumentException(s"task missing '$f'"))
    def sOpt(f: String): Option[String] = Option(n.get(f)).filterNot(_.isNull).map(_.asText())
    val id = sOpt("id").getOrElse(s"${s("type")}_${java.util.UUID.randomUUID()}")
    s("type") match {
      case "index" | "index_hadoop" =>
        val rollup = Option(n.get("rollup")).filterNot(_.isNull).map(rollupSpec)
        val flatten = Option(n.get("flattenSpec")).flatMap(f => Option(f.get("fields")))
          .map(_.elements().asScala.toSeq.map { fld =>
            val name = fld.get("name").asText()
            (name,
              Option(fld.get("column")).map(_.asText()).getOrElse("props"),
              Option(fld.get("expr")).map(_.asText()).getOrElse(s"$$.$name"))
          }).getOrElse(Seq.empty)
        Task.Index(id, s("dataSource"), s("inputPath"),
          sOpt("inputFormat").getOrElse("parquet"),
          sOpt("timestampColumn").getOrElse("__time"), rollup, flatten)
      case "append" =>
        Task.Append(id, s("dataSource"), s("chunk"),
          Option(n.get("targetFiles")).map(_.asInt()).getOrElse(1))
      case "merge" =>
        val (_, dims, aggs) = rollupSpec(n)
        Task.Merge(id, s("dataSource"), s("chunk"), dims, aggs)
      case "kill"    => Task.Kill(id, s("dataSource"), s("chunk"))
      case "move"    => Task.Move(id, s("dataSource"), s("chunk"), s("targetRoot"))
      case "archive" => Task.Archive(id, s("dataSource"), s("chunk"), s("archiveRoot"))
      case "restore" => Task.Restore(id, s("dataSource"), s("chunk"), s("liveRoot"))
      case "convert_segment" | "hadoop_convert_segment" =>
        val opts = Option(n.get("options")).map(o =>
          o.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty[String, String])
        Task.ConvertSegment(id, s("dataSource"), s("chunk"), opts)
      case "noop" => Task.Noop(id)
      case t      => throw new IllegalArgumentException(s"unknown task type '$t'")
    }
  }
}

object TaskService {
  /** Terminal task record incl. ingest metrics: `rows`/`bytes` = what the
    * datasource holds after the task (None while running / for noop),
    * `durationMs` = task wall time. */
  final case class TaskStatus(id: String, state: String, error: Option[String] = None,
      rows: Option[Long] = None, bytes: Option[Long] = None, durationMs: Long = 0L)
}
