package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame

/** Driver-side parquet-footer reads — metadata only, no Spark job. The one
  * place footer-handling policy (error handling, future encrypted-footer
  * support) lives: plan-level row totals for the dedup and IVF sizing
  * gates, SegmentStore's post-write manifest row counts, and the bench's
  * fixture fingerprint. */
object ParquetFooters {

  /** Record count of one parquet file from its footer. */
  def recordCount(file: Path, conf: Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getRecordCount finally r.close()
  }

  /** Sum of record counts across parquet files. */
  def totalRecords(files: Iterable[String], conf: Configuration): Long =
    files.iterator.map(f => recordCount(new Path(f), conf)).sum

  /** Row-group count of one parquet file from its footer. */
  def rowGroups(file: Path, conf: Configuration): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter.getBlocks.size() finally r.close()
  }

  /** Footer row total of a plan over one parquet relation; `exact` is
    * false when the plan filters (a filter only removes rows, so the total
    * is then an upper bound). */
  final case class ScanRows(total: Long, exact: Boolean)

  /** [[ScanRows]] for a plan that is a pure parquet scan — projections and
    * filters over a single parquet relation — read from the file footers on
    * the driver: no Spark job, no corpus pass. None when the plan reshapes
    * rows any other way (join / aggregate / limit …), reads anything but
    * parquet, or a footer is unreadable; callers then count. At 100 TB
    * this is the difference between reading ~KBs of footer metadata and
    * scanning every row once just to size a sample. */
  def scanRows(df: DataFrame): Option[ScanRows] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // Project and Filter are unary, so a plan built only of these nodes
    // has exactly one leaf: the relation
    val nodes = df.queryExecution.optimizedPlan.collect { case p => p }
    val pure = nodes.forall {
      case _: Project | _: Filter | _: LogicalRelation => true
      case _ => false
    }
    lazy val files = df.inputFiles
    if (!pure || files.isEmpty || !files.forall(_.endsWith(".parquet"))) None
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      try Some(ScanRows(totalRecords(files.toSeq, conf),
        exact = !nodes.exists(_.isInstanceOf[Filter])))
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }
}
