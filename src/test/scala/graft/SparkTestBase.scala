package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark reuses
  * the existing context across suites). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sqlCtx: SparkSession = spark
}

object SparkTestBase {

  /** A datasource that runs for minutes of wall-clock but dies PROMPTLY when
    * its task is killed: the per-row sleep throws InterruptedException on
    * task interruption. Whole-stage-codegen arithmetic plans (e.g. a
    * range×range crossJoin agg) never check the kill flag mid-loop — a
    * cancelled query would pin all local[4] executor cores until natural
    * completion and starve every suite scheduled after it. Use THIS for any
    * cancellation/timeout fixture. */
  def interruptiblySlowDF(spark: SparkSession, atTs: java.sql.Timestamp)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val perRow = udf((x: Long) => { Thread.sleep(2L); x })
    // ~30s/task TOTAL: long enough that a 50ms timeout / 1.5s cancel always
    // fires first, short enough that even a cancellation that fails to
    // interrupt (worst case) drains the cores in half a minute instead of
    // wedging every suite scheduled after this one.
    spark.range(0, 60000L, 1, 4).toDF("raw")
      .withColumn("id", perRow(col("raw")))
      .withColumn("__time", lit(atTs))
      .select("__time", "id")
  }

  /** A datasource whose UDF SPINS on `System.nanoTime` — no sleep, so a
    * task kill never interrupts it: the job ignores its kill flag until the
    * spin ends. Bounded at one ~2 s row per core (4 partitions on
    * local[4]), so a cancelled run frees the cores within about 2 s
    * instead of wedging the suites scheduled after it. Only for deadlines
    * that must hold WITHOUT the job's cooperation; every other
    * cancellation/timeout fixture uses [[interruptiblySlowDF]]. */
  def killFlagIgnoringDF(spark: SparkSession, atTs: java.sql.Timestamp)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val spin = udf { (x: Long) =>
      val end = System.nanoTime() + 2000000000L
      while (System.nanoTime() < end) {}
      x
    }
    spark.range(0, 4L, 1, 4).toDF("raw")
      .withColumn("id", spin(col("raw")))
      .withColumn("__time", lit(atTs))
      .select("__time", "id")
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
