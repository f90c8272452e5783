package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{ParquetFooters, TableLoader}

/** Pins the fixture-load contract against driver-side testdata drift.
  *
  * The driver has regenerated /root/testdata between rounds with different
  * parquet timestamp physical types — first TIMESTAMP(NANOS) (Spark rejects
  * in the vectorized reader), then naive TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (Spark 4 infers TIMESTAMP_NTZ, which unix_millis /
  * TIME_* reject at analysis: the round-7 q32/q56 outage). TableLoader must
  * absorb BOTH flavors into session-tz instants (TimestampType, session tz
  * pinned UTC) so every time function and pushable time predicate keeps
  * working no matter which flavor the next regeneration produces.
  */
class FixtureContractSpec extends SparkTestBase {

  test("naive timestamp[us] parquet (isAdjustedToUTC=false) loads as TimestampType instants") {
    val dir = Files.createTempDirectory("graft_fixture_ntz").toString
    // A Spark-written NTZ parquet carries an embedded Spark schema that
    // OVERRIDES the inferTimestampNTZ conf — so this exercises the
    // convertNtz cast-repair path. (The driver's pyarrow files carry no
    // Spark metadata; they take the conf path, pinned by the third test.)
    spark.sql(
      """SELECT CAST('2024-01-03 06:30:00' AS TIMESTAMP_NTZ) AS ts, 1L AS event_id
        |UNION ALL
        |SELECT CAST('2024-01-05 23:59:59.123456' AS TIMESTAMP_NTZ), 2L""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val df = TableLoader.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"ts must load as TimestampType (instant), got ${df.schema("ts").dataType}")
    // The naive values must read as UTC wall-clock (what DuckDB computes
    // over the same file), and the instant functions must work on them.
    val got = df.orderBy("event_id")
      .select(unix_millis(col("ts"))).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq
    assert(got == Seq(1704263400000L, 1704499199123L),
      s"naive us values must be UTC instants, got $got")
  }

  test("nanos-as-long ts column still converts to microsecond instants") {
    val dir = Files.createTempDirectory("graft_fixture_ns").toString
    // TableLoader reads TIMESTAMP(NANOS) as int64 via nanosAsLong; simulate
    // the post-read shape directly (a long ts column) and run the converter.
    val df = spark.sql("SELECT 1704263400123456789L AS ts, 1L AS event_id")
    val out = TableLoader.convertNanos(df)
    assert(out.schema("ts").dataType == TimestampType)
    val ms = out.select(unix_millis(col("ts")))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().head
    assert(ms == 1704263400123L, s"nanos must floor-truncate to micros, got $ms")
    locally { val _ = dir } // tmp dir reserved for symmetry; nothing written
  }

  test("footer row count refreshes when a parquet file is rewritten in place") {
    // VERDICT r19 #7: rewriting a parquet file keeps its NAME, so the parent
    // directory's mtime does not move — the footer row count behind
    // Dedup.nearDupPairs' eager/lazy shingle gate must follow the files'
    // bytes, or the gate routes on a stale corpus size after a fixture
    // regeneration (ParquetFooters reads the footers, uncached).
    val dir = Files.createTempDirectory("graft_rowcount").toString
    val table = s"$dir/documents.parquet"
    def footerRows = ParquetFooters
      .scanRows(spark.read.parquet(table)).map(_.total)
    spark.range(0, 100, 1, 1).toDF("doc_id")
      .write.mode("overwrite").parquet(table)
    assert(footerRows.contains(100L))

    // Rewrite IN PLACE: same leaf file names, different row count. Write to
    // a sibling dir and copy bytes over the existing part files so the
    // directory's own entry set (and thus its mtime key) stays plausible.
    val tmp = s"$dir/rewrite.parquet"
    spark.range(0, 37, 1, 1).toDF("doc_id")
      .write.mode("overwrite").parquet(tmp)
    def parts(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val (oldParts, newParts) = (parts(table), parts(tmp))
    assert(oldParts.length == 1 && newParts.length == 1)
    java.nio.file.Files.copy(newParts.head.toPath, oldParts.head.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Spark's local write left a .crc sidecar per part; it no longer
    // matches the rewritten bytes (a pyarrow-style regeneration writes no
    // sidecars at all), so drop the stale ones.
    new java.io.File(table).listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(f => assert(f.delete(), s"could not remove stale crc $f"))
    // Coarse-mtime filesystems could leave (length, mtime) unchanged for a
    // same-second rewrite; bump mtime explicitly the way a real regeneration
    // (run minutes later) would.
    assert(oldParts.head.setLastModified(oldParts.head.lastModified + 2000L))

    assert(footerRows.contains(37L),
      "row count must refresh after an in-place parquet rewrite")
  }

  test("driver fixtures (if present) load every time column as TimestampType") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val timeCols = Seq("events" -> "ts", "orders" -> "o_orderdate",
      "lineitem" -> "l_shipdate")
    timeCols.foreach { case (t, c) =>
      val df = TableLoader.load(spark, dir, t)
      if (df.columns.contains(c))
        assert(df.schema(c).dataType == TimestampType,
          s"$t.$c must be TimestampType, got ${df.schema(c).dataType}")
    }
  }
}
