package graft.streaming

import graft.store.SegmentStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Realtime ingestion — the Spark-native replacement for Druid realtime
  * nodes / the Kafka Indexing Service (reference `arch/druid-arch.md:29-32`,
  * `data-ingest/kis.md`, `TOC.md:17-20`):
  *
  *   - a Structured Streaming query consumes the stream (Kafka source in
  *     production; any streaming DataFrame here),
  *   - `withWatermark` bounds late data (Druid `windowPeriod` /
  *     `lateMessageRejectionPeriod`),
  *   - each micro-batch commits files into the current segment chunk via
  *     `foreachBatch` → SegmentStore.appendBatch — data is queryable as
  *     soon as the batch commits (Druid's "queryable before handoff"),
  *   - checkpointing makes the Kafka→segment path exactly-once,
  *   - periodic compaction (TaskService `append`) is the handoff.
  */
object RealtimeIngest {

  /** Start ingesting `stream` (must carry `__time`) into `datasource`.
    * `watermark` e.g. "10 minutes" drops events later than the period
    * behind the max event time seen — pass None to accept everything.
    *
    * Late rejection is enforced EXPLICITLY in the batch sink:
    * `withWatermark` alone only filters rows inside stateful operators, and
    * this path has none — without the explicit filter every late event
    * would silently land in a segment. The high-watermark is process-local
    * (re-seeded from the first batch after a restart), matching the
    * reference's realtime-node window semantics (`data-ingest/kis.md`).
    *
    * Replay safety: each batch carries its batchId into the segment
    * manifest; a micro-batch retried after a crash between the parquet
    * append and the checkpoint commit is SKIPPED instead of double-writing
    * its rows — this is what makes the documented exactly-once hold. */
  def start(stream: DataFrame, store: SegmentStore, datasource: String,
      watermark: Option[String], checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    // the delay parsed as `withWatermark` parses it
    val lateMs = watermark.map(w => IntervalUtils.getDuration(
      IntervalUtils.fromIntervalString(w), java.util.concurrent.TimeUnit.MILLISECONDS))
    // process-local high-watermark of event time, advanced per batch
    val maxSeenMs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    sink(stream, store, datasource, checkpointDir, trigger) { batch =>
      lateMs.fold(batch) { ms =>
        val seen = maxSeenMs.get()
        val kept =
          if (seen == Long.MinValue) batch
          else batch.where(col("__time") >= new java.sql.Timestamp(seen - ms))
        val batchMax = batch.agg(max(col("__time"))).head().getTimestamp(0)
        if (batchMax != null) maxSeenMs.getAndUpdate(m => math.max(m, batchMax.getTime))
        kept
      }
    }
  }

  /** Exactly-once streaming ingest with CROSS-BATCH content dedup — the
    * streaming face of `Dedup.exact`: rows whose `dedupKeys` (e.g. a
    * content fingerprint) were already accepted within the watermark
    * window are dropped before they ever reach a segment. Built on
    * `dropDuplicatesWithinWatermark`, so the dedup state is
    * checkpoint-backed (replay-consistent across restarts — the same
    * guarantee chain as `start`'s batchId replay guard) and BOUNDED: state
    * for a key is dropped once the event-time watermark passes it, which
    * is what keeps state size ∝ keys-per-window instead of keys-ever-seen
    * on an unbounded stream. The documented trade: a duplicate arriving
    * later than `watermark` past its first occurrence re-enters — batch
    * compaction's exact dedup is the backstop for that tail, exactly how
    * a streaming+batch pipeline splits the work at scale. */
  def startDeduped(stream: DataFrame, store: SegmentStore, datasource: String,
      dedupKeys: Seq[String], watermark: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    require(dedupKeys.nonEmpty, "startDeduped needs at least one dedup key")
    sink(stream.withWatermark("__time", watermark).dropDuplicatesWithinWatermark(dedupKeys),
      store, datasource, checkpointDir, trigger)(identity)
  }

  /** Streaming rollup with the index task's spec, built by the same
    * `SegmentStore.Rollup` as `SegmentStore.write`: the same metric columns
    * and stored row count as a batch rollup of the same rows. A bucket
    * commits once the watermark (`watermark` behind the max seen `__time`)
    * passes its end; later rows are dropped — Druid's windowPeriod. Only
    * fixed-length UTC granularities stream (`Compilers.fixedBuckets`):
    * `all`, `none`, `week`, `month`, `quarter`, `year` and zoned periods
    * throw before the stream starts. */
  def windowedRollup(stream: DataFrame, store: SegmentStore, datasource: String,
      rollup: SegmentStore.RollupSpec, watermark: String, checkpointDir: String)
      : StreamingQuery =
    // watermark-closed buckets only; ProcessingTime(0) is Spark's default trigger
    sink(SegmentStore.Rollup(stream.withWatermark("__time", watermark), rollup),
      store, datasource, checkpointDir, Trigger.ProcessingTime(0L))(identity)

  /** The one streaming sink: each non-empty append-mode micro-batch, through
    * `accept`, commits with its batchId (a post-crash replay is a no-op). */
  private def sink(frame: DataFrame, store: SegmentStore, datasource: String,
      checkpointDir: String, trigger: Trigger)(accept: DataFrame => DataFrame)
      : StreamingQuery =
    frame.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) store.appendBatch(accept(batch), datasource, Some(batchId))
      }
      .start()
}
