package graft.store

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.expr.Compilers
import graft.functions.HllppFunctions.{hllpp_build, hllpp_merge}
import graft.model.{Aggregator, Granularity}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Time-chunked, versioned segment storage — the Spark-native equivalent of
  * Druid's segment + deep-storage + metadata-store triad (reference
  * `arch/druid-arch.md:15-23`, `arch/indexing-service/indexing-service.md:3`).
  *
  * Layout:
  * {{{
  *   root/<datasource>/dt=<yyyy-MM-dd>/v<N>/part-*.parquet   // segment files
  *   root/<datasource>/manifest.json                          // metadata store
  * }}}
  *
  * Every mutation (`write`, `appendBatch`, `writeClustered` and the
  * segment-management tasks) runs ONE commit protocol, `commit`, Druid's:
  *  1. take the chunks' interval locks — TaskLockbox
  *     (`indexing-service-submit-task.md:132`): two writers on one chunk →
  *     the second fails fast with TaskConflictException;
  *  1. read the manifest under those locks and do the op's file work,
  *     which yields the chunks' new `SegmentInfo`s (none = drop the chunk);
  *  1. flip the manifest atomically (rename) to the new segment set — the
  *     metadata store; readers never see partial data;
  *  1. retire the overshadowed version dirs the flipped manifest no longer
  *     references — the Coordinator's drop (`arch/druid-arch.md:21-23`).
  *
  * - Segments are immutable: a rewrite of a chunk lands in a NEW `v<N+1>`
  *   directory (`rewriteChunk`); only `appendBatch` adds part-files to the
  *   live one, and only the flip makes them visible.
  * - Rollup: an optional ingest-time pre-aggregation; the manifest records
  *   the stored count-metric name so the planner can rewrite query-time
  *   `count` to `sum(count_metric)` (SURVEY §7.3).
  */
class SegmentStore(val root: String) {

  private val mapper = new ObjectMapper()

  // -- manifest -------------------------------------------------------------

  /** `files`: the exact parquet files this segment committed — readers scan
    * THIS list, never a directory listing, so a reader racing a concurrent
    * `appendBatch` job-commit (part-files surface one rename at a time)
    * can never observe a partial batch: visibility is solely the atomic
    * manifest flip. Empty (manifests written before this field) falls back
    * to listing the version dir.
    *
    * `clusterBy`: `(key, nBuckets)` when the segment was written through
    * Spark's bucketed writer (`writeClustered`) — the layout metadata that
    * lets `readClustered` re-register the files as a bucketed table so
    * equi-joins on `key` skip their shuffle (Druid's analog is a
    * single-dim `partitionsSpec` hash-partitioned segment set). */
  final case class SegmentInfo(chunk: String, version: Int, path: String,
      rowCount: Long, rollupCountCol: Option[String],
      files: Seq[String] = Seq.empty,
      clusterBy: Option[(String, Int)] = None)

  /** `lastBatchId`: highest streaming micro-batch committed into this
    * datasource — appendBatch skips replays at or below it, which is what
    * makes the streaming path's exactly-once hold across a crash between
    * the parquet append and the checkpoint commit. */
  final case class Manifest(datasource: String, segments: Seq[SegmentInfo],
      lastBatchId: Option[Long] = None) {
    def rollupCountCol: Option[String] =
      segments.headOption.flatMap(_.rollupCountCol)
  }

  private def manifestPath(ds: String): Path = Paths.get(root, ds, "manifest.json")

  def readManifest(ds: String): Manifest = {
    val p = manifestPath(ds)
    if (!Files.exists(p)) Manifest(ds, Seq.empty)
    else {
      val node = mapper.readTree(Files.readString(p))
      val segs = node.get("segments").elements().asScala.map { s =>
        SegmentInfo(s.get("chunk").asText(), s.get("version").asInt(),
          s.get("path").asText(), s.get("rowCount").asLong(),
          Option(s.get("rollupCountCol")).filterNot(_.isNull).map(_.asText()),
          Option(s.get("files")).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
          for {
            k <- Option(s.get("clusterKey")).filterNot(_.isNull).map(_.asText())
            n <- Option(s.get("clusterBuckets")).filterNot(_.isNull).map(_.asInt())
          } yield (k, n))
      }.toSeq
      Manifest(ds, segs,
        Option(node.get("lastBatchId")).filterNot(_.isNull).map(_.asLong()))
    }
  }

  private def writeManifest(m: Manifest): Unit = {
    val rootNode: ObjectNode = mapper.createObjectNode()
    rootNode.put("datasource", m.datasource)
    val arr: ArrayNode = rootNode.putArray("segments")
    m.segments.sortBy(s => (s.chunk, s.version)).foreach { s =>
      val o = arr.addObject()
      o.put("chunk", s.chunk); o.put("version", s.version)
      o.put("path", s.path); o.put("rowCount", s.rowCount)
      s.rollupCountCol.foreach(o.put("rollupCountCol", _))
      if (s.files.nonEmpty) {
        val fa = o.putArray("files")
        s.files.foreach(fa.add)
      }
      s.clusterBy.foreach { case (k, n) =>
        o.put("clusterKey", k); o.put("clusterBuckets", n)
      }
    }
    m.lastBatchId.foreach(rootNode.put("lastBatchId", _))
    val p = manifestPath(m.datasource)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"manifest.json.tmp${System.nanoTime()}")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootNode))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING) // atomic flip = segment visibility
  }

  // Chunk locks allow two tasks on DIFFERENT chunks to run concurrently (by
  // design), but every task rewrites the WHOLE manifest — so the manifest
  // read-modify-write itself must be atomic per datasource or the last
  // writer silently drops the other task's segments. All mutations go
  // through `updateManifest` (called only by `commit`), and overshadowed
  // version dirs are deleted only after confirming the flipped manifest no
  // longer references them.
  // The monitor map is JVM-GLOBAL keyed by manifest path: two SegmentStore
  // instances over the same root in one JVM must share a monitor, because
  // FileChannel locks THROW (OverlappingFileLockException) on same-JVM
  // contention instead of blocking.
  private def manifestLocks = SegmentStore.manifestLocks

  private def updateManifest(ds: String)(update: Manifest => Manifest): Manifest =
    manifestLocks.computeIfAbsent(
      manifestPath(ds).toAbsolutePath.normalize.toString, _ => new Object).synchronized {
      // Cross-PROCESS atomicity: an OS file lock on a per-datasource lock
      // file (chunk locks are filesystem-based, so two stores in separate
      // JVMs may write different chunks of one datasource concurrently —
      // the JVM monitor above only serializes threads in this process, and
      // must stay because FileLock throws OverlappingFileLockException for
      // same-JVM contention instead of blocking).
      val lockFile = manifestPath(ds).resolveSibling("manifest.lock")
      Files.createDirectories(lockFile.getParent)
      val ch = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any other process releases
        try {
          val next = update(readManifest(ds))
          writeManifest(next)
          next
        } finally lock.release()
      } finally ch.close()
    }

  /** The `SegmentInfo` of a just-committed version dir from ONE listing of
    * it: the sorted parquet files the writer pins into the manifest (see
    * `SegmentInfo.files`) and their row total from the parquet footers —
    * driver-side metadata reads, no Spark job. Each task type used to run a
    * `read.parquet(dir).count()` job per chunk; on a many-chunk ingest that
    * is a scheduler round-trip per chunk for a number the footers already
    * hold. Only called under the chunk's write lock, so the listing cannot
    * race a writer. */
  private def seal(chunk: String, v: Int, dir: Path, countCol: Option[String],
      clusterBy: Option[(String, Int)] = None): SegmentInfo = {
    val files = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
    val rows = graft.sources.ParquetFooters.totalRecords(files,
      new org.apache.hadoop.conf.Configuration())
    SegmentInfo(chunk, v, dir.toString, rows, countCol, files, clusterBy)
  }

  private def versionDir(ds: String, chunk: String, v: Int, base: String = root): Path =
    Paths.get(base, ds, s"dt=$chunk", s"v$v")

  private def stagingDir(ds: String): Path =
    Paths.get(root, ds, s".staging-${System.nanoTime()}")

  private def liveSegment(m: Manifest, chunk: String): SegmentInfo =
    m.segments.find(_.chunk == chunk)
      .getOrElse(throw new IllegalArgumentException(s"no segment for chunk $chunk"))

  private def deleteUnreferenced(next: Manifest, candidates: Seq[String]): Unit = {
    val live = next.segments.map(_.path).toSet
    candidates.filterNot(live.contains).foreach(p => deleteDir(Paths.get(p)))
  }

  // -- interval locks (TaskLockbox equivalent) ------------------------------

  final case class TaskConflictException(msg: String) extends RuntimeException(msg)

  private def withChunkLocks[T](ds: String, chunks: Seq[String])(body: => T): T = {
    val acquired = scala.collection.mutable.ListBuffer.empty[Path]
    try {
      chunks.foreach { c =>
        val lp = Paths.get(root, ds, s".lock-$c")
        Files.createDirectories(lp.getParent)
        try { Files.createFile(lp); acquired += lp }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw TaskConflictException(
              s"interval lock held for $ds chunk $c (another task is writing)")
        }
      }
      body
    } finally acquired.foreach(p => try Files.deleteIfExists(p) catch { case NonFatal(_) => })
  }

  // -- commit (lock → flip → retire) ----------------------------------------

  /** The one commit path every mutation takes (see the class doc). Under
    * `chunks`' interval locks: read the manifest — versions of OUR chunks
    * can no longer move — and run `build`, the op's file work, which
    * returns the chunks' new segments (an empty result drops them: kill);
    * flip the manifest to them, carrying `batchId` as `lastBatchId`; then
    * retire the version dirs the flip overshadowed. Other chunks' segments
    * are re-read inside `updateManifest`, so a concurrent task on a
    * different chunk is never dropped. */
  private def commit(ds: String, chunks: Seq[String], batchId: Option[Long] = None)(
      build: Manifest => Seq[SegmentInfo]): Unit =
    withChunkLocks(ds, chunks) {
      val manifest = readManifest(ds)
      val fresh = build(manifest)
      val mine = chunks.toSet
      val next = updateManifest(ds) { cur =>
        cur.copy(segments = cur.segments.filterNot(s => mine(s.chunk)) ++ fresh,
          lastBatchId = batchId.orElse(cur.lastBatchId))
      }
      deleteUnreferenced(next, manifest.segments.filter(s => mine(s.chunk)).map(_.path))
    }

  // -- write (index task core) ----------------------------------------------

  /** Stage `withChunk` (already carrying `dt`) in ONE `partitionBy("dt")`
    * job under a hidden dir next to the datasource, and return the staged
    * `(chunk, partitionDir)` pairs. This is the whole point of the staging
    * design: the source is scanned (and any rollup aggregation runs)
    * exactly ONCE regardless of how many day chunks the frame spans — the
    * per-chunk `where(dt === c)` loop it replaces recomputed the full
    * read+rollup per chunk, O(chunks × corpus) at a 100-TB backfill. The
    * chunk list then falls out of the staged directory layout, so not even
    * a `distinct()` pre-scan is needed. Callers commit the staged dirs
    * with metadata-only renames under the chunk locks and must delete
    * `staging` when done (success or failure). */
  private def stageByChunk(withChunk: DataFrame, staging: Path,
      bloomFilterDims: Seq[String] = Seq.empty): Seq[(String, Path)] = {
    Files.createDirectories(staging.getParent)
    val writer = bloomFilterDims.foldLeft(
      withChunk.write.mode(SaveMode.Overwrite).partitionBy("dt")) {
      (w, d) => w.option(s"parquet.bloom.filter.enabled#$d", "true")
    }
    writer.parquet(staging.toString)
    val s = Files.list(staging)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("dt="))
      .map(p => (p.getFileName.toString.stripPrefix("dt="), p))
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  /** Ingest `df` (must carry `__time`) into day-chunked segments, optionally
    * rolled up by `SegmentStore.Rollup`. Overwrites the touched chunks.
    *
    * Single-pass: one `partitionBy("dt")` job into a staging dir, then a
    * metadata-only rename per chunk into its new `v<N>` dir under the chunk
    * locks (see `stageByChunk`). A same-chunk conflict is therefore
    * detected at commit time, after the staged write — the loser's staging
    * dir is cleaned up and nothing it wrote becomes visible.
    *
    * `bloomFilterDims`: high-cardinality dimensions to write Parquet bloom
    * filters for — the storage-side stand-in for Druid's per-column bitmap
    * indexes on selective filters (SURVEY §1.1). */
  def write(df: DataFrame, ds: String, rollup: Option[SegmentStore.RollupSpec] = None,
      bloomFilterDims: Seq[String] = Seq.empty): Unit = {
    val prepared = rollup.fold(df)(SegmentStore.Rollup(df, _))
    val withChunk = prepared.withColumn("dt", date_format(col("__time"), "yyyy-MM-dd"))
    val staging = stagingDir(ds)
    try {
      val staged = stageByChunk(withChunk, staging, bloomFilterDims)
      commit(ds, staged.map(_._1)) { manifest =>
        staged.map { case (c, srcDir) =>
          val v = manifest.segments.filter(_.chunk == c).map(_.version).maxOption.getOrElse(0) + 1
          val dir = versionDir(ds, c, v)
          Files.createDirectories(dir.getParent)
          Files.move(srcDir, dir) // same-fs rename: metadata-only, no data pass
          seal(c, v, dir, SegmentStore.Rollup.countCol(prepared.schema))
        }
      }
    } finally deleteDir(staging)
  }

  /** Append-style micro-batch commit (streaming): new files into the
    * CURRENT version dir of each chunk (wherever a `moveChunk` left it);
    * manifest row counts refreshed. Unlike `write`, existing data in the
    * chunk is kept.
    *
    * Single-pass like `write`: one staged `partitionBy("dt")` job, then the
    * staged part-files are renamed into each chunk's live version dir (part
    * names carry the job's UUID, so they cannot collide with files already
    * there). Visibility is still solely the manifest flip — the pinned
    * `files` list is captured only after every rename landed. A chunk's
    * first batch records the stored rollup count when the frame carries
    * one (a streaming rollup), so the planner's count rewrite applies. */
  def appendBatch(df: DataFrame, ds: String, batchId: Option[Long] = None): Unit = {
    // replay protection: a retried micro-batch (crash between parquet
    // append and checkpoint commit) must not double-write its rows
    batchId.foreach { id =>
      if (readManifest(ds).lastBatchId.exists(_ >= id)) return
    }
    val withChunk = df.withColumn("dt", date_format(col("__time"), "yyyy-MM-dd"))
    val staging = stagingDir(ds)
    try {
      val staged = stageByChunk(withChunk, staging)
      commit(ds, staged.map(_._1), batchId) { manifest =>
        staged.map { case (c, srcDir) =>
          val existing = manifest.segments.find(_.chunk == c)
          val dir = existing.fold(versionDir(ds, c, 1))(s => Paths.get(s.path))
          Files.createDirectories(dir)
          val files = Files.list(srcDir)
          // move data files AND their local-fs .crc siblings so the
          // checksum layer stays consistent in the target dir
          try files.iterator().asScala.toSeq.foreach { f =>
            Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
          } finally files.close()
          seal(c, existing.fold(1)(_.version), dir,
            existing.fold(SegmentStore.Rollup.countCol(df.schema))(_.rollupCountCol))
        }
      }
    } finally deleteDir(staging)
  }

  // -- clustered snapshot layout (co-located joins) --------------------------

  private def snapshotChunk = "snapshot"

  /** Write `df` as a CLUSTERED SNAPSHOT of datasource `ds`: one whole-table
    * version laid out by Spark's bucketed writer — `nBuckets` hash buckets
    * on `key`, rows sorted by `key` inside each bucket — with `(key,
    * nBuckets)` recorded in the manifest. `readClustered` re-registers the
    * files as a bucketed table, so an equi-join between two snapshots
    * clustered on the join key with the same bucket count runs with NO
    * shuffle and NO sort on either side — at 100 TB that removes the
    * single largest exchange of every repeated TPC-H-style fact-fact join
    * (lineitem⋈orders on orderkey). Druid's analog is a hash-partitioned
    * single-dim `partitionsSpec` segment set.
    *
    * Opt-in and separate from the time-chunked `write` path: join-heavy
    * fact tables are snapshots, not day-chunked timelines — the snapshot
    * chunk is whole-table-versioned (every rewrite is a new `v<N>`, atomic
    * manifest flip, overshadow-delete), and a clustered datasource is read
    * via `readClustered`, not the interval-routed query path. */
  def writeClustered(df: DataFrame, ds: String, key: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    val staging = stagingDir(ds)
    // saveAsTable is the only writer that lays out bucket files (bucketBy +
    // insertInto/parquet(path) both throw); the table entry is dropped right
    // after — an EXTERNAL table (explicit path), so the files survive.
    val tmpTable = s"graft_stage_${ds.replaceAll("[^a-zA-Z0-9_]", "_")}_${System.nanoTime()}"
    commit(ds, Seq(snapshotChunk)) { manifest =>
      val v = manifest.segments.filter(_.chunk == snapshotChunk)
        .map(_.version).maxOption.getOrElse(0) + 1
      try {
        Files.createDirectories(staging.getParent)
        // one file PER BUCKET: repartition(n, key) is the same Murmur3 hash
        // the bucket spec uses, so each task holds exactly one bucket's rows.
        // Spark only trusts SORTED BY (dropping the join's Sort, not just
        // its Exchange) when every bucket is a single file.
        df.repartition(nBuckets, col(key))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(nBuckets, key).sortBy(key)
          .option("path", staging.toString)
          .saveAsTable(tmpTable)
        val dir = versionDir(ds, snapshotChunk, v)
        Files.createDirectories(dir.getParent)
        Files.move(staging, dir) // same-fs rename: metadata-only
        Seq(seal(snapshotChunk, v, dir, None, Some((key, nBuckets))))
      } finally {
        try spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        catch { case NonFatal(_) => }
        deleteDir(staging)
      }
    }
  }

  /** Read a clustered snapshot with its bucketing metadata LIVE: the files
    * are registered (once per version per session) as an external bucketed
    * table, so the scan reports `HashPartitioning(key, nBuckets)` and
    * Catalyst drops the Exchange+Sort a join on `key` would otherwise
    * insert. Falls back to a plain manifest-pinned read when the snapshot
    * has no cluster spec. The version is baked into the table name, so a
    * rewrite (new `v<N>`) can never serve a stale file index. */
  def readClustered(spark: SparkSession, ds: String): DataFrame = {
    val seg = readManifest(ds).segments.filter(_.chunk == snapshotChunk)
      .maxByOption(_.version)
      .getOrElse(throw new IllegalArgumentException(
        s"datasource '$ds' has no clustered snapshot"))
    seg.clusterBy match {
      case None => readCached(spark, Seq(seg))
      case Some((key, n)) =>
        val tbl = ("graft_b_" + ds + s"_v${seg.version}_" +
          (Paths.get(root).toAbsolutePath.normalize.toString.hashCode & 0x7fffffff))
          .replaceAll("[^a-zA-Z0-9_]", "_")
        if (!spark.catalog.tableExists(tbl)) {
          val schemaDDL = spark.read.parquet(seg.path).schema.toDDL
          spark.sql(
            s"""CREATE TABLE `$tbl` ($schemaDDL)
               |USING parquet
               |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $n BUCKETS
               |LOCATION '${seg.path}'""".stripMargin)
        }
        spark.table(tbl)
    }
  }

  // -- segment-management tasks (reference submit-task.md:75-93) ------------

  /** Rewrite `chunk`'s live segment into a new `v<N+1>` and commit it:
    * `plan` maps the live segment to the frame to write, its parquet writer
    * options and the stored rollup count column. */
  private def rewriteChunk(ds: String, chunk: String)(
      plan: SegmentInfo => (DataFrame, Map[String, String], Option[String])): Unit =
    commit(ds, Seq(chunk)) { manifest =>
      val seg = liveSegment(manifest, chunk)
      val (frame, options, countCol) = plan(seg)
      val dir = versionDir(ds, chunk, seg.version + 1)
      frame.write.mode(SaveMode.Overwrite).options(options).parquet(dir.toString)
      Seq(seal(chunk, seg.version + 1, dir, countCol))
    }

  /** `append` task: merge a chunk's many small files into `targetFiles`
    * (compaction — the streaming handoff path). */
  def compactChunk(spark: SparkSession, ds: String, chunk: String,
      targetFiles: Int = 1): Unit =
    rewriteChunk(ds, chunk)(seg =>
      (spark.read.parquet(seg.path).coalesce(targetFiles), Map.empty, seg.rollupCountCol))

  /** `merge` task: re-run rollup aggregation across a chunk's rows at their
    * stored buckets (merges shards that were rolled up separately). */
  def mergeChunk(spark: SparkSession, ds: String, chunk: String,
      dims: Seq[String], metricAggs: Seq[Aggregator]): Unit =
    rewriteChunk(ds, chunk) { seg =>
      val rolled = SegmentStore.Rollup(spark.read.parquet(seg.path),
        (Granularity.NoneG, dims, metricAggs))
      (rolled, Map.empty, SegmentStore.Rollup.countCol(rolled.schema))
    }

  /** `convert_segment` task: rewrite a chunk with new writer options
    * (e.g. codec). */
  def convertChunk(spark: SparkSession, ds: String, chunk: String,
      options: Map[String, String]): Unit =
    rewriteChunk(ds, chunk)(seg => (spark.read.parquet(seg.path), options, seg.rollupCountCol))

  /** `kill` task: permanently delete a chunk's segment + metadata. */
  def killChunk(ds: String, chunk: String): Unit = commit(ds, Seq(chunk))(_ => Seq.empty)

  /** `move`/`archive`/`restore` tasks: relocate segment files to another
    * storage root and repoint the manifest. */
  def moveChunk(ds: String, chunk: String, newRoot: String): Unit =
    commit(ds, Seq(chunk)) { manifest =>
      val seg = liveSegment(manifest, chunk)
      val dest = versionDir(ds, chunk, seg.version, newRoot)
      Files.createDirectories(dest.getParent)
      Files.move(Paths.get(seg.path), dest, StandardCopyOption.ATOMIC_MOVE)
      Seq(seal(chunk, seg.version, dest, seg.rollupCountCol, seg.clusterBy))
    }

  // -- read -----------------------------------------------------------------

  // Resolved-plan LRU: `spark.read.parquet(paths)` eagerly LISTS every
  // segment dir (InMemoryFileIndex) — re-listing per query is a broker-side
  // cost that grows with CHUNK COUNT (~36k daily chunks at 100 TB), not
  // with data read. Cache key = the session + the exact path list handed to
  // `spark.read.parquet`, so every mutation resolves to a different key and
  // re-lists: a flip pins a new version dir's files, an append adds files,
  // and a kill + re-ingest of identical rows recreates the same version dir
  // with NEW part-file names (they carry the write job's UUID) — whichever
  // store instance or process committed it. Entries hold logical plans +
  // file indexes, never row data.
  private val planCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, DataFrame]): Boolean =
        size() > 64
    })

  private def readCached(spark: SparkSession, segs: Seq[SegmentInfo]): DataFrame = {
    // scan the manifest-pinned file lists when every segment has one:
    // a directory listing racing a concurrent append's job-commit could
    // surface a strict subset of that batch's part-files. Dir-path
    // fallback only for manifests written before the `files` field.
    val paths =
      if (segs.forall(_.files.nonEmpty)) segs.flatMap(_.files)
      else segs.map(_.path)
    val key = System.identityHashCode(spark) + "|" + paths.mkString(",")
    val hit = planCache.get(key)
    if (hit != null) hit
    else {
      val df = spark.read.parquet(paths: _*)
      planCache.put(key, df)
      df
    }
  }

  /** Current view of a datasource: union of the live version of every
    * chunk. Interval pruning works through Parquet row-group stats on
    * `__time`; with many chunks the path list itself prunes (the manifest
    * is the segment-timeline the broker would consult). */
  def read(spark: SparkSession, ds: String): DataFrame = {
    val manifest = readManifest(ds)
    require(manifest.segments.nonEmpty, s"datasource '$ds' has no segments")
    readCached(spark, manifest.segments)
  }

  /** Interval-routed read: only segments whose day-chunk overlaps one of
    * the query intervals are listed at all — Druid's interval→segment
    * routing against the manifest timeline. At 100 TB this keeps a narrow
    * query from even LISTING the other ~36k daily chunks. */
  def readIntervals(spark: SparkSession, ds: String,
      intervals: Seq[graft.model.Interval]): DataFrame = {
    val manifest = readManifest(ds)
    require(manifest.segments.nonEmpty, s"datasource '$ds' has no segments")
    val live =
      if (intervals.isEmpty) manifest.segments
      else manifest.segments.filter { s =>
        val dayStart = java.time.LocalDate.parse(s.chunk)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
        val dayEnd = dayStart.plus(java.time.Duration.ofDays(1))
        intervals.exists(iv => iv.start.isBefore(dayEnd) && dayStart.isBefore(iv.end))
      }
    if (live.isEmpty) read(spark, ds).limit(0) // keep the schema
    else readCached(spark, live)
  }

  private def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f =>
        try Files.deleteIfExists(f) catch { case NonFatal(_) => })
    }
}

object SegmentStore {
  /** JVM-global manifest monitors keyed by absolute manifest path (see
    * updateManifest — must be shared across SegmentStore instances). */
  private val manifestLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A Druid `dataSchema` rollup: `(queryGranularity, dimensions, metricsSpec)`. */
  type RollupSpec = (Granularity, Seq[String], Seq[Aggregator])

  /** The one rollup layout, for `write`, `mergeChunk` and `windowedRollup`:
    * `__time` bucketed, each metric stored (`hyperUnique` as mergeable
    * `Hllpp` words), and the row count that query-time `count` sums —
    * `count(1)` over raw rows, the stored count's sum over a rollup. A
    * stream buckets by a tumbling `window` (Append mode closes it at the
    * watermark), whose start equals `granularityCol`'s bucket only for
    * `Compilers.fixedBuckets`: other granularities throw before it starts. */
  private[graft] object Rollup {
    private val CountCol = "__rollup_count"

    def countCol(schema: StructType): Option[String] = schema.fieldNames.find(_ == CountCol)

    private def storedMetricCol(a: Aggregator, schema: StructType): Column = a match {
      case Aggregator.HyperUnique(name, field) =>
        val stored = schema.find(_.name == field).exists(_.dataType == BinaryType)
        (if (stored) hllpp_merge(col(field)) else hllpp_build(col(field))).as(name)
      case _ => Compilers.aggCol(a, schema, rollupCount = countCol(schema))
    }

    def apply(df: DataFrame, spec: RollupSpec): DataFrame = {
      val (gran, dims, metricAggs) = spec
      val aggs = (metricAggs :+ Aggregator.Count(CountCol)).map(storedMetricCol(_, df.schema))
      if (!df.isStreaming) {
        val bucket = Compilers.granularityCol(gran, col("__time")).getOrElse(col("__time"))
        df.groupBy((bucket.as("__time") +: dims.map(col)): _*).agg(aggs.head, aggs.tail: _*)
      } else {
        val utc = java.time.ZoneId.of(df.sparkSession.conf.get("spark.sql.session.timeZone"))
          .normalized == java.time.ZoneOffset.UTC
        val (ms, origin) = Compilers.fixedBuckets(gran, utc).getOrElse(throw new
          IllegalArgumentException(s"a streaming rollup cannot bucket granularity $gran: " +
            "only fixed-length UTC buckets in a UTC session match a window's start"))
        df.groupBy((window(col("__time"), s"$ms milliseconds", s"$ms milliseconds",
            s"${Math.floorMod(origin, ms)} milliseconds") +: dims.map(col)): _*)
          .agg(aggs.head, aggs.tail: _*)
          .select((col("window.start").as("__time") +:
            (dims ++ metricAggs.map(_.name) :+ CountCol).map(col)): _*)
      }
    }
  }
}

/** Catalog over a SegmentStore: resolves datasources from manifests and
  * exposes rollup metadata for the planner's count-rewrite. */
class SegmentCatalog(store: SegmentStore) extends graft.sources.Catalog {
  def table(spark: SparkSession, name: String): DataFrame = store.read(spark, name)

  override def table(spark: SparkSession, name: String,
      intervals: Seq[graft.model.Interval]): DataFrame =
    store.readIntervals(spark, name, intervals)

  override def rollupCountColumn(name: String): Option[String] =
    store.readManifest(name).rollupCountCol

  override def segmentInfos(name: String): Seq[(String, Int, Long)] =
    store.readManifest(name).segments.sortBy(_.chunk)
      .map(s => (s.chunk, s.version, s.rowCount))

  override def chunkCoverage(name: String): Option[Seq[graft.model.Interval]] =
    Some(store.readManifest(name).segments.map(_.chunk).distinct.sorted.map { d =>
      val start = java.time.LocalDate.parse(d)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      graft.model.Interval(start,
        start.plus(1, java.time.temporal.ChronoUnit.DAYS))
    })

  override def versionToken(name: String): String =
    store.readManifest(name).segments.sortBy(_.chunk)
      .map(s => s"${s.chunk}:v${s.version}:${s.rowCount}").mkString(",")

  override def datasourceNames: Seq[String] = {
    val root = java.nio.file.Paths.get(store.root)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else {
      val dirs = java.nio.file.Files.list(root)
      try dirs.iterator().asScala
        .filter(d => java.nio.file.Files.exists(d.resolve("manifest.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally dirs.close()
    }
  }

  /** O(1) ownership probe for ONE name — a single manifest stat instead of
    * the full directory enumeration `datasourceNames` pays (ADVICE r16:
    * the layered catalog resolves every served query through this, so the
    * per-lookup cost must not scale with the number of datasources).
    * Same freshness as the listing: manifest presence IS the criterion.
    * Names with path separators are never datasources (they could stat
    * outside the store root), and a name the filesystem rejects outright
    * (NUL bytes and the like throw InvalidPathException from Paths.get)
    * is just as absent — the listing-based predecessor returned false for
    * those, and a client-supplied name must not 500 every served query
    * resolution (ADVICE r17). */
  def hasDatasource(name: String): Boolean =
    name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      name != "." && name != ".." &&
      (try
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(store.root, name, "manifest.json"))
      catch { case _: java.nio.file.InvalidPathException => false })
}
