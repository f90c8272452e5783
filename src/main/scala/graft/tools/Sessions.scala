package graft.tools

import org.apache.spark.sql.SparkSession

/** The one place a runnable main builds its SparkSession, so the bench,
  * the oracle dump, the rehearsals and the probes all measure and run
  * under the same confs. A setting only one main needs is chained on the
  * builder it gets back.
  */
object Sessions {

  /** Task slots for the local mains: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local-mode liveness: driver and "executor" share one GC domain, so
      // a heavy sweep (32 busy tasks + multi-second G1 young pauses at big
      // heaps) can starve the in-process heartbeat RPC loop long past the
      // 120s default — HeartbeatReceiver then kills the only executor and
      // the whole context collapses mid-bench (observed at 10x SF: 268s
      // heartbeat gap -> exit 56 at minute 28). In-process heartbeats
      // carry no liveness signal worth dying for.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // static conf, default 100: a 78-query suite generates far more
      // codegen'd classes than that, so every repeat recompiled its
      // whole-stage classes through janino — a uniform per-query tax the
      // canary can't see. Size the cache to hold the full suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Shuffle/spill scratch: a default /tmp on a VM disk spends
      // tiny-SF shuffles in small-file metadata ops. A tmpfs
      // default keeps the bench measuring the engine, not the VM's FS
      // metadata path; env-overridable for hosts where RAM-backed
      // scratch is wrong (production: point at the NVMe array).
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-shuffle"
        else System.getProperty("java.io.tmpdir")))
}
