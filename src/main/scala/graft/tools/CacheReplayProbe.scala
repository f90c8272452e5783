package graft.tools

/** Second-broker replay: a FRESH JVM (forked by LocalClusterRehearsal)
  * pointing at the same SegmentStore and the same file-backed cache
  * directory as the first broker, running a query whose day-partial
  * fragments the first broker already computed. The cross-JVM shared-tier
  * law (the reference's distributed cache tier, `TOC.md:53`): every
  * fragment hits, the merge happens driver-side, and ZERO Spark jobs run —
  * with N brokers over 100 TB, one broker warming a dashboard warms it for
  * the whole fleet.
  *
  * args: storeRoot cacheDir queryFile wantFile expectedHits
  * Exits nonzero unless bytes match `wantFile`, fragment hits equal
  * `expectedHits`, and the job count is exactly zero.
  */
object CacheReplayProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: CacheReplayProbe storeRoot cacheDir queryFile wantFile expectedHits")
    val Array(storeRoot, cacheDir, queryFile, wantFile, expectedHitsS) = args
    val spark = Sessions.builder("local[2]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.conf.set("spark.graft.resultCache.backend", "file")
      spark.conf.set("spark.graft.resultCache.dir", cacheDir)
      val engine = new graft.engine.Engine(spark,
        new graft.store.SegmentCatalog(new graft.store.SegmentStore(storeRoot)))
      val query = java.nio.file.Files.readString(java.nio.file.Paths.get(queryFile))
      val want = java.nio.file.Files.readString(java.nio.file.Paths.get(wantFile))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
      val got = engine.executeJson(query)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      val hits = engine.metrics.last.segmentHits
      val ok = got == want && jobs.get() == 0 && hits == expectedHitsS.toInt
      println(s"[cache-replay] ${if (ok) "PASS" else "FAIL"} jobs=${jobs.get()} " +
        s"hits=$hits (want $expectedHitsS) bytesMatch=${got == want} " +
        s"gotLen=${got.length} wantLen=${want.length}")
      if (!ok) { spark.stop(); sys.exit(1) }
    } finally spark.stop()
  }
}
