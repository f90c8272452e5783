package graft

import graft.ext.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.util.Try

/** The two fixed-cost cuts of a small curation pass: the native markup
  * strip against the regex chain it replaced, and the minhash driver
  * finish against the distributed arm it stands in for. */
class SmallShardFinishSpec extends SparkTestBase {

  import spark.implicits._

  /** Drive a Gen with a fixed seed chain (deterministic cases). */
  private def sampled[T](gen: Gen[T], cases: Int): Seq[T] =
    (0 until cases).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** The regex/replace chain `TextAnalysis.stripMarkup` ran before the
    * native expression, kept as its oracle (q66's DuckDB oracle replays the
    * same chain). */
  private def regexChain(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noBlocks = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  private val markupPieces = Seq(
    "<script", "<ScRiPt", "<SCRIPT ", "<scriptx>", "<script type=\"t\">",
    "</script>", "</ScRiPt>", "</script >", "</scrip>",
    "<style", "<StYlE>", "<stylex a=1>", "</style>", "</STYLE>",
    "<", ">", "</", "<p>", "<b class=\"x\">", "</b>", "<br/>", "<sty", "le>",
    "&lt;", "&gt;", "&quot;", "&#39;", "&amp;", "&amp;lt;", "&amp;amp;",
    "&", ";", "lt;", "amp;", "#39;", "&LT;",
    " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f",
    "\u00A0", "\u2028", "\u001C", "\u3000",
    "😀", "𐍈", "é", "漢字",
    "a", "word", "x < y", "if (a<b) {x}", "S", "k")

  private val genHtml: Gen[String] =
    Gen.choose(0, 28).flatMap(n => Gen.listOfN(n, Gen.oneOf(markupPieces)))
      .map(_.mkString)

  private val markupCases = Seq(
    null, "", " ", "\u000B", " x ",
    "<<script>x</script>b>", // a tag that only forms after the block cut
    "<sty<script>a</script>le>x</style>y",
    "<script><style>a</script>b</style>c", // style inside script
    "<style><script>a</style>b</script>c", // script inside style
    "<script>never closed <p>x</p>", "<script never opened", "a <p unterminated",
    "<scriptx>x</script>y", "<ScRiPt>x</sCrIpT>done", "&amp;lt;b&amp;gt;",
    "&lt;script&gt;x&lt;/script&gt;", "😀<b>😀</b>&amp;",
    "  a \t\u000B\f\r\n b  ")

  test("StripMarkup equals the regex chain it replaced (generated markup)") {
    val inputs = markupCases ++ sampled(genHtml, 800)
    val df = inputs.zipWithIndex.map { case (h, i) => (i, h) }.toDF("i", "html")
      .repartition(3) // a non-local plan: both sides run generated code
    val got = df.select(col("i"), TextAnalysis.stripMarkup(col("html")).as("n"),
        regexChain(col("html")).as("r"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2)))
    assert(got.length == inputs.length)
    got.foreach { case (i, (native, oracle)) =>
      assert(native == oracle,
        s"codegen: strip(${inputs(i)}) = [$native], regex chain = [$oracle]")
      val interpreted = Option(inputs(i))
        .map(h => graft.functions.StripMarkup.strip(UTF8String.fromString(h)).toString)
        .orNull
      assert(interpreted == oracle,
        s"eval: strip(${inputs(i)}) = [$interpreted], regex chain = [$oracle]")
    }
    assert(got.exists(_._2._1 == null), "null in must give null out")
  }

  /** One doc: its id (maybe null) and its text (maybe null). */
  private type Doc = (Option[Long], Option[String])

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "😀", "漢", "𐍈x")

  private def textOf(seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
  }

  /** Random corpora: near-dup families, exact copies, null ids and texts. */
  private val genCorpus: Gen[(Seq[Doc], Int)] = for {
    families <- Gen.choose(1, 8)
    perFamily <- Gen.choose(1, 12)
    edits <- Gen.choose(0, 3)
    nullIds <- Gen.choose(0, 2)
    nullTexts <- Gen.choose(0, 2)
    cap <- Gen.oneOf(4, 8, 256)
    seed <- Gen.choose(0, 1000)
  } yield {
    val base = (0 until families).map(f => textOf(seed * 31 + f, 12))
    val docs = for (f <- 0 until families; k <- 0 until perFamily) yield {
      val ws = base(f).split(" ")
      (0 until math.min(edits, k)).foreach(e => ws((k * 7 + e * 3) % ws.length) = s"edit$k$e")
      (Option((f * 100 + k).toLong), Option(ws.mkString(" ")))
    }
    val extra = (0 until nullIds).map(j => (None: Option[Long], Option(base(j % families)))) ++
      (0 until nullTexts).map(j => (Option(90000L + j), None: Option[String]))
    (docs ++ extra, cap)
  }

  private val fixedCorpora: Seq[(String, Seq[Doc], Int)] = {
    val same = "the same boilerplate sentence repeated in every document here"
    Seq(
      ("empty", Nil, 16),
      ("single document", Seq((Some(1L), Some(same))), 16),
      ("all duplicates past the cap", (0 until 40).map(i => (Some(i.toLong), Some(same))), 16),
      ("a bucket of exactly bucketCap", (0 until 16).map(i => (Some(i.toLong), Some(same))), 16),
      ("an oversize bucket led by a null id",
        (None, Some(same)) +: (0 until 20).map(i => (Some(i.toLong), Some(same))), 16),
      ("null ids and null texts", Seq((None, Some(same)), (Some(1L), Some(same)),
        (Some(2L), None), (Some(3L), Some(same)), (None, None)), 16),
      ("non-BMP text", (0 until 6).map(i =>
        (Some(i.toLong), Some("😀 𐍈 漢字 " + same))), 4))
  }

  private def corpus(docs: Seq[Doc]): DataFrame =
    docs.toDF("doc_id", "text")

  private def arm(docs: Seq[Doc], cap: Int, driver: Boolean): DataFrame =
    Dedup.placedMinhashDupPairs(corpus(docs), "text", "doc_id", numHashes = 64,
      bands = 16, shingleN = 3, threshold = 0.5, bucketCap = cap,
      driverFinish = driver)

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect().toSet

  test("minhash driver finish == distributed arm: pairs, estimates, refusal") {
    val generated = sampled(genCorpus, 24).zipWithIndex
      .map { case ((d, c), i) => (s"generated #$i", d, c) }
    (fixedCorpora ++ generated).foreach { case (name, docs, cap) =>
      val driver = arm(docs, cap, driver = true)
      val distributed = arm(docs, cap, driver = false)
      assert(driver.isLocal && !distributed.isLocal, s"$name: arms not taken")
      assert(driver.schema.map(f => f.name -> f.dataType) ==
        distributed.schema.map(f => f.name -> f.dataType), name)
      val (d, w) = (triples(driver), triples(distributed))
      assert(d == w, s"$name: driver-only ${d -- w}, distributed-only ${w -- d}")
      // the measured guard tier: the same exact candidate count
      val mark = Dedup.lshStatsSeen
      arm(docs, cap, driver = true)
      val st = Dedup.lshStatsSince(mark).filter(_.kind == "minhash")
      assert(st.size == 1, s"$name: ${Dedup.lshStatsSince(mark)}")
      spark.conf.set("spark.graft.lsh.candidateBudget", "1")
      try {
        val w0 = Dedup.lshStatsSeen
        val wRun = Try(triples(arm(docs, cap, driver = false)))
        val measured = Dedup.lshStatsSince(w0).filter(_.kind == "minhash")
        if (measured.nonEmpty) assert(measured.last == st.head, name)
        val dRun = Try(triples(arm(docs, cap, driver = true)))
        assert(dRun.failed.toOption.map(_.getMessage) ==
          wRun.failed.toOption.map(_.getMessage), s"$name: refusals differ")
        assert(dRun.toOption == wRun.toOption, name)
      } finally spark.conf.unset("spark.graft.lsh.candidateBudget")
    }
    // past the union-find edge bound the driver finish hands the same
    // checkpoint to the distributed arm
    val (_, big, cap) = fixedCorpora.find(_._1 == "all duplicates past the cap").get
    spark.conf.set("spark.graft.cc.driverMaxEdges", "10")
    try {
      val fallback = arm(big, cap, driver = true)
      assert(!fallback.isLocal)
      assert(triples(fallback) == triples(arm(big, cap, driver = false)))
    } finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  test("dupClusters labels a local pair frame as it labels a materialized one") {
    sampled(genCorpus, 12).foreach { case (docs, cap) =>
      val local = arm(docs, cap, driver = true)
      assert(local.isLocal)
      def labels(df: DataFrame) =
        Dedup.dupClusters(df).as[(Long, Long)].collect().toSet
      assert(labels(local) == labels(Dedup.materialize(local)))
    }
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("materialize keeps a local frame on the driver: with dupClusters, no job") {
    // built as the minhash driver finish builds its pairs
    val pairs = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 2L, 0.9), Row(2L, 3L, 0.8), Row(7L, 8L, 1.0)),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
        StructField("est_jaccard", DoubleType))))
    assert(pairs.isLocal)
    val (labels, jobs) = jobsOf(
      Dedup.dupClusters(Dedup.materialize(pairs)).as[(Long, Long)].collect())
    assert(jobs == 0, s"materialize + dupClusters ran $jobs jobs on a local frame")
    assert(labels.toSet == Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
  }

  test("after the signature checkpoint, pairs run one Spark job and clusters none") {
    val dir = java.nio.file.Files.createTempDirectory("graft-small-shard").toString
    val docs = (0 until 500).map { i =>
      val base = textOf(i / 5, 40)
      (i.toLong, if (i % 5 == 0) base else base + s" tail$i")
    }
    docs.toDF("id", "text").write.mode("overwrite").parquet(dir)
    val sigs = Dedup.materialize(spark.read.parquet(dir).select(col("id"),
      Dedup.minhashSignature(col("text"), 64, 3).as("sig")))
    val (pairs, pairJobs) = jobsOf(Dedup.minhashDupPairsFromSigs(sigs, "id", "sig",
      bands = 16, threshold = 0.7))
    assert(pairJobs == 1, s"pair step ran $pairJobs jobs, want 1 (the collect)")
    val (labels, clusterJobs) = jobsOf(Dedup.dupClusters(pairs).collect())
    assert(clusterJobs == 0, s"dupClusters ran $clusterJobs jobs on a local pair frame")
    assert(labels.length >= 100, s"expected the planted families: ${labels.length}")
  }
}
