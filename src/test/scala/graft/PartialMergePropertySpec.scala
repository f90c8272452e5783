package graft

import graft.engine.Engine
import graft.model.{Aggregator, Granularity}
import graft.store.{SegmentCatalog, SegmentStore}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** Fragment merge vs whole plan on GENERATED datasources: every query is
  * served once through the per-chunk partial merge and once with the
  * segment cache off, and the answers must agree — bytes for timeseries,
  * topN and totally ordered groupBy limitSpecs, row sets for groupBy
  * otherwise.
  *
  * The data covers null metrics and all-null days (first/last), NaN,
  * `-0.0` and longs past 2^53, empty days inside the interval, float sums,
  * long- and float-typed dims, non-BMP string dims, and a rollup
  * datasource. Values are quarter steps, so sums are exact in every
  * association order (float sums included); `-0.0` is the only zero in a
  * min/max column and every row has its own timestamp, so min/max and
  * first/last have no tie whose pick depends on row order. */
class PartialMergePropertySpec extends SparkTestBase {

  import PartialMergePropertySpec.Ev
  import spark.implicits._

  private def sampled[T](gen: Gen[T], seed: Long): T =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  private val Base = Instant.parse("2024-03-01T00:00:00Z")
  private val Big = (1L << 53) + 1

  private val genS: Gen[Option[String]] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "ab", "B", "", "😀", "𐍈x", "漢字", "a10", "a9")
      .map(Some(_)),
    1 -> Gen.const(None))
  private val genV: Gen[Option[Double]] = Gen.frequency(
    12 -> Gen.choose(-40, 40).map(k => Some(if (k == 0) 1.75 else k * 0.25)),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(Some(-0.0)),
    3 -> Gen.const(None))
  private val genW: Gen[Option[Double]] = Gen.frequency(
    5 -> Gen.choose(-20, 20).map(k => Some(k * 0.5)), 1 -> Gen.const(None))
  private val genLv: Gen[Option[Long]] = Gen.frequency(
    6 -> Gen.choose(-9L, 30L).map(Some(_)),
    1 -> Gen.oneOf(Big, -Big - 2, Big + 8).map(Some(_)),
    2 -> Gen.const(None))

  /** One day's rows, each at its own minute; `nullDay` nulls every metric
    * of the day (rows that exist but never feed first/last). */
  private def genDay(day: Int): Gen[Seq[Ev]] = for {
    n <- Gen.choose(1, 5)
    nullDay <- Gen.frequency(5 -> false, 1 -> true)
    rows <- Gen.listOfN(n, for {
      s <- genS
      ld <- Gen.frequency(4 -> Gen.oneOf(-5L, 0L, 42L, Big).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]))
      fd <- Gen.oneOf(0.5f, 1.1f, -2.25f, 3.3f).map(Option(_))
      v <- genV; w <- genW; lv <- genLv
    } yield (s, ld, fd, v, w, lv))
  } yield rows.zipWithIndex.map { case ((s, ld, fd, v, w, lv), i) =>
    Ev(Timestamp.from(Base.plusSeconds(day * 86400L + i * 53 * 60L + 420L)),
      s, ld, fd, if (nullDay) None else v, if (nullDay) None else w,
      if (nullDay) None else lv)
  }

  /** 8–14 distinct days in a 70-day span: the gaps are empty days. */
  private val genEvents: Gen[Seq[Ev]] = for {
    k <- Gen.choose(8, 14)
    days <- Gen.pick(k, 0 until 70)
    rows <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]](days.sorted.map(genDay))
  } yield rows.flatten

  // aggregator pools (NAME is the output name); float min/max/first/last
  // read `w`, which holds no NaN
  private val plainAggs = Seq(
    """{"type":"count","name":"NAME"}""",
    """{"type":"longSum","name":"NAME","fieldName":"lv"}""",
    """{"type":"longMin","name":"NAME","fieldName":"lv"}""",
    """{"type":"longMax","name":"NAME","fieldName":"lv"}""",
    """{"type":"longFirst","name":"NAME","fieldName":"lv"}""",
    """{"type":"longLast","name":"NAME","fieldName":"lv"}""",
    """{"type":"doubleSum","name":"NAME","fieldName":"v"}""",
    """{"type":"floatSum","name":"NAME","fieldName":"v"}""",
    """{"type":"doubleMin","name":"NAME","fieldName":"v"}""",
    """{"type":"doubleMax","name":"NAME","fieldName":"v"}""",
    """{"type":"doubleFirst","name":"NAME","fieldName":"v"}""",
    """{"type":"doubleLast","name":"NAME","fieldName":"v"}""",
    """{"type":"floatMin","name":"NAME","fieldName":"w"}""",
    """{"type":"floatMax","name":"NAME","fieldName":"w"}""",
    """{"type":"floatFirst","name":"NAME","fieldName":"w"}""",
    """{"type":"floatLast","name":"NAME","fieldName":"w"}""",
    """{"type":"filtered","filter":{"type":"selector","dimension":"s","value":"a"},
      |"aggregator":{"type":"doubleSum","name":"NAME","fieldName":"v"}}""".stripMargin,
    """{"type":"filtered","filter":{"type":"selector","dimension":"s","value":"b"},
      |"aggregator":{"type":"doubleLast","name":"NAME","fieldName":"v"}}""".stripMargin,
    """{"type":"hyperUnique","name":"NAME","fieldName":"s"}""",
    """{"type":"cardinality","name":"NAME","fields":["s","ld"],"byRow":true}""")
  private val rollupAggs = Seq(
    """{"type":"count","name":"NAME"}""",
    """{"type":"filtered","filter":{"type":"selector","dimension":"s","value":"nope"},
      |"aggregator":{"type":"count","name":"NAME"}}""".stripMargin,
    """{"type":"doubleSum","name":"NAME","fieldName":"v"}""",
    """{"type":"floatSum","name":"NAME","fieldName":"v"}""",
    """{"type":"doubleMax","name":"NAME","fieldName":"w"}""",
    """{"type":"longMin","name":"NAME","fieldName":"lv"}""")

  private val grans = Seq("\"month\"", "\"week\"", "\"all\"",
    """{"type":"period","period":"P1M","timeZone":"Asia/Shanghai"}""")

  private val posts = Seq("",
    ""","postAggregations":[{"type":"arithmetic","name":"p","fn":"/",
      |"fields":[{"type":"fieldAccess","fieldName":"a0"},
      |{"type":"fieldAccess","fieldName":"a1"}]}]""".stripMargin,
    ""","postAggregations":[{"type":"arithmetic","name":"p","fn":"*",
      |"fields":[{"type":"fieldAccess","fieldName":"a0"},
      |{"type":"constant","name":"k","value":2.5}]}]""".stripMargin,
    ""","postAggregations":[{"type":"doubleGreatest","name":"p","fields":[
      |{"type":"fieldAccess","fieldName":"a0"},
      |{"type":"fieldAccess","fieldName":"a1"}]}]""".stripMargin)

  /** A query of each shape over `ds`, a `bytes` flag (false = compare
    * groupBy row sets). */
  private def genQuery(ds: String, aggPool: Seq[String],
      days: Seq[Int]): Gen[(String, Boolean)] =
    for {
      pair <- Gen.pick(2, aggPool.indices)
      aggs = pair.zipWithIndex.map { case (i, j) =>
        aggPool(i).replace("NAME", s"a$j") }.mkString(",")
      post <- Gen.oneOf(posts)
      gran <- Gen.oneOf(grans)
      // around a day with data, so the query decomposes into slices
      anchor <- Gen.oneOf(days)
      before <- Gen.choose(0, 25)
      after <- Gen.choose(1, 30)
      iv = s"${Base.plusSeconds((anchor - before) * 86400L)}/" +
        s"${Base.plusSeconds((anchor + after) * 86400L)}"
      shape <- Gen.oneOf("timeseries", "topN", "groupBy")
      q <- shape match {
        case "timeseries" => for {
          skip <- Gen.oneOf(true, false); desc <- Gen.oneOf(true, false)
        } yield (s"""{"queryType":"timeseries","dataSource":"$ds",
             |"intervals":["$iv"],"granularity":$gran,"descending":$desc,
             |"context":{"skipEmptyBuckets":"$skip"},
             |"aggregations":[$aggs]$post}""".stripMargin, true)
        case "topN" => for {
          dim <- Gen.oneOf("s", "ld", "fd")
          metric <- Gen.oneOf("\"a0\"", """{"type":"inverted","metric":"a0"}""",
            """{"type":"alphanumeric"}""", """{"type":"lexicographic"}""")
          threshold <- Gen.choose(1, 4)
        } yield (s"""{"queryType":"topN","dataSource":"$ds","dimension":"$dim",
             |"threshold":$threshold,"metric":$metric,
             |"intervals":["$iv"],"granularity":$gran,
             |"aggregations":[$aggs]$post}""".stripMargin, true)
        case _ => genGroupBy(ds, iv, gran, aggs, post)
      }
    } yield q

  private def genGroupBy(ds: String, iv: String, gran: String, aggs: String,
      post: String): Gen[(String, Boolean)] = for {
    dims <- Gen.oneOf(Seq("s"), Seq("ld"), Seq("fd"), Seq("s", "ld"), Seq("fd", "s"))
    having <- Gen.oneOf(
      Seq("") ++ Seq(
        """{"type":"greaterThan","aggregation":"a0","value":0.5}""",
        """{"type":"or","havingSpecs":[{"type":"lessThan","aggregation":"a1","value":3},
          |{"type":"not","havingSpec":{"type":"equalTo","aggregation":"a0","value":1}}]}""".stripMargin,
        """{"type":"filter","filter":{"type":"bound","dimension":"a0","lower":"0",
          |"ordering":"numeric"}}""".stripMargin) ++
        (if (dims.contains("s")) Seq(
          """{"type":"dimSelector","dimension":"s","value":"a"}""",
          """{"type":"and","havingSpecs":[{"type":"not","havingSpec":
            |{"type":"dimSelector","dimension":"s","value":"b"}},
            |{"type":"greaterThan","aggregation":"a0","value":-100}]}""".stripMargin,
          """{"type":"filter","filter":{"type":"like","dimension":"s","pattern":"a%"}}""")
        else Seq.empty))
    order <- Gen.oneOf(None, Some("""{"dimension":"a0","direction":"descending",
        |"dimensionOrder":"numeric"}""".stripMargin),
      Some(s"""{"dimension":"${dims.head}","direction":"ascending",
        |"dimensionOrder":"strlen"}""".stripMargin),
      Some(s"""{"dimension":"${dims.head}","direction":"descending",
        |"dimensionOrder":"alphanumeric"}""".stripMargin))
    limit <- Gen.choose(1, 6)
  } yield {
    val h = if (having.isEmpty) "" else s""""having":$having,"""
    // a limitSpec orders totally only where groups are unique by their
    // dims (granularity all): every dim breaks the remaining ties
    val ls = order.filter(_ => gran == "\"all\"").map { o =>
      val ties = dims.map(d => s"""{"dimension":"$d","direction":"ascending"}""")
      s""""limitSpec":{"type":"default","limit":$limit,
         |"columns":[${(o +: ties).mkString(",")}]},""".stripMargin
    }
    (s"""{"queryType":"groupBy","dataSource":"$ds",
        |"dimensions":[${dims.map(d => s"\"$d\"").mkString(",")}],
        |"intervals":["$iv"],"granularity":$gran,$h${ls.getOrElse("")}
        |"aggregations":[$aggs]$post}""".stripMargin, ls.isDefined)
  }

  /** An engine that answers with the segment cache off: the whole plan. */
  private def wholePlan(catalog: SegmentCatalog): Engine = {
    spark.conf.set("spark.graft.segmentCache.enabled", "false")
    try new Engine(spark, catalog)
    finally spark.conf.unset("spark.graft.segmentCache.enabled")
  }

  private def rowSet(json: String): Set[String] = {
    val a = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    (0 until a.size()).map(i => a.get(i).toString).toSet
  }

  test("partial merge: generated datasources — merged answers == whole plan " +
      "(timeseries/topN bytes, groupBy rows)") {
    def check(ds: String, catalog: SegmentCatalog, events: Seq[Ev],
        pool: Seq[String], seed: Long, queries: Int): Unit = {
      val days = events.map(e => ((e.__time.getTime / 1000L -
        Base.getEpochSecond) / 86400L).toInt).distinct
      val seg = new Engine(spark, catalog)
      val whole = wholePlan(catalog)
      (0 until queries).foreach { i =>
        val (q0, bytes) = sampled(genQuery(ds, pool, days), seed * 1000 + i)
        val want = whole.executeJson(q0)
        val got = seg.executeJson(q0)
        assert(seg.metrics.last.segmentHits + seg.metrics.last.segmentMisses > 0,
          s"must be served by the partial merge: $q0 ${seg.cacheStats}")
        if (bytes) assert(got == want, s"seed $seed #$i diverged: $q0\n got=$got\nwant=$want")
        else assert(rowSet(got) == rowSet(want),
          s"seed $seed #$i rows diverged: $q0\n got=$got\nwant=$want")
      }
      assert(seg.cacheStats("segmentCacheMergeErrors") == 0L, seg.cacheStats.toString)
    }
    (1L to 3L).foreach { seed =>
      val store = new SegmentStore(Files.createTempDirectory("graft-pmprop").toString)
      val events = sampled(genEvents, seed)
      store.write(events.toDF(), "ev")
      check("ev", new SegmentCatalog(store), events, plainAggs, seed, 24)
    }
    // a rollup datasource: count merges as the stored-count sum
    val rstore = new SegmentStore(Files.createTempDirectory("graft-pmpropr").toString)
    val revents = sampled(genEvents, 4L)
    rstore.write(revents.toDF(), "evr",
      rollup = Some((Granularity.Simple("hour"), Seq("s", "ld", "fd"),
        Seq(Aggregator.Sum("v", "v", "double"), Aggregator.Max("w", "w", "double"),
          Aggregator.Min("lv", "lv", "long")))))
    check("evr", new SegmentCatalog(rstore), revents, rollupAggs, 4L, 24)
  }

  test("partial merge: float max over NaN and a global groupBy over no rows " +
      "match the whole plan") {
    val store = new SegmentStore(Files.createTempDirectory("graft-pmedge").toString)
    store.write(Seq(
      Ev(Timestamp.from(Instant.parse("2024-05-01T01:00:00Z")), Some("a"), None, None,
        None, Some(Double.NaN), None),
      Ev(Timestamp.from(Instant.parse("2024-05-02T01:00:00Z")), Some("b"), None, None,
        None, Some(2.5), None)).toDF(), "ev")
    val catalog = new SegmentCatalog(store)
    val seg = new Engine(spark, catalog)
    val whole = wholePlan(catalog)
    val iv = "2024-05-01T00:00:00Z/2024-05-03T00:00:00Z"
    Seq(
      // the day value "NaN" must merge as NaN, not as 0
      s"""{"queryType":"timeseries","dataSource":"ev","intervals":["$iv"],
         |"granularity":"month","aggregations":[
         |{"type":"floatMax","name":"m","fieldName":"w"}]}""".stripMargin,
      // no row passes the filter: still the one row of a keyless aggregate
      s"""{"queryType":"groupBy","dataSource":"ev","intervals":["$iv"],
         |"granularity":"all","dimensions":[],
         |"filter":{"type":"selector","dimension":"s","value":"nope"},
         |"aggregations":[{"type":"count","name":"n"},
         |{"type":"doubleSum","name":"x","fieldName":"w"}]}""".stripMargin)
      .foreach { q =>
        val got = seg.executeJson(q)
        assert(seg.metrics.last.segmentHits + seg.metrics.last.segmentMisses > 0,
          s"must be served by the partial merge: $q")
        assert(got == whole.executeJson(q), s"$q\n got=$got")
      }
  }
}


object PartialMergePropertySpec {
  final case class Ev(__time: Timestamp, s: Option[String],
      ld: Option[Long], fd: Option[Float], v: Option[Double],
      w: Option[Double], lv: Option[Long])
}
