package graft

import graft.engine.Engine
import graft.model.{Aggregator, Granularity}
import graft.store.{SegmentCatalog, SegmentStore}
import graft.streaming.RealtimeIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** Streaming rollup vs batch rollup on GENERATED rows: the same rows go
  * through `windowedRollup` and through `SegmentStore.write` with the same
  * rollup spec, and every query answers with the same bytes on both
  * datasources — `count` (the stored row count), long and double sums,
  * min/max and `hyperUnique`, at `hour`, `day` and `all`: timeseries
  * answers byte for byte, groupBy answers row for row (it has no row
  * order without a limitSpec).
  *
  * The rows span six hours and stream in one to three batches under a
  * twelve-hour watermark, so no data row is late. Two closing rows three
  * days on advance the watermark past every data bucket; both sides hold
  * them and every query's interval leaves them out. Values are quarter
  * steps, so sums are exact in every association order. */
class StreamingRollupPropertySpec extends SparkTestBase {

  import StreamingRollupPropertySpec.Ev
  import spark.implicits._

  private def sampled[T](gen: Gen[T], seed: Long): T =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  private val Base = Instant.parse("2024-06-01T00:00:00Z")

  private val genGran: Gen[Granularity] = Gen.oneOf(
    Granularity.Simple("hour"), Granularity.Simple("fifteen_minute"),
    Granularity.Simple("day"), Granularity.Duration(20 * 60000L, Some(Base.plusSeconds(420))),
    Granularity.Period("PT30M", None, None),
    Granularity.Period("PT2H", Some("UTC"), Some(Base.plusSeconds(3600))))

  private val genEv: Gen[Ev] = for {
    sec <- Gen.choose(0, 6 * 3600 - 1)
    s <- Gen.oneOf("a", "b", "c")
    l <- Gen.choose(-20L, 50L)
    v <- Gen.choose(-40, 40).map(_ * 0.25)
    u <- Gen.choose(0L, 60L)
  } yield Ev(Timestamp.from(Base.plusSeconds(sec)), s, l, v, u)

  /** The rows, split into one to three stream batches. */
  private val genBatches: Gen[Seq[Seq[Ev]]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, genEv)
    k <- Gen.choose(1, 3)
  } yield rows.grouped(math.max(1, (n + k - 1) / k)).toSeq

  private val metrics = Seq(Aggregator.Count("cnt"), Aggregator.Sum("ls", "l", "long"),
    Aggregator.Sum("ds", "v", "double"), Aggregator.Min("mn", "v", "double"),
    Aggregator.Max("mx", "v", "double"), Aggregator.HyperUnique("uu", "u"))

  private val aggs =
    """{"type":"count","name":"n"},{"type":"longSum","name":"cnt","fieldName":"cnt"},
      |{"type":"longSum","name":"ls","fieldName":"ls"},
      |{"type":"doubleSum","name":"ds","fieldName":"ds"},
      |{"type":"doubleMin","name":"mn","fieldName":"mn"},
      |{"type":"doubleMax","name":"mx","fieldName":"mx"},
      |{"type":"hyperUnique","name":"uu","fieldName":"uu"}""".stripMargin

  private def queries(ds: String): Seq[String] = {
    val iv = s"$Base/${Base.plusSeconds(2 * 86400L)}"
    for (g <- Seq("hour", "day", "all"); shape <- Seq("timeseries", "groupBy")) yield {
      val dims = if (shape == "groupBy") """"dimensions":["s"],""" else ""
      s"""{"queryType":"$shape","dataSource":"$ds","intervals":["$iv"],
         |"granularity":"$g",$dims"aggregations":[$aggs]}""".stripMargin
    }
  }

  /** Each result row's bytes: groupBy without a limitSpec has no row order. */
  private def rows(json: String): Set[String] = {
    val a = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    (0 until a.size()).map(i => a.get(i).toString).toSet
  }

  test("streaming rollup == batch rollup of the same rows and spec, " +
      "query for query (generated)") {
    implicit val sqlC: org.apache.spark.sql.SQLContext = spark.sqlContext
    (1L to 6L).foreach { seed =>
      val gran = sampled(genGran, seed)
      val batches = sampled(genBatches, seed)
      val closing = Ev(Timestamp.from(Base.plusSeconds(3 * 86400L)), "close", 0L, 0.0, 0L)
      val spec = (gran, Seq("s"), metrics)
      val store = new SegmentStore(Files.createTempDirectory("graft-srprop").toString)
      store.write((batches.flatten :+ closing).toDF(), "batch", Some(spec))
      val mem = MemoryStream[Ev]
      val q = RealtimeIngest.windowedRollup(mem.toDF(), store, "live", spec,
        watermark = "12 hours",
        checkpointDir = Files.createTempDirectory("graft-srprop-ckpt").toString)
      try (batches ++ Seq(Seq(closing), Seq(closing))).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      val engine = new Engine(spark, new SegmentCatalog(store))
      queries("batch").zip(queries("live")).foreach { case (qb, ql) =>
        val want = engine.executeJson(qb)
        val got = engine.executeJson(ql)
        assert(rows(got) == rows(want), s"seed $seed, $gran diverged: $ql\n got=$got\nwant=$want")
        if (ql.contains("timeseries")) assert(got == want, s"seed $seed, $gran order: $ql")
      }
    }
  }
}

object StreamingRollupPropertySpec {
  final case class Ev(__time: Timestamp, s: String, l: Long, v: Double, u: Long)
}
