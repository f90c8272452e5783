package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Draws ranks 0..n-1 from a finite Zipf(s) law: rank 0 is the most likely. */
final class Zipf(n: Int, s: Double) {
  /** The probability of each rank. */
  val weights: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    w.map(_ / tot)
  }
  private val cdf = weights.scanLeft(0.0)(_ + _).tail
  def draw(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Vocab {
  val countries: Array[String] = Array("US", "CN", "IN", "BR", "DE", "JP", "GB",
    "FR", "RU", "IT", "CA", "KR", "ES", "MX", "ID", "AU", "NL", "TR", "SA", "CH",
    "SE", "PL", "BE", "AR", "NO", "AT", "IL", "IE", "DK", "FI")
  val devices: Array[String] = Array("desktop", "mobile", "tablet", "tv")
  val channels: Array[String] = Array.tabulate(12)(i => f"#ch$i%02d")
  val pages: Array[String] = Array.tabulate(2000)(i => f"page-$i%04d")
  val tags: Array[String] = Array.tabulate(16)(i => f"t$i%02d")

  /** Single-valued string dimensions, by the index the ground truth uses. */
  val dims: Array[String] = Array("country", "device", "channel")
  def values(dim: Int): Array[String] = dim match {
    case 0 => countries
    case 1 => devices
    case 2 => channels
  }
}

/** Column-major events: the datasource the OLAP workloads serve and the
  * ground truth their checks reconcile against. */
final class Events(val time: Array[Long], val country: Array[Int],
    val device: Array[Int], val channel: Array[Int], val page: Array[Int],
    val user: Array[Int], val tags: Array[Int], val added: Array[Long],
    val latency: Array[Double]) {

  def size: Int = time.length

  def dim(d: Int, i: Int): Int = d match {
    case 0 => country(i)
    case 1 => device(i)
    case 2 => channel(i)
  }

  def row(i: Int): Row = Row(new java.sql.Timestamp(time(i)),
    Vocab.countries(country(i)), Vocab.devices(device(i)),
    Vocab.channels(channel(i)), Vocab.pages(page(i)), f"u${user(i)}%05d",
    Vocab.tags.indices.filter(t => (tags(i) & (1 << t)) != 0).map(Vocab.tags(_)),
    added(i), latency(i))

  /** Rows [from, until) as a list Spark can turn into a DataFrame. */
  def rows(from: Int, until: Int): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](until - from)
    var i = from
    while (i < until) { out.add(row(i)); i += 1 }
    out
  }

  /** Index of the first row at or after `t` (rows are time-ordered). */
  def lowerBound(t: Long): Int = {
    val i = java.util.Arrays.binarySearch(time, t)
    if (i >= 0) { var j = i; while (j > 0 && time(j - 1) == t) j -= 1; j } else -i - 1
  }
}

object Gen {
  val DayMs: Long = 86400000L
  val HourMs: Long = 3600000L
  /** Day 0 of every generated timeline (UTC). */
  val Epoch: Long = LocalDate.of(2026, 1, 1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  val eventSchema: StructType = StructType(Seq(
    StructField("__time", TimestampType, nullable = false),
    StructField("country", StringType), StructField("device", StringType),
    StructField("channel", StringType), StructField("page", StringType),
    StructField("user_id", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("added", LongType), StructField("latency", DoubleType)))

  def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString

  /** `perDay` events on each of `days` days starting at day `firstDay`,
    * time-ordered. Countries, channels, pages and tags are Zipf-skewed;
    * `tags` is multi-valued (0 to 3 values). */
  def events(seed: Long, firstDay: Int, days: Int, perDay: Int): Events = {
    val r = new SplittableRandom(seed)
    val n = days * perDay
    val country = new Zipf(Vocab.countries.length, 1.1)
    val channel = new Zipf(Vocab.channels.length, 0.9)
    val page = new Zipf(Vocab.pages.length, 1.0)
    val tag = new Zipf(Vocab.tags.length, 1.2)
    val device = Array(0.55, 0.35, 0.08, 0.02).scanLeft(0.0)(_ + _).tail
    val ev = new Events(new Array[Long](n), new Array[Int](n), new Array[Int](n),
      new Array[Int](n), new Array[Int](n), new Array[Int](n), new Array[Int](n),
      new Array[Long](n), new Array[Double](n))
    var i = 0
    for (d <- 0 until days) {
      val dayStart = Epoch + (firstDay + d) * DayMs
      val ts = Array.fill(perDay)(dayStart + r.nextLong(DayMs))
      java.util.Arrays.sort(ts)
      ts.foreach { t =>
        ev.time(i) = t
        ev.country(i) = country.draw(r)
        val u = r.nextDouble()
        ev.device(i) = device.indexWhere(u < _) max 0
        ev.channel(i) = channel.draw(r)
        ev.page(i) = page.draw(r)
        ev.user(i) = r.nextInt(20000)
        var m = 0
        (0 until r.nextInt(4)).foreach(_ => m |= 1 << tag.draw(r))
        ev.tags(i) = m
        ev.added(i) = r.nextLong(1000)
        ev.latency(i) = math.exp(3.0 + 0.8 * r.nextGaussian(0.0, 1.0))
        i += 1
      }
    }
    ev
  }

  // --------------------------------------------------------------------------
  // Druid JSON building blocks
  // --------------------------------------------------------------------------

  def q(s: String): String = "\"" + s + "\""

  val aggs: String =
    """[{"type":"count","name":"rows"},{"type":"longSum","name":"added","fieldName":"added"},""" +
      """{"type":"doubleSum","name":"lat","fieldName":"latency"}]"""

  val avgPostAgg: String =
    """[{"type":"arithmetic","name":"avg_added","fn":"/","fields":""" +
      """[{"type":"fieldAccess","fieldName":"added"},{"type":"fieldAccess","fieldName":"rows"}]}]"""

  def interval(start: Long, end: Long): String = q(iso(start) + "/" + iso(end))
}

/** A filter the generator can both render as Druid JSON and evaluate over
  * its own events (single-valued dimensions only). */
sealed trait Filt {
  def json: String
  def eval(ev: Events, i: Int): Boolean
}
object Filt {
  final case class Sel(dim: Int, v: Int) extends Filt {
    def json: String =
      s"""{"type":"selector","dimension":"${Vocab.dims(dim)}","value":"${Vocab.values(dim)(v)}"}"""
    def eval(ev: Events, i: Int): Boolean = ev.dim(dim, i) == v
  }
  final case class In(dim: Int, vs: Seq[Int]) extends Filt {
    def json: String = s"""{"type":"in","dimension":"${Vocab.dims(dim)}","values":[""" +
      vs.map(v => Gen.q(Vocab.values(dim)(v))).mkString(",") + "]}"
    def eval(ev: Events, i: Int): Boolean = vs.contains(ev.dim(dim, i))
  }
  final case class And(a: Filt, b: Filt) extends Filt {
    def json: String = s"""{"type":"and","fields":[${a.json},${b.json}]}"""
    def eval(ev: Events, i: Int): Boolean = a.eval(ev, i) && b.eval(ev, i)
  }
  final case class Or(a: Filt, b: Filt) extends Filt {
    def json: String = s"""{"type":"or","fields":[${a.json},${b.json}]}"""
    def eval(ev: Events, i: Int): Boolean = a.eval(ev, i) || b.eval(ev, i)
  }
}

/** A query whose `rows` counts the checker reconciles with the events:
  * `groupDim` None is a timeseries, Some(d) a groupBy on dimension d. */
final case class Check(start: Long, end: Long, gran: String, filter: Option[Filt],
    groupDim: Option[Int])

/** One request of a workload: an HTTP path and body, optionally checked. */
final case class Req(path: String, body: String, kind: String, check: Option[Check] = None)

/** The ad-hoc OLAP query stream: every query is distinct (its own queryId
  * and interval), covers timeseries, topN, groupBy, scan, select, search,
  * timeBoundary and SQL, and carries useCache/populateCache false. */
final class AdhocStream(seed: Long, client: Int, days: Int) {
  import Gen._
  private val r = new SplittableRandom(seed * 1000003L + client)
  private val country = new Zipf(Vocab.countries.length, 1.1)
  private val channel = new Zipf(Vocab.channels.length, 0.9)
  private val tag = new Zipf(Vocab.tags.length, 1.2)
  private var n = 0

  private def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** An interval of `lenDays` days (at most the full range) at a seeded
    * start, shifted by a seeded number of hours when it is not the full range. */
  private def span(len: Int): (Long, Long) = {
    val lenDays = math.min(len, days)
    val startDay = r.nextInt(days - lenDays + 1)
    val offset = if (lenDays < days && r.nextBoolean()) r.nextInt(24) * HourMs else 0L
    val start = Epoch + startDay * DayMs + offset
    (start, math.min(start + lenDays * DayMs, Epoch + days * DayMs))
  }

  private def sel(dim: Int): Filt.Sel = Filt.Sel(dim, dim match {
    case 0 => country.draw(r)
    case 1 => r.nextInt(Vocab.devices.length)
    case 2 => channel.draw(r)
  })

  /** A filter the checker can evaluate (single-valued dimensions). */
  private def checkable(): Option[Filt] = r.nextInt(6) match {
    case 0 | 1 => None
    case 2 => Some(sel(r.nextInt(3)))
    case 3 => Some(Filt.In(1, Seq(0, 1 + r.nextInt(3))))
    case 4 => Some(Filt.And(sel(0), sel(1)))
    case _ => Some(Filt.Or(sel(2), sel(2)))
  }

  /** Any filter: the checkable ones plus multi-value and negated forms. */
  private def anyFilter(): Option[String] = r.nextInt(8) match {
    case 0 => Some(s"""{"type":"selector","dimension":"tags","value":"${Vocab.tags(tag.draw(r))}"}""")
    case 1 => Some(s"""{"type":"not","field":${sel(1).json}}""")
    case _ => checkable().map(_.json)
  }

  private def filterField(f: Option[String]): String = f.fold("")(j => s""","filter":$j""")

  /** The cycle each client walks from its own offset: every slot fixes the
    * query's shape (kind, interval length in days, granularity, variant) and
    * the seed fills in the values, so runs on different seeds cover the same
    * strata. The lengths run from 1 day to the full range. */
  private val cycle: IndexedSeq[(String, Int, String, Int)] = IndexedSeq(
    ("timeseries", 2, "hour", 1), ("timeseries", 20, "day", 0), ("topN", 1, "all", 0),
    ("groupBy", 14, "day", 0), ("sql", 45, "", 0), ("scan", 7, "", 0),
    ("groupBy", 3, "all", 1), ("topN", 90, "all", 1), ("search", 10, "", 0),
    ("timeseries", 21, "week", 0), ("sql", 2, "", 1), ("groupBy", 25, "month", 2),
    ("timeseries", 90, "all", 1), ("topN", 5, "day", 2), ("select", 1, "", 0),
    ("scan", 25, "", 1), ("sql", 30, "", 2), ("groupBy", 12, "all", 3),
    ("timeBoundary", 90, "", 0), ("timeseries", 1, "day", 0))

  def next(): Req = {
    val (kind, len, g, variant) = cycle((client * cycle.size / 2 + n) % cycle.size)
    n += 1
    val ctx = s""""context":{"queryId":"q$seed-$client-$n","useCache":false,"populateCache":false}"""
    val (s, e) = span(len)
    val iv = interval(s, e)
    // a quarter of the timeseries and groupBy queries (not at week
    // granularity) are reconciled with the events
    val checked = (kind == "timeseries" || kind == "groupBy") && g != "week" && r.nextInt(4) == 0
    kind match {
      case "sql" => sql(s, e, ctx, variant)
      case "timeseries" =>
        val f = if (checked) checkable() else None
        val fj = if (checked) f.map(_.json) else anyFilter()
        val post = if (variant == 1) s""","postAggregations":$avgPostAgg""" else ""
        Req("/druid/v2", s"""{"queryType":"timeseries","dataSource":"events","intervals":[$iv],""" +
          s""""granularity":"$g"${filterField(fj)},"aggregations":$aggs$post,$ctx}""",
          "timeseries", if (checked) Some(Check(s, e, g, f, None)) else None)
      case "topN" =>
        val dim = Seq("country", "page", "channel")(variant)
        Req("/druid/v2", s"""{"queryType":"topN","dataSource":"events","intervals":[$iv],""" +
          s""""granularity":"$g","dimension":"$dim","threshold":${pick(Seq(5, 10, 25))},""" +
          s""""metric":"${pick(Seq("rows", "added"))}"${filterField(anyFilter())},""" +
          s""""aggregations":$aggs,$ctx}""", "topN")
      case "groupBy" if checked =>
        val d = r.nextInt(3)
        val f = checkable()
        Req("/druid/v2", s"""{"queryType":"groupBy","dataSource":"events","intervals":[$iv],""" +
          s""""granularity":"$g","dimensions":["${Vocab.dims(d)}"]${filterField(f.map(_.json))},""" +
          s""""aggregations":$aggs,$ctx}""", "groupBy", Some(Check(s, e, g, f, Some(d))))
      case "groupBy" =>
        val dims = Seq(Seq("country"), Seq("device", "channel"), Seq("tags"), Seq("page"))(variant)
        val having = if (variant == 1)
          s""","having":{"type":"greaterThan","aggregation":"rows","value":${r.nextInt(50)}}""" else ""
        val limit = s""","limitSpec":{"type":"default","limit":${pick(Seq(10, 50, 100))},""" +
          """"columns":[{"dimension":"rows","direction":"descending"}]}"""
        Req("/druid/v2", s"""{"queryType":"groupBy","dataSource":"events","intervals":[$iv],""" +
          s""""granularity":"$g","dimensions":[${dims.map(q).mkString(",")}]""" +
          s"""${filterField(anyFilter())},"aggregations":$aggs$having$limit,$ctx}""", "groupBy")
      case "scan" =>
        val cols = Seq(Seq("__time", "country", "page", "added"),
          Seq("__time", "device", "channel", "tags", "latency"))(variant)
        Req("/druid/v2", s"""{"queryType":"scan","dataSource":"events","intervals":[$iv],""" +
          s""""columns":[${cols.map(q).mkString(",")}],"limit":${pick(Seq(10, 50, 200))}""" +
          s"""${filterField(anyFilter())},$ctx}""", "scan")
      case "select" =>
        Req("/druid/v2", s"""{"queryType":"select","dataSource":"events","intervals":[$iv],""" +
          s""""dimensions":["country","device"],"metrics":["added"],""" +
          s""""pagingSpec":{"pagingIdentifiers":{},"threshold":${pick(Seq(20, 50))}}""" +
          s"""${filterField(anyFilter())},$ctx}""", "select")
      case "search" =>
        Req("/druid/v2", s"""{"queryType":"search","dataSource":"events","intervals":[$iv],""" +
          s""""granularity":"all","searchDimensions":["page","channel"],""" +
          s""""query":{"type":"insensitive_contains","value":"${r.nextInt(100)}"},"limit":50""" +
          s"""${filterField(anyFilter())},$ctx}""", "search")
      case _ =>
        Req("/druid/v2", s"""{"queryType":"timeBoundary","dataSource":"events"""" +
          s"""${filterField(checkable().map(_.json))},$ctx}""", "timeBoundary")
    }
  }

  private def sql(s: Long, e: Long, ctx: String, variant: Int): Req = {
    val where = s"__time >= TIMESTAMP '${sqlTs(s)}' AND __time < TIMESTAMP '${sqlTs(e)}'"
    val stmt = variant match {
      case 0 =>
        val d = pick(Seq("country", "device", "channel"))
        s"SELECT $d, COUNT(*) AS n, SUM(added) AS s FROM events WHERE $where " +
          s"GROUP BY $d ORDER BY n DESC, $d LIMIT ${pick(Seq(5, 10, 20))}"
      case 1 =>
        s"SELECT date_trunc('DAY', __time) AS d, COUNT(*) AS n, AVG(latency) AS l FROM events " +
          s"WHERE $where GROUP BY 1 ORDER BY 1"
      case _ =>
        s"SELECT COUNT(DISTINCT user_id) AS u, MAX(added) AS m FROM events WHERE $where " +
          s"AND country = '${Vocab.countries(country.draw(r))}'"
    }
    Req("/druid/v2/sql", s"""{"query":${q(stmt)},"datasources":["events"],$ctx}""", "sql")
  }

  private def sqlTs(ms: Long): String = iso(ms).replace("T", " ").stripSuffix("Z")
}

/** The live dashboard: a fixed panel set drawn with Zipf weights in the
  * order listed; `now` is the end of the newest (hot) day. The top-ranked
  * panels cover the last 7 or 14 complete days (windows ending where the hot
  * day starts), so
  * commits to the hot day leave all
  * their per-chunk fragments cached; the live panels trail `now` itself and
  * recompute the hot chunk after every commit. The complete-day panels take
  * three quarters of the draws, so the median request is a cache merge and the
  * 95th percentile a recomputation however fast the host is. Each panel is a
  * fixed JSON string, so the caches can serve it. */
final class Panels(now: Long) {
  import Gen._
  private val today = now - DayMs
  private def iv(days: Int, end: Long) = interval(end - days * DayMs, end)
  private def ts(days: Int, end: Long, g: String, f: String = "") =
    s"""{"queryType":"timeseries","dataSource":"events","intervals":[${iv(days, end)}],""" +
      s""""granularity":"$g"$f,"aggregations":$aggs}"""
  private def topN(days: Int, end: Long, g: String, dim: String, k: Int) =
    s"""{"queryType":"topN","dataSource":"events","intervals":[${iv(days, end)}],""" +
      s""""granularity":"$g","dimension":"$dim","threshold":$k,"metric":"rows","aggregations":$aggs}"""
  private def groupBy(days: Int, end: Long, g: String, dims: String*) =
    s"""{"queryType":"groupBy","dataSource":"events","intervals":[${iv(days, end)}],""" +
      s""""granularity":"$g","dimensions":[${dims.map(q).mkString(",")}],"aggregations":$aggs}"""

  val complete: IndexedSeq[String] = IndexedSeq(
    ts(7, today, "day"), topN(7, today, "all", "country", 10), groupBy(7, today, "day", "device"),
    ts(14, today, "day"), topN(14, today, "all", "channel", 10), groupBy(14, today, "day", "country"))
  private val monthly = ts(14, now, "month")
  val live: IndexedSeq[String] = IndexedSeq(
    ts(1, now, "hour"), topN(1, now, "all", "country", 10), ts(7, now, "day"),
    groupBy(1, now, "hour", "device"), topN(7, now, "all", "channel", 10), ts(14, now, "day"),
    groupBy(7, now, "day", "country"), monthly)
  val all: IndexedSeq[String] = complete ++ live
  /** Panels whose per-chunk fragments cover the complete days every panel
    * reads (the segment cache keys a fragment by the query's shape and the
    * chunk, not by the window), so serving these once fills it for all. */
  val fill: IndexedSeq[String] = complete :+ monthly
  private val zipf = new Zipf(all.size, 1.0)

  /** One client's endless sequence of panel indices: a deck holding every
    * panel in proportion to its Zipf weight (at least once), walked over and
    * over. The live panels sit evenly spaced in it, so any stretch of a run
    * issues the same share of them; the seed shuffles the order within the
    * complete-day and the live panels. */
  def draws(seed: Long): Iterator[Int] = {
    val r = new SplittableRandom(seed)
    def shuffled(ranks: Range): Array[Int] = {
      val a = ranks.flatMap(i =>
        Seq.fill(math.max(1, math.round(DeckSize * zipf.weights(i)).toInt))(i)).toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val (done, hot) = (shuffled(complete.indices), shuffled(complete.size until all.size))
    val n = done.length + hot.length
    var (d, h) = (0, 0)
    val deck = Array.tabulate(n) { k =>
      if ((k + 1) * hot.length / n > k * hot.length / n) { h += 1; hot(h - 1) }
      else { d += 1; done(d - 1) }
    }
    Iterator.continually(deck).flatten
  }
  private val DeckSize = 40
}

/** A curated-corpus shard's ground truth: how many documents survive, and
  * which documents are planted duplicates of which base. */
final case class Shard(day: Int, docs: IndexedSeq[(Long, String)], survivors: Int,
    exactOf: Map[Long, Long], nearOf: Map[Long, Long])

/** A crawl of HTML documents per day with planted exact duplicates (same
  * text, different markup) and near duplicates (about 1% of words changed). */
object Corpus {
  private val vocab: Array[String] = Array.tabulate(8000) { i =>
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "an", "el", "or")
    var x = i + 7; val sb = new StringBuilder
    while (x > 0) { sb.append(syl(x % syl.length)); x /= syl.length }
    sb.toString
  }

  private def markup(r: SplittableRandom, words: Array[String]): String = {
    val cut = words.length / 2
    s"""<html><head><style>.c${r.nextInt(1000)}{color:#${r.nextInt(4096)}}</style>""" +
      s"""<script>var t${r.nextInt(1000)}=${r.nextInt()};</script></head>""" +
      s"""<body><div class="b${r.nextInt(100)}"><p>${words.take(cut).mkString(" ")}</p>""" +
      s"""<p id="p${r.nextInt(100)}">${words.drop(cut).mkString(" ")} R&amp;D</p></div></body></html>"""
  }

  def shard(seed: Long, day: Int, perDay: Int): Shard = {
    val r = new SplittableRandom(seed * 31L + day)
    val nExact = perDay / 10
    val nNear = perDay / 10
    val nBase = perDay - nExact - nNear
    val bases = Array.fill(nBase)(Array.fill(80 + r.nextInt(81))(vocab(r.nextInt(vocab.length))))
    val ids = {
      val a = Array.tabulate(perDay)(i => day * 100000L + i)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    bases.indices.foreach(b => docs += ids(b) -> markup(r, bases(b)))
    val exactOf = (0 until nExact).map { k =>
      val b = r.nextInt(nBase)
      docs += ids(nBase + k) -> markup(r, bases(b))
      ids(nBase + k) -> ids(b)
    }.toMap
    val nearOf = (0 until nNear).map { k =>
      val b = r.nextInt(nBase)
      val w = bases(b).clone()
      (0 until math.max(1, w.length / 80)).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
      val id = ids(nBase + nExact + k)
      docs += id -> markup(r, w)
      id -> ids(b)
    }.toMap
    Shard(day, docs.toIndexedSeq, nBase, exactOf, nearOf)
  }

  val schema: StructType = StructType(Seq(
    StructField("__time", TimestampType, nullable = false),
    StructField("id", LongType, nullable = false), StructField("html", StringType)))

  def rows(s: Shard): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](s.docs.size)
    val dayStart = Gen.Epoch + s.day * Gen.DayMs
    s.docs.foreach { case (id, html) =>
      out.add(Row(new java.sql.Timestamp(dayStart + (id % 100000L) * 1000L), id, html))
    }
    out
  }
}
