package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Registers the engine's native expressions as SQL functions so the SQL
  * surface (SURVEY §2.1 Q10) can use them alongside built-ins:
  *
  * {{{
  *   SELECT cosine_similarity(a.embedding, b.embedding) FROM ...
  *   SELECT hllpp_estimate(hllpp_merge(sk)) FROM rollup_table
  * }}}
  *
  * The `hllpp_*` functions build, merge and finalize the engine's one
  * cardinality sketch (`Hllpp` words, the form rollup segments store): an
  * estimate over stored words equals `approx_count_distinct(c, 0.023)`
  * over the raw rows they were built from. No name here is one of Spark's
  * built-ins (its DataSketches `hll_sketch_*` stay reachable).
  *
  * Also registers the reference system's SQL time functions (TIME_FLOOR /
  * TIME_SHIFT / TIME_EXTRACT / TIME_PARSE / TIME_FORMAT /
  * MILLIS_TO_TIMESTAMP / TIMESTAMP_TO_MILLIS) so reference SQL queries run
  * unchanged; each compiles to the same Column expressions the native
  * query planner uses (period truncation incl. tz + origin).
  */
object GraftFunctionRegistry {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case Literal(null, _) => null
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.analyzableExpression(c)

  /** TIME_SHIFT semantics: ts + step × period, calendar-aware for month/
    * year AND day/week periods (wall-clock arithmetic in `tz` — a P1D shift
    * across a DST transition is 23 or 25 real hours, and treating it as
    * fixed 24h would land TIME_CEIL an hour past the bucket boundary);
    * fixed millis for hour-and-below and composite periods. */
  private def timeShift(ts: Column, period: String, step: Int, tz: String): Column = {
    val monthsP = "P(\\d+)M".r
    val yearsP = "P(\\d+)Y".r
    val daysP = "P(\\d+)D".r
    val weeksP = "P(\\d+)W".r
    def wallClock(iv: Column): Column =
      if (tz == "UTC") ts + iv
      else to_utc_timestamp(from_utc_timestamp(ts, tz) + iv, tz)
    period match {
      case monthsP(n) =>
        wallClock(make_interval(lit(0), lit(n.toInt * step), lit(0), lit(0), lit(0), lit(0), lit(0)))
      case yearsP(n) =>
        wallClock(make_interval(lit(n.toInt * step), lit(0), lit(0), lit(0), lit(0), lit(0), lit(0)))
      case daysP(n) =>
        wallClock(make_interval(lit(0), lit(0), lit(0), lit(n.toInt * step), lit(0), lit(0), lit(0)))
      case weeksP(n) =>
        wallClock(make_interval(lit(0), lit(0), lit(n.toInt * step), lit(0), lit(0), lit(0), lit(0)))
      case _ =>
        // interval addition preserves sub-millisecond precision (µs
        // timestamps); a unix_millis round-trip would truncate it
        val ms = graft.expr.Compilers.periodMillis(period)
        ts + expr(s"INTERVAL '${step.toLong * ms}' MILLISECOND")
    }
  }

  private def timeExtract(ts: Column, unit: String, tz: String): Column = {
    val local = if (tz == "UTC") ts else from_utc_timestamp(ts, tz)
    unit.toUpperCase match {
      case "EPOCH"   => floor(unix_millis(ts) / 1000).cast("long")
      case "MILLIS"  => unix_millis(ts)
      case "SECOND"  => second(local).cast("long")
      case "MINUTE"  => minute(local).cast("long")
      case "HOUR"    => hour(local).cast("long")
      case "DAY"     => dayofmonth(local).cast("long")
      // Druid TIME_EXTRACT follows Joda dayOfWeek: ISO Monday=1..Sunday=7.
      // Spark's dayofweek is 1=Sunday..7=Saturday — shift accordingly.
      case "DOW"     => (((dayofweek(local) + 5) % 7) + 1).cast("long")
      case "DOY"     => dayofyear(local).cast("long")
      case "WEEK"    => weekofyear(local).cast("long")
      case "MONTH"   => month(local).cast("long")
      case "QUARTER" => quarter(local).cast("long")
      case "YEAR"    => year(local).cast("long")
      case u => throw new IllegalArgumentException(s"unsupported TIME_EXTRACT unit '$u'")
    }
  }

  /** (name, usage, builder) — the SINGLE source of truth for both
    * registration surfaces (`registerAll` temp functions and
    * `GraftExtensions` session-extension injection). The two lists used to
    * be maintained by hand and had drifted: extensions sessions were
    * missing minhash_signature, band_keys and every TIME_* function. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", "cosine similarity of two float/double arrays",
      es => CosineSimilarity(es(0), es(1))),
    ("vector_dot", "dot product of two float/double arrays",
      es => VectorDot(es(0), es(1))),
    ("minhash_signature", "minhash signature of a token array (numHashes, shingleN)",
      es => MinHashSignature(es(0), intArg(es(1), "numHashes"), intArg(es(2), "shingleN"))),
    ("simhash64", "64-bit SimHash of a token array",
      es => SimHash64(es(0))),
    ("simhash128", "128-bit SimHash of a token array (array of 2 longs)",
      es => SimHash128(es(0))),
    ("band_keys", "LSH band bucket keys of a signature array",
      es => SignatureBandKeys(es(0), intArg(es(1), "bands"))),
    ("minhash_jaccard", "estimated Jaccard from two minhash signatures",
      es => MinHashJaccard(es(0), es(1))),
    ("split_ws", "whitespace-split a string into a token array",
      es => WhitespaceSplit(es(0))),
    ("word_shingles", "distinct word n-gram shingles of a token array",
      es => WordShingles(es(0), intArg(es(1), "shingleN"))),
    ("set_jaccard", "exact Jaccard of two arrays treated as sets",
      es => SetJaccard(es(0), es(1))),
    ("repetition_stats",
      "repetition-quality signals of a token array (dup_token_frac, top_bigram_frac, dup_trigram_frac)",
      es => RepetitionStats(es(0))),
    ("token_counts", "per-row term counts of a token array (array<struct<term,cnt>>)",
      es => TokenCounts(es(0))),
    ("quantize_int8", "symmetric int8 quantization: struct(scale, q array<tinyint>)",
      es => QuantizeInt8(es(0))),
    ("dequantize_int8", "inverse of quantize_int8: array<double>",
      es => DequantizeInt8(es(0))),
    ("vector_max_abs_diff", "max elementwise |a[i]-b[i]| of two arrays",
      es => VectorMaxAbsDiff(es(0), es(1))),
    ("hllpp_build", "aggregate values into mergeable HLL++ words",
      es => HllppSketchAgg(es.head)),
    ("hllpp_merge", "merge stored HLL++ words",
      es => HllppSketchAgg(es.head, mergeWords = true)),
    ("hllpp_estimate", "finalize HLL++ words to the approx_count_distinct estimate",
      es => HllppEstimate(es.head)),
    // --- reference-system SQL time functions -----------------------------
    ("time_floor", "floor a timestamp to a period (origin, timezone)", es => {
      val period = strArg(es(1), "period")
      val origin = if (es.length > 2) Option(strArg(es(2), "origin"))
        .map(java.time.Instant.parse) else None
      val tz = if (es.length > 3) Option(strArg(es(3), "timezone")) else None
      ex(graft.expr.Compilers.periodTrunc(period, tz, origin, col(es(0))))
    }),
    ("time_ceil", "ceil a timestamp to a period (origin, timezone)", es => {
      val period = strArg(es(1), "period")
      val origin = if (es.length > 2) Option(strArg(es(2), "origin"))
        .map(java.time.Instant.parse) else None
      val tz = if (es.length > 3) Option(strArg(es(3), "timezone")) else None
      val t = col(es(0))
      val floored = graft.expr.Compilers.periodTrunc(period, tz, origin, t)
      ex(when(floored === t, t)
        .otherwise(timeShift(floored, period, 1, tz.getOrElse("UTC"))))
    }),
    ("time_shift", "shift a timestamp by step × period (timezone-aware)", es => {
      val period = strArg(es(1), "period")
      val step = intArg(es(2), "step")
      val tz = if (es.length > 3) strArg(es(3), "timezone") else "UTC"
      ex(timeShift(col(es(0)), period, step, tz))
    }),
    ("time_extract", "extract a time unit (timezone-aware)", es => {
      val unit = strArg(es(1), "unit")
      val tz = if (es.length > 2) strArg(es(2), "timezone") else "UTC"
      ex(timeExtract(col(es(0)), unit, tz))
    }),
    ("time_parse", "parse a string to a timestamp (pattern, timezone)", es => {
      val fmt = if (es.length > 1) Option(strArg(es(1), "pattern")) else None
      val parsed = fmt match {
        case Some(p) => to_timestamp(col(es(0)).cast("string"), p)
        case None    => to_timestamp(col(es(0)).cast("string"))
      }
      // 3rd arg: zone-less strings are wall-clock in THAT zone, not UTC
      val tz = if (es.length > 2) strArg(es(2), "timezone") else "UTC"
      ex(if (tz == "UTC") parsed else to_utc_timestamp(parsed, tz))
    }),
    ("time_format", "format a timestamp (pattern, timezone)", es => {
      val fmt = if (es.length > 1) Option(strArg(es(1), "pattern"))
        .getOrElse("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        else "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
      val tz = if (es.length > 2) strArg(es(2), "timezone") else "UTC"
      val local = if (tz == "UTC") col(es(0)) else from_utc_timestamp(col(es(0)), tz)
      ex(date_format(local, fmt))
    }),
    ("millis_to_timestamp", "epoch millis to timestamp",
      es => ex(timestamp_millis(col(es(0)).cast("long")))),
    ("timestamp_to_millis", "timestamp to epoch millis",
      es => ex(unix_millis(col(es(0))))),
  )

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Reference SQL `LOOKUP(expr, 'name')` over the catalog's registered
    * lookup tables, collected to in-memory maps — lookup tables are small
    * by contract (the planner's registeredLookup dimension spec broadcast-
    * joins the same tables); missing keys yield null. */
  def registerLookups(spark: SparkSession,
      lookups: Map[String, Map[String, String]]): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("lookup", es => {
      val name = strArg(es(1), "lookup name")
      val m = lookups.getOrElse(name,
        throw new IllegalArgumentException(s"unknown lookup '$name'"))
      GraftBridge.analyzableExpression(
        element_at(typedLit(m), col(es(0)).cast("string")))
    }, "built-in")
  }
}
