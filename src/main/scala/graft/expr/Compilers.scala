package graft.expr

import graft.model._
import graft.functions.Hllpp
import graft.functions.HllppFunctions.{hllpp_build, hllpp_estimate, hllpp_merge, hllpp_partial}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.{Instant, ZoneId}

/** Pure compilers: query-model ADTs → Spark `Column` expressions.
  *
  * All of these emit built-in Catalyst expressions (`functions._`) so the
  * whole query stays inside whole-stage codegen and predicate pushdown —
  * the Spark-native replacement for Druid's per-segment query engines
  * (reference `query/query-internal-procedure.md:128-142`).
  *
  * Type-awareness: Druid compares dimension values as strings; we instead
  * cast the *literal* to the column's native type wherever possible so
  * Parquet predicate pushdown survives (casting the column would defeat it).
  */
object Compilers {

  val TimeColumn = "__time"

  // =========================================================================
  // Time / granularity
  // =========================================================================

  /** Millisecond length of fixed-size units. */
  private val fixedUnitMillis: Map[String, Long] = Map(
    "second" -> 1000L,
    "minute" -> 60000L,
    "fifteen_minute" -> 900000L,
    "thirty_minute" -> 1800000L,
    "hour" -> 3600000L,
    "day" -> 86400000L)

  /** Bucketing expression for a granularity over a timestamp column.
    * Returns None for `all` (single bucket — no group column). */
  def granularityCol(g: Granularity, t: Column): Option[Column] = g match {
    case Granularity.All   => None
    case Granularity.NoneG => Some(t)
    case Granularity.Simple(u) => Some(simpleTrunc(u, t))
    case Granularity.Duration(ms, origin) =>
      val o = origin.map(_.toEpochMilli).getOrElse(0L)
      // floor (not truncate-toward-zero) so pre-origin timestamps bucket left
      Some(timestamp_millis(floor((unix_millis(t) - o).cast(DoubleType) / ms)
        .cast(LongType).*(ms).+(o)))
    case Granularity.Period(p, tz, origin) => Some(periodTrunc(p, tz, origin, t))
  }

  /** `(length, origin)` millis when `granularityCol(g, t)` is `origin +
    * k·length`, a tumbling window's start: `Duration`, and in a UTC session
    * fixed simple units and UTC periods. None for `all`, `none`, zoned
    * periods, months, quarters, years and weeks (Druid weeks start on
    * Monday, windows on Thursday 1970-01-01). */
  def fixedBuckets(g: Granularity, utcSession: Boolean): Option[(Long, Long)] = g match {
    case Granularity.Duration(ms, origin) => Some((ms, origin.fold(0L)(_.toEpochMilli)))
    case Granularity.Simple(u) if utcSession => fixedUnitMillis.get(u).map((_, 0L))
    case Granularity.Period(p, tz, origin) if utcSession &&
        tz.forall(ZoneId.of(_).normalized == java.time.ZoneOffset.UTC) &&
        !p.takeWhile(_ != 'T').exists("WMY".contains(_)) =>
      Some((periodMillis(p), origin.fold(0L)(_.toEpochMilli)))
    case _ => None
  }

  private def simpleTrunc(unit: String, t: Column): Column = unit match {
    case "fifteen_minute" | "thirty_minute" =>
      val ms = fixedUnitMillis(unit)
      timestamp_millis((unix_millis(t) / ms).cast(LongType) * ms)
    case u => date_trunc(u, t)
  }

  /** Period granularity: calendar-aware truncation in `tz`, result in UTC.
    * Handles n=1 calendar units in any timezone, calendar multiples
    * (PnM/PnY via month arithmetic against the origin), and arbitrary
    * fixed-length periods (PTnX/PnD/PnW) via duration bucketing. */
  def periodTrunc(period: String, tzOpt: Option[String], origin: Option[Instant],
      t: Column): Column = {
    val tz = tzOpt.getOrElse("UTC")
    val unitOpt = period match {
      case "P1D" => Some("day"); case "PT1H" => Some("hour")
      case "PT1M" => Some("minute"); case "PT1S" => Some("second")
      case "P1W" => Some("week"); case "P1M" => Some("month")
      case "P3M" => Some("quarter"); case "P1Y" => Some("year")
      case _ => None
    }
    val monthP = "P(\\d+)M".r
    val yearP = "P(\\d+)Y".r
    (unitOpt, period) match {
      // the simple-unit fast paths apply only with NO origin: Druid's
      // PeriodGranularity anchors EVERY period at an explicit origin (e.g.
      // P1D from origin 06:00 buckets at 06:00), so an origin routes month
      // units to the anchored month arithmetic and fixed-length units to
      // the origin-honoring duration paths below
      case (Some(u), _) if origin.isEmpty && tz == "UTC" => simpleTrunc(u, t)
      case (Some(u), _) if origin.isEmpty =>
        // shift into tz, truncate on the wall clock, shift back
        to_utc_timestamp(date_trunc(u, from_utc_timestamp(t, tz)), tz)
      case (_, monthP(n)) => monthMultipleTrunc(t, n.toInt, tz, origin)
      case (_, yearP(n))  => monthMultipleTrunc(t, n.toInt * 12, tz, origin)
      case _ if tz != "UTC" && isDayBasedPeriod(period) =>
        // PnD/PnW in a timezone: Druid's PeriodGranularity steps day units
        // calendar-aware (Joda chronology), so a P2D bucket spanning a DST
        // shift is 47 or 49 wall-clock hours. Bucket on the WALL clock:
        // shift into tz, duration-bucket the wall-clock millis (wall-clock
        // day arithmetic is exact fixed-length there), shift back.
        val ms = periodMillis(period)
        val oW = wallMillis(origin.getOrElse(Instant.EPOCH), ZoneId.of(tz))
        val wall = unix_millis(from_utc_timestamp(t, tz))
        to_utc_timestamp(timestamp_millis(
          floor((wall - oW).cast(DoubleType) / ms).cast(LongType) * ms + oW), tz)
      case _ =>
        // general fixed-length period (e.g. PT6H, P2D in UTC): duration
        // bucketing in absolute millis. Pure hour/minute/second periods are
        // absolute in Druid too (Joda hour arithmetic is instant-based), so
        // tz only matters for day-based periods above.
        val ms = periodMillis(period)
        val o = origin.map(_.toEpochMilli).getOrElse(0L)
        timestamp_millis(floor((unix_millis(t) - o).cast(DoubleType) / ms)
          .cast(LongType) * ms + o)
    }
  }

  /** PnD / PnW (day-unit periods whose Druid stepping is calendar-aware). */
  def isDayBasedPeriod(period: String): Boolean =
    period.matches("P\\d+[DW]")

  /** Wall-clock millis of an instant in `zone`: the local datetime re-read
    * as if it were UTC. Day arithmetic is exact fixed-length in this space. */
  private def wallMillis(i: Instant, zone: ZoneId): Long =
    java.time.LocalDateTime.ofInstant(i, zone)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** PnM-style bucketing, exact from ANY origin instant (Druid
    * `PeriodGranularity` month stepping): bucket = origin + k·n months
    * (calendar month addition with end-of-month day clamping — Spark's
    * interval-month add, Joda's `addMonths`, and DuckDB's `+ INTERVAL n
    * MONTH` all share it) for the largest multiple k·n whose bucket start
    * is ≤ t, in the wall clock of `tz`. The candidate multiple comes from
    * the year/month FIELD difference (which over- or equals the complete
    * month count by at most one, since fields ignore day/time), then one
    * conditional step down — no iteration, codegen-friendly. */
  private def monthMultipleTrunc(t: Column, n: Int, tz: String,
      origin: Option[Instant]): Column = {
    val originWall = lit(java.sql.Timestamp.from(
      origin.getOrElse(Instant.EPOCH))) // as UTC wall
    val wall = if (tz == "UTC") t else from_utc_timestamp(t, tz)
    val originLocal = if (tz == "UTC") originWall else from_utc_timestamp(originWall, tz)
    val fieldsDiff = (year(wall) - year(originLocal)) * 12 +
      (month(wall) - month(originLocal))
    val k0 = (floor(fieldsDiff.cast(DoubleType) / n) * n).cast(IntegerType)
    def addM(k: Column): Column = originLocal +
      make_interval(lit(0), k, lit(0), lit(0), lit(0), lit(0), lit(0))
    val cand = addM(k0)
    val bucketWall = when(cand <= wall, cand).otherwise(addM(k0 - n))
    if (tz == "UTC") bucketWall else to_utc_timestamp(bucketWall, tz)
  }

  /** Fixed-length millis of an ISO period (PT*, PnD, PnW). Calendar-length
    * periods (months/years multiples) are rejected — handled by the n=1
    * cases above. */
  def periodMillis(period: String): Long = {
    val dayP = "P(\\d+)D".r
    val weekP = "P(\\d+)W".r
    period match {
      case dayP(n)  => n.toLong * 86400000L
      case weekP(n) => n.toLong * 7L * 86400000L
      case p if p.startsWith("PT") => java.time.Duration.parse(p).toMillis
      case p => throw new IllegalArgumentException(
        s"unsupported variable-length period '$p' (use P1M/P3M/P1Y or fixed periods)")
    }
  }

  /** Driver-side truncation of an instant — used for zero-fill spine starts. */
  def truncInstant(g: Granularity, i: Instant, tz: ZoneId = ZoneId.of("UTC")): Instant =
    g match {
      case Granularity.All | Granularity.NoneG => i
      case Granularity.Simple(u) => truncSimple(u, i, tz)
      case Granularity.Duration(ms, origin) =>
        val o = origin.map(_.toEpochMilli).getOrElse(0L)
        Instant.ofEpochMilli(Math.floorDiv(i.toEpochMilli - o, ms) * ms + o)
      case Granularity.Period(p, tzS, origin) =>
        val zone = ZoneId.of(tzS.getOrElse("UTC"))
        val monthP = "P(\\d+)M".r
        val yearP = "P(\\d+)Y".r
        p match {
          // simple fast paths only with NO origin — an origin anchors every
          // period (mirrors periodTrunc's dispatch)
          case "P1D" if origin.isEmpty  => truncSimple("day", i, zone)
          case "PT1H" if origin.isEmpty => truncSimple("hour", i, zone)
          case "PT1M" if origin.isEmpty => truncSimple("minute", i, zone)
          case "P1W" if origin.isEmpty  => truncSimple("week", i, zone)
          case "P1M" if origin.isEmpty  => truncSimple("month", i, zone)
          case "P3M" if origin.isEmpty  => truncSimple("quarter", i, zone)
          case "P1Y" if origin.isEmpty  => truncSimple("year", i, zone)
          case monthP(n) => truncMonthMultiple(i, n.toInt, zone, origin)
          case yearP(n)  => truncMonthMultiple(i, n.toInt * 12, zone, origin)
          case _ if zone != ZoneId.of("UTC") && isDayBasedPeriod(p) =>
            // wall-clock day bucketing, mirroring periodTrunc
            val ms = periodMillis(p)
            val oW = wallMillis(origin.getOrElse(Instant.EPOCH), zone)
            val w = wallMillis(i, zone)
            val bW = Math.floorDiv(w - oW, ms) * ms + oW
            java.time.LocalDateTime.ofInstant(
              Instant.ofEpochMilli(bW), java.time.ZoneOffset.UTC)
              .atZone(zone).toInstant
          case _ =>
            val ms = periodMillis(p)
            val o = origin.map(_.toEpochMilli).getOrElse(0L)
            Instant.ofEpochMilli(Math.floorDiv(i.toEpochMilli - o, ms) * ms + o)
        }
    }

  /** Driver twin of the column `monthMultipleTrunc`: largest origin+k·n
    * months ≤ i (calendar add with day clamping). The while loops run at
    * most one step each — the field-difference candidate is within one
    * bucket of the answer — but stay loops for safety at the extremes. */
  private def truncMonthMultiple(i: Instant, n: Int, zone: ZoneId,
      origin: Option[Instant]): Instant = {
    val oZ = origin.getOrElse(Instant.EPOCH).atZone(zone)
    val tZ = i.atZone(zone)
    val fieldsDiff =
      (tZ.getYear * 12 + tZ.getMonthValue) - (oZ.getYear * 12 + oZ.getMonthValue)
    var k = Math.floorDiv(fieldsDiff.toLong, n.toLong) * n
    while (oZ.plusMonths(k).toInstant.isAfter(i)) k -= n
    while (!oZ.plusMonths(k + n).toInstant.isAfter(i)) k += n
    oZ.plusMonths(k).toInstant
  }

  private def truncSimple(unit: String, i: Instant, tz: ZoneId): Instant = {
    import java.time._
    import java.time.temporal.{ChronoUnit, TemporalAdjusters}
    val z = i.atZone(tz)
    val truncated = unit match {
      case "second" => z.truncatedTo(ChronoUnit.SECONDS)
      case "minute" => z.truncatedTo(ChronoUnit.MINUTES)
      case "fifteen_minute" =>
        z.truncatedTo(ChronoUnit.HOURS).plusMinutes((z.getMinute / 15) * 15L)
      case "thirty_minute" =>
        z.truncatedTo(ChronoUnit.HOURS).plusMinutes((z.getMinute / 30) * 30L)
      case "hour"  => z.truncatedTo(ChronoUnit.HOURS)
      case "day"   => z.truncatedTo(ChronoUnit.DAYS)
      case "week"  => z.truncatedTo(ChronoUnit.DAYS)
        .`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
      case "month" => z.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1)
      case "quarter" =>
        z.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1)
          .withMonth(((z.getMonthValue - 1) / 3) * 3 + 1)
      case "year" => z.truncatedTo(ChronoUnit.DAYS).withDayOfYear(1)
      case u => throw new IllegalArgumentException(s"unknown unit $u")
    }
    truncated.toInstant
  }

  /** Driver-side bucket step — advance one granularity bucket. */
  def nextBucket(g: Granularity, i: Instant): Instant = g match {
    case Granularity.All | Granularity.NoneG => i.plusMillis(1)
    case Granularity.Simple(u) => stepSimple(u, i, ZoneId.of("UTC"))
    case Granularity.Duration(ms, _) => i.plusMillis(ms)
    case Granularity.Period(p, tzS, origin) =>
      val zone = ZoneId.of(tzS.getOrElse("UTC"))
      val monthP = "P(\\d+)M".r
      val yearP = "P(\\d+)Y".r
      val dayP = "P(\\d+)D".r
      val weekP = "P(\\d+)W".r
      p match {
        case "P1D" if origin.isEmpty => stepSimple("day", i, zone)
        case "P1W" if origin.isEmpty => stepSimple("week", i, zone)
        case "P1M" if origin.isEmpty => stepSimple("month", i, zone)
        case "P3M" if origin.isEmpty => stepSimple("quarter", i, zone)
        case "P1Y" if origin.isEmpty => stepSimple("year", i, zone)
        case monthP(n) => stepMonths(i, n.toInt, zone, origin)
        case yearP(n)  => stepMonths(i, n.toInt * 12, zone, origin)
        case dayP(n) if zone != ZoneId.of("UTC") =>
          i.atZone(zone).plusDays(n.toInt.toLong).toInstant
        case weekP(n) if zone != ZoneId.of("UTC") =>
          i.atZone(zone).plusWeeks(n.toInt.toLong).toInstant
        case _      => i.plusMillis(periodMillis(p))
      }
  }

  /** Advance one month-period bucket. Clamped month addition is NOT
    * associative (Jan 31 → Feb 29 → iterated +1M gives Mar 29, but the
    * origin-anchored 2-bucket boundary is Mar 31), so with an origin the
    * next bucket is re-derived as origin + (k+n) months — k recovered from
    * the year/month FIELDS of the current bucket start, which plusMonths
    * preserves exactly (only the day clamps). */
  private def stepMonths(i: Instant, n: Int, zone: ZoneId,
      origin: Option[Instant]): Instant = origin match {
    case Some(o) =>
      val oZ = o.atZone(zone)
      val bZ = i.atZone(zone)
      val k =
        (bZ.getYear * 12 + bZ.getMonthValue) - (oZ.getYear * 12 + oZ.getMonthValue)
      oZ.plusMonths(k.toLong + n).toInstant
    case None => i.atZone(zone).plusMonths(n.toLong).toInstant
  }

  private def stepSimple(unit: String, i: Instant, tz: ZoneId): Instant = {
    val z = i.atZone(tz)
    (unit match {
      case "second" => z.plusSeconds(1)
      case "minute" => z.plusMinutes(1)
      case "fifteen_minute" => z.plusMinutes(15)
      case "thirty_minute" => z.plusMinutes(30)
      case "hour" => z.plusHours(1)
      case "day" => z.plusDays(1)
      case "week" => z.plusWeeks(1)
      case "month" => z.plusMonths(1)
      case "quarter" => z.plusMonths(3)
      case "year" => z.plusYears(1)
    }).toInstant
  }

  /** Predicate for `intervals` — the Spark replacement for Druid's
    * interval→segment routing (reference `query/query-internal-procedure.md:7`):
    * Catalyst pushes this to Parquet row-group min/max + partition pruning. */
  def intervalPredicate(intervals: Seq[Interval], t: Column): Column =
    intervals
      .map(iv => t >= lit(java.sql.Timestamp.from(iv.start)) &&
                 t <  lit(java.sql.Timestamp.from(iv.end)))
      .reduceOption(_ || _)
      .getOrElse(lit(true))

  // =========================================================================
  // Extraction functions
  // =========================================================================

  def extractionCol(fn: ExtractionFn, in: Column): Column = {
    import ExtractionFn._
    fn match {
      case RegexE(expr, idx, replaceMissing, replaceWith) =>
        // Druid regex extraction: no match → replaceWith when
        // replaceMissingValue=true, otherwise the dimension value AS IS
        // (upstream RegexDimExtractionFn; returning null here would move
        // non-matching rows into the null group)
        val ex = regexp_extract(in.cast(StringType), expr, idx)
        val missing =
          if (replaceMissing) lit(replaceWith.orNull) else in.cast(StringType)
        when(ex === "" && !in.cast(StringType).rlike(expr), missing).otherwise(ex)
      case Substring(idx, len) =>
        val s = len match {
          case Some(l) => substring(in.cast(StringType), idx + 1, l)
          case None    => in.cast(StringType).substr(lit(idx + 1), length(in.cast(StringType)))
        }
        when(length(in.cast(StringType)) <= idx, lit(null)).otherwise(s)
      case Strlen => length(in.cast(StringType)).cast(StringType)
      case Upper  => upper(in.cast(StringType))
      case Lower  => lower(in.cast(StringType))
      case TimeFormat(format, tzOpt, granOpt) =>
        val shifted0 = granOpt.flatMap(g => granularityCol(g, in)).getOrElse(in)
        val shifted = tzOpt match {
          case Some(tz) if tz != "UTC" => from_utc_timestamp(shifted0, tz)
          case _ => shifted0
        }
        date_format(shifted, format.getOrElse("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
      case TimeParse(inFmt, outFmt) =>
        date_format(to_timestamp(in.cast(StringType), inFmt), outFmt)
      case Bucket(size, offset) =>
        val d = in.cast(DoubleType)
        (floor((d - offset) / size) * size + offset).cast(StringType)
      case StringFormat(fmt) => format_string(fmt, in)
      case Cascade(fns)      => fns.foldLeft(in)((c, f) => extractionCol(f, c))
      case Partial(expr)     =>
        when(in.cast(StringType).rlike(expr), in.cast(StringType))
      case SearchQueryE(q)   =>
        when(searchMatch(q, in.cast(StringType)), in.cast(StringType))
      case RegisteredLookup(name, _, _) =>
        throw new IllegalStateException(
          s"registeredLookup '$name' must be rewritten to a broadcast join by the planner")
      case Lookup(m, retain, replaceWith) =>
        val mapped =
          if (m.isEmpty) lit(null).cast(StringType)
          else element_at(typedLit(m), in.cast(StringType))
        if (retain) coalesce(mapped, in.cast(StringType))
        else replaceWith.map(r => coalesce(mapped, lit(r))).getOrElse(mapped)
    }
  }

  /** SearchQuerySpec match predicate on a string column
    * (reference `query/query-module-overview.md:32-33`). */
  def searchMatch(spec: SearchQuerySpec, c: Column): Column = spec match {
    case SearchQuerySpec.InsensitiveContains(v) => lower(c).contains(v.toLowerCase)
    case SearchQuerySpec.Contains(v, cs) =>
      if (cs) c.contains(v) else lower(c).contains(v.toLowerCase)
    case SearchQuerySpec.Fragment(vs, cs) =>
      vs.map(v => if (cs) c.contains(v) else lower(c).contains(v.toLowerCase))
        .reduceOption(_ && _).getOrElse(lit(true))
    case SearchQuerySpec.RegexS(p) => c.rlike(p)
  }

  // =========================================================================
  // Filters
  // =========================================================================

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def isMultiValue(schema: StructType, dim: String): Boolean =
    fieldType(schema, dim).exists(_.isInstanceOf[ArrayType])

  /** Literal coerced to the column's native type (keeps pushdown alive). */
  private def typedLitFor(schema: StructType, dim: String, v: String): Column =
    fieldType(schema, dim) match {
      case Some(_: StringType)  => lit(v)
      case Some(ArrayType(e, _)) => lit(v).cast(e)
      case Some(t)              => lit(v).cast(t)
      case None                 => lit(v)
    }

  /** Scala-native value matching the column's type (for `isin`). */
  private def nativeValue(schema: StructType, dim: String, v: String): Any =
    fieldType(schema, dim) match {
      case Some(_: LongType) | Some(_: IntegerType) | Some(_: ShortType) =>
        try v.toLong catch { case _: NumberFormatException => v }
      case Some(_: DoubleType) | Some(_: FloatType) =>
        try v.toDouble catch { case _: NumberFormatException => v }
      case _ => v
    }

  /** Scalar predicate over a dimension: on multi-value (array) dims the
    * predicate — and any extraction fn — applies PER VALUE and the row
    * matches if ANY value matches (Druid semantics, SURVEY §7.4). A
    * stringified-array comparison is never correct here: extraction on
    * "[a, b]" diverges from extraction on each value. */
  private def perValuePred(dim: String, exOpt: Option[ExtractionFn],
      schema: StructType)(pred: Column => Column): Column =
    if (isMultiValue(schema, dim))
      exists(col(dim), x => pred(exOpt.map(extractionCol(_, x)).getOrElse(x)))
    else pred(dimCol(dim, exOpt, schema))

  /** Compile a filter against a source schema. Multi-value (array) dims use
    * Druid's "matches any value" semantics (SURVEY §7.4). */
  def filterCol(f: Filter, schema: StructType): Column = {
    import Filter._
    f match {
      case Selector(dim, vOpt, exOpt) =>
        val c = dimCol(dim, exOpt, schema)
        vOpt match {
          case None | Some("") =>
            if (fieldType(schema, dim).exists(_.isInstanceOf[StringType]) && exOpt.isEmpty)
              c.isNull || c === ""
            else c.isNull
          case Some(v) =>
            if (isMultiValue(schema, dim) && exOpt.isEmpty)
              array_contains(col(dim), typedLitFor(schema, dim, v).cast(
                fieldType(schema, dim).get.asInstanceOf[ArrayType].elementType))
            else if (isMultiValue(schema, dim))
              perValuePred(dim, exOpt, schema)(_ === lit(v))
            else if (exOpt.isEmpty) c === typedLitFor(schema, dim, v)
            else c === lit(v)
        }
      case In(dim, vs, exOpt) if vs.contains(null) =>
        // a null element matches null/missing dims (Druid semantics) —
        // delegate to the Selector null path, which already implements them
        filterCol(Or(Seq(In(dim, vs.filterNot(_ == null), exOpt),
          Selector(dim, None, exOpt))), schema)
      case In(dim, vs, exOpt) =>
        if (isMultiValue(schema, dim) && exOpt.isEmpty) {
          val et = fieldType(schema, dim).get.asInstanceOf[ArrayType].elementType
          arrays_overlap(col(dim), array(vs.map(v => lit(v).cast(et)): _*))
        } else if (isMultiValue(schema, dim)) {
          // extraction per value, match-any (NOT extraction of the
          // stringified array)
          perValuePred(dim, exOpt, schema)(_.isin(vs: _*))
        } else {
          val c = dimCol(dim, exOpt, schema)
          if (exOpt.isEmpty) c.isin(vs.map(v => nativeValue(schema, dim, v)): _*)
          else c.isin(vs: _*)
        }
      case Bound(dim, lo, up, loS, upS, ordering, exOpt) =>
        def rangePred(c: Column, mk: String => Column): Column = {
          val loPred = lo.map(v => if (loS) c > mk(v) else c >= mk(v))
          val upPred = up.map(v => if (upS) c < mk(v) else c <= mk(v))
          Seq(loPred, upPred).flatten.reduceOption(_ && _).getOrElse(lit(true))
        }
        if (isMultiValue(schema, dim)) {
          // per-value bound with match-any semantics (extracted values are
          // strings; numeric ordering compares their double casts)
          perValuePred(dim, exOpt, schema) { x =>
            ordering match {
              case "numeric" =>
                rangePred(x.cast(DoubleType), s => lit(s).cast(DoubleType))
              case "strlen" =>
                rangePred(length(x.cast(StringType)).cast(LongType),
                  s => lit(s.length.toLong))
              case "alphanumeric" =>
                // exact alphanumeric: same native sort key as limitSpec's
                // comparator; the literal side constant-folds at optimize time
                rangePred(
                  graft.functions.TextHashFunctions.alphanumeric_sort_key(
                    x.cast(StringType)),
                  s => graft.functions.TextHashFunctions.alphanumeric_sort_key(
                    lit(s)))
              case _ =>
                rangePred(x.cast(StringType), s => lit(s))
            }
          }
        } else {
          val base = dimCol(dim, exOpt, schema)
          val (c, mk): (Column, String => Column) = ordering match {
            case "numeric" =>
              fieldType(schema, dim) match {
                case Some(t: NumericType) if exOpt.isEmpty =>
                  (base, (s: String) => lit(s).cast(t))
                case _ => (base.cast(DoubleType), (s: String) => lit(s).cast(DoubleType))
              }
            case "strlen" => (length(base.cast(StringType)).cast(LongType),
              (s: String) => lit(s.length.toLong))
            case "alphanumeric" =>
              // exact Druid alphanumeric ordering: compare the same native
              // sort keys limitSpec's comparator uses (embedded digit runs
              // compare numerically — "9" < "10"); the literal side is
              // deterministic and constant-folds at optimize time
              (graft.functions.TextHashFunctions.alphanumeric_sort_key(
                base.cast(StringType)),
                (s: String) => graft.functions.TextHashFunctions
                  .alphanumeric_sort_key(lit(s)))
            case _ => // lexicographic
              fieldType(schema, dim) match {
                case Some(_: StringType) if exOpt.isEmpty => (base, (s: String) => lit(s))
                case _ => (base.cast(StringType), (s: String) => lit(s))
              }
          }
          rangePred(c, mk)
        }
      case Like(dim, pattern, escape, exOpt) =>
        // Column.like has no escape-char overload; rewrite the pattern to
        // backslash escaping CHAR BY CHAR — a blanket replace would turn a
        // doubled escape char ("##" = literal '#') into an escaped
        // backslash instead of the literal escape char.
        val normalized = escape match {
          case Some(e) if e.nonEmpty && e.head != '\\' =>
            val esc = e.head
            val sb = new StringBuilder
            var i = 0
            while (i < pattern.length) {
              val ch = pattern.charAt(i)
              if (ch == esc && i + 1 < pattern.length) {
                // escape sequence: next char is a literal (incl. esc itself).
                // Spark LIKE only permits backslash before % _ \ — any other
                // char is literal on its own, so emit it plain.
                val litc = pattern.charAt(i + 1)
                litc match {
                  case '%' | '_' => sb.append('\\').append(litc)
                  case '\\'      => sb.append("\\\\")
                  case other     => sb.append(other)
                }
                i += 2
              } else if (ch == '\\') { sb.append("\\\\"); i += 1 }
              else { sb.append(ch); i += 1 }
            }
            sb.toString
          case _ => pattern
        }
        perValuePred(dim, exOpt, schema)(_.cast(StringType).like(normalized))
      case Regex(dim, pattern, exOpt) =>
        perValuePred(dim, exOpt, schema)(_.cast(StringType).rlike(pattern))
      case Search(dim, q, exOpt) =>
        perValuePred(dim, exOpt, schema)(c => searchMatch(q, c.cast(StringType)))
      case IntervalF(dim, ivs, exOpt) =>
        intervalPredicate(ivs, dimCol(dim, exOpt, schema))
      case ColumnComparison(dims) =>
        // fewer than 2 dimensions: nothing to compare → always true
        // (sliding(2) over one element yields the single element and the
        // pair-match would MatchError)
        if (dims.size < 2) lit(true)
        else dims.sliding(2).map { case Seq(a, b) =>
          col(a).cast(StringType) === col(b).cast(StringType)
        }.reduceOption(_ && _).getOrElse(lit(true))
      case And(fs) => fs.map(filterCol(_, schema)).reduceOption(_ && _).getOrElse(lit(true))
      case Or(fs)  => fs.map(filterCol(_, schema)).reduceOption(_ || _).getOrElse(lit(false))
      case Not(f0) =>
        // Druid NOT matches rows where the inner filter is false — including
        // null dimension values; plain !pred would yield null and drop them.
        val inner = filterCol(f0, schema)
        !coalesce(inner, lit(false))
      case True => lit(true)
    }
  }

  private def dimCol(dim: String, exOpt: Option[ExtractionFn], schema: StructType): Column = {
    val base =
      if (isMultiValue(schema, dim) && exOpt.isDefined)
        col(dim) // extraction over multi-value applied per-element by caller; rare
      else col(dim)
    exOpt.map(extractionCol(_, base)).getOrElse(base)
  }

  // =========================================================================
  // Aggregators
  // =========================================================================

  /** Compile an aggregator to an aggregate Column aliased to its name.
    * `rollupCount`: when reading rolled-up segments, `count` must become
    * `sum(<storedCountMetric>)` (SURVEY §7.3). `sketchPartial`: emit the
    * MERGEABLE sketch (`hllpp_partial` text) instead of the finalized
    * estimate — the day-partial fragment form for the serve-time partial
    * merge (Druid's broker merges per-segment sketch partials the same way,
    * reference `arch/druid-arch.md:38-40`). Raw and pre-built columns both
    * yield `Hllpp` words, so the driver merge needs no schema. */
  def aggCol(a: Aggregator, schema: StructType, rollupCount: Option[String] = None,
      sketchPartial: Boolean = false): Column = {
    import Aggregator._

    // raw input (a raw hyperUnique column, every cardinality) in a single
    // query: the built-in HLL++ (codegen'd, partial-aggregated, no per-row
    // sketch object churn) at the sketch's rsd. Spark maps rsd 0.023 to
    // p = 12 registers, and its bias correction holds the documented ±5%
    // band in the n ≈ register-count regime where the DEFAULT rsd 0.05
    // missed it on every bucket (measured at both verify SFs). Its words are
    // the ones `hllpp_build` stores, so this estimate equals a rollup
    // column's built from the same rows.
    def rawDistinct(in: Column): Column =
      if (sketchPartial) hllpp_partial(hllpp_build(in))
      else approx_count_distinct(in, Hllpp.Rsd)

    def input(field: String, typ: String): Column = {
      val c = col(field)
      typ match {
        case "long"   => c.cast(LongType)
        case "float"  => c.cast(FloatType)
        case _        => c.cast(DoubleType)
      }
    }

    def inner(a0: Aggregator, pred: Option[Column]): Column = a0 match {
      case Count(_) =>
        (rollupCount, pred) match {
          case (Some(stored), None)    => sum(col(stored)).cast(LongType)
          case (Some(stored), Some(p)) => sum(when(p, col(stored))).cast(LongType)
          case (None, None)            => count(lit(1))
          case (None, Some(p))         => count(when(p, lit(1)))
        }
      case Sum(_, f, t) =>
        val in = pred.map(p => when(p, input(f, t))).getOrElse(input(f, t))
        t match {
          case "long" => coalesce(sum(in), lit(0L)).cast(LongType)
          case "float" => sum(in).cast(FloatType)
          case _ => sum(in)
        }
      case Min(_, f, t) =>
        val in = pred.map(p => when(p, input(f, t))).getOrElse(input(f, t))
        min(in)
      case Max(_, f, t) =>
        val in = pred.map(p => when(p, input(f, t))).getOrElse(input(f, t))
        max(in)
      case First(_, f, t) =>
        val in = pred.map(p => when(p, input(f, t))).getOrElse(input(f, t))
        min_by(in, when(in.isNotNull, col(TimeColumn)))
      case Last(_, f, t) =>
        val in = pred.map(p => when(p, input(f, t))).getOrElse(input(f, t))
        max_by(in, when(in.isNotNull, col(TimeColumn)))
      case HyperUnique(_, f) =>
        val in = pred.map(p => when(p, col(f))).getOrElse(col(f))
        fieldType(schema, f) match {
          case Some(BinaryType) =>
            // pre-built words column (rollup segment): merge the stored
            // words, then finalize (Druid hyperUnique-on-metric)
            val words = hllpp_merge(in)
            if (sketchPartial) hllpp_partial(words) else hllpp_estimate(words)
          case _ => rawDistinct(in)
        }
      case Cardinality(_, fields, byRow) =>
        val base =
          if (fields.size == 1) col(fields.head)
          else if (byRow) {
            // canonical delimited encoding: one string per tuple, hashed
            // like any string column. Each non-null field is
            // LENGTH-PREFIXED ("<len>:<value>") so the encoding is
            // injective even when a value contains the \u0001 joiner or
            // equals the \u0000 null marker: ("a\u0001b") encodes
            // "3:a\u0001b", apart from ("a","b") = "1:a\u00011:b"; the
            // prefix pins each field's extent, so distinct tuples can no
            // longer hash together and deflate the estimate.
            val encoded = fields.map { c =>
              val s = col(c).cast(StringType)
              when(s.isNull, lit("\u0000"))
                .otherwise(concat(length(s).cast(StringType), lit(":"), s))
            }
            concat_ws("\u0001", encoded: _*)
          }
          else concat_ws("", fields.map(c => col(c).cast(StringType)): _*)
        // cardinality never reads sketch columns: always raw input
        rawDistinct(pred.map(p => when(p, base)).getOrElse(base))
      case Filtered(f, agg) =>
        val p = filterCol(f, schema)
        inner(agg, pred.map(_ && p).orElse(Some(p)))
    }

    inner(a, None).as(a.name)
  }

  // =========================================================================
  // Post-aggregators
  // =========================================================================

  /** Compile a post-aggregator into a projection over agg output columns
    * (reference `query/query-timeseries.md:30-39`). */
  def postAggCol(pa: PostAggregator): Column = {
    import PostAggregator._

    def eval(p: PostAggregator): Column = p match {
      case Arithmetic(_, fn, fields) =>
        val cs = fields.map(f => eval(f).cast(DoubleType))
        fn match {
          case "+" => cs.reduce(_ + _)
          case "-" => cs.reduce(_ - _)
          case "*" => cs.reduce(_ * _)
          case "/" =>
            // Druid `/` → 0 on divide-by-zero
            cs.reduce((a, b) => when(b === 0.0 || b.isNull, lit(0.0)).otherwise(a / b))
          case "quotient" =>
            // Druid `quotient` = plain Java double division (IEEE: 0/0=NaN,
            // x/0=±Inf) — spelled out so it holds under ANSI mode too
            cs.reduce { (a, b) =>
              when(b === 0.0,
                when(a > 0.0, lit(Double.PositiveInfinity))
                  .when(a < 0.0, lit(Double.NegativeInfinity))
                  .otherwise(lit(Double.NaN)))
                .otherwise(a / b)
            }
          case other => throw new IllegalArgumentException(s"unknown arithmetic fn '$other'")
        }
      case FieldAccess(_, f)            => col(f)
      case FinalizingFieldAccess(_, f)  => col(f)
      case Constant(_, v)               => lit(v)
      case GreatestLeast(_, fn, typ, fields) =>
        val t: DataType = if (typ == "long") LongType else DoubleType
        val cs = fields.map(f => eval(f).cast(t))
        if (fn == "greatest") greatest(cs: _*) else least(cs: _*)
      case HyperUniqueCardinality(_, f) => col(f).cast(DoubleType)
    }

    eval(pa).as(pa.name)
  }

  // =========================================================================
  // Dimension specs
  // =========================================================================

  /** Compile a dimension spec to a Column aliased to its outputName. */
  def dimensionCol(spec: DimensionSpec, schema: StructType): Column = {
    import DimensionSpec._

    def eval(s: DimensionSpec): Column = s match {
      case Default(dim, _, outTypeOpt) =>
        val c = col(dim)
        outTypeOpt match {
          case Some("LONG")   => c.cast(LongType)
          case Some("FLOAT")  => c.cast(FloatType)
          case Some("DOUBLE") => c.cast(DoubleType)
          case Some("STRING") => c.cast(StringType)
          case _ => c
        }
      case Extraction(dim, _, fn, outTypeOpt) =>
        def castOut(c: Column): Column = outTypeOpt match {
          case Some("LONG")   => c.cast(LongType)
          case Some("FLOAT")  => c.cast(FloatType)
          case Some("DOUBLE") => c.cast(DoubleType)
          case _ => c
        }
        fieldType(schema, dim) match {
          case Some(ArrayType(_, _)) =>
            // multi-value dim: the extraction applies PER VALUE (Druid
            // semantics) — transform the array, keeping it an array so the
            // planner's explode path (and list/regex filtering above it)
            // still sees array input; extraction over the stringified
            // array would both diverge and break explode
            transform(col(dim), x => castOut(extractionCol(fn, x)))
          case _ => castOut(extractionCol(fn, col(dim)))
        }
      case ListFiltered(delegate, values, whitelist) =>
        val c = eval(delegate)
        fieldTypeOfSpec(delegate, schema) match {
          case Some(ArrayType(et, _)) =>
            val arr = array(values.map(v => lit(v).cast(et)): _*)
            if (whitelist) array_intersect(c, arr) else array_except(c, arr)
          case _ =>
            if (whitelist) when(c.isin(values: _*), c)
            else when(!c.isin(values: _*), c)
        }
      case RegexFiltered(delegate, pattern) =>
        val c = eval(delegate)
        fieldTypeOfSpec(delegate, schema) match {
          case Some(ArrayType(_, _)) => filter(c, x => x.cast(StringType).rlike(pattern))
          case _ => when(c.cast(StringType).rlike(pattern), c)
        }
    }

    eval(spec).as(spec.outputName)
  }

  private def fieldTypeOfSpec(spec: DimensionSpec, schema: StructType): Option[DataType] =
    spec match {
      case DimensionSpec.Default(d, _, _)       => fieldType(schema, d)
      case DimensionSpec.Extraction(_, _, _, _) => Some(StringType)
      case DimensionSpec.ListFiltered(d, _, _)  => fieldTypeOfSpec(d, schema)
      case DimensionSpec.RegexFiltered(d, _)    => fieldTypeOfSpec(d, schema)
    }

  /** Ordering column for limitSpec `dimensionOrder` (SURVEY §2.7). */
  def orderingCol(dimensionOrder: String, c: Column): Column = dimensionOrder match {
    case "numeric" => c.cast(DoubleType)
    case "strlen"  => length(c.cast(StringType))
    case "alphanumeric" =>
      // exact Druid alphanumeric comparator via a native sort-key expression
      // (embedded digit runs compare numerically)
      graft.functions.TextHashFunctions.alphanumeric_sort_key(c.cast(StringType))
    case _ => c
  }
}
