package graft.plan

import graft.expr.Compilers
import graft.expr.Compilers.TimeColumn
import graft.model._
import graft.sources.Catalog
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._

/** Query ADT → DataFrame (Catalyst logical plan).
  *
  * This is the Spark-native replacement for Druid's QueryRunner construction
  * + broker scatter-gather (reference `query/query-internal-procedure.md:98-142`):
  * we declare the plan; Catalyst partition pruning replaces interval→segment
  * routing, and `HashAggregateExec` partial/final replaces per-node partial
  * aggregation + broker merge.
  *
  * Druid-specific semantics that Catalyst does not know about (zero-fill,
  * multi-value dimension explode, topN ranking, paging) are applied here,
  * *before* the plan is handed to Catalyst — keeping the optimizer free to
  * do pushdown/pruning on a fully declarative plan.
  */
object QueryPlanner {

  /** Guard on the driver-side (calendar-stepped) spine enumeration. The
    * calendar path only covers steps >= one day, so 10M buckets is >27,000
    * years of spine — a malformed query, not a scale problem. Exceeding it
    * throws; zero-fill never silently disappears. Fixed-step granularities
    * (second/minute/hour/duration/fixed periods) generate the spine on
    * executors and have no cap at all. */
  private val MaxCalendarSpineBuckets = 10000000

  def plan(spark: SparkSession, q: Query, catalog: Catalog): DataFrame = q match {
    case t: Query.Timeseries       => planTimeseries(spark, t, catalog)
    case t: Query.TopN             => planTopN(spark, t, catalog)
    case g: Query.GroupBy          => planGroupBy(spark, g, catalog)
    case t: Query.TimeBoundary     => planTimeBoundary(spark, t, catalog)
    case s: Query.SegmentMetadata  => planSegmentMetadata(spark, s, catalog)
    case d: Query.DataSourceMetadata => planDataSourceMetadata(spark, d, catalog)
    case s: Query.SearchQ          => planSearch(spark, s, catalog)
    case s: Query.Select           => planSelect(spark, s, catalog)
    case s: Query.Scan             => planScan(spark, s, catalog)
  }

  // -- datasource resolution ------------------------------------------------

  /** Stored rollup count column of a datasource, if any (SURVEY §7.3). */
  private def rollupCountOf(ds: DataSource, catalog: Catalog): Option[String] = ds match {
    case DataSource.Table(n)  => catalog.rollupCountColumn(n)
    case DataSource.Union(ns) => ns.flatMap(catalog.rollupCountColumn(_)).headOption
    case _                    => None
  }

  /** Datasource resolution with interval routing: table-backed sources get
    * the query intervals so a segment-timeline catalog can prune chunks
    * before listing (Druid's broker routing,
    * `query/query-internal-procedure.md:7`). */
  def source(spark: SparkSession, ds: DataSource, catalog: Catalog,
      intervals: Seq[Interval] = Seq.empty): DataFrame = ds match {
    case DataSource.Table(name) => catalog.table(spark, name, intervals)
    case DataSource.Union(names) =>
      names.map(catalog.table(spark, _, intervals))
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    case DataSource.QueryD(inner) => plan(spark, inner, catalog)
  }

  /** interval + filter pushdown — applied before any aggregation so Catalyst
    * can push to the Parquet scan. registeredLookup extraction fns inside
    * the filter are resolved here (inline map) before compilation. */
  private def filtered(spark: SparkSession, catalog: Catalog, df: DataFrame,
      intervals: Seq[Interval], filter: Option[Filter]): DataFrame = {
    val withIntervals =
      if (intervals.nonEmpty && df.columns.contains(TimeColumn))
        df.where(Compilers.intervalPredicate(intervals, col(TimeColumn)))
      else df
    filter.map(resolveLookupsInFilter(_, spark, catalog)) match {
      case Some(f) => withIntervals.where(Compilers.filterCol(f, df.schema))
      case None    => withIntervals
    }
  }

  /** Resolve registeredLookup extraction fns OUTSIDE the dimension-spec
    * broadcast-join path — filters, cascades, having filters — into the
    * inline-map `Lookup` fn (the lookup table is collected once; lookup
    * tables are broadcast-sized by definition, and the SQL LOOKUP path
    * already collects them the same way). Dimension specs in groupBy/topN
    * keep the broadcast JOIN rewrite (plan-gated); this is the fallback for
    * every other position Druid allows the fn in, which previously died
    * with an internal IllegalStateException. */
  private def resolveLookupFn(fn: ExtractionFn, spark: SparkSession,
      catalog: Catalog): ExtractionFn = fn match {
    case ExtractionFn.RegisteredLookup(name, retain, replaceWith) =>
      val lkp = catalog.lookupTable(spark, name).getOrElse(
        throw new IllegalArgumentException(s"unknown registered lookup '$name'"))
      val m = lkp.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      ExtractionFn.Lookup(m, retain, replaceWith)
    case ExtractionFn.Cascade(fns) =>
      ExtractionFn.Cascade(fns.map(resolveLookupFn(_, spark, catalog)))
    case other => other
  }

  private def resolveLookupsInFilter(f: Filter, spark: SparkSession,
      catalog: Catalog): Filter = {
    def rf(ex: Option[ExtractionFn]): Option[ExtractionFn] =
      ex.map(resolveLookupFn(_, spark, catalog))
    f match {
      case Filter.Selector(d, v, ex)   => Filter.Selector(d, v, rf(ex))
      case Filter.In(d, vs, ex)        => Filter.In(d, vs, rf(ex))
      case Filter.Bound(d, lo, hi, ls, us, o, ex) =>
        Filter.Bound(d, lo, hi, ls, us, o, rf(ex))
      case Filter.Like(d, p, e, ex)    => Filter.Like(d, p, e, rf(ex))
      case Filter.Regex(d, p, ex)      => Filter.Regex(d, p, rf(ex))
      case Filter.Search(d, q, ex)     => Filter.Search(d, q, rf(ex))
      case Filter.IntervalF(d, ivs, ex) => Filter.IntervalF(d, ivs, rf(ex))
      case Filter.And(fs) => Filter.And(fs.map(resolveLookupsInFilter(_, spark, catalog)))
      case Filter.Or(fs)  => Filter.Or(fs.map(resolveLookupsInFilter(_, spark, catalog)))
      case Filter.Not(f0) => Filter.Not(resolveLookupsInFilter(f0, spark, catalog))
      case other => other
    }
  }


  /** Rewrite registeredLookup dimension specs into broadcast joins against
    * the catalog's lookup tables (Druid registeredLookup — SURVEY §2.4:
    * "broadcast join for big lookups"). Each spec becomes a plain column
    * reference over the joined value. */
  private def applyRegisteredLookups(spark: SparkSession, df: DataFrame,
      specs: Seq[DimensionSpec], catalog: Catalog): (DataFrame, Seq[DimensionSpec]) = {
    var cur = df
    val out = specs.map {
      case DimensionSpec.Extraction(dim, outName,
          ExtractionFn.RegisteredLookup(name, retain, replaceWith), _) =>
        val lkp = catalog.lookupTable(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown registered lookup '$name'"))
        val keyCol = s"__lkpk_$outName"; val valCol = s"__lkpv_$outName"
        val l = broadcast(lkp.select(col("key").as(keyCol), col("value").as(valCol)))
        cur = cur.join(l, cur(dim).cast(StringType) === col(keyCol), "left")
        val resolved =
          if (retain) coalesce(col(valCol), col(dim).cast(StringType))
          else replaceWith.map(r => coalesce(col(valCol), lit(r))).getOrElse(col(valCol))
        cur = cur.withColumn(s"__lkp_$outName", resolved)
          .drop(keyCol, valCol)
        DimensionSpec.Default(s"__lkp_$outName", outName)
      // registeredLookup NESTED in a cascade (or other composite) cannot be
      // a join column directly — fall back to the inline-map resolution
      case DimensionSpec.Extraction(dim, outName, fn, t) =>
        DimensionSpec.Extraction(dim, outName, resolveLookupFn(fn, spark, catalog), t)
      case other => other
    }
    (cur, out)
  }

  // -- timeseries (reference `query/query-timeseries.md`) -------------------

  private def planTimeseries(spark: SparkSession, q: Query.Timeseries, catalog: Catalog)
      : DataFrame = {
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base = filtered(spark, catalog, src, q.intervals, q.filter)
    val rollupCount = rollupCountOf(q.dataSource, catalog)
    // engine-internal (SegmentResultCache.decomposePartial): day-partial
    // sub-queries emit mergeable sketches instead of finalized estimates
    val sketchPartial = q.context.get("graft.sketchPartials").exists(_.toBoolean)
    val aggs = q.aggregations.map(a =>
      Compilers.aggCol(a, src.schema, rollupCount, sketchPartial))
    require(aggs.nonEmpty, "timeseries query requires at least one aggregation")

    val skipEmpty = q.context.get("skipEmptyBuckets").exists(_.toBoolean)

    val aggregated = Compilers.granularityCol(q.granularity, col(TimeColumn)) match {
      case Some(bucket) =>
        val agged = base.groupBy(bucket.as(TimeColumn)).agg(aggs.head, aggs.tail: _*)
        if (skipEmpty) agged
        else zeroFill(spark, agged, q.intervals, q.granularity, q.aggregations,
          coverageOf(q.dataSource, catalog))
      case None => // granularity 'all': one bucket stamped with the interval start
        val start = q.intervals.headOption.map(_.start).getOrElse(Instant.EPOCH)
        base.agg(aggs.head, aggs.tail: _*)
          .withColumn(TimeColumn, lit(Timestamp.from(start)))
    }

    val projected = withPostAggs(aggregated, q.postAggregations)
    projected.orderBy(if (q.descending) col(TimeColumn).desc else col(TimeColumn).asc)
  }

  /** Segment-timeline coverage of a datasource, when known (None = no
    * timeline, e.g. plain parquet dirs → full zero-fill). */
  private def coverageOf(ds: DataSource, catalog: Catalog): Option[Seq[Interval]] =
    ds match {
      case DataSource.Table(n) => catalog.chunkCoverage(n)
      case DataSource.Union(ns) =>
        val covs = ns.map(catalog.chunkCoverage)
        if (covs.nonEmpty && covs.forall(_.isDefined)) Some(covs.flatMap(_.get))
        else None
      case _ => None
    }

  /** Left-join the aggregate against a generated bucket spine so empty
    * buckets inside the interval appear zero-filled (reference
    * `query/query-timeseries.md:74-95`). Sums/counts fill with 0; min/max/
    * first/last stay null. Buckets in ranges with NO segments are skipped
    * entirely, not zero-filled (`query/query-timeseries.md:93`): the spine
    * is intersected with the datasource's segment-timeline coverage. */
  private def zeroFill(spark: SparkSession, agged: DataFrame, intervals: Seq[Interval],
      g: Granularity, aggs: Seq[Aggregator],
      coverage: Option[Seq[Interval]] = None): DataFrame = {
    val spineOpt = fixedStepMillis(g) match {
      case Some(step) => distributedSpine(spark, intervals, g, step, coverage)
      case None       => calendarSpine(spark, intervals, g, coverage)
    }
    spineOpt match {
      case None => agged
      case Some(spine) =>
        val joined = spine.join(agged, Seq(TimeColumn), "left")
        val fills: Seq[Column] = aggs.map(a => zeroFillCol(a))
        val keep = joined.columns.filterNot(c => aggs.exists(_.name == c)).map(col).toSeq
        joined.select(keep ++ fills: _*)
    }
  }

  /** Step of `g` in epoch millis when every bucket advance is
    * calendar-independent — i.e. `Compilers.nextBucket` is `plusMillis(step)`
    * for this granularity. None for calendar-aware steps (month/quarter/year
    * units, PnM/PnY, and day/week periods in a non-UTC timezone, where a
    * bucket may be 23 or 25 wall-clock hours across DST). */
  private def fixedStepMillis(g: Granularity): Option[Long] = g match {
    case Granularity.All | Granularity.NoneG => None
    case Granularity.Duration(ms, _) => Some(ms)
    case Granularity.Simple(u) => u match {
      case "second" => Some(1000L)
      case "minute" => Some(60000L)
      case "fifteen_minute" => Some(15 * 60000L)
      case "thirty_minute" => Some(30 * 60000L)
      case "hour" => Some(3600000L)
      case "day"  => Some(86400000L)   // simple units step in UTC: fixed
      case "week" => Some(7 * 86400000L)
      case _ => None                   // month | quarter | year
    }
    case Granularity.Period(p, tzS, _) =>
      val tz = tzS.getOrElse("UTC")
      val monthP = "P(\\d+)M".r; val yearP = "P(\\d+)Y".r
      p match {
        case "P1M" | "P3M" | "P1Y" | monthP(_) | yearP(_) => None
        // day-unit periods step calendar-aware in a non-UTC tz (DST)
        case _ if tz != "UTC" &&
          (p == "P1D" || p == "P1W" || Compilers.isDayBasedPeriod(p)) => None
        case "P1D" => Some(86400000L)
        case "P1W" => Some(7 * 86400000L)
        case _ => Some(Compilers.periodMillis(p)) // PT* and UTC PnD/PnW: fixed
      }
  }

  /** Executor-side spine for fixed-step granularities: each interval becomes
    * `range(0, n)` → `first + id*step`, so a multi-day second-granularity
    * spine (hundreds of thousands to millions of buckets) never materializes
    * on the driver (reference zero-fill contract,
    * `query/query-timeseries.md:74-95`). Coverage intersection (segment-gap
    * skip, `query/query-timeseries.md:93`) is a pushed predicate. */
  private def distributedSpine(spark: SparkSession, intervals: Seq[Interval],
      g: Granularity, step: Long, coverage: Option[Seq[Interval]]): Option[DataFrame] = {
    val perInterval = intervals.flatMap { iv =>
      val first = Compilers.truncInstant(g, iv.start).toEpochMilli
      val end = iv.end.toEpochMilli
      val n = if (end <= first) 0L else (end - first + step - 1) / step
      if (n <= 0L) None
      else Some(spark.range(0L, n)
        .select(timestamp_millis(col("id") * step + first).as(TimeColumn)))
    }
    if (perInterval.isEmpty) return None
    val unioned = perInterval.reduce(_ union _)
    val spine =
      if (intervals.lengthCompare(1) > 0) unioned.dropDuplicates(TimeColumn)
      else unioned
    coverage match {
      case Some(ivs) if ivs.isEmpty => None // no segments → nothing to fill
      case Some(ivs) =>
        // bucket overlaps a covered chunk: b < iv.end && b+step > iv.start
        val t = col(TimeColumn)
        val pred = ivs.map(iv =>
          t < lit(Timestamp.from(iv.end)) &&
          timestamp_millis(unix_millis(t) + step) > lit(Timestamp.from(iv.start)))
          .reduce(_ || _)
        Some(spine.where(pred))
      case None => Some(spine)
    }
  }

  /** Driver-side spine for calendar-stepped granularities (step >= 1 day, so
    * the enumeration stays tiny — a century of months is 1,200 instants). */
  private def calendarSpine(spark: SparkSession, intervals: Seq[Interval],
      g: Granularity, coverage: Option[Seq[Interval]]): Option[DataFrame] = {
    val all = spineBuckets(intervals, g)
    val buckets = coverage match {
      case Some(ivs) => all.filter(b => ivs.exists(iv =>
        b.isBefore(iv.end) && Compilers.nextBucket(g, b).isAfter(iv.start)))
      case None => all
    }
    if (buckets.isEmpty) return None
    val rows = buckets.map(i => Row(Timestamp.from(i))).asJava
    Some(spark.createDataFrame(rows,
      StructType(Seq(StructField(TimeColumn, TimestampType, nullable = false)))))
  }

  /** An aggregator's value on the zero-filled spine (sums, counts and
    * sketch estimates coalesce to a typed zero; min/max/first/last stay
    * null). */
  private[graft] def zeroFillCol(a: Aggregator): Column = a match {
    case Aggregator.Count(n) => coalesce(col(n), lit(0L)).as(n)
    case Aggregator.Sum(n, _, "long") => coalesce(col(n), lit(0L)).as(n)
    case Aggregator.Sum(n, _, "float") => coalesce(col(n), lit(0.0f)).as(n)
    case Aggregator.Sum(n, _, _) => coalesce(col(n), lit(0.0)).as(n)
    case Aggregator.HyperUnique(n, _) => coalesce(col(n), lit(0L)).as(n)
    case Aggregator.Cardinality(n, _, _) => coalesce(col(n), lit(0L)).as(n)
    case Aggregator.Filtered(_, inner) => zeroFillCol(inner)
    case other => col(other.name)
  }

  /** Driver-side enumeration of granularity buckets covering the intervals.
    * Only reached for calendar-stepped granularities (fixed-step spines are
    * generated on executors); throws — never silently skips — past the
    * sanity guard. */
  def spineBuckets(intervals: Seq[Interval], g: Granularity): Seq[Instant] = {
    g match {
      case Granularity.All | Granularity.NoneG => return Seq.empty
      case _ =>
    }
    val out = Seq.newBuilder[Instant]
    var n = 0
    intervals.foreach { iv =>
      var b = Compilers.truncInstant(g, iv.start)
      while (b.isBefore(iv.end)) {
        if (n >= MaxCalendarSpineBuckets) throw new IllegalArgumentException(
          s"zero-fill spine exceeds $MaxCalendarSpineBuckets buckets for " +
          s"granularity $g; narrow the intervals or set skipEmptyBuckets")
        out += b
        n += 1
        b = Compilers.nextBucket(g, b)
      }
    }
    out.result().distinct
  }

  /** Project post-aggregations on top of the aggregate result
    * (reference `query/query-timeseries.md:30-39`). */
  private def withPostAggs(df: DataFrame, postAggs: Seq[PostAggregator]): DataFrame =
    if (postAggs.isEmpty) df
    else df.select(df.columns.map(col).toSeq ++ postAggs.map(Compilers.postAggCol): _*)

  // -- groupBy (reference `query/query-internal-procedure.md:128-142`) ------

  private def planGroupBy(spark: SparkSession, q: Query.GroupBy, catalog: Catalog)
      : DataFrame = {
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base0 = filtered(spark, catalog, src, q.intervals, q.filter)

    // registeredLookup dims → broadcast joins, then multi-value dims: a row
    // counts once per value → explode before grouping (SURVEY §7.4).
    val (base1, specs1) = applyRegisteredLookups(spark, base0, q.dimensions, catalog)
    val (base, dimCols) = explodeMultiValue(base1, specs1, base1.schema)

    val aggs = q.aggregations.map(a =>
      Compilers.aggCol(a, base.schema, rollupCountOf(q.dataSource, catalog),
        q.context.get("graft.sketchPartials").exists(_.toBoolean)))
    require(q.dimensions.nonEmpty || aggs.nonEmpty,
      "groupBy requires at least one dimension or aggregation")
    val bucketOpt = Compilers.granularityCol(q.granularity, col(TimeColumn))
    val groupCols = bucketOpt.map(_.as(TimeColumn)).toSeq ++ dimCols

    val agged =
      if (groupCols.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else if (aggs.isEmpty) base.select(groupCols: _*).distinct()
      else base.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)

    val posted = withPostAggs(agged, q.postAggregations)
    val havinged = q.having match {
      case Some(h) => posted.where(havingCol(h, posted.schema, spark, catalog))
      case None    => posted
    }
    q.limitSpec match {
      case Some(LimitSpec(cols, limitOpt)) =>
        val ordered =
          if (cols.isEmpty) havinged
          else havinged.orderBy(limitOrder(cols): _*)
        limitOpt.map(ordered.limit).getOrElse(ordered)
      case None => havinged
    }
  }

  /** Rewrite dimension specs over ArrayType columns into explode_outer
    * projections. Returns (augmented source, dimension Columns). */
  private def explodeMultiValue(df: DataFrame, specs: Seq[DimensionSpec],
      schema: StructType): (DataFrame, Seq[Column]) = {
    var cur = df
    val cols = specs.map { spec =>
      val baseDim = underlyingDim(spec)
      val isArray = baseDim.exists(d =>
        schema.fields.exists(f => f.name == d && f.dataType.isInstanceOf[ArrayType]))
      if (isArray) {
        // temp column keyed by OUTPUT name: two specs over the same array
        // dim (e.g. different listFiltered prunes) must explode separately
        val tmp = s"__mv_${spec.outputName}"
        if (!cur.columns.contains(tmp)) {
          // ListFiltered/RegexFiltered prune the value list BEFORE explode
          val pruned = Compilers.dimensionCol(stripOutput(spec), schema)
          cur = cur.withColumn(tmp, explode_outer(pruned))
        }
        col(tmp).as(spec.outputName)
      } else {
        Compilers.dimensionCol(spec, schema)
      }
    }
    (cur, cols)
  }

  private def underlyingDim(spec: DimensionSpec): Option[String] = spec match {
    case DimensionSpec.Default(d, _, _)        => Some(d)
    case DimensionSpec.Extraction(d, _, _, _)  => Some(d)
    case DimensionSpec.ListFiltered(d, _, _)   => underlyingDim(d)
    case DimensionSpec.RegexFiltered(d, _)     => underlyingDim(d)
  }

  /** The spec itself (filters applied) but without the final alias mattering. */
  private def stripOutput(spec: DimensionSpec): DimensionSpec = spec

  /** A limitSpec's sort orders (SURVEY §2.7). */
  private[graft] def limitOrder(cols: Seq[OrderByColumnSpec]): Seq[Column] =
    cols.map { c =>
      val oc = Compilers.orderingCol(c.dimensionOrder, col(c.dimension))
      if (c.direction.startsWith("desc")) oc.desc else oc.asc
    }

  /** A having spec as a predicate over the aggregated row; `schema` types
    * the literals of a FilterH filter. */
  private[graft] def havingCol(h: HavingSpec, schema: StructType,
      spark: SparkSession, catalog: Catalog): Column = {
    import HavingSpec._
    h match {
      case EqualTo(a, v)     => col(a).cast(DoubleType) === v
      case GreaterThan(a, v) => col(a).cast(DoubleType) > v
      case LessThan(a, v)    => col(a).cast(DoubleType) < v
      case DimSelector(d, v) => col(d).cast(StringType) === v
      case AndH(hs)          =>
        hs.map(havingCol(_, schema, spark, catalog)).reduceOption(_ && _).getOrElse(lit(true))
      case OrH(hs)           =>
        hs.map(havingCol(_, schema, spark, catalog)).reduceOption(_ || _).getOrElse(lit(false))
      case NotH(h0)          => !coalesce(havingCol(h0, schema, spark, catalog), lit(false))
      case FilterH(f)        =>
        Compilers.filterCol(resolveLookupsInFilter(f, spark, catalog), schema)
    }
  }

  // -- topN (reference `query/query-module-overview.md:24,51-53`) -----------
  //
  // Computed EXACTLY (groupBy + rank) by default — a documented superset of
  // Druid's per-segment approximate topN (SURVEY §2.1 Q2). Context
  // `approxTopN=true` opts into Druid's native approximation: every input
  // partition (the pseudo-segment) aggregates and ranks LOCALLY, keeps its
  // top max(minTopNThreshold, threshold) entries (Druid's minTopNThreshold,
  // default 1000), and only the survivors' partial aggregates merge — a
  // dimension value outside some partition's local top loses that
  // partition's contribution, so merged metrics can under-count and ranks
  // near the cut can flip (the documented Druid trade for never shuffling
  // the full dimension space at 100×-scale). Restricted to mergeable
  // aggregators (count/sum/min/max — partials of first/last/sketches don't
  // merge by re-aggregation); others fall back to exact.

  private def planTopN(spark: SparkSession, q: Query.TopN, catalog: Catalog): DataFrame = {
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base0 = filtered(spark, catalog, src, q.intervals, q.filter)
    val (base1, specs1) = applyRegisteredLookups(spark, base0, Seq(q.dimension), catalog)
    val (base, dimCols) = explodeMultiValue(base1, specs1, base1.schema)
    val dimOut = q.dimension.outputName

    val aggs = q.aggregations.map(a =>
      Compilers.aggCol(a, base.schema, rollupCountOf(q.dataSource, catalog)))
    require(aggs.nonEmpty, "topN requires at least one aggregation")
    val bucketOpt = Compilers.granularityCol(q.granularity, col(TimeColumn))
    val groupCols = bucketOpt.map(_.as(TimeColumn)).toSeq ++ dimCols

    def isMergeable(a: Aggregator): Boolean = a match {
      case _: Aggregator.Count | _: Aggregator.Sum |
           _: Aggregator.Min | _: Aggregator.Max => true
      case f: Aggregator.Filtered => isMergeable(f.aggregator)
      case _ => false
    }
    val approx = q.context.get("approxTopN").exists(_.toBoolean) &&
      q.aggregations.forall(isMergeable)

    val agged =
      if (!approx) base.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
      else {
        val perSegLimit = math.max(q.threshold,
          q.context.get("minTopNThreshold").flatMap(_.toIntOption).getOrElse(1000))
        val partial = base.withColumn("__seg", spark_partition_id())
          .groupBy(col("__seg") +: groupCols: _*).agg(aggs.head, aggs.tail: _*)
        // local rank per (pseudo-segment, bucket) over the partial metric —
        // post-aggs computed on partials for ranking only, like Druid's
        // per-segment pass
        val segParts = col("__seg") +: bucketOpt.map(_ => col(TimeColumn)).toSeq
        val segW = Window.partitionBy(segParts: _*)
          .orderBy(topNRanking(q.metric, dimOut): _*)
        val kept = withPostAggs(partial, q.postAggregations)
          .withColumn("__segrank", row_number().over(segW))
          .where(col("__segrank") <= perSegLimit)
        // merge ONLY the surviving partials: count→sum, sum→sum, min/max keep
        val keptSchema = kept.schema
        def mergeCol(a: Aggregator): Column = {
          val n = a.name
          val t = keptSchema(n).dataType
          a match {
            case _: Aggregator.Count => sum(col(n)).cast(t).as(n)
            case _: Aggregator.Sum => sum(col(n)).cast(t).as(n)
            case _: Aggregator.Min => min(col(n)).as(n)
            case _: Aggregator.Max => max(col(n)).as(n)
            case f: Aggregator.Filtered => f.aggregator match {
              case _: Aggregator.Min => min(col(n)).as(n)
              case _: Aggregator.Max => max(col(n)).as(n)
              case _ => sum(col(n)).cast(t).as(n)
            }
            case other => throw new IllegalStateException(
              s"non-mergeable aggregator ${other.name} in approx topN")
          }
        }
        val mergeCols = q.aggregations.map(mergeCol)
        val mergeKeys = bucketOpt.map(_ => col(TimeColumn)).toSeq :+ col(dimOut)
        kept.groupBy(mergeKeys: _*).agg(mergeCols.head, mergeCols.tail: _*)
      }
    val posted = withPostAggs(agged, q.postAggregations)

    val ranking = topNRanking(q.metric, dimOut)

    bucketOpt match {
      case None =>
        // granularity 'all' → global top-K: TakeOrderedAndProject, no window
        val start = q.intervals.headOption.map(_.start).getOrElse(Instant.EPOCH)
        posted.orderBy(ranking: _*)
          .limit(q.threshold)
          .withColumn(TimeColumn, lit(Timestamp.from(start)))
      case Some(_) =>
        val w = Window.partitionBy(col(TimeColumn)).orderBy(ranking: _*)
        posted.withColumn("__rank", row_number().over(w))
          .where(col("__rank") <= q.threshold)
          .drop("__rank")
          .orderBy(col(TimeColumn).asc +: ranking: _*)
    }
  }

  /** A topN bucket's rank order: the metric spec's key, then the dimension
    * ascending — total within a bucket. */
  private[graft] def topNRanking(m: TopNMetricSpec, dimOut: String): Seq[Column] = {
    val (k, desc) = topNOrder(m, dimOut)
    Seq(if (desc) k.desc else k.asc, col(dimOut).asc)
  }

  /** (ranking key, descending?) for a topN metric spec. */
  private def topNOrder(m: TopNMetricSpec, dimOut: String): (Column, Boolean) = m match {
    case TopNMetricSpec.Numeric(metric)  => (col(metric), true)
    case TopNMetricSpec.Lexicographic(_) => (col(dimOut), false)
    case TopNMetricSpec.Alphanumeric(_)  =>
      (Compilers.orderingCol("alphanumeric", col(dimOut)), false)
    case TopNMetricSpec.Inverted(delegate) =>
      val (k, desc) = topNOrder(delegate, dimOut)
      (k, !desc)
  }

  // -- timeBoundary ---------------------------------------------------------

  /** UTC day interval of a `yyyy-MM-dd` manifest chunk (the manifest's
    * chunk-naming contract; the engine's `SegmentResultCache.chunkInterval`
    * is the same conversion on its side of the layer boundary). */
  private def chunkDayInterval(chunk: String): Interval = {
    val s = java.time.LocalDate.parse(chunk)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    Interval(s, s.plus(java.time.Duration.ofDays(1)))
  }

  /** NOTE: unlike every other planner, the FILTERED probe branch below
    * executes bounded Spark jobs EAGERLY at plan time (it must observe
    * per-chunk emptiness to stop early) — timeBoundary is a metadata-style
    * query and this mirrors Druid answering it from the segment timeline
    * rather than a data scan. `Engine.plan` on a filtered timeBoundary
    * therefore runs those probe jobs. */
  private def planTimeBoundary(spark: SparkSession, q: Query.TimeBoundary, catalog: Catalog)
      : DataFrame = {
    // UNFILTERED timeBoundary over a segment timeline: chunks partition BY
    // __time, so the global min lives in the earliest non-empty chunk and
    // the global max in the latest — scan those one/two chunks, not the
    // datasource (Druid answers timeBoundary from segment metadata for the
    // same reason; at 100 TB this is 2 chunks instead of every chunk).
    // A filter can empty any chunk, so filtered queries take the full scan.
    val pruned: Option[DataFrame] = q.dataSource match {
      case DataSource.Table(name) if q.filter.isEmpty =>
        val live = catalog.segmentInfos(name).filter(_._3 > 0L)
        if (live.isEmpty) None
        else {
          val first = live.map(_._1).min
          val last = live.map(_._1).max
          def minDf = source(spark, q.dataSource, catalog,
              Seq(chunkDayInterval(first)))
            .agg(min(col(TimeColumn)).as("minTime"))
          def maxDf = source(spark, q.dataSource, catalog,
              Seq(chunkDayInterval(last)))
            .agg(max(col(TimeColumn)).as("maxTime"))
          Some(q.bound match {
            case "minTime" => minDf
            case "maxTime" => maxDf
            case _         => minDf.crossJoin(maxDf)
          })
        }
      // FILTERED timeBoundary: chunks partition by __time, so the filtered
      // min lives in the EARLIEST chunk containing any matching row (dually
      // for max) — probe chunks from each end in manifest order and stop at
      // the first batch with a match, instead of scanning the datasource
      // (the same segment-routing argument as the unfiltered prune; Druid
      // routes timeBoundary by segment timeline, reference
      // `query/query-internal-procedure.md:7`). Batches grow exponentially
      // (1, 2, 4, ...), so the dashboard-typical case is O(1) chunks and
      // the nothing-matches worst case is log(N) jobs over ~2N chunk scans
      // — never N tiny per-chunk jobs. The probe executes EAGERLY at plan
      // time (under the caller's job group/tag, so cancellation applies)
      // and returns a local one-row relation.
      case DataSource.Table(name) =>
        val live = catalog.segmentInfos(name).filter(_._3 > 0L)
          .map(_._1).distinct.sorted
        if (live.isEmpty) None
        else {
          def probe(chunks: Seq[String], isMin: Boolean): Any = {
            var idx = 0
            var batch = 1
            while (idx < chunks.length) {
              val ivs = chunks.slice(idx,
                math.min(idx + batch, chunks.length)).map(chunkDayInterval)
              val base = filtered(spark, catalog,
                source(spark, q.dataSource, catalog, ivs), ivs, q.filter)
              val agg = if (isMin) min(col(TimeColumn)) else max(col(TimeColumn))
              base.agg(agg.as("t")).collect()(0).get(0) match {
                case null              =>
                case t: Timestamp      => return t
                case i: Instant        => return Timestamp.from(i)
                case other => throw new IllegalStateException(
                  s"unexpected __time bound value: $other")
              }
              idx += batch
              batch <<= 1
            }
            null // filter matched nothing: same null bounds as a full scan
          }
          val minV = if (q.bound != "maxTime") probe(live, isMin = true) else null
          val maxV = if (q.bound != "minTime") probe(live.reverse, isMin = false) else null
          val (row, fields) = q.bound match {
            case "minTime" => (Row(minV), Seq("minTime"))
            case "maxTime" => (Row(maxV), Seq("maxTime"))
            case _         => (Row(minV, maxV), Seq("minTime", "maxTime"))
          }
          Some(spark.createDataFrame(Seq(row).asJava,
            StructType(fields.map(f =>
              StructField(f, TimestampType, nullable = true)))))
        }
      case _ => None
    }
    pruned.getOrElse {
      val src = source(spark, q.dataSource, catalog)
      val base = filtered(spark, catalog, src, Seq.empty, q.filter)
      q.bound match {
        case "minTime" => base.agg(min(col(TimeColumn)).as("minTime"))
        case "maxTime" => base.agg(max(col(TimeColumn)).as("maxTime"))
        case _ => base.agg(min(col(TimeColumn)).as("minTime"),
          max(col(TimeColumn)).as("maxTime"))
      }
    }
  }

  // -- segmentMetadata ------------------------------------------------------

  private def planSegmentMetadata(spark: SparkSession, q: Query.SegmentMetadata,
      catalog: Catalog): DataFrame = {
    // merge=false over a segment-timeline datasource → one row per segment
    // (Druid's per-segment analysis; reference query/query-module-overview.md:29-30)
    q.dataSource match {
      case DataSource.Table(name) if !q.merge =>
        // interval routing applies here too: Druid's per-segment analysis
        // covers only segments overlapping the query intervals
        val infos = catalog.segmentInfos(name).filter { case (chunk, _, _) =>
          q.intervals.isEmpty || {
            val dayStart = java.time.LocalDate.parse(chunk)
              .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
            val dayEnd = dayStart.plus(java.time.Duration.ofDays(1))
            q.intervals.exists(iv => iv.start.isBefore(dayEnd) && dayStart.isBefore(iv.end))
          }
        }
        if (infos.nonEmpty) {
          import spark.implicits._
          return infos.toDF("segment_id", "version", "rows")
        }
      case _ =>
    }
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base = if (q.intervals.nonEmpty) filtered(spark, catalog, src, q.intervals, None) else src
    val wantCardinality = q.analysisTypes.isEmpty || q.analysisTypes.contains("cardinality") ||
      q.analysisTypes.contains("exactCardinality") || q.analysisTypes.contains("approxCardinality")
    // Druid's segmentMetadata `cardinality` is EXACT (dictionary
    // cardinality), so exact is the default — computed via a single scan of
    // (column, value) pairs, no Catalyst Expand, two signature-light
    // shuffles. `analysisTypes:["approxCardinality"]` opts into the cheaper
    // one-pass HLL++ estimate (no Expand either) for wide 100-TB tables;
    // the estimate is clearly requested, never silently substituted.
    val exact = !q.analysisTypes.contains("approxCardinality")
    val nonTime = src.schema.fields.toSeq.filterNot(_.name == TimeColumn)

    if (exact && wantCardinality) {
      // complex types go through to_json: a plain string cast renders
      // ["a, b"] and ["a","b"] identically and would undercount
      def valueOf(f: StructField): Column = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
        case _ => col(f.name).cast(StringType)
      }
      val pairs = base
        .select(explode(array(nonTime.map(f =>
          struct(lit(f.name).as("column"),
            valueOf(f).as("value"))): _*)).as("p"))
        .select(col("p.column").as("column"), col("p.value").as("value"))
      val cards = pairs.where(col("value").isNotNull).distinct()
        .groupBy("column").agg(count(lit(1)).as("cardinality"))
      // spine guarantees a row per column even when it is all-null
      val spine = base.agg(count(lit(1)).as("rows"))
        .select(col("rows"), explode(array(nonTime.map(f =>
          struct(lit(f.name).as("column"),
            lit(f.dataType.simpleString).as("type"))): _*)).as("c"))
        .select(col("c.column").as("column"), col("c.type").as("type"), col("rows"))
      spine.join(cards, Seq("column"), "left")
        .select(col("column"), col("type"),
          coalesce(col("cardinality"), lit(0L)).as("cardinality"), col("rows"))
    } else {
      val aggCols: Seq[Column] =
        count(lit(1)).as("__rows") +:
        nonTime.map { f =>
          if (wantCardinality) approx_count_distinct(col(f.name)).as(s"card_${f.name}")
          else lit(null).cast(LongType).as(s"card_${f.name}")
        }
      val one = base.agg(aggCols.head, aggCols.tail: _*)
      // one row per column: (column, type, cardinality, rows)
      val stacked = nonTime.map { f =>
        struct(lit(f.name).as("column"), lit(f.dataType.simpleString).as("type"),
          col(s"card_${f.name}").as("cardinality"), col("__rows").as("rows"))
      }
      one.select(explode(array(stacked: _*)).as("c"))
        .select(col("c.column"), col("c.type"), col("c.cardinality"), col("c.rows"))
    }
  }

  // -- dataSourceMetadata ---------------------------------------------------

  private def planDataSourceMetadata(spark: SparkSession, q: Query.DataSourceMetadata,
      catalog: Catalog): DataFrame = {
    // same chunk pruning as the unfiltered timeBoundary: max __time lives
    // in the LATEST non-empty chunk — one chunk's scan, not the datasource
    val prunedSrc = q.dataSource match {
      case DataSource.Table(name) =>
        val live = catalog.segmentInfos(name).filter(_._3 > 0L)
        if (live.isEmpty) None
        else {
          val s = java.time.LocalDate.parse(live.map(_._1).max)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
          Some(source(spark, q.dataSource, catalog,
            Seq(Interval(s, s.plus(java.time.Duration.ofDays(1))))))
        }
      case _ => None
    }
    prunedSrc.getOrElse(source(spark, q.dataSource, catalog))
      .agg(max(col(TimeColumn)).as("maxIngestedEventTime"))
  }

  // -- search (reference `query/query-module-overview.md:32-33`) ------------

  private def planSearch(spark: SparkSession, q: Query.SearchQ, catalog: Catalog)
      : DataFrame = {
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base = filtered(spark, catalog, src, q.intervals, q.filter)
    val dims =
      if (q.searchDimensions.nonEmpty) q.searchDimensions
      else src.schema.fields.collect {
        case f if f.dataType == StringType && f.name != TimeColumn => f.name
      }.toSeq

    // per-granularity-bucket results when granularity != all
    val bucketOpt = Compilers.granularityCol(q.granularity, col(TimeColumn))

    // Single scan for all searched dimensions: explode (dimension, values)
    // structs, then one grouped count — N separate scans + unionAll would
    // read the source once per dimension (and by default every string
    // column is searched).
    val dimStructs = dims.map { d =>
      val isArray = src.schema.fields.exists(f =>
        f.name == d && f.dataType.isInstanceOf[ArrayType])
      val values =
        if (isArray) col(d).cast(ArrayType(StringType))
        else array(col(d).cast(StringType))
      struct(lit(d).as("dimension"), values.as("values"))
    }
    val keyCols = bucketOpt.map(_.as(TimeColumn)).toSeq
    val exploded = base
      .select(keyCols :+ explode(array(dimStructs: _*)).as("dv"): _*)
      .select((bucketOpt.map(_ => col(TimeColumn)).toSeq :+
        col("dv.dimension").as("dimension")) :+ explode(col("dv.values")).as("value"): _*)
      .where(Compilers.searchMatch(q.query, col("value")))
    val groupKeys = bucketOpt.map(_ => col(TimeColumn)).toSeq ++
      Seq(col("dimension"), col("value"))
    val counted = exploded.groupBy(groupKeys: _*).agg(count(lit(1)).as("count"))
    val unioned = bucketOpt match {
      case Some(_) => counted.select(col(TimeColumn), col("dimension"),
        col("value"), col("count"))
      case None => counted.select(col("dimension"), col("value"), col("count"))
    }
    val bucketPrefix = bucketOpt.map(_ => col(TimeColumn).asc).toSeq
    val sorted = q.sort match {
      case "count" => unioned.orderBy(bucketPrefix ++ Seq(col("count").desc,
        col("dimension").asc, col("value").asc): _*)
      case "strlen" => unioned.orderBy(bucketPrefix ++ Seq(length(col("value")).asc,
        col("value").asc, col("dimension").asc): _*)
      case "alphanumeric" => unioned.orderBy(bucketPrefix ++ Seq(
        Compilers.orderingCol("alphanumeric", col("value")).asc, col("dimension").asc): _*)
      case _ => unioned.orderBy(bucketPrefix ++ Seq(col("dimension").asc,
        col("value").asc): _*)
    }
    sorted.limit(q.limit)
  }

  // -- select (paged raw rows; reference `query/query-module-overview.md:36`)

  /** Keyset cursor key prefix in pagingIdentifiers: `t:<epochMicros> -> k`
    * means "k rows at exactly that __time have been consumed". Mirrors
    * Druid's `{segmentId: offset}` shape (identifier names a position in
    * time, value is an offset within it) without requiring segment ids.
    * Shared with ResultEncoder — planner and encoder must speak the SAME
    * cursor protocol. */
  val CursorKeyPrefix = "t:"

  /** Cursor key for a page ending at the given __time (epoch micros). */
  def cursorKey(epochMicros: Long): String = CursorKeyPrefix + epochMicros

  /** Parse a keyset cursor out of pagingIdentifiers, if present. Values
    * are read by MAGNITUDE: a client echoing the opt-in Druid-shaped
    * negative descending offsets (context `druidNegativePagingIdentifiers`)
    * resumes identically to the native positive shape. */
  def selectCursor(pagingIdentifiers: Map[String, Int]): Option[(Long, Int)] =
    pagingIdentifiers.collectFirst {
      case (k, v) if k.startsWith(CursorKeyPrefix) =>
        (k.stripPrefix(CursorKeyPrefix).toLong, math.abs(v))
    }

  /** Druid-client compat shim for per-segment `{segmentId: offset}` paging
    * (reference `query/query-module-overview.md:36`): SegmentStore-backed
    * datasources accept and emit Druid-shaped segment identifiers
    * (`ds_<chunkStart>_<chunkEnd>_v<N>` over day chunks), translated to the
    * keyset cursor internally — the cursor machinery already implements
    * "skip k result rows from a time lower bound", which is exactly
    * per-segment offset resumption when the bound is the segment start.
    * Documented deviation: descending offsets are positive consumed-row
    * counts (Druid 0.12 uses negative offsets for descending selects);
    * negative values are accepted and read as their magnitude. */
  object SegmentPaging {
    private val IdRe =
      """^(.+)_(\d{4}-\d{2}-\d{2})T00:00:00\.000Z_(\d{4}-\d{2}-\d{2})T00:00:00\.000Z_v(\d+)$""".r

    def isSegmentKey(k: String): Boolean = IdRe.findFirstIn(k).isDefined

    /** Druid-shaped id for a day chunk. */
    def segmentId(ds: String, chunk: String, version: Int): String = {
      val next = java.time.LocalDate.parse(chunk).plusDays(1)
      s"${ds}_${chunk}T00:00:00.000Z_${next}T00:00:00.000Z_v$version"
    }

    /** Day-chunk string (yyyy-MM-dd, UTC) for an epoch-micros timestamp. */
    def chunkOf(epochMicros: Long): String =
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(epochMicros, 1000000L), 0)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

    /** Translate segment-shaped identifiers to an internal (epochMicros,
      * skip) cursor: resume from the direction-extreme segment (later
      * segments for ascending, earlier for descending are not yet read),
      * skipping its consumed rows. */
    def parse(ids: Map[String, Int], descending: Boolean): Option[(Long, Int)] = {
      val parsed = ids.toSeq.collect {
        case (IdRe(_, start, end, _), off) =>
          val startUs = java.time.LocalDate.parse(start)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
          val endUs = java.time.LocalDate.parse(end)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000L
          (startUs, endUs, math.abs(off))
      }
      if (parsed.isEmpty) None
      else if (!descending) {
        val (startUs, _, off) = parsed.maxBy(_._1)
        Some((startUs, off))
      } else {
        // descending pages move toward older rows: resume inside the
        // EARLIEST segment seen, from its end (exclusive) downward
        val (_, endUs, off) = parsed.minBy(_._1)
        Some((endUs - 1L, off))
      }
    }
  }

  private def planSelect(spark: SparkSession, q: Query.Select, catalog: Catalog)
      : DataFrame = {
    // Keyset paging: the cursor timestamp NARROWS the query intervals, so the
    // bound reaches the parquet scan as a pushed range predicate (row-group
    // min/max pruning via the catalog's raw-column interval routing). Page
    // cost is then O(remaining data), not O(pages-read × full sort) — the
    // offset skips only the rows already consumed at exactly the cursor
    // timestamp (bounded by rows-per-timestamp, not by pages read).
    val cursor = selectCursor(q.pagingSpec.pagingIdentifiers)
      .orElse(SegmentPaging.parse(q.pagingSpec.pagingIdentifiers, q.descending))
    // a query with NO intervals still needs the cursor bound applied, or
    // every page would restart from the beginning and never terminate —
    // synthesize a wide interval around the cursor (bounds chosen to stay
    // inside the raw-nanos routing's Long range)
    val baseIntervals =
      if (q.intervals.nonEmpty || cursor.isEmpty) q.intervals
      else Seq(Interval(Instant.parse("1900-01-01T00:00:00Z"),
        Instant.parse("2200-01-01T00:00:00Z")))
    val intervals = cursor match {
      case Some((us, _)) =>
        val t = Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
        if (!q.descending)
          baseIntervals.collect { case iv if iv.end.isAfter(t) =>
            Interval(if (iv.start.isAfter(t)) iv.start else t, iv.end) }
        else {
          val endEx = t.plusNanos(1000L) // [start, t] inclusive of the cursor µs
          baseIntervals.collect { case iv if iv.start.isBefore(endEx) =>
            Interval(iv.start, if (iv.end.isBefore(endEx)) iv.end else endEx) }
        }
      case None => q.intervals
    }
    // a cursor at/past the end of every interval leaves nothing to read —
    // empty intervals must NOT fall through to an unrouted full-table scan
    val exhausted = cursor.isDefined && intervals.isEmpty
    val src = source(spark, q.dataSource, catalog, intervals)
    val base0 = filtered(spark, catalog, src, intervals, q.filter)
    val base = if (exhausted) base0.where(lit(false)) else base0
    val cols: Seq[String] =
      if (q.dimensions.isEmpty && q.metrics.isEmpty)
        src.columns.toSeq
      else (TimeColumn +: (q.dimensions ++ q.metrics)).distinct
    val projected = base.select(cols.map(col): _*)
    // Deterministic global order: __time + every projected column as tiebreak
    // (stable cursors need deterministic ordering, SURVEY §7.3.6).
    val timeOrder = if (q.descending) col(TimeColumn).desc else col(TimeColumn).asc
    val tiebreaks = cols.filterNot(_ == TimeColumn).map(col(_).asc)
    // Legacy `{"offset": n}` identifiers keep the global-offset behavior.
    // Read by MAGNITUDE: with druidNegativePagingIdentifiers=true the
    // encoder echoes Druid 0.12's NEGATIVE descending offsets, and a
    // legacy client round-trips them verbatim — abs() keeps that page
    // resumable instead of feeding Dataset.offset() a negative skip.
    val skip = cursor.map(_._2).getOrElse(
      if (q.pagingSpec.pagingIdentifiers.isEmpty) 0
      else q.pagingSpec.pagingIdentifiers.values.map(math.abs).max)
    // orderBy + offset + limit fuses into TakeOrderedAndProject (per-partition
    // top-(skip+threshold), driver merge) — no global sort exchange.
    projected.orderBy(timeOrder +: tiebreaks: _*)
      .offset(skip)
      .limit(q.pagingSpec.threshold)
  }

  // -- scan (reference `query/query-module-overview.md:37`) -----------------

  private def planScan(spark: SparkSession, q: Query.Scan, catalog: Catalog): DataFrame = {
    val src = source(spark, q.dataSource, catalog, q.intervals)
    val base = filtered(spark, catalog, src, q.intervals, q.filter)
    val projected =
      if (q.columns.isEmpty) base else base.select(q.columns.map(col): _*)
    val ordered = q.order match {
      case "ascending"  => projected.orderBy(col(TimeColumn).asc)
      case "descending" => projected.orderBy(col(TimeColumn).desc)
      case _            => projected
    }
    q.limit match {
      // clamp: clients send Long.MAX_VALUE as "no limit" (ScanQuery's
      // serialized default) and a raw toInt would truncate — to -1
      // (AnalysisException) or, worse, to a small positive row count
      case Some(n) if n >= Int.MaxValue.toLong => ordered
      case Some(n) => ordered.limit(n.toInt)
      case None    => ordered
    }
  }
}
