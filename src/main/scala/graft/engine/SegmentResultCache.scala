package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model._
import graft.sources.Catalog

/** Per-(segment, query) result-cache decomposition — the Druid historical
  * cache brought to the Spark engine (reference
  * `query/query-internal-procedure.md:43-47`, `TOC.md:39,53`; SURVEY §2.12's
  * declared phase-2 item): a whole-query cache keyed on ALL segment versions
  * misses entirely whenever any chunk changes, so a dashboard query over a
  * moving time window recomputes everything each time the hot chunk
  * advances. Caching per (query-sans-intervals, chunk, chunk version)
  * instead keeps every CLOSED chunk's slice warm — only the advancing
  * chunk recomputes.
  *
  * The decomposition is sound exactly when every result row belongs to ONE
  * day chunk, i.e. when the granularity's buckets nest inside UTC day
  * chunks ([[nestsInDayChunk]] — second..day simple units, day-dividing
  * epoch-anchored durations, unanchored UTC time periods). Then a
  * timeseries/topN/groupBy over intervals I equals the concatenation of
  * the same query over I ∩ chunk for each manifest chunk, in chunk order:
  * aggregates never straddle chunks (bucket ⊆ chunk), the zero-fill spine
  * decomposes because it is already intersected with the segment timeline
  * (the planner's segment-gap skip), and topN's per-bucket ranking is
  * chunk-local. Whole-interval shapes (granularity `all`,
  * week/month/quarter/year, origin-anchored periods) and cross-bucket
  * postprocessing (groupBy limitSpec, context maxResults) do NOT decompose
  * and fall back to the whole-query cache — Druid merges per-segment
  * PARTIAL aggregates at the broker to cover those; this engine prefers
  * the fallback over reimplementing every aggregator's merge.
  *
  * Fragments are the encoded per-chunk result arrays with the outer
  * brackets stripped, so the merge is pure string concatenation — no
  * decode, no driver-side re-aggregation, O(result) memory like the
  * buffered path it serves.
  */
object SegmentResultCache {

  /** One chunk's slice of a decomposed query: the sub-query (intervals
    * replaced by the chunk intersection) and its version-pinned cache key.
    * `token` is the chunk's full manifest state — EVERY (version, rowCount)
    * entry for the chunk, not just the max version: an append can add a
    * segment to a chunk without bumping the version int, and a key blind
    * to row counts would serve the pre-append fragment (caught by
    * EngineSpec's write-invalidation test on the first cut of this file). */
  final case class ChunkSlice(chunk: String, token: String, subQuery: Query,
      key: String)

  private val mapper = new ObjectMapper()

  /** UTC day interval of a `yyyy-MM-dd` manifest chunk. */
  def chunkInterval(chunk: String): Interval = {
    val start = java.time.LocalDate.parse(chunk)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    Interval(start, start.plus(1, java.time.temporal.ChronoUnit.DAYS))
  }

  /** Whether every bucket of `g` lies inside one UTC day chunk (bucket
    * boundaries align with day boundaries): the decomposability condition.
    * Conservative by construction — anything not provably nested falls
    * back to the whole-query cache. */
  def nestsInDayChunk(g: Granularity): Boolean = g match {
    case Granularity.Simple(u) =>
      Set("second", "minute", "fifteen_minute", "thirty_minute",
        "hour", "day").contains(u)
    case Granularity.Duration(ms, None) => ms > 0 && 86400000L % ms == 0
    case Granularity.Period(p, tz, None)
        if tz.forall(z => z == "UTC" || z == "Etc/UTC") =>
      Set("PT1S", "PT1M", "PT1H", "P1D").contains(p)
    case _ => false
  }

  /** Whether the PARTIAL-aggregate decomposition covers granularity `g`
    * with DAY fragments alone: UTC day chunks nest inside every bucket
    * (the inverse of [[nestsInDayChunk]]'s condition), so per-chunk
    * day-granularity partial aggregates merge losslessly into `g`'s
    * buckets at serve time — Druid's broker partial-merge model (reference
    * `arch/druid-arch.md:38-40`, `query/query-internal-procedure.md:7`).
    * Origin-anchored periods and non-UTC timezones can place bucket
    * boundaries mid-day — those take the [[hourCandidate]] path, which
    * decomposes BOUNDARY chunks at hour granularity. */
  def dayNestsInBucket(g: Granularity): Boolean = g match {
    case Granularity.All => true
    // `day` itself nests trivially (bucket == chunk): it normally takes the
    // nesting path first, but shapes the nesting path refuses (groupBy
    // limitSpec/having, topN week-equivalents) reach here and decompose as
    // day partials + a serve-time evaluation
    case Granularity.Simple(u) =>
      Set("day", "week", "month", "quarter", "year").contains(u)
    case Granularity.Duration(ms, None) => ms > 0 && ms % 86400000L == 0
    case Granularity.Period(p, tz, None)
        if tz.forall(z => z == "UTC" || z == "Etc/UTC") =>
      Set("P1D", "P1W", "P1M", "P3M", "P1Y").contains(p)
    case _ => false
  }

  private val monthP = "P(\\d+)M".r
  private val yearP = "P(\\d+)Y".r

  /** Granularities outside [[dayNestsInBucket]] whose bucket boundaries
    * can still fall on whole UTC hours — non-UTC timezones (every named
    * zone with a whole-hour offset), origin-anchored periods, hour-multiple
    * durations. The reference's own period-granularity example is exactly
    * this shape (`query/query-module-overview.md:44`, a P1D dashboard in a
    * named timezone). Candidates are verified PER CHUNK by the boundary
    * walk in [[decomposePartial]]: a chunk whose internal bucket boundary
    * is off the hour grid (a :30/:45-offset zone, a mid-hour origin) makes
    * the whole decomposition fall back — conservative, never wrong. The
    * step must be ≥ 1 hour so the walk is bounded (≤ 24 internal
    * boundaries per UTC day chunk). */
  def hourCandidate(g: Granularity): Boolean = g match {
    // hourly itself: nests in day chunks for the NESTING path, but shapes
    // that path refuses (groupBy limitSpec/having, topN) decompose here as
    // hour partials + serve-time evaluation
    case Granularity.Simple("hour") => true
    case Granularity.Duration(ms, _) => ms > 0 && ms % 3600000L == 0
    case Granularity.Period(p, _, _) =>
      // fixedMs is 0 (→ reject) for anything periodMillis can't parse or a
      // ZERO-length period (P0D) — a degenerate shape must fall back to
      // the whole plan's own error, not divide the classify walk by zero.
      // periodMillis throws DateTimeParseException for bad PT strings and
      // IllegalArgumentException for calendar units, hence NonFatal.
      def fixedMs: Long =
        try graft.expr.Compilers.periodMillis(p)
        catch { case scala.util.control.NonFatal(_) => 0L }
      p match {
        case monthP(n) => n.toInt > 0
        case yearP(n)  => n.toInt > 0
        case _ if graft.expr.Compilers.isDayBasedPeriod(p) => fixedMs > 0
        case _ if p.startsWith("PT") => fixedMs > 0 && fixedMs % 3600000L == 0
        case _ => false
      }
    case _ => false
  }

  /** Whether `g` is on the partial-merge surface at all. */
  def partialBucketable(g: Granularity): Boolean =
    dayNestsInBucket(g) || hourCandidate(g)

  /** Classify one UTC day chunk against `g`'s bucket grid: Some("day")
    * when the chunk lies inside one bucket (its whole-day partial merges
    * directly), Some("hour") when bucket boundaries cross it AND every
    * internal boundary sits on a whole UTC hour (hour partials re-bucket
    * losslessly), None when a boundary is off the hour grid or the walk
    * misbehaves — the caller falls back to the whole-query plan. */
  private def classifyChunk(g: Granularity, chunk: Interval): Option[String] = {
    var b = graft.expr.Compilers.truncInstant(g, chunk.start)
    if (b.isAfter(chunk.start)) return None // trunc must not move forward
    var internal = false
    var steps = 0
    while (b.isBefore(chunk.end)) {
      if (steps > 26) return None // step >= 1h bounds a day walk at 25
      if (b.isAfter(chunk.start)) {
        if (b.toEpochMilli % 3600000L != 0) return None
        internal = true
      }
      val nb = graft.expr.Compilers.nextBucket(g, b)
      if (!nb.isAfter(b)) return None // no progress: misbehaving shape
      b = nb
      steps += 1
    }
    Some(if (internal) "hour" else "day")
  }

  /** Aggregators whose per-chunk partials re-aggregate losslessly
    * ([[PartialMerge]] merges them with the planner's own aggregate
    * compile): counts and sums add, min/min and max/max compose, filtered
    * defers to its inner aggregator, and first/last take the value at the
    * earliest/latest day with a non-null value — "value at the bucket's
    * max non-null timestamp" is the last non-null day value, because a
    * fragment row covers one day (or hour) of the bucket. hyperUnique and
    * cardinality merge as SKETCH partials: the day sub-query compiles them
    * to mergeable register bytes (`Compilers.aggCol(sketchPartial)` —
    * Druid's per-segment sketch partials, reference `TOC.md:47`), and the
    * serve-time merge unions registers (elementwise max — order-free) and
    * finalizes to the whole-plan-identical estimate. */
  def mergeableAgg(a: Aggregator): Boolean = a match {
    case _: Aggregator.Count | _: Aggregator.Sum |
         _: Aggregator.Min | _: Aggregator.Max |
         _: Aggregator.First | _: Aggregator.Last |
         _: Aggregator.HyperUnique | _: Aggregator.Cardinality => true
    case Aggregator.Filtered(_, inner) => mergeableAgg(inner)
    case _ => false
  }

  /** Post-aggregators [[PartialMerge]] can evaluate driver-side over the
    * MERGED aggregate values (post-aggs are not distributive — they must
    * run after the merge, exactly as Druid's broker finalizes after its
    * partial merge). `aggNames` bounds field accesses: a reference to
    * anything but a present aggregator falls back to the whole-query path,
    * which raises the planner's own (better) error. */
  def evaluablePostAgg(pa: PostAggregator, aggNames: Set[String]): Boolean =
    pa match {
      case PostAggregator.Arithmetic(_, fn, fields) =>
        Set("+", "-", "*", "/", "quotient").contains(fn) &&
          fields.forall(evaluablePostAgg(_, aggNames))
      case PostAggregator.FieldAccess(_, f) => aggNames.contains(f)
      case PostAggregator.FinalizingFieldAccess(_, f) => aggNames.contains(f)
      case _: PostAggregator.Constant => true
      case PostAggregator.GreatestLeast(_, _, _, fields) =>
        fields.forall(evaluablePostAgg(_, aggNames))
      case PostAggregator.HyperUniqueCardinality(_, f) => aggNames.contains(f)
      case _ => false
    }

  /** Having specs [[PartialMerge]] evaluates driver-side over merged rows
    * — Druid's broker applies having AFTER merging partials (reference
    * `query/query-internal-procedure.md:128-142`). The merge compiles the
    * spec with the planner's own `havingCol`, so its semantics are the
    * whole plan's by construction; a `FilterH` filter compiles against
    * the PLANNED aggregate schema (its typed literals need the exact
    * column types). Any filter over the query's own output columns
    * qualifies, except registeredLookup extractions (they resolve against
    * the catalog at plan time). */
  def evaluableHaving(h: HavingSpec, cols: Set[String]): Boolean = h match {
    // a name outside the query's own output columns falls back too — the
    // whole-query plan raises its (better) unresolved-column error there
    case HavingSpec.EqualTo(a, _)     => cols.contains(a)
    case HavingSpec.GreaterThan(a, _) => cols.contains(a)
    case HavingSpec.LessThan(a, _)    => cols.contains(a)
    case HavingSpec.DimSelector(d, _) => cols.contains(d)
    case HavingSpec.AndH(hs) => hs.forall(evaluableHaving(_, cols))
    case HavingSpec.OrH(hs)  => hs.forall(evaluableHaving(_, cols))
    case HavingSpec.NotH(s)  => evaluableHaving(s, cols)
    case HavingSpec.FilterH(f) => evaluableFilter(f, cols)
  }

  /** Whether a having spec holds a FilterH filter anywhere in its tree. */
  def hasFilterH(h: HavingSpec): Boolean = h match {
    case _: HavingSpec.FilterH => true
    case HavingSpec.AndH(hs)   => hs.exists(hasFilterH)
    case HavingSpec.OrH(hs)    => hs.exists(hasFilterH)
    case HavingSpec.NotH(h0)   => hasFilterH(h0)
    case _                     => false
  }

  /** Filters the serve-time FilterH evaluator covers: anything over the
    * query's own OUTPUT columns without a registeredLookup extraction.
    * Interval filters stay out (they address the time column, which the
    * aggregated row exposes only as the bucket). */
  def evaluableFilter(f: Filter, cols: Set[String]): Boolean = {
    import Filter._
    def exOk(e: Option[ExtractionFn]): Boolean = e.forall(noRegisteredLookup)
    f match {
      case Selector(d, _, ex)         => cols.contains(d) && exOk(ex)
      case In(d, _, ex)               => cols.contains(d) && exOk(ex)
      case Bound(d, _, _, _, _, _, ex) => cols.contains(d) && exOk(ex)
      case Like(d, _, _, ex)          => cols.contains(d) && exOk(ex)
      case Regex(d, _, ex)            => cols.contains(d) && exOk(ex)
      case Search(d, _, ex)           => cols.contains(d) && exOk(ex)
      case ColumnComparison(ds)       => ds.forall(cols.contains)
      case And(fs)                    => fs.forall(evaluableFilter(_, cols))
      case Or(fs)                     => fs.forall(evaluableFilter(_, cols))
      case Not(f0)                    => evaluableFilter(f0, cols)
      case True                       => true
      case _: IntervalF               => false
    }
  }

  private def noRegisteredLookup(e: ExtractionFn): Boolean = e match {
    case _: ExtractionFn.RegisteredLookup => false
    case ExtractionFn.Cascade(fns)        => fns.forall(noRegisteredLookup)
    case _                                => true
  }

  /** Whether a topN metric spec resolves against the query's own output
    * columns (anything else falls back, raising the planner's error). */
  def resolvableMetric(m: TopNMetricSpec, cols: Set[String]): Boolean = m match {
    case TopNMetricSpec.Numeric(metric)   => cols.contains(metric)
    case _: TopNMetricSpec.Lexicographic  => true
    case _: TopNMetricSpec.Alphanumeric   => true
    case TopNMetricSpec.Inverted(d)       => resolvableMetric(d, cols)
  }

  /** All output names (dimensions + aggregations + post-aggregations)
    * pairwise distinct. A collision makes the whole-query plan raise a
    * duplicate/ambiguous-column error, and the merge's fragment rows (JSON
    * objects keyed by name) would silently drop one of the colliding
    * fields — cache state must not change a query's outcome, so colliding
    * shapes fall back and raise the planner's own error (r14 advice). */
  private def distinctOutputNames(dims: Seq[String], aggs: Seq[Aggregator],
      postAggs: Seq[PostAggregator]): Boolean = {
    val names = dims ++ aggs.map(_.name) ++ postAggs.map(_.name)
    names.distinct.size == names.size
  }

  /** Conservative upper bound on the merged-bucket count the serve-time
    * spine materializes driver-side; far past any dashboard shape. */
  private val MaxPartialBuckets = 100000L

  private def minStepMillis(g: Granularity): Long = g match {
    case Granularity.Simple("hour") => 3600000L
    case Granularity.Simple("week") | Granularity.Period("P1W", _, _) =>
      7L * 86400000L
    case Granularity.Simple("month") | Granularity.Period("P1M", _, _) =>
      28L * 86400000L
    case Granularity.Simple("quarter") | Granularity.Period("P3M", _, _) =>
      89L * 86400000L
    case Granularity.Simple("year") | Granularity.Period("P1Y", _, _) =>
      365L * 86400000L
    case Granularity.Duration(ms, _) => ms
    case Granularity.Period(p, _, _) => p match {
      case monthP(n) => math.max(n.toLong, 1L) * 28L * 86400000L
      case yearP(n)  => math.max(n.toLong, 1L) * 365L * 86400000L
      case _ =>
        try math.max(graft.expr.Compilers.periodMillis(p), 1L)
        catch { case scala.util.control.NonFatal(_) => 86400000L }
    }
    case _ => 86400000L
  }

  /** Decompose a NON-nesting-granularity timeseries into per-chunk
    * PARTIAL slices (chunk-ascending), or None when the shape is outside
    * the partial-merge surface. Each slice's sub-query is the original
    * with granularity DAY — or HOUR for the boundary chunks of a
    * timezone/origin-anchored granularity ([[classifyChunk]]) — no
    * post-aggregations, ascending, skipEmptyBuckets forced on (empty
    * buckets contribute nothing to a merge, so fragments stay minimal),
    * and intervals ∩ chunk — the cached bytes are day/hour-level partial
    * aggregates, independent of the original's granularity / post-aggs /
    * direction / skipEmptyBuckets. The key's canonical
    * ([[canonicalPartialSansIntervals]]) drops exactly those fields, so a
    * dashboard switching month↔quarter↔year views, flipping sort
    * direction, editing post-aggregators — or switching between UTC and a
    * whole-hour timezone view — reuses every warm fragment the new shape
    * can still use. */
  def decomposePartial(json: String, query: Query, catalog: Catalog)
      : Option[Seq[ChunkSlice]] = {
    // (intervals, granularity, day-partial template) when the shape is on
    // the partial-merge surface. GroupBy has NO zero-fill spine and no
    // defined output order, so its merge needs neither the span bound nor
    // the coverage replica — just per-(bucket, dims) algebra. having /
    // limitSpec (groupBy) and threshold ranking (topN) are post-merge
    // evaluations over the merged rows — Druid's broker applies them AFTER
    // merging partials (reference `query/query-internal-procedure.md:
    // 128-142`) — so the templates STRIP them and [[PartialMerge]] applies
    // them at serve time; only context maxResults (a stream-truncation
    // resource cap) still falls back. The sketchPartials
    // context flag makes hyperUnique/cardinality compile to mergeable
    // register bytes instead of finalized estimates.
    val partialCtx = "graft.sketchPartials" -> "true"
    val parts: Option[(Seq[Interval], Granularity, Query)] = query match {
      case t: Query.Timeseries
          if partialBucketable(t.granularity) &&
            t.aggregations.nonEmpty && t.aggregations.forall(mergeableAgg) &&
            t.postAggregations.forall(evaluablePostAgg(_,
              t.aggregations.map(_.name).toSet)) &&
            distinctOutputNames(Seq.empty, t.aggregations, t.postAggregations) =>
        Some((t.intervals, t.granularity, t.copy(
          granularity = Granularity.Simple("day"),
          postAggregations = Seq.empty,
          descending = false,
          context = Map("skipEmptyBuckets" -> "true", partialCtx))))
      case g: Query.GroupBy
          if partialBucketable(g.granularity) &&
            g.aggregations.forall(mergeableAgg) &&
            g.postAggregations.forall(evaluablePostAgg(_,
              g.aggregations.map(_.name).toSet)) && {
              val outCols = (g.dimensions.map(_.outputName) ++
                g.aggregations.map(_.name) ++
                g.postAggregations.map(_.name)).toSet
              g.having.forall(evaluableHaving(_, outCols)) &&
                g.limitSpec.forall(ls =>
                  ls.columns.forall(c => outCols.contains(c.dimension)) &&
                    // a negative limit errors in the whole plan — fall
                    // back so the planner raises its own error
                    ls.limit.forall(_ >= 0) &&
                    // a BINDING limit with no ordering columns truncates an
                    // UNDEFINED order: the whole plan's .limit(n) keeps an
                    // arbitrary row subset, while the merge's deterministic
                    // (bucket, dims) prefix would keep a different one —
                    // cache state must not change the returned row SET, so
                    // the shape falls back (r14 advice)
                    (ls.columns.nonEmpty || ls.limit.isEmpty))
            } &&
            distinctOutputNames(g.dimensions.map(_.outputName),
              g.aggregations, g.postAggregations) &&
            !g.context.contains("maxResults") =>
        Some((g.intervals, g.granularity, g.copy(
          granularity = Granularity.Simple("day"),
          postAggregations = Seq.empty,
          having = None, limitSpec = None,
          context = Map(partialCtx))))
      case t: Query.TopN
          if partialBucketable(t.granularity) &&
            // threshold <= 0 yields zero ROWS in the whole plan (buckets
            // absent), not empty per-bucket arrays — not merge-expressible
            t.threshold > 0 &&
            t.aggregations.nonEmpty && t.aggregations.forall(mergeableAgg) &&
            t.postAggregations.forall(evaluablePostAgg(_,
              t.aggregations.map(_.name).toSet)) &&
            resolvableMetric(t.metric,
              (t.aggregations.map(_.name) ++
                t.postAggregations.map(_.name)).toSet) &&
            distinctOutputNames(Seq(t.dimension.outputName),
              t.aggregations, t.postAggregations) &&
            !t.context.get("approxTopN").exists(_.toBoolean) =>
        // topN day partials ARE a groupBy over the dimension: per-bucket
        // ranking needs every dimension value's FULL bucket aggregate, so
        // the fragment is the raw per-(day, dim) partial and the rank/
        // threshold cut happens after the serve-time merge (exactly the
        // default-exact topN plan's shape, `QueryPlanner.planTopN`)
        Some((t.intervals, t.granularity, Query.GroupBy(
          dataSource = t.dataSource, intervals = t.intervals,
          granularity = Granularity.Simple("day"),
          dimensions = Seq(t.dimension), filter = t.filter,
          aggregations = t.aggregations, postAggregations = Seq.empty,
          having = None, limitSpec = None,
          context = Map(partialCtx))))
      case _ => return None
    }
    val (intervals, granularity, template) = parts.get
    if (intervals.isEmpty) return None
    // bound the serve-time driver-side bucket enumeration: the whole-query
    // timeseries plan builds fixed-step spines on executors, so a
    // pathologically wide window must fall back rather than trade an
    // executor spine for a driver one (groupBy has no spine but the bound
    // is harmless there)
    val spanMs = intervals.map(iv =>
      math.max(0L, iv.end.toEpochMilli - iv.start.toEpochMilli)).sum
    if (spanMs / minStepMillis(granularity) > MaxPartialBuckets) return None
    val name = query.dataSource match {
      case DataSource.Table(n) => n
      case _ => return None
    }
    val infos = catalog.segmentInfos(name)
    if (infos.isEmpty) return None
    val tokenByChunk = infos.groupBy(_._1).view
      .mapValues(_.map(i => s"v${i._2}:${i._3}").mkString(",")).toMap
    val canon = canonicalPartialSansIntervals(json)
    // Per-chunk fragment granularity: a chunk INSIDE one bucket contributes
    // its whole-day partial; a chunk bucket boundaries cross contributes
    // HOUR partials (verified hour-aligned — [[classifyChunk]]), which the
    // serve-time merge re-buckets by `Compilers.truncInstant` exactly like
    // day rows. The fragment key carries the fragment granularity but NOT
    // the query granularity, so fragments stay shared across views: a
    // month and a quarter dashboard in the same timezone share every
    // interior day fragment AND every boundary hour fragment (quarter
    // boundaries are month boundaries).
    val dayNests = dayNestsInBucket(granularity)
    val hourTemplate = withGranularity(template, Granularity.Simple("hour"))
    val slices = tokenByChunk.keys.toSeq.sorted.flatMap { chunk =>
      val sub = intersect(intervals, chunkInterval(chunk))
      if (sub.isEmpty) None
      else {
        val pgran =
          if (dayNests) "day"
          else classifyChunk(granularity, chunkInterval(chunk)) match {
            case Some(p) => p
            case None => return None // off-hour-grid boundary: whole plan
          }
        val token = tokenByChunk(chunk)
        val tmpl = if (pgran == "day") template else hourTemplate
        Some(ChunkSlice(chunk, token, withIntervals(tmpl, sub),
          fragmentKey(canon, name, chunk, token, sub, pgran)))
      }
    }
    if (slices.isEmpty) None else Some(slices)
  }

  private def withGranularity(q: Query, g: Granularity): Query = q match {
    case t: Query.Timeseries => t.copy(granularity = g)
    case gq: Query.GroupBy   => gq.copy(granularity = g)
    case t: Query.TopN       => t.copy(granularity = g)
    case other               => other
  }

  private def intersect(ivs: Seq[Interval], chunk: Interval): Seq[Interval] =
    ivs.flatMap { iv =>
      val s = if (iv.start.isAfter(chunk.start)) iv.start else chunk.start
      val e = if (iv.end.isBefore(chunk.end)) iv.end else chunk.end
      if (s.isBefore(e)) Some(Interval(s, e)) else None
    }

  /** Context keys that cannot affect the RESULT bytes — stripped from the
    * fragment key so a dashboard's per-request queryId/timeout churn still
    * hits. Result-AFFECTING context (skipEmptyBuckets, approxTopN, ...)
    * stays in the key by default: an unknown key can only cause a miss,
    * never a wrong hit. */
  private val nonResultContext = Set(
    "queryId", "timeout", "useCache", "populateCache", "priority", "stream")

  /** Decompose an eligible query into per-chunk slices (chunk-ascending),
    * or None when the query must take the whole-query path. */
  def decompose(json: String, query: Query, catalog: Catalog)
      : Option[Seq[ChunkSlice]] = {
    val intervals = query match {
      case t: Query.Timeseries if nestsInDayChunk(t.granularity) =>
        t.intervals
      // approxTopN is excluded: its two-phase ranking depends on the
      // physical partition layout, so per-chunk fragments would not be
      // byte-stable against the whole-query run the cache must substitute
      case t: Query.TopN if nestsInDayChunk(t.granularity) &&
          !t.context.get("approxTopN").exists(_.toBoolean) =>
        t.intervals
      case g: Query.GroupBy if nestsInDayChunk(g.granularity) &&
          g.limitSpec.isEmpty && !g.context.contains("maxResults") =>
        g.intervals
      case _ => return None
    }
    if (intervals.isEmpty) return None
    val name = query.dataSource match {
      case DataSource.Table(n) => n
      case _ => return None
    }
    val infos = catalog.segmentInfos(name)
    if (infos.isEmpty) return None
    // a chunk may hold SEVERAL manifest segments (appends); the key token
    // covers all of them, in manifest order
    val tokenByChunk = infos.groupBy(_._1).view
      .mapValues(_.map(i => s"v${i._2}:${i._3}").mkString(",")).toMap
    val canon = canonicalSansIntervals(json)
    val slices = tokenByChunk.keys.toSeq.sorted.flatMap { chunk =>
      val sub = intersect(intervals, chunkInterval(chunk))
      if (sub.isEmpty) None
      else {
        val token = tokenByChunk(chunk)
        Some(ChunkSlice(chunk, token, withIntervals(query, sub),
          fragmentKey(canon, name, chunk, token, sub, "whole")))
      }
    }
    if (slices.isEmpty) None else Some(slices)
  }

  private[engine] def withIntervals(q: Query, ivs: Seq[Interval]): Query = q match {
    case t: Query.Timeseries => t.copy(intervals = ivs)
    case t: Query.TopN       => t.copy(intervals = ivs)
    case g: Query.GroupBy    => g.copy(intervals = ivs)
    case other               => other
  }

  private[engine] def intervalsOf(q: Query): Seq[Interval] = q match {
    case t: Query.Timeseries => t.intervals
    case t: Query.TopN       => t.intervals
    case g: Query.GroupBy    => g.intervals
    case _                   => Seq.empty
  }

  /** Merge touching/overlapping intervals (start-sorted): the cold-chunk
    * union is per-chunk day slices, so a contiguous window re-coalesces
    * into ONE interval — without this, the planner's zero-fill spine
    * builds one range per interval plus a dedup shuffle (21 slices made a
    * cold window 5× slower than the whole-query plan it replaces). */
  private[engine] def coalesceIntervals(ivs: Seq[Interval]): Seq[Interval] =
    ivs.sortBy(_.start).foldLeft(List.empty[Interval]) {
      case (h :: t, iv) if !iv.start.isAfter(h.end) =>
        (if (iv.end.isAfter(h.end)) Interval(h.start, iv.end) else h) :: t
      case (acc, iv) => iv :: acc
    }.reverse

  /** Canonical rendering of the query json with `intervals` REMOVED and
    * non-result context keys dropped, all object fields sorted — so the
    * same logical query at two window positions (the dashboard shape)
    * shares every interior chunk's fragments. Unknown/odd shapes render
    * as-is: worst case a needless miss, never a wrong hit. */
  private[engine] def canonicalSansIntervals(json: String): String = {
    mapper.readTree(json) match {
      case root: ObjectNode =>
        val o = root.deepCopy()
        o.remove("intervals")
        o.get("context") match {
          case ctx: ObjectNode =>
            nonResultContext.foreach(ctx.remove)
            if (ctx.isEmpty) o.remove("context")
          case _ =>
        }
        canonical(o)
      case other => canonical(other)
    }
  }

  /** [[canonicalSansIntervals]] for the PARTIAL path: additionally drops
    * `granularity`, `postAggregations`, `descending`, the serve-time
    * post-merge fields (`having`, `limitSpec`, and topN's `threshold` +
    * `metric`), and the `skipEmptyBuckets` context key — none of them
    * affect the day-partial fragment bytes (the sub-query normalizes all
    * of them away), so queries differing only in them share fragments: a
    * dashboard editing its having threshold, limit, or topN metric reuses
    * the SAME warm day partials. The `partial|` prefix domain-separates
    * these keys from the nesting path's: a day-partial fragment (no
    * post-aggs, possibly sketch-encoded) must never serve as a whole
    * result slice. */
  private[engine] def canonicalPartialSansIntervals(json: String): String = {
    val body = mapper.readTree(json) match {
      case root: ObjectNode =>
        val o = root.deepCopy()
        Seq("intervals", "granularity", "postAggregations", "descending",
          "having", "limitSpec", "threshold", "metric")
          .foreach(o.remove)
        o.get("context") match {
          case ctx: ObjectNode =>
            (nonResultContext + "skipEmptyBuckets").foreach(ctx.remove)
            if (ctx.isEmpty) o.remove("context")
          case _ =>
        }
        canonical(o)
      case other => canonical(other)
    }
    "partial|" + body
  }

  private def canonical(n: JsonNode): String =
    if (n.isObject) {
      import scala.jdk.CollectionConverters._
      n.fieldNames().asScala.toSeq.sorted
        .map(k => mapper.writeValueAsString(k) + ":" + canonical(n.get(k)))
        .mkString("{", ",", "}")
    } else if (n.isArray) {
      (0 until n.size()).map(i => canonical(n.get(i))).mkString("[", ",", "]")
    } else n.toString

  /** SHA-256/128-bit fragment key, domain-separated from whole-query etags
    * by the `seg:` prefix (the result-cache store is shared). `pgran`
    * domain-separates fragment granularities within one canonical query:
    * `whole` on the nesting path, `day`/`hour` on the partial path — a
    * day-partial and an hour-partial fragment of the same chunk must never
    * substitute for each other. */
  private def fragmentKey(canon: String, ds: String, chunk: String,
      token: String, sub: Seq[Interval], pgran: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def upd(s: String): Unit = {
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    upd(canon); upd(ds); upd(chunk); upd(token); upd(pgran)
    sub.foreach(iv => upd(s"${iv.start}/${iv.end}"))
    "seg:" + md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Strip the outer `[` `]` of an encoded result array → fragment. */
  private[engine] def stripArray(s: String): String = {
    val t = s.trim
    require(t.length >= 2 && t.charAt(0) == '[' && t.charAt(t.length - 1) == ']',
      s"expected a JSON array result, got: ${t.take(40)}")
    t.substring(1, t.length - 1)
  }
}
