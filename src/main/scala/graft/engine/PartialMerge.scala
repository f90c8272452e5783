package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.expr.Compilers
import graft.expr.Compilers.TimeColumn
import graft.functions.Hllpp
import graft.model._
import graft.plan.QueryPlanner
import graft.sources.Catalog
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAlias
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.time.Instant
import scala.util.control.NonFatal

/** Serve-time merge of per-chunk DAY (or HOUR) partial aggregates into the
  * result of a timeseries / groupBy / topN at a granularity the day chunks
  * nest in — the Spark-engine equivalent of Druid's broker merging
  * per-segment partials with the same aggregator factories the historicals
  * used (reference `arch/druid-arch.md:38-40`,
  * `query/query-internal-procedure.md:7,43-47,128-142`). The fragments are
  * the sub-query results [[SegmentResultCache.decomposePartial]] shapes
  * (no post-aggs, having, limitSpec or ranking).
  *
  * Every step is evaluated through the planner's own expressions, analysed
  * once per query shape against a `LocalRelation` and evaluated
  * interpreted on the driver — no Dataset action runs, so a fully cached
  * serve runs zero Spark jobs:
  *  - merge: each aggregator re-aggregates its day values with the
  *    `Compilers.aggCol` compile of its merge aggregator (counts and sums
  *    → sum, min/max → min/max, first/last → min_by/max_by over the day
  *    timestamp, a rollup count → the stored-count sum, null over nothing);
  *    hyperUnique/cardinality union their day register words;
  *  - zero-fill (timeseries spine path): `QueryPlanner.zeroFillCol`;
  *  - post-aggregators: `Compilers.postAggCol`;
  *  - having: `QueryPlanner.havingCol`;
  *  - order: `QueryPlanner.limitOrder` (groupBy limitSpec) and
  *    `QueryPlanner.topNRanking` (topN rank), through `InterpretedOrdering`;
  *  - render: `ResultEncoder`'s bucketed writers, so the bytes are the
  *    whole plan's encoding of the same rows.
  *
  * Bucket timestamps are `Compilers.truncInstant` of the fragment
  * timestamp (granularity `all` stamps the first interval start), and the
  * timeseries spine is `QueryPlanner.spineBuckets` ∩ segment coverage (the
  * segment-gap skip, reference `query/query-timeseries.md:93`).
  *
  * Floating-point caveat (Druid's broker merge shares it): double/float
  * sums re-associate — a merged sum can differ from the single-plan sum in
  * the last ulp on adversarial value sets. Counts, longs, min and max are
  * exact. Fractional dimension values are read back as doubles (a float
  * dimension under a numeric having or ordering can differ by an ulp).
  *
  * Memory profile: the merge holds the merged result on the driver —
  * bounded by `spark.graft.segmentCache.maxPartialGroups` and by the
  * BUFFERED result size of the `executeJson` path it serves. The streaming
  * path never computes fragments cold; it serves the partial merge only
  * when every fragment is already cached.
  */
object PartialMerge {

  private val mapper = new ObjectMapper()

  /** Thrown when the serve-time merge would materialize more groups than
    * the configured bound (`spark.graft.segmentCache.maxPartialGroups`) —
    * the engine catches it and falls back to the whole-query plan, so a
    * high-cardinality dimension cannot balloon the driver merge. */
  final class Overflow(bound: Int) extends RuntimeException(
    s"partial merge materialized > $bound groups; falling back " +
      s"(raise spark.graft.segmentCache.maxPartialGroups to serve this shape)")

  /** Thrown when a serve-time evaluation (analysis, FilterH, a value
    * shape, a binding limit through a tie) cannot reproduce the whole plan
    * — the engine falls back to the whole-query plan, which either serves
    * the query or raises its own (better) error. */
  final class NotServeable(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  // -- compiled programs, memoized per query shape --------------------------

  /** Access-ordered LRU (bounded: the keys are client-shaped). */
  private final class Lru[K, V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > capacity
    }
    def getOrElseUpdate(k: K)(build: => V): V =
      m.synchronized(Option(m.get(k))).getOrElse {
        val v = build
        m.synchronized(m.put(k, v))
        v
      }
  }

  /** The merge of one aggregator list, over a day relation
    * `(__time, <non-sketch day values>)` (`dayNames`/`dayTypes`; the
    * sketch aggregators `sketchNames` merge beside it): the initial
    * declarative buffer of the merge aggregates, the update over
    * `buffer ++ day row`, and the finals over the buffer. */
  private final class MergeProgram(val sketch: Array[Boolean],
      val dayNames: Array[String], val dayTypes: Array[DataType],
      val sketchNames: Array[String], val initial: InternalRow,
      val update: Array[Expression], val result: Seq[Expression],
      val aggTypes: Seq[DataType])

  /** The post-merge evaluation of one query shape over the merged relation
    * `(__time, dims, aggs)`: zero-fill (timeseries), post-aggregators
    * (producing the output relation), having and order (over it). */
  private final class FinishProgram(val outAttrs: Seq[Attribute],
      val zeroFill: Seq[Expression], val post: Seq[Expression],
      val having: Option[Expression], val order: Seq[SortOrder]) {
    val toRow: Any => Any = CatalystTypeConverters.createToScalaConverter(
      StructType(outAttrs.map(a => StructField(a.name, a.dataType))))
  }

  // keyed by (aggregators, rollup): shared by every shape over them
  private val merges = new Lru[(Seq[Aggregator], Boolean), MergeProgram](64)
  // keyed by (query sans intervals and client-noise context, dimension
  // types, manifest token) — the token is "" unless a FilterH having
  // compiles against the planned schema, so a commit re-plans nothing else
  private val finishes =
    new Lru[(Query, Seq[DataType], String), FinishProgram](64)

  /** Context keys that can change the PLANNED schema or row shape — these
    * stay in the finish key; everything else (queryId, timeout, priority …)
    * is blanked so a polling dashboard still memoizes. */
  private val planShapeContextKeys: Set[String] = Set(
    "graft.sketchPartials", "skipEmptyBuckets", "approxTopN",
    "minTopNThreshold")

  /** A query's shape: sans intervals and client-noise context. */
  private def shapeOf(q: Query): Query = {
    def ctx(c: Map[String, String]) = c.view.filterKeys(planShapeContextKeys).toMap
    q match {
      case t: Query.Timeseries => t.copy(intervals = Seq.empty, context = ctx(t.context))
      case g: Query.GroupBy    => g.copy(intervals = Seq.empty, context = ctx(g.context))
      case t: Query.TopN       => t.copy(intervals = Seq.empty, context = ctx(t.context))
      case other               => other
    }
  }

  // -- analysis over a LocalRelation -----------------------------------------

  private def attr(name: String, dt: DataType): AttributeReference =
    AttributeReference(name, dt, nullable = true)()

  private def named(c: Column): NamedExpression =
    org.apache.spark.sql.GraftBridge.analyzableExpression(c) match {
      case n: NamedExpression => n
      case e => UnresolvedAlias(e)
    }

  /** Analyse `plan` with the session's own analyzer (the whole plan's
    * coercion rules), replacing runtime-replaceable expressions so every
    * node evaluates interpreted. Runs no job. */
  private def analyze(spark: SparkSession,
      plan: logical.LogicalPlan): logical.LogicalPlan = {
    val analyzed =
      try ReplaceExpressions(spark.sessionState.analyzer.execute(plan))
      catch { case NonFatal(e) => throw new NotServeable("analysis failed", e) }
    if (!analyzed.resolved) throw new NotServeable(s"did not resolve: $analyzed")
    analyzed
  }

  private def bind[E <: Expression](e: E, attrs: Seq[Attribute]): E =
    BindReferences.bindReference(e, AttributeSeq(attrs))

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other       => other
  }

  // -- the merge algebra -----------------------------------------------------

  private def isSketch(a: Aggregator): Boolean = a match {
    case _: Aggregator.HyperUnique | _: Aggregator.Cardinality => true
    case Aggregator.Filtered(_, inner) => isSketch(inner)
    case _ => false
  }

  private def typeOf(typ: String): DataType = typ match {
    case "long"  => LongType
    case "float" => FloatType
    case _       => DoubleType
  }

  /** Type of an aggregator's day value in a fragment. */
  private def dayType(a: Aggregator): DataType = a match {
    case _: Aggregator.Count           => LongType
    case Aggregator.Sum(_, _, t)       => typeOf(t)
    case Aggregator.Min(_, _, t)       => typeOf(t)
    case Aggregator.Max(_, _, t)       => typeOf(t)
    case Aggregator.First(_, _, t)     => typeOf(t)
    case Aggregator.Last(_, _, t)      => typeOf(t)
    case Aggregator.Filtered(_, inner) => dayType(inner)
    case other => throw new IllegalArgumentException(
      s"not partial-mergeable: ${other.getClass.getSimpleName}")
  }

  /** The aggregator that re-aggregates `a`'s day values (a day-relation
    * column named `a.name`) into `a`'s whole-bucket value, compiled by
    * `Compilers.aggCol` itself. A filtered aggregator's day values already
    * carry its filter. A count's day values are a stored count: on a rollup
    * datasource it merges exactly as the planner compiles a rollup count
    * (sum, null over no rows), elsewhere as a long sum (0 over no rows,
    * like `count`). */
  private def mergeCol(a: Aggregator, day: StructType, rollup: Boolean): Column =
    a match {
      case Aggregator.Count(n) if rollup =>
        Compilers.aggCol(a, day, rollupCount = Some(n))
      case Aggregator.Count(n)       => Compilers.aggCol(Aggregator.Sum(n, n, "long"), day)
      case Aggregator.Sum(n, _, t)   => Compilers.aggCol(Aggregator.Sum(n, n, t), day)
      case Aggregator.Min(n, _, t)   => Compilers.aggCol(Aggregator.Min(n, n, t), day)
      case Aggregator.Max(n, _, t)   => Compilers.aggCol(Aggregator.Max(n, n, t), day)
      case Aggregator.First(n, _, t) => Compilers.aggCol(Aggregator.First(n, n, t), day)
      case Aggregator.Last(n, _, t)  => Compilers.aggCol(Aggregator.Last(n, n, t), day)
      case Aggregator.Filtered(_, inner) => mergeCol(inner, day, rollup)
      case other => throw new IllegalArgumentException(
        s"not partial-mergeable: ${other.getClass.getSimpleName}")
    }

  /** Analyse the merge aggregates as one global `Aggregate` over the day
    * relation and split each declarative aggregate into buffer, update and
    * final, as Spark's own aggregation iterator does. */
  private def compileMerge(aggs: Seq[Aggregator], rollup: Boolean,
      spark: SparkSession): MergeProgram = {
    val sketch = aggs.map(isSketch).toArray
    val merged = aggs.filterNot(isSketch)
    val dayAttrs = attr(TimeColumn, TimestampType) +:
      merged.map(a => attr(a.name, dayType(a)))
    val daySchema = StructType(dayAttrs.map(a => StructField(a.name, a.dataType)))
    val finals = if (merged.isEmpty) Seq.empty[Expression] else
      analyze(spark, logical.Aggregate(Nil,
        merged.map(a => named(mergeCol(a, daySchema, rollup))),
        logical.LocalRelation(dayAttrs), None)) match {
        case agg: logical.Aggregate => agg.aggregateExpressions.map(stripAlias)
        case other => throw new NotServeable(s"unexpected merge plan: $other")
      }
    val aggExprs = finals.flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinct
    val fns = aggExprs.map(_.aggregateFunction match {
      case d: DeclarativeAggregate => d
      case other => throw new NotServeable(s"not declarative: ${other.prettyName}")
    })
    val bufferAttrs = fns.flatMap(_.aggBufferAttributes)
    val evaluate = aggExprs.zip(fns.map(_.evaluateExpression)).toMap
    val initial = new InterpretedProjection(fns.flatMap(_.initialValues))
      .apply(InternalRow.empty)
    new MergeProgram(sketch, merged.map(_.name).toArray, merged.map(dayType).toArray,
      aggs.filter(isSketch).map(_.name).toArray, initial,
      fns.flatMap(_.updateExpressions).map(bind(_, bufferAttrs ++ dayAttrs)).toArray,
      finals.map(f => bind(f.transformDown {
        case ae: AggregateExpression => evaluate(ae)
      }, bufferAttrs)),
      aggs.zip(sketch).map {
        case (_, true) => LongType
        case (a, false) => finals(merged.indexOf(a)).dataType
      })
  }

  // -- the post-merge program ------------------------------------------------

  private def compileFinish(q: Query, mergedAttrs: Seq[Attribute],
      aggs: Seq[Aggregator], posts: Seq[PostAggregator],
      spark: SparkSession, catalog: Catalog): FinishProgram = {
    val rel = logical.LocalRelation(mergedAttrs)
    def project(cols: Seq[NamedExpression], over: logical.LocalRelation) =
      analyze(spark, logical.Project(cols, over)) match {
        case p: logical.Project => p
        case other => throw new NotServeable(s"unexpected plan: $other")
      }
    val zeroFill = q match {
      case _: Query.Timeseries =>
        project(mergedAttrs.head +: aggs.map(a => named(QueryPlanner.zeroFillCol(a))),
          rel).projectList.map(e => bind(stripAlias(e), mergedAttrs))
      case _ => Seq.empty
    }
    val postPlan = project(mergedAttrs ++ posts.map(p => named(Compilers.postAggCol(p))),
      rel)
    val outAttrs = postPlan.output
    val out = logical.LocalRelation(outAttrs)
    val having = q match {
      case g: Query.GroupBy => g.having.map { h =>
        val filterH = SegmentResultCache.hasFilterH(h)
        // FilterH compiles against the PLANNED aggregate schema (exact types
        // matter for its typed literals): its columns must have the merged
        // relation's types, or the shape falls back
        val schema =
          if (!filterH) StructType(outAttrs.map(a => StructField(a.name, a.dataType)))
          else try QueryPlanner.plan(spark, q, catalog).schema
          catch { case NonFatal(e) =>
            throw new NotServeable("FilterH: schema planning failed", e) }
        val cond = analyze(spark, logical.Filter(org.apache.spark.sql.GraftBridge
          .analyzableExpression(QueryPlanner.havingCol(h, schema, spark, catalog)),
          out)) match {
          case f: logical.Filter => f.condition
          case other => throw new NotServeable(s"unexpected having plan: $other")
        }
        if (filterH) cond.references.foreach { a =>
          if (!schema.fields.exists(f => f.name == a.name && f.dataType == a.dataType))
            throw new NotServeable(s"FilterH: '${a.name}' is not ${a.dataType} in the plan")
        }
        bind(cond, outAttrs)
      }
      case _ => None
    }
    val orderCols = q match {
      case g: Query.GroupBy => g.limitSpec.toSeq.flatMap(ls => QueryPlanner.limitOrder(ls.columns))
      case t: Query.TopN => QueryPlanner.topNRanking(t.metric, t.dimension.outputName)
      case _ => Seq.empty
    }
    val order = if (orderCols.isEmpty) Seq.empty else
      analyze(spark, logical.Sort(orderCols.map(c =>
        org.apache.spark.sql.GraftBridge.analyzableExpression(c) match {
          case so: SortOrder => so
          case e => SortOrder(e, Ascending)
        }), true, out, None)) match {
        case s: logical.Sort => s.order.map(bind(_, outAttrs))
        case other => throw new NotServeable(s"unexpected order plan: $other")
      }
    new FinishProgram(outAttrs, zeroFill,
      postPlan.projectList.map(e => bind(stripAlias(e), mergedAttrs)), having, order)
  }

  // -- fragment parse ----------------------------------------------------------

  /** One (bucket, dims) group: its dims (typed), the merge buffer and the
    * sketch accumulators. `dimsText` is the deterministic pre-order. */
  private final class Group(val bucket: Long, val dims: Array[Any],
      val dimsText: String, val buffer: InternalRow, val sketches: Array[SpecificInternalRow])

  /** A JSON dim value as the Catalyst value of its kind (fractional numbers
    * read back as doubles, as Jackson parses them). */
  private def dimValue(n: JsonNode): (Any, DataType) =
    if (n == null || n.isNull) (null, null)
    else if (n.isTextual) (UTF8String.fromString(n.asText()), StringType)
    else if (n.isIntegralNumber) (n.asLong(), LongType)
    else if (n.isNumber) (n.asDouble(), DoubleType)
    else if (n.isBoolean) (n.asBoolean(), BooleanType)
    else throw new NotServeable(s"dimension value $n has no merge type")

  /** A day value of the fragment column type; Jackson reads the quoted
    * non-finite doubles the encoder writes ("NaN", "Infinity"). */
  private def dayValue(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case LongType  => n.asLong()
      case FloatType => n.asDouble().toFloat
      case _         => n.asDouble()
    }

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  // -- merge + render --------------------------------------------------------

  /** Merge the partial `fragments` (chunk-ascending) into the final result
    * bytes for the ORIGINAL query `q` (timeseries, groupBy or topN).
    * `coverage` is the datasource's segment-timeline coverage (the
    * zero-fill gap-skip input, `Catalog.chunkCoverage`); `rollup` says the
    * datasource stores a rollup count. Throws [[Overflow]] past
    * `maxGroups` groups and [[NotServeable]] when an evaluation cannot
    * reproduce the whole plan. */
  def merge(q: Query, fragments: Seq[String], coverage: Option[Seq[Interval]],
      rollup: Boolean, maxGroups: Int, spark: SparkSession,
      catalog: Catalog): String = {
    val (intervals, g, dims, aggs, posts, body) = q match {
      case t: Query.Timeseries =>
        (t.intervals, t.granularity, Seq.empty[String], t.aggregations,
          t.postAggregations, "result")
      case gq: Query.GroupBy =>
        (gq.intervals, gq.granularity, gq.dimensions.map(_.outputName),
          gq.aggregations, gq.postAggregations, "event")
      case tn: Query.TopN =>
        (tn.intervals, tn.granularity, Seq(tn.dimension.outputName),
          tn.aggregations, tn.postAggregations, "event")
      case other => throw new IllegalStateException(
        s"not a partial-merge shape: ${other.getClass.getSimpleName}")
    }
    val allBucket = intervals.headOption.map(_.start).getOrElse(Instant.EPOCH)
    val mp = merges.getOrElseUpdate((aggs, rollup))(compileMerge(aggs, rollup, spark))

    // 1. parse every fragment row and fold it into its (bucket, dims) group
    val groups = new java.util.HashMap[String, Group]()
    val dimTypes = new Array[DataType](dims.size)
    val next = new Array[Any](mp.update.length)
    val joined = new JoinedRow
    val day = new GenericInternalRow(1 + mp.dayNames.length)
    def newGroup(bucket: Long, dimVals: Array[Any], text: String) =
      new Group(bucket, dimVals, text, mp.initial.copy(),
        Array.fill(mp.sketchNames.length)(Hllpp.newBuffer()))
    var lastTs: String = null
    var lastDay = 0L
    var lastBucket = 0L
    fragments.filter(_.nonEmpty).foreach { frag =>
      val rows = mapper.readTree("[" + frag + "]")
      var r = 0
      while (r < rows.size()) {
        val row = rows.get(r)
        val ts = row.get("timestamp").asText()
        if (ts != lastTs) {
          val i = Instant.parse(ts)
          lastTs = ts
          lastDay = micros(i)
          lastBucket = micros(g match {
            case Granularity.All => allBucket
            case _               => Compilers.truncInstant(g, i)
          })
        }
        val ev = row.get(body)
        val dimNodes = dims.map(d => ev.get(d): JsonNode)
        val text = dimNodes.map(n => if (n == null) "" else n.toString).mkString(" ")
        val key = lastBucket.toString + " " + text
        var grp = groups.get(key)
        if (grp == null) {
          if (groups.size >= maxGroups) throw new Overflow(maxGroups)
          val vals = new Array[Any](dims.size)
          var d = 0
          while (d < dims.size) {
            val (v, dt) = dimValue(dimNodes(d))
            if (dt != null) {
              if (dimTypes(d) == null) dimTypes(d) = dt
              else if (dimTypes(d) != dt) throw new NotServeable(
                s"dimension '${dims(d)}' mixes $dt and ${dimTypes(d)} values")
            }
            vals(d) = v
            d += 1
          }
          grp = newGroup(lastBucket, vals, text)
          groups.put(key, grp)
        }
        day.update(0, lastDay)
        var j = 0
        while (j < mp.dayNames.length) {
          day.update(j + 1, dayValue(ev.get(mp.dayNames(j)), mp.dayTypes(j)))
          j += 1
        }
        // the aggregates' update expressions over (buffer, day row), all
        // evaluated before any buffer slot changes
        joined(grp.buffer, day)
        j = 0
        while (j < next.length) { next(j) = mp.update(j).eval(joined); j += 1 }
        j = 0
        while (j < next.length) { grp.buffer.update(j, next(j)); j += 1 }
        j = 0
        while (j < mp.sketchNames.length) {
          val n = ev.get(mp.sketchNames(j))
          if (n != null && !n.isNull)
            Hllpp.mergePartial(grp.sketches(j), n.asText())
          j += 1
        }
        r += 1
      }
    }

    // 2. the merged relation (__time, dims, aggs), compiled post-merge steps
    val mergedAttrs = attr(TimeColumn, TimestampType) +:
      (dims.zip(dimTypes).map { case (d, t) => attr(d, Option(t).getOrElse(StringType)) } ++
        aggs.zip(mp.aggTypes).map { case (a, t) => attr(a.name, t) })
    // a FilterH compile is pinned to the manifest state it planned against
    val token = q match {
      case gq: Query.GroupBy if gq.having.exists(SegmentResultCache.hasFilterH) =>
        gq.dataSource match {
          case DataSource.Table(n) => catalog.segmentInfos(n).mkString(";")
          case _ => ""
        }
      case _ => ""
    }
    val fp = finishes.getOrElseUpdate((shapeOf(q), mergedAttrs.map(_.dataType), token))(
      compileFinish(q, mergedAttrs, aggs, posts, spark, catalog))
    val result = new InterpretedProjection(mp.result)
    def mergedRow(grp: Group): InternalRow = {
      val finals = result(grp.buffer)
      val vals = new Array[Any](mergedAttrs.size)
      vals(0) = grp.bucket
      System.arraycopy(grp.dims, 0, vals, 1, dims.size)
      var j = 0; var m = 0; var s = 0
      while (j < aggs.size) {
        vals(1 + dims.size + j) =
          if (mp.sketch(j)) { s += 1; Hllpp.estimate(grp.sketches(s - 1)) }
          else { m += 1; finals.get(m - 1, mp.aggTypes(j)) }
        j += 1
      }
      new GenericInternalRow(vals)
    }
    val post = new InterpretedProjection(fp.post)
    val ordering = new InterpretedOrdering(fp.order)

    // 3. the result rows in output order
    val merged = groups.values.toArray(new Array[Group](0))
    val outRows: Seq[InternalRow] = q match {
      case t: Query.Timeseries =>
        val byBucket = merged.map(grp => grp.bucket -> grp).toMap
        val skipEmpty = t.context.get("skipEmptyBuckets").exists(_.toBoolean)
        // bucket set per the planner's three paths: `all` = exactly one row,
        // a global aggregate (no zero-fill); skipEmpty = merged buckets,
        // raw values; otherwise spine ∩ coverage, zero-filled everywhere
        val (buckets, fill) = g match {
          case Granularity.All => (Seq(micros(allBucket)), false)
          case _ if skipEmpty  => (byBucket.keys.toSeq.sorted, false)
          case _ =>
            val spine = QueryPlanner.spineBuckets(intervals, g)
            val covered = coverage match {
              case Some(ivs) => spine.filter(b => ivs.exists(iv =>
                b.isBefore(iv.end) && Compilers.nextBucket(g, b).isAfter(iv.start)))
              case None => spine
            }
            ((covered.map(micros) ++ byBucket.keys).distinct.sorted, true)
        }
        val zeroFill = new InterpretedProjection(fp.zeroFill)
        val rows = buckets.map { b =>
          val m = mergedRow(byBucket.getOrElse(b, newGroup(b, Array.empty, "")))
          post(if (fill) zeroFill(m) else m)
        }
        if (t.descending) rows.reverse else rows

      case gq: Query.GroupBy =>
        val pre = merged.sortBy(grp => (grp.bucket, grp.dimsText)).toSeq
        // granularity `all` without dimensions is a global aggregate: one
        // row even over no input, like the planner's `agg` without keys
        val grps = if (pre.isEmpty && dims.isEmpty && g == Granularity.All &&
          aggs.nonEmpty) Seq(newGroup(micros(allBucket), Array.empty, "")) else pre
        val havinged = grps.map(grp => post(mergedRow(grp))).filter(r =>
          fp.having.forall(h => h.eval(r) == true))
        // stable sort: ties keep the (bucket, dims) pre-order
        val ordered = if (fp.order.isEmpty) havinged else havinged.sorted(ordering)
        gq.limitSpec.flatMap(_.limit) match {
          case Some(n) =>
            // a BINDING cut through an ordering tie is order-dependent: the
            // whole plan's distributed sort keeps an arbitrary subset of
            // the tied rows while this merge keeps a specific one — cache
            // state must not change the returned row SET, so it falls back
            if (fp.order.nonEmpty && n > 0 && n < ordered.size &&
                ordering.compare(ordered(n - 1), ordered(n)) == 0)
              throw new NotServeable("binding limit cuts through an ordering tie")
            ordered.take(n)
          case None => ordered
        }

      case tn: Query.TopN =>
        // per-bucket rank by the planner's metric order + dim tiebreak (a
        // TOTAL order within a bucket), cut at the threshold
        merged.groupBy(_.bucket).toSeq.sortBy(_._1).flatMap { case (_, bucketGroups) =>
          bucketGroups.toSeq.map(grp => post(mergedRow(grp))).sorted(ordering)
            .take(tn.threshold)
        }

      case other => throw new IllegalStateException(
        s"not a partial-merge shape: ${other.getClass.getSimpleName}")
    }

    // 4. render through the whole plan's encoder
    val names = fp.outAttrs.map(_.name).toArray
    val fieldNames = q match {
      case gq: Query.GroupBy if gq.granularity == Granularity.All =>
        names.filterNot(_ == TimeColumn)
      case _ => names
    }
    ResultEncoder.encodeBucketed(q, fieldNames,
      outRows.iterator.map(r => fp.toRow(r).asInstanceOf[Row]))
  }
}
