package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** JSON → Query ADT, polymorphic on `queryType` / `type` fields — the Spark
  * engine's equivalent of Druid's Jackson polymorphic binding (reference
  * `query/query-internal-procedure.md:30-51`). Hand-rolled tree walk for
  * total control over defaults and error messages.
  */
object QueryJson {
  private val mapper = new ObjectMapper()

  final case class QueryParseException(msg: String) extends RuntimeException(msg)

  def parseQuery(json: String): Query = parseQuery(mapper.readTree(json))

  // -- helpers --------------------------------------------------------------

  private def fail(msg: String): Nothing = throw QueryParseException(msg)

  /** Required sub-object: missing → QueryParseException naming the field
    * (a bare n.get would NPE with no message downstream). */
  private def req(n: JsonNode, f: String): JsonNode =
    opt(n, f).getOrElse(fail(s"missing required field '$f'"))

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)

  private def str(n: JsonNode, f: String): String =
    opt(n, f).map(_.asText()).getOrElse(fail(s"missing field '$f' in ${n.toString.take(200)}"))

  // value nodes only: asText() on an OBJECT returns "" and would
  // short-circuit orElse fallbacks (e.g. the object-form search sortSpec)
  private def strOpt(n: JsonNode, f: String): Option[String] =
    opt(n, f).filter(_.isValueNode).map(_.asText())

  private def strSeq(n: JsonNode, f: String): Seq[String] =
    opt(n, f).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)

  private def boolOpt(n: JsonNode, f: String, dflt: Boolean): Boolean =
    opt(n, f).map(_.asBoolean()).getOrElse(dflt)

  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    opt(n, f).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)

  private def intervals(n: JsonNode): Seq[Interval] = {
    val node = opt(n, "intervals").getOrElse(fail("query missing 'intervals'"))
    val raw =
      if (node.isTextual) Seq(node.asText())
      else node.elements().asScala.map(_.asText()).toSeq
    raw.map(Interval.parse)
  }

  /** A body's `context` object as strings (absent → empty). */
  def context(n: JsonNode): Map[String, String] =
    opt(n, "context").map { c =>
      c.fields().asScala.map(e => e.getKey -> e.getValue.asText())
        // `graft.`-prefixed context keys are ENGINE-INTERNAL plumbing
        // (e.g. graft.sketchPartials switches aggregators to mergeable
        // sketch output for the partial-merge cache templates, which are
        // built as Query objects and never pass through this parser). A
        // client-supplied copy must not change the result encoding —
        // stripped here, the single choke point for external JSON.
        .filterNot(_._1.startsWith("graft."))
        .toMap
    }.getOrElse(Map.empty)

  // -- datasource -----------------------------------------------------------

  def parseDataSource(n: JsonNode): DataSource =
    if (n.isTextual) DataSource.Table(n.asText())
    else str(n, "type") match {
      case "table" => DataSource.Table(str(n, "name"))
      case "union" => DataSource.Union(strSeq(n, "dataSources"))
      case "query" => DataSource.QueryD(parseQuery(req(n, "query")))
      case t       => fail(s"unknown dataSource type '$t'")
    }

  // -- granularity ----------------------------------------------------------

  def parseGranularity(nOpt: Option[JsonNode]): Granularity = nOpt match {
    case None => Granularity.All
    case Some(n) if n.isTextual =>
      n.asText() match {
        case "all"  => Granularity.All
        case "none" => Granularity.NoneG
        case u if Granularity.simpleUnits(u) => Granularity.Simple(u)
        case u => fail(s"unknown simple granularity '$u'")
      }
    case Some(n) =>
      str(n, "type") match {
        case "duration" =>
          Granularity.Duration(req(n, "duration").asLong(),
            strOpt(n, "origin").map(Interval.parseInstant))
        case "period" =>
          Granularity.Period(str(n, "period"), strOpt(n, "timeZone"),
            strOpt(n, "origin").map(Interval.parseInstant))
        case "all"  => Granularity.All
        case "none" => Granularity.NoneG
        case t      => fail(s"unknown granularity type '$t'")
      }
  }

  // -- filters --------------------------------------------------------------

  def parseFilter(n: JsonNode): Filter = str(n, "type") match {
    case "selector" =>
      Filter.Selector(str(n, "dimension"), strOpt(n, "value"), extractionFnOpt(n))
    case "in" =>
      // null elements stay null (they match null/missing dims, Druid
      // semantics) — asText() would turn them into the string "null"
      val vs = arr(n, "values").map(v => if (v.isNull) null else v.asText())
      Filter.In(str(n, "dimension"), vs, extractionFnOpt(n))
    case "bound" =>
      val ordering =
        strOpt(n, "ordering").getOrElse(
          if (boolOpt(n, "alphaNumeric", dflt = false)) "alphanumeric" else "lexicographic")
      Filter.Bound(str(n, "dimension"), strOpt(n, "lower"), strOpt(n, "upper"),
        boolOpt(n, "lowerStrict", dflt = false), boolOpt(n, "upperStrict", dflt = false),
        ordering, extractionFnOpt(n))
    case "like" =>
      Filter.Like(str(n, "dimension"), str(n, "pattern"), strOpt(n, "escape"),
        extractionFnOpt(n))
    case "regex" =>
      Filter.Regex(str(n, "dimension"), str(n, "pattern"), extractionFnOpt(n))
    case "search" =>
      Filter.Search(str(n, "dimension"),
        parseSearchSpec(opt(n, "query").getOrElse(fail("search filter missing 'query'"))),
        extractionFnOpt(n))
    case "interval" =>
      Filter.IntervalF(strOpt(n, "dimension").getOrElse("__time"),
        strSeq(n, "intervals").map(Interval.parse), extractionFnOpt(n))
    case "columnComparison" => Filter.ColumnComparison(strSeq(n, "dimensions"))
    case "and"  => Filter.And(arr(n, "fields").map(parseFilter))
    case "or"   => Filter.Or(arr(n, "fields").map(parseFilter))
    case "not"  => Filter.Not(parseFilter(opt(n, "field").getOrElse(fail("not filter missing 'field'"))))
    case "true" => Filter.True
    case t      => fail(s"unknown filter type '$t'")
  }

  private def filterOpt(n: JsonNode): Option[Filter] = opt(n, "filter").map(parseFilter)

  def parseSearchSpec(n: JsonNode): SearchQuerySpec = str(n, "type") match {
    case "insensitive_contains" => SearchQuerySpec.InsensitiveContains(str(n, "value"))
    case "contains" =>
      // Druid's spec takes a primitive boolean: absent → false (insensitive)
      SearchQuerySpec.Contains(str(n, "value"), boolOpt(n, "caseSensitive", dflt = false))
    case "fragment" =>
      SearchQuerySpec.Fragment(strSeq(n, "values"), boolOpt(n, "caseSensitive", dflt = false))
    case "regex" => SearchQuerySpec.RegexS(str(n, "pattern"))
    case t       => fail(s"unknown searchQuerySpec type '$t'")
  }

  // -- aggregators ----------------------------------------------------------

  def parseAggregator(n: JsonNode): Aggregator = {
    import Aggregator._
    val t = str(n, "type")
    def nm = str(n, "name")
    def fld = str(n, "fieldName")
    t match {
      case "count"     => Count(nm)
      case "longSum"   => Sum(nm, fld, "long")
      case "doubleSum" => Sum(nm, fld, "double")
      case "floatSum"  => Sum(nm, fld, "float")
      case "longMin"   => Min(nm, fld, "long")
      case "doubleMin" => Min(nm, fld, "double")
      case "floatMin"  => Min(nm, fld, "float")
      case "longMax"   => Max(nm, fld, "long")
      case "doubleMax" => Max(nm, fld, "double")
      case "floatMax"  => Max(nm, fld, "float")
      case "longFirst"   => First(nm, fld, "long")
      case "doubleFirst" => First(nm, fld, "double")
      case "floatFirst"  => First(nm, fld, "float")
      case "longLast"   => Last(nm, fld, "long")
      case "doubleLast" => Last(nm, fld, "double")
      case "floatLast"  => Last(nm, fld, "float")
      case "hyperUnique" => HyperUnique(nm, fld)
      case "cardinality" =>
        val fields = opt(n, "fields").orElse(opt(n, "fieldNames"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
        Cardinality(nm, fields, boolOpt(n, "byRow", dflt = false))
      case "filtered" =>
        Filtered(parseFilter(opt(n, "filter").getOrElse(fail("filtered agg missing 'filter'"))),
          parseAggregator(opt(n, "aggregator").getOrElse(fail("filtered agg missing 'aggregator'"))))
      case other => fail(s"unknown aggregator type '$other'")
    }
  }

  // -- post-aggregators -----------------------------------------------------

  def parsePostAgg(n: JsonNode): PostAggregator = {
    import PostAggregator._
    str(n, "type") match {
      case "arithmetic" =>
        Arithmetic(str(n, "name"), str(n, "fn"), arr(n, "fields").map(parsePostAgg))
      case "fieldAccess" =>
        FieldAccess(strOpt(n, "name").getOrElse(str(n, "fieldName")), str(n, "fieldName"))
      case "finalizingFieldAccess" =>
        FinalizingFieldAccess(strOpt(n, "name").getOrElse(str(n, "fieldName")), str(n, "fieldName"))
      case "constant" => Constant(str(n, "name"), req(n, "value").asDouble())
      case "doubleGreatest" => GreatestLeast(str(n, "name"), "greatest", "double", arr(n, "fields").map(parsePostAgg))
      case "longGreatest"   => GreatestLeast(str(n, "name"), "greatest", "long", arr(n, "fields").map(parsePostAgg))
      case "doubleLeast"    => GreatestLeast(str(n, "name"), "least", "double", arr(n, "fields").map(parsePostAgg))
      case "longLeast"      => GreatestLeast(str(n, "name"), "least", "long", arr(n, "fields").map(parsePostAgg))
      case "hyperUniqueCardinality" =>
        HyperUniqueCardinality(str(n, "name"), str(n, "fieldName"))
      case t => fail(s"unknown postAggregator type '$t'")
    }
  }

  // -- extraction fns & dimension specs -------------------------------------

  private def extractionFnOpt(n: JsonNode): Option[ExtractionFn] =
    opt(n, "extractionFn").map(parseExtractionFn)

  def parseExtractionFn(n: JsonNode): ExtractionFn = {
    import ExtractionFn._
    str(n, "type") match {
      case "regex" =>
        RegexE(str(n, "expr"), opt(n, "index").map(_.asInt()).getOrElse(1),
          boolOpt(n, "replaceMissingValue", dflt = false), strOpt(n, "replaceMissingValueWith"))
      case "substring" =>
        Substring(n.get("index").asInt(), opt(n, "length").map(_.asInt()))
      case "strlen" => Strlen
      case "upper"  => Upper
      case "lower"  => Lower
      case "timeFormat" =>
        TimeFormat(strOpt(n, "format"), strOpt(n, "timeZone"),
          opt(n, "granularity").map(g => parseGranularity(Some(g))))
      case "time" => TimeParse(str(n, "timeFormat"), str(n, "resultFormat"))
      case "bucket" =>
        Bucket(opt(n, "size").map(_.asDouble()).getOrElse(1.0),
          opt(n, "offset").map(_.asDouble()).getOrElse(0.0))
      case "stringFormat" => StringFormat(str(n, "format"))
      case "cascade"      => Cascade(arr(n, "extractionFns").map(parseExtractionFn))
      case "partial"      => Partial(str(n, "expr"))
      case "searchQuery"  => SearchQueryE(parseSearchSpec(req(n, "query")))
      case "lookup" =>
        opt(n, "lookup") match {
          case Some(l) if l.isTextual =>
            RegisteredLookup(l.asText(), boolOpt(n, "retainMissingValue", dflt = false),
              strOpt(n, "replaceMissingValueWith"))
          case other =>
            val m = other.flatMap(l => opt(l, "map")).map { mn =>
              mn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
            }.getOrElse(Map.empty[String, String])
            Lookup(m, boolOpt(n, "retainMissingValue", dflt = false),
              strOpt(n, "replaceMissingValueWith"))
        }
      case "registeredLookup" =>
        RegisteredLookup(str(n, "lookup"), boolOpt(n, "retainMissingValue", dflt = false),
          strOpt(n, "replaceMissingValueWith"))
      case t => fail(s"unknown extractionFn type '$t'")
    }
  }

  def parseDimensionSpec(n: JsonNode): DimensionSpec = {
    import DimensionSpec._
    if (n.isTextual) Default(n.asText(), n.asText())
    else str(n, "type") match {
      case "default" =>
        val dim = str(n, "dimension")
        Default(dim, strOpt(n, "outputName").getOrElse(dim), strOpt(n, "outputType"))
      case "extraction" =>
        val dim = str(n, "dimension")
        Extraction(dim, strOpt(n, "outputName").getOrElse(dim),
          parseExtractionFn(opt(n, "extractionFn").getOrElse(fail("extraction dimSpec missing 'extractionFn'"))),
          strOpt(n, "outputType"))
      case "listFiltered" =>
        ListFiltered(parseDimensionSpec(req(n, "delegate")), strSeq(n, "values"),
          boolOpt(n, "isWhitelist", dflt = true))
      case "regexFiltered" =>
        RegexFiltered(parseDimensionSpec(req(n, "delegate")), str(n, "pattern"))
      case t => fail(s"unknown dimensionSpec type '$t'")
    }
  }

  // -- having / limit -------------------------------------------------------

  def parseHaving(n: JsonNode): HavingSpec = {
    import HavingSpec._
    str(n, "type") match {
      case "equalTo"     => EqualTo(str(n, "aggregation"), req(n, "value").asDouble())
      case "greaterThan" => GreaterThan(str(n, "aggregation"), req(n, "value").asDouble())
      case "lessThan"    => LessThan(str(n, "aggregation"), req(n, "value").asDouble())
      case "dimSelector" => DimSelector(str(n, "dimension"), str(n, "value"))
      case "and"         => AndH(arr(n, "havingSpecs").map(parseHaving))
      case "or"          => OrH(arr(n, "havingSpecs").map(parseHaving))
      case "not"         => NotH(parseHaving(req(n, "havingSpec")))
      case "filter"      => FilterH(parseFilter(req(n, "filter")))
      case t             => fail(s"unknown havingSpec type '$t'")
    }
  }

  def parseLimitSpec(n: JsonNode): LimitSpec = {
    val cols = arr(n, "columns").map { c =>
      if (c.isTextual) OrderByColumnSpec(c.asText(), "ascending", "lexicographic")
      else OrderByColumnSpec(str(c, "dimension"),
        strOpt(c, "direction").getOrElse("ascending"),
        strOpt(c, "dimensionOrder").getOrElse("lexicographic"))
    }
    LimitSpec(cols, opt(n, "limit").map(_.asInt()))
  }

  // -- topN metric ----------------------------------------------------------

  def parseTopNMetric(n: JsonNode): TopNMetricSpec = {
    import TopNMetricSpec._
    if (n.isTextual) Numeric(n.asText())
    else str(n, "type") match {
      case "numeric"       => Numeric(str(n, "metric"))
      case "lexicographic" => Lexicographic(strOpt(n, "previousStop"))
      case "alphaNumeric" | "alphanumeric" => Alphanumeric(strOpt(n, "previousStop"))
      case "inverted"      => Inverted(parseTopNMetric(req(n, "metric")))
      case t               => fail(s"unknown topN metric type '$t'")
    }
  }

  // -- queries --------------------------------------------------------------

  def parseQuery(n: JsonNode): Query = {
    val ds = parseDataSource(opt(n, "dataSource").getOrElse(fail("query missing 'dataSource'")))
    str(n, "queryType") match {
      case "timeseries" =>
        Query.Timeseries(ds, intervals(n), parseGranularity(opt(n, "granularity")),
          filterOpt(n), arr(n, "aggregations").map(parseAggregator),
          arr(n, "postAggregations").map(parsePostAgg),
          boolOpt(n, "descending", dflt = false), context(n))
      case "topN" =>
        Query.TopN(ds, intervals(n), parseGranularity(opt(n, "granularity")),
          parseDimensionSpec(opt(n, "dimension").getOrElse(fail("topN missing 'dimension'"))),
          opt(n, "threshold").map(_.asInt()).getOrElse(fail("topN missing 'threshold'")),
          parseTopNMetric(opt(n, "metric").getOrElse(fail("topN missing 'metric'"))),
          filterOpt(n), arr(n, "aggregations").map(parseAggregator),
          arr(n, "postAggregations").map(parsePostAgg), context(n))
      case "groupBy" =>
        Query.GroupBy(ds, intervals(n), parseGranularity(opt(n, "granularity")),
          arr(n, "dimensions").map(parseDimensionSpec), filterOpt(n),
          arr(n, "aggregations").map(parseAggregator),
          arr(n, "postAggregations").map(parsePostAgg),
          opt(n, "having").map(parseHaving), opt(n, "limitSpec").map(parseLimitSpec),
          context(n))
      case "timeBoundary" =>
        Query.TimeBoundary(ds, strOpt(n, "bound").getOrElse("both"), filterOpt(n), context(n))
      case "segmentMetadata" =>
        Query.SegmentMetadata(ds,
          opt(n, "intervals").map(_ => intervals(n)).getOrElse(Seq.empty),
          strSeq(n, "analysisTypes"), boolOpt(n, "merge", dflt = false), context(n))
      case "dataSourceMetadata" =>
        Query.DataSourceMetadata(ds, context(n))
      case "search" =>
        Query.SearchQ(ds, intervals(n), parseGranularity(opt(n, "granularity")),
          opt(n, "searchDimensions").map(_ => strSeq(n, "searchDimensions")).getOrElse(Seq.empty),
          parseSearchSpec(opt(n, "query").getOrElse(fail("search missing 'query'"))),
          strOpt(n, "sort").orElse(opt(n, "sort").flatMap(s => strOpt(s, "type"))).getOrElse("lexicographic"),
          opt(n, "limit").map(_.asInt()).getOrElse(1000), filterOpt(n), context(n))
      case "select" =>
        val paging = opt(n, "pagingSpec").map { p =>
          val ids = opt(p, "pagingIdentifiers").map { pi =>
            pi.fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
          }.getOrElse(Map.empty[String, Int])
          PagingSpec(ids, opt(p, "threshold").map(_.asInt()).getOrElse(100))
        }.getOrElse(PagingSpec(Map.empty, 100))
        Query.Select(ds, intervals(n), boolOpt(n, "descending", dflt = false),
          strSeq(n, "dimensions"), strSeq(n, "metrics"), paging, filterOpt(n), context(n))
      case "scan" =>
        val fmt = strOpt(n, "resultFormat").getOrElse("list")
        if (fmt != "list" && fmt != "compactedList")
          fail(s"unknown scan resultFormat '$fmt' (list | compactedList)")
        val batchSize = opt(n, "batchSize").map(_.asInt()).getOrElse(20480)
        if (batchSize <= 0) fail(s"scan batchSize must be positive: $batchSize")
        Query.Scan(ds, intervals(n), strSeq(n, "columns"),
          opt(n, "limit").map(_.asLong()), strOpt(n, "order").getOrElse("none"),
          filterOpt(n), fmt, batchSize, context(n))
      case t => fail(s"unknown queryType '$t'")
    }
  }
}
