package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types._

/** The engine's one cardinality sketch: HLL++ register WORDS as a
  * mergeable value — Druid's `hyperUnique` complex metric (reference
  * `TOC.md:47`), BUILT at ingest into rollup segments (BinaryType column),
  * MERGED at query time across rolled-up rows and per-day cache partials
  * (Druid's per-segment partial-aggregate scatter-gather,
  * `arch/druid-arch.md:38-40`), and FINALIZED to one estimate.
  *
  * Every form finalizes to the SAME estimate as the raw-column compile
  * (Spark's built-in `approx_count_distinct` at rsd 0.023), by
  * construction: this aggregate drives the same `HyperLogLogPlusPlusHelper`
  * (same rsd, same xxhash64 seed, same register layout) that backs
  * `approx_count_distinct`, and HLL++ register update / merge is an
  * elementwise max — associative and commutative — so words built per
  * rollup row or per day and merged in any grouping equal the whole-bucket
  * words bit-for-bit, and `query` finalizes both to the same Long.
  */
object Hllpp {
  /** The engine's hyperUnique precision (`Compilers.aggCol`): rsd 0.023 →
    * the same p as `approx_count_distinct(c, 0.023)`. */
  val Rsd = 0.023

  // deterministic pure function of Rsd; Serializable, shared per-JVM
  val helper = new HyperLogLogPlusPlusHelper(Rsd)
  val numWords: Int = helper.numWords

  def newBuffer(): SpecificInternalRow =
    new SpecificInternalRow(Seq.fill(numWords)(LongType))

  def toBytes(buf: InternalRow): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(numWords * 8)
    var i = 0
    while (i < numWords) { bb.putLong(buf.getLong(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): SpecificInternalRow = {
    require(bytes.length == numWords * 8,
      s"not an HLL++ sketch: expected ${numWords * 8} bytes, got ${bytes.length}" +
        (if (bytes.length != 2048) "" else ": a 2,048-byte p = 11 sketch, written " +
          "before rollups stored HLL++ words, lacks the twelfth index bit and cannot " +
          "be converted; re-run the index task for this datasource from raw input"))
    val buf = newBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < numWords) { buf.setLong(i, bb.getLong()); i += 1 }
    buf
  }

  /** Merge stored words into `acc` (rollup re-aggregation and the
    * serve-time partial merge). */
  def mergeInto(acc: SpecificInternalRow, bytes: Array[Byte]): Unit =
    helper.merge(acc, fromBytes(bytes), 0, 0)

  /** A cached sketch partial carries its words as `hllpp:<base64>` text
    * (`HllppFunctions.hllpp_partial`). */
  val PartialPrefix = "hllpp:"

  /** Merge a cached partial's text into `acc` (the serve-time merge). */
  def mergePartial(acc: SpecificInternalRow, text: String): Unit = {
    if (!text.startsWith(PartialPrefix)) throw new IllegalStateException(
      s"not a sketch partial value: ${text.take(16)}")
    // the MIME decoder ignores line separators: either base64 chunking works
    mergeInto(acc, java.util.Base64.getMimeDecoder.decode(text.substring(PartialPrefix.length)))
  }

  /** Finalize to the `approx_count_distinct` estimate. */
  def estimate(acc: InternalRow): Long = helper.query(acc, 0)
}

/** Aggregate into HLL++ register words (binary): from raw values
  * (`hllpp_build`, the same update path as
  * `approx_count_distinct(child, Hllpp.Rsd)` — only the finalization
  * differs), or from stored words (`mergeWords = true`,
  * `hllpp_merge` over a rollup column). */
case class HllppSketchAgg(child: Expression, mergeWords: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpecificInternalRow]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (!mergeWords) TypeCheckResult.TypeCheckSuccess // build hashes any type
    else child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"hllpp_merge requires binary sketch input, got ${t.simpleString} " +
          "(use hllpp_build to aggregate raw values)")
    }

  override def createAggregationBuffer(): SpecificInternalRow = Hllpp.newBuffer()

  override def update(buffer: SpecificInternalRow, input: InternalRow)
      : SpecificInternalRow = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeWords) Hllpp.mergeInto(buffer, v.asInstanceOf[Array[Byte]])
      else Hllpp.helper.update(buffer, 0, v, child.dataType)
    }
    buffer
  }

  override def merge(buffer: SpecificInternalRow, other: SpecificInternalRow)
      : SpecificInternalRow = {
    Hllpp.helper.merge(buffer, other, 0, 0)
    buffer
  }

  override def eval(buffer: SpecificInternalRow): Any = Hllpp.toBytes(buffer)

  override def serialize(buffer: SpecificInternalRow): Array[Byte] =
    Hllpp.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): SpecificInternalRow =
    Hllpp.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): HllppSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllppSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): HllppSketchAgg =
    copy(child = c)

  override def prettyName: String =
    if (mergeWords) "hllpp_merge" else "hllpp_build"
}

/** Scalar: finalize HLL++ words to the `approx_count_distinct` estimate. */
case class HllppEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hllpp_estimate requires binary sketch input, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    Hllpp.estimate(Hllpp.fromBytes(v.asInstanceOf[Array[Byte]]))

  override def prettyName: String = "hllpp_estimate"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HllppFunctions {
  /** Aggregate raw values into mergeable words (ingest-time rollup, and
    * the raw-column cache partial). */
  def hllpp_build(c: Column): Column =
    GraftBridge.column(HllppSketchAgg(GraftBridge.expression(c))
      .toAggregateExpression())

  /** Aggregate stored words into one (query-time over a rollup column). */
  def hllpp_merge(c: Column): Column =
    GraftBridge.column(HllppSketchAgg(GraftBridge.expression(c), mergeWords = true)
      .toAggregateExpression())

  /** Finalize: words → the `approx_count_distinct`-identical estimate. */
  def hllpp_estimate(c: Column): Column =
    GraftBridge.column(HllppEstimate(GraftBridge.expression(c)))

  /** Words as the text of a cached sketch partial (`Hllpp.mergePartial`). */
  def hllpp_partial(words: Column): Column =
    functions.concat(functions.lit(Hllpp.PartialPrefix), functions.base64(words))
}
