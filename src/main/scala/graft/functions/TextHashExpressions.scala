package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the dedup hot path.
  *
  * The HOF formulation (`transform`/`aggregate` lambdas) is interpreted
  * per-element — a 64-hash MinHash signature over a few hundred shingles
  * costs tens of ms per row that way. These expressions do one pass over
  * the array with primitive arithmetic:
  *
  *  - MinHash: double hashing — two byte-level hashes per shingle,
  *    hash_i = h1 + i*h2 (the standard k-permutation approximation), so
  *    k=64 signatures cost 2 byte-passes + 64 mul/adds per shingle.
  *  - SimHash: one byte-level hash per token folded into 64 bit-sums.
  */
abstract class StringArrayExpression extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${t.simpleString}")
  }

  protected def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** Generated-code equivalent of `hash`: `s` must be a UTF8String var. */
  protected def genHash(s: String, seed: String): String =
    s"$XXH64Cls.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), " +
      s"$s.numBytes(), $seed)"

  protected val XXH64Cls = "org.apache.spark.sql.catalyst.expressions.XXH64"
}

/** k-element MinHash signature over word `shingleN`-gram shingles of a
  * token array. Shingles are never materialized as strings: each token is
  * hashed once, a shingle's identity is the XXH64 chain of its token
  * hashes, and the k permutations come from double hashing. */
case class MinHashSignature(child: Expression, numHashes: Int, shingleN: Int)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    // 1. hash each token once
    val th = new Array[Long](n)
    var j = 0
    while (j < n) {
      th(j) = if (arr.isNullAt(j)) 0L else hash(arr.getUTF8String(j), 42L)
      j += 1
    }
    // 2. shingle hash = chain of member token hashes; double-hash to k mins
    val nShingles = math.max(1, n - shingleN + 1)
    var s = 0
    while (s < nShingles) {
      var h1 = 42L
      var t = s
      val end = math.min(s + shingleN, n)
      while (t < end) { h1 = XXH64.hashLong(th(t), h1); t += 1 }
      val h2 = XXH64.hashLong(h1, 0x9E3779B97F4A7C15L) | 1L // odd → full-period
      var i = 0
      var h = h1
      while (i < numHashes) {
        if (h < mins(i)) mins(i) = h
        h += h2
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val th = ctx.freshName("th"); val j = ctx.freshName("j")
      val s = ctx.freshName("s"); val ns = ctx.freshName("nShingles")
      val h1 = ctx.freshName("h1"); val h2 = ctx.freshName("h2")
      val h = ctx.freshName("h"); val t = ctx.freshName("t")
      val end = ctx.freshName("end"); val i = ctx.freshName("i")
      val u = ctx.freshName("u")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |long[] $th = new long[$n];
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($a.isNullAt($j)) { $th[$j] = 0L; } else {
         |    UTF8String $u = $a.getUTF8String($j);
         |    $th[$j] = ${genHash(u, "42L")};
         |  }
         |}
         |int $ns = java.lang.Math.max(1, $n - $shingleN + 1);
         |for (int $s = 0; $s < $ns; $s++) {
         |  long $h1 = 42L;
         |  int $end = java.lang.Math.min($s + $shingleN, $n);
         |  for (int $t = $s; $t < $end; $t++) {
         |    $h1 = $XXH64Cls.hashLong($th[$t], $h1);
         |  }
         |  long $h2 = $XXH64Cls.hashLong($h1, 0x9E3779B97F4A7C15L) | 1L;
         |  long $h = $h1;
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    if ($h < $mins[$i]) $mins[$i] = $h;
         |    $h += $h2;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of a string array (token set). */
case class SimHash64(child: Expression)
    extends StringArrayExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sums = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = hash(arr.getUTF8String(j), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val sums = ctx.freshName("sums")
      val j = ctx.freshName("j"); val h = ctx.freshName("h")
      val b = ctx.freshName("b"); val sig = ctx.freshName("sig")
      val u = ctx.freshName("u")
      s"""
         |int $n = $a.numElements();
         |int[] $sums = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    UTF8String $u = $a.getUTF8String($j);
         |    long $h = ${genHash(u, "42L")};
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $sums[$b]++; else $sums[$b]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($sums[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 128-bit SimHash of a token array, as array<long> of 2 — the WIDE
  * fingerprint that lifts the 64-bit family's banding scale ceiling
  * (4 bands of 32 bits: pigeonhole capture for hamming ≤ 3 with a
  * 2^32-value bucket keyspace per band, vs 2^16 at 64 bits — random
  * bucket load stays trivial past billions of docs). Bits 0-63 come from
  * the seed-42 token hash (IDENTICAL to SimHash64's bit assignment, so
  * the low long of simhash128 == simhash64 for the same tokens); bits
  * 64-127 from an independent seed-1337 hash. */
case class SimHash128(child: Expression)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sums = new Array[Int](128)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val u = arr.getUTF8String(j)
        val h1 = hash(u, 42L)
        val h2 = hash(u, 1337L)
        var b = 0
        while (b < 64) {
          if (((h1 >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
          if (((h2 >>> b) & 1L) == 1L) sums(64 + b) += 1 else sums(64 + b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) lo |= (1L << b)
      if (sums(64 + b) > 0) hi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(lo, hi))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val sums = ctx.freshName("sums")
      val j = ctx.freshName("j"); val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2"); val b = ctx.freshName("b")
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val u = ctx.freshName("u")
      s"""
         |int $n = $a.numElements();
         |int[] $sums = new int[128];
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    UTF8String $u = $a.getUTF8String($j);
         |    long $h1 = ${genHash(u, "42L")};
         |    long $h2 = ${genHash(u, "1337L")};
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h1 >>> $b) & 1L) == 1L) $sums[$b]++; else $sums[$b]--;
         |      if ((($h2 >>> $b) & 1L) == 1L) $sums[64 + $b]++; else $sums[64 + $b]--;
         |    }
         |  }
         |}
         |long $lo = 0L; long $hi = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($sums[$b] > 0) $lo |= (1L << $b);
         |  if ($sums[64 + $b] > 0) $hi |= (1L << $b);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[]{$lo, $hi});
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band keys of a long-array signature: key_b = hash of band slice
  * (band index mixed in). One pass, no JSON serialization. */
case class SignatureBandKeys(child: Expression, bands: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>/array<int> input, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isInt = child.dataType.asInstanceOf[ArrayType].elementType == IntegerType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // bands > n would make rowsPerBand 0 → every row gets the same constant
    // band keys and the LSH join degenerates to all-pairs; a non-divisible
    // count silently ignores trailing signature slots (recall loss). Both
    // are config errors — fail loudly.
    require(bands >= 1 && bands <= n && n % bands == 0,
      s"bands=$bands must divide the signature length $n")
    val rowsPerBand = n / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b.toLong, 42L)
      var i = b * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) {
        val e = if (isInt) arr.getInt(i).toLong else arr.getLong(i)
        h = XXH64.hashLong(e, h)
        i += 1
      }
      keys(b) = h
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val get = if (isInt) "(long) $arr$.getInt" else "$arr$.getLong"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val rpb = ctx.freshName("rowsPerBand")
      val keys = ctx.freshName("keys"); val b = ctx.freshName("b")
      val h = ctx.freshName("h"); val i = ctx.freshName("i")
      val end = ctx.freshName("end")
      val acc = get.replace("$arr$", a)
      s"""
         |int $n = $a.numElements();
         |if (!($bands >= 1 && $bands <= $n && $n % $bands == 0)) {
         |  throw new IllegalArgumentException(
         |    "bands=$bands must divide the signature length " + $n);
         |}
         |int $rpb = $n / $bands;
         |long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $h = $xxh.hashLong((long) $b, 42L);
         |  int $i = $b * $rpb;
         |  int $end = $i + $rpb;
         |  for (; $i < $end; $i++) {
         |    $h = $xxh.hashLong($acc($i), $h);
         |  }
         |  $keys[$b] = $h;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Estimated Jaccard from two equal-length long-array MinHash signatures:
  * fraction of matching slots. The `zip_with`+`aggregate` HOF formulation
  * is interpreted per ELEMENT with boxed lambdas and allocates an
  * intermediate array — and it runs once per banded candidate PAIR, the
  * LSH join's hot path. This is one primitive pass. */
case class MinHashJaccard(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<long> inputs, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val total = x.numElements() // HOF semantics: divide by size(sigA)
    if (total == 0) 0.0
    else {
      var m = 0
      var i = 0
      while (i < n) {
        if (x.getLong(i) == y.getLong(i)) m += 1
        i += 1
      }
      m.toDouble / total
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val total = ctx.freshName("total")
      val m = ctx.freshName("m"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $total = $a.numElements();
         |if ($total == 0) { ${ev.value} = 0.0; } else {
         |  int $m = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getLong($i) == $b.getLong($i)) $m++;
         |  }
         |  ${ev.value} = (double) $m / (double) $total;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Byte-compact MinHash co-location form: the LOW BYTE of each 64-bit
  * signature slot, packed as binary — 64 B against the long array's ~528 B
  * in an exchange row. Two slots' low bytes match whenever the slots match
  * (plus a 1/256 coincidence on mismatch), so [[ByteJaccard]] over these
  * is a slight OVER-estimate of [[MinHashJaccard]]: est_byte = j +
  * (1−j)/256 in expectation — never lower per pair, so an est-floor keeps
  * every pair the full-width estimate would keep, and the exact verify
  * downstream absorbs the ≤0.4%-absolute inflation. This is what banding
  * self-joins ship per candidate at corpus scale (the r17/r18 sf100
  * finding: the est co-location exchange, not the banding, is the
  * scratch-disk ceiling — measured 26.7 GB for 124M candidates with
  * long-array signatures, 8× less in bytes). */
case class MinHashBytes(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long> input, got ${t.simpleString}")
  }

  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = arr.getLong(i).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) $a.getLong($i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fraction of equal bytes of two binary columns, divided by the LEFT
  * length ([[MinHashJaccard]]'s HOF semantics) — the estimator over
  * [[MinHashBytes]] signatures. One primitive pass per candidate pair. */
case class ByteJaccard(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two binary inputs, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    if (x.length == 0) 0.0
    else {
      var m = 0
      var i = 0
      while (i < n) {
        if (x(i) == y(i)) m += 1
        i += 1
      }
      m.toDouble / x.length
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |if ($a.length == 0) { ${ev.value} = 0.0; } else {
         |  int $m = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a[$i] == $b[$i]) $m++;
         |  }
         |  ${ev.value} = (double) $m / (double) $a.length;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** Whitespace tokenizer with `String.split("\\s+")` semantics, minus the
  * regex: one byte-level pass over the UTF8String. Spark's `split(col,
  * "\\s+")` recompiles the pattern on EVERY row (`String.split` only
  * fast-paths single-char non-regex separators), which profiled as the
  * top kernel+CPU sink of the dedup frame build at 10× SF. Whitespace
  * here = Java regex `\s` = [ \t\n\x0B\f\r], all ASCII, so byte-wise
  * scanning is UTF-8-safe (continuation bytes are ≥ 0x80).
  *
  * Exact Spark `split(col, re)` (= `String.split(re, -1)`) edge semantics
  * are preserved: a leading separator yields a leading "" field, a
  * trailing separator yields a trailing "" field (Spark's default limit
  * -1 KEEPS trailing empties, unlike `String.split(re)`), and an empty
  * input yields [""]. */
case class WhitespaceSplit(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WhitespaceSplit.split(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WhitespaceSplit.split($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WhitespaceSplit {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Static so generated code stays a one-line call (big inline bodies are
    * what tripped the JIT recompilation ban at 10× SF). */
  def split(u: UTF8String): ArrayData = {
    val bytes = u.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[UTF8String]
    var start = 0
    var i = 0
    while (i < len) {
      if (isWs(bytes(i))) {
        out.add(UTF8String.fromBytes(bytes, start, i - start))
        while (i < len && isWs(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    out.add(UTF8String.fromBytes(bytes, start, len - start)) // tail, "" if trailing ws
    new GenericArrayData(out.toArray)
  }
}

/** Markup to plain text in one native expression, with exactly the result
  * of this `regexp_replace` chain, which uses one pattern per block tag and
  * no backreference so that RE2-family engines (DuckDB, Go) replay it:
  *
  *  1. `(?is)<script[^>]*>.*?</script>` → " ", then the same for `style`;
  *  2. `<[^>]*>` → " ";
  *  3. `&lt;` `&gt;` `&quot;` `&#39;` `&amp;` decoded in that order, so
  *     a double escape (`&amp;lt;`) stays literal;
  *  4. `\s+` → " ", then Spark's `trim` (U+0020 only).
  *
  * The chain itself costs 4 regex passes and 5 replaces per row; this is
  * a few byte passes. Every pattern byte is ASCII and UTF-8 continuation
  * bytes are ≥ 0x80, so byte matching is UTF-8-safe. Tag names match ASCII
  * case-insensitively, as `(?i)` does without UNICODE_CASE, and whitespace
  * is Java's `\s` = [ \t\n\x0B\f\r]. Each step runs on the previous step's
  * output, so a tag that only forms after a block is cut goes as the chain
  * would cut it. */
case class StripMarkup(child: Expression) extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    StripMarkup.strip(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.StripMarkup.strip($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object StripMarkup {
  private final val Lt = '<'.toByte
  private final val Gt = '>'.toByte
  private final val Space = ' '.toByte
  private val Script = "script".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Style = "style".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Entities = Seq("lt;" -> '<', "gt;" -> '>', "quot;" -> '"',
    "#39;" -> '\'', "amp;" -> '&')
    .map { case (e, c) => (e.getBytes(java.nio.charset.StandardCharsets.US_ASCII), c.toByte) }
    .toArray

  def strip(u: UTF8String): UTF8String = {
    val noBlocks = dropBlocks(dropBlocks(u.getBytes, Script), Style)
    UTF8String.fromBytes(decodeAndCollapse(dropTags(noBlocks)))
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  private def indexOf(b: Array[Byte], c: Byte, from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != c) i += 1
    if (i < b.length) i else -1
  }

  /** `b[at..]` starts with the lowercase ASCII `name`, ignoring ASCII case. */
  private def startsWithCi(b: Array[Byte], at: Int, name: Array[Byte]): Boolean =
    at + name.length <= b.length && {
      var j = 0
      while (j < name.length && (b(at + j) | 0x20) == name(j)) j += 1
      j == name.length
    }

  /** First `<name` (open) or `</name>` (close) at or after `from`, or -1. */
  private def find(b: Array[Byte], name: Array[Byte], close: Boolean, from: Int): Int = {
    var i = indexOf(b, Lt, from)
    while (i >= 0 && !(if (close)
        i + 1 < b.length && b(i + 1) == '/' && startsWithCi(b, i + 2, name) &&
          i + 2 + name.length < b.length && b(i + 2 + name.length) == '>'
      else startsWithCi(b, i + 1, name))) i = indexOf(b, Lt, i + 1)
    i
  }

  /** Step 1 for one block tag. Once one `<name` finds no `>` or no
    * `</name>` after it, no later `<name` can, so the scan stops. */
  private def dropBlocks(b: Array[Byte], name: Array[Byte]): Array[Byte] = {
    var out: java.io.ByteArrayOutputStream = null
    var from = 0
    var open = find(b, name, close = false, 0)
    var done = open < 0
    while (!done) {
      val gt = indexOf(b, Gt, open + 1 + name.length)
      val end = if (gt < 0) -1 else find(b, name, close = true, gt + 1)
      if (end < 0) done = true
      else {
        if (out == null) out = new java.io.ByteArrayOutputStream(b.length)
        out.write(b, from, open - from)
        out.write(Space)
        from = end + name.length + 3
        open = find(b, name, close = false, from)
        done = open < 0
      }
    }
    if (out == null) b else { out.write(b, from, b.length - from); out.toByteArray }
  }

  /** Step 2: each `<` with a later `>` up to that `>` becomes one space. */
  private def dropTags(b: Array[Byte]): Array[Byte] = {
    var out: java.io.ByteArrayOutputStream = null
    var from = 0
    var lt = indexOf(b, Lt, 0)
    var gt = if (lt < 0) -1 else indexOf(b, Gt, lt + 1)
    while (gt >= 0) {
      if (out == null) out = new java.io.ByteArrayOutputStream(b.length)
      out.write(b, from, lt - from)
      out.write(Space)
      from = gt + 1
      lt = indexOf(b, Lt, from)
      gt = if (lt < 0) -1 else indexOf(b, Gt, lt + 1)
    }
    if (out == null) b else { out.write(b, from, b.length - from); out.toByteArray }
  }

  /** Steps 3 and 4 in one pass. The entities share no byte but `&` and
    * `;` at their ends and decode to non-whitespace bytes that start no
    * entity, so one left-to-right decode equals the five ordered replaces,
    * and whitespace runs are the same before and after decoding. */
  private def decodeAndCollapse(b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (isWs(c)) { pendingSpace = true; i += 1 }
      else {
        if (pendingSpace && n > 0) { out(n) = Space; n += 1 }
        pendingSpace = false
        var e = if (c == '&') 0 else Entities.length
        while (e < Entities.length && !startsWith(b, i + 1, Entities(e)._1)) e += 1
        if (e < Entities.length) {
          out(n) = Entities(e)._2
          i += 1 + Entities(e)._1.length
        } else {
          out(n) = c
          i += 1
        }
        n += 1
      }
    }
    java.util.Arrays.copyOf(out, n)
  }

  private def startsWith(b: Array[Byte], at: Int, s: Array[Byte]): Boolean =
    at + s.length <= b.length && {
      var j = 0
      while (j < s.length && b(at + j) == s(j)) j += 1
      j == s.length
    }
}

/** Distinct word n-gram shingles ("w1 w2 ... wn") of a token array, one
  * pass. Replaces the HOF formulation `transform(sequence(...), i =>
  * concat_ws(" ", slice(t, i, n)))`, which is interpreted per element AND
  * re-evaluates the full child subtree (the tokenizer!) once per shingle
  * position — O(tokens²) per document. Matches that formulation exactly:
  * fewer than n tokens collapse to ONE shingle of all tokens, null tokens
  * are skipped in the join (concat_ws semantics), and the distinct keeps
  * first occurrence (array_distinct semantics). */
case class WordShingles(child: Expression, shingleN: Int)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[ArrayData], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordShingles.compute($a, $shingleN);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShingles {
  private val Sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData, shingleN: Int): ArrayData = {
    val n = arr.numElements()
    def join(from: Int, until: Int): UTF8String = {
      val w = new Array[UTF8String](until - from)
      var i = from
      while (i < until) {
        w(i - from) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        i += 1
      }
      UTF8String.concatWs(Sep, w: _*) // skips nulls, like ConcatWs
    }
    val out = new java.util.LinkedHashSet[UTF8String] // distinct, first-occurrence order
    if (n < shingleN) out.add(join(0, n))
    else {
      var s = 0
      while (s <= n - shingleN) { out.add(join(s, s + shingleN)); s += 1 }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Unicode normalization of a string column — the ingest-time cleanup
  * step every multilingual corpus needs before any byte-level hashing
  * (NFC vs decomposed sequences would otherwise make visually identical
  * texts hash apart, silently defeating exact dedup). `form` is a
  * `java.text.Normalizer.Form` name (NFC default; NFKC for the
  * compatibility fold that also normalizes width/ligatures);
  * `stripControl = true` additionally removes C0/C1 control characters
  * except tab/newline/carriage-return. Spark ships no normalizer
  * built-in; this is a codegen'd expression over a static helper (the
  * JDK normalizer implements UAX #15, so any conformant engine — e.g.
  * DuckDB's `nfc_normalize` — reproduces the NFC output byte-for-byte,
  * which is what makes the q88 oracle possible). */
case class UnicodeNormalize(child: Expression, form: String,
    stripControl: Boolean)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType =>
      if (scala.util.Try(java.text.Normalizer.Form.valueOf(form)).isSuccess)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"unknown normalization form '$form' (NFC/NFD/NFKC/NFKD)")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    UnicodeNormalize.compute(v.asInstanceOf[UTF8String], form, stripControl)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.UnicodeNormalize.compute($a, "$form", $stripControl);""")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object UnicodeNormalize {
  def compute(s: UTF8String, form: String, stripControl: Boolean): UTF8String = {
    val normalized = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.valueOf(form))
    val out =
      if (!stripControl) normalized
      else {
        val sb = new java.lang.StringBuilder(normalized.length)
        var i = 0
        while (i < normalized.length) {
          val c = normalized.charAt(i)
          // C0 minus \t\n\r, DEL (0x7F), and the C1 block (0x80-0x9F)
          val isCtl = (c < 0x20 && c != '\t' && c != '\n' && c != '\r') ||
            c == 0x7f || (c >= 0x80 && c <= 0x9f)
          if (!isCtl) sb.append(c)
          i += 1
        }
        sb.toString
      }
    UTF8String.fromString(out)
  }
}

/** POSITIONAL (non-distinct) word n-gram strings of a token array —
  * element `i` is tokens `[i, i+n)` joined by spaces; fewer than `n`
  * tokens yields an EMPTY array. The multiplicity-preserving sibling of
  * [[WordShingles]] (set semantics) for frequency-weighted consumers
  * (DSIR counts every occurrence). Exists for the same reason as the
  * rest of this file: the HOF formulation (`transform(sequence(...), i =>
  * concat_ws(...element_at...))`) is interpreted per element and
  * measured 3-5 s/query on the DSIR entries; this is one compiled pass. */
case class WordNgrams(child: Expression, ngramN: Int)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WordNgrams.compute(v.asInstanceOf[ArrayData], ngramN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordNgrams.compute($a, $ngramN);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordNgrams {
  private val Sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var s = 0
    while (s <= len - n) {
      val w = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        w(i) = if (arr.isNullAt(s + i)) null else arr.getUTF8String(s + i)
        i += 1
      }
      out(s) = UTF8String.concatWs(Sep, w: _*) // skips nulls, like ConcatWs
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-position 64-bit hashes of every `windowK`-token window of a token
  * array: output element `i` identifies tokens `[i, i+k)`. POSITIONAL
  * semantics, deliberately unlike [[WordShingles]]: no distinct, and an
  * array shorter than `k` yields an EMPTY array (a passage window needs k
  * tokens; there is no collapse-to-one-shingle).
  *
  * Each token is byte-hashed once (O(tokens) byte passes); a window's
  * identity is the XXH64 chain of its member token hashes, exactly
  * [[MinHashSignature]]'s shingle-identity scheme — O(tokens·k) long
  * mixes, zero string materialization. This is the scale path of
  * passage-level dedup ([[graft.ext.Dedup.duplicatedSpans]]): the
  * window frame shuffles 8-byte keys instead of k-token gram strings
  * (~k× corpus bytes). Two distinct windows collide with probability
  * ~2^-64; the exact-gram mode of `duplicatedSpans` exists for
  * collision-free (and oracle-replayable) runs. */
case class WordWindowHashes(child: Expression, windowK: Int)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WordWindowHashes.compute(v.asInstanceOf[ArrayData], windowK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordWindowHashes.compute($a, $windowK);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordWindowHashes {
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var j = 0
    while (j < n) {
      th(j) =
        if (arr.isNullAt(j)) 0L
        else {
          val s = arr.getUTF8String(j)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        }
      j += 1
    }
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) {
      var h = 42L
      var t = s
      while (t < s + k) { h = XXH64.hashLong(th(t), h); t += 1 }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Exact set Jaccard of two string arrays in one pass. Drop-in equal to
  * `size(array_intersect(a, b)) / size(array_union(a, b))` (distinct
  * semantics over possibly-duplicated inputs, NaN on two empty arrays)
  * without materializing either intermediate array — this runs once per
  * candidate PAIR on the dedup verify path. */
case class SetJaccard(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> inputs, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    SetJaccard.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetJaccard.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

object SetJaccard {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String]
    var i = 0
    val na = a.numElements()
    while (i < na) {
      setA.add(if (a.isNullAt(i)) null else a.getUTF8String(i))
      i += 1
    }
    val seenB = new java.util.HashSet[UTF8String]
    var inter = 0
    var j = 0
    val nb = b.numElements()
    while (j < nb) {
      val e = if (b.isNullAt(j)) null else b.getUTF8String(j)
      if (seenB.add(e) && setA.contains(e)) inter += 1
      j += 1
    }
    val union = setA.size + seenB.size - inter
    if (union == 0) Double.NaN else inter.toDouble / union
  }
}

/** Sort key realizing Druid's alphanumeric comparator: embedded digit runs
  * compare numerically ("file2" < "file10"), everything else byte-wise.
  * Digit runs are rewritten to (0-padded-length-prefix + digits) so plain
  * string ordering of the key equals alphanumeric ordering of the input. */
case class AlphanumericSortKey(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    AlphanumericSortKey.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.AlphanumericSortKey.compute($s);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AlphanumericSortKey {
  def compute(v: UTF8String): UTF8String = {
    val s = v.toString
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        var j = i
        while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
        // strip leading zeros for numeric value comparison, keep at least one
        var k = i
        while (k < j - 1 && s.charAt(k) == '0') k += 1
        val digits = s.substring(k, j)
        // length prefix (2 chars, supports runs up to 99 digits) then digits:
        // shorter runs sort before longer ones, equal lengths compare bytewise.
        // Marker '0' (0x30): a digit run must sort exactly where its first
        // digit would against NON-digit chars (alphanum compares mixed
        // positions charwise), and '0' is the lowest code point no literal
        // non-digit char can be — an earlier '#' marker sorted digit runs
        // BEFORE '$'-'/' (0x24-0x2F), inverting those orders
        sb.append('0')
        sb.append(f"${digits.length}%02d")
        sb.append(digits)
        i = j
      } else {
        sb.append(c)
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Repetition-quality signals of a token array in one pass — the classic
  * cheap pre-training repetition filters (the "Gopher rules" family):
  *
  *  - `dup_token_frac`:   1 − distinct(tokens)/|tokens|
  *  - `top_bigram_frac`:  count(most frequent word 2-gram) / (|tokens|−1)
  *  - `dup_trigram_frac`: 1 − distinct(3-grams)/(|tokens|−2)
  *
  * Degenerate denominators (|tokens| < 2 resp. < 3, or empty input) yield
  * 0.0 for that signal. One pass, one HashMap + two HashSets per row —
  * a native expression because the HOF formulation (mode of an array via
  * `transform`/`filter`) is interpreted AND O(tokens²) per document. Part
  * of the LLM-pipeline quality-scoring surface (driver mandate), next to
  * [[graft.ext.TextAnalysis.qualityScore]].
  */
case class RepetitionStats(child: Expression)
    extends StringArrayExpression {

  override def dataType: DataType = RepetitionStats.Schema

  override def nullSafeEval(v: Any): Any =
    RepetitionStats.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RepetitionStats.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RepetitionStats {
  val Schema: StructType = StructType(Seq(
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false),
    StructField("dup_trigram_frac", DoubleType, nullable = false)))

  private val Sep = UTF8String.fromString(" ")

  /** Static so generated code stays a one-line call (JIT inline budget). */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val distinctTok = new java.util.HashSet[UTF8String]
    i = 0
    while (i < m) { distinctTok.add(toks(i)); i += 1 }
    var maxBi = 0
    if (m >= 2) {
      val counts = new java.util.HashMap[UTF8String, Integer]
      i = 0
      while (i < m - 1) {
        val g = UTF8String.concatWs(Sep, toks(i), toks(i + 1))
        val c: Int = counts.merge(g, 1, (a, b) => a + b)
        if (c > maxBi) maxBi = c
        i += 1
      }
    }
    var distinctTri = 0
    if (m >= 3) {
      val tri = new java.util.HashSet[UTF8String]
      i = 0
      while (i < m - 2) {
        tri.add(UTF8String.concatWs(Sep, toks(i), toks(i + 1), toks(i + 2)))
        i += 1
      }
      distinctTri = tri.size
    }
    new GenericInternalRow(Array[Any](
      if (m <= 0) 0.0 else 1.0 - distinctTok.size.toDouble / m,
      if (m < 2) 0.0 else maxBi.toDouble / (m - 1),
      if (m < 3) 0.0 else 1.0 - distinctTri.toDouble / (m - 2)))
  }
}

/** Per-row term counts of a token array: `array<struct<term,cnt>>` in
  * first-occurrence order, one HashMap pass. Exploding THIS instead of the
  * raw token array removes the corpus-scale `(doc, term)` groupBy shuffle
  * from TF-style pipelines — aggregation happens inside the row, so what
  * reaches the first exchange is already distinct-term-sized. */
case class TokenCounts(child: Expression)
    extends StringArrayExpression {

  override def dataType: DataType = ArrayType(TokenCounts.Entry, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    TokenCounts.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenCounts.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenCounts {
  val Entry: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]
    var i = 0
    while (i < m) {
      val t = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      counts.merge(t, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }
}

object TextHashFunctions {
  def minhash_signature(tokens: Column, numHashes: Int, shingleN: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(tokens), numHashes, shingleN))

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  def simhash128(tokens: Column): Column =
    GraftBridge.column(SimHash128(GraftBridge.expression(tokens)))

  def band_keys(signature: Column, bands: Int): Column =
    GraftBridge.column(SignatureBandKeys(GraftBridge.expression(signature), bands))

  def minhash_jaccard(sigA: Column, sigB: Column): Column =
    GraftBridge.column(MinHashJaccard(
      GraftBridge.expression(sigA), GraftBridge.expression(sigB)))

  def minhash_bytes(sig: Column): Column =
    GraftBridge.column(MinHashBytes(GraftBridge.expression(sig)))

  def byte_jaccard(a: Column, b: Column): Column =
    GraftBridge.column(ByteJaccard(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def alphanumeric_sort_key(s: Column): Column =
    GraftBridge.column(AlphanumericSortKey(GraftBridge.expression(s)))

  def split_ws(s: Column): Column =
    GraftBridge.column(WhitespaceSplit(GraftBridge.expression(s)))

  def strip_markup(html: Column): Column =
    GraftBridge.column(StripMarkup(GraftBridge.expression(html)))

  def word_shingles(tokens: Column, shingleN: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(tokens), shingleN))

  def word_window_hashes(tokens: Column, windowK: Int): Column =
    GraftBridge.column(WordWindowHashes(GraftBridge.expression(tokens), windowK))

  def word_ngrams(tokens: Column, ngramN: Int): Column =
    GraftBridge.column(WordNgrams(GraftBridge.expression(tokens), ngramN))

  def unicode_normalize(s: Column, form: String = "NFC",
      stripControl: Boolean = false): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(s), form, stripControl))

  def set_jaccard(a: Column, b: Column): Column =
    GraftBridge.column(SetJaccard(GraftBridge.expression(a), GraftBridge.expression(b)))

  def repetition_stats(tokens: Column): Column =
    GraftBridge.column(RepetitionStats(GraftBridge.expression(tokens)))

  def token_counts(tokens: Column): Column =
    GraftBridge.column(TokenCounts(GraftBridge.expression(tokens)))
}
