/* Package-injected shim: ExpressionUtils and several expression
 * supertypes are private[sql] in Spark 4 (Column no longer exposes
 * .expr publicly), so a library registering custom Catalyst expressions
 * needs a small bridge inside the sql package namespace. No Spark
 * internals are modified — this defines new expressions and re-exports
 * two conversions. */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Native Catalyst expression for the embedding dot product: a tight
  * codegen'd loop over two float arrays with per-element FLOAT→DOUBLE
  * promotion and ascending-index accumulation — the exact IEEE sequence
  * of `aggregate(zip_with(a, b, (x,y) => x*y), 0d, +)`, so results are
  * bit-identical to the declarative fold (and to the DuckDB oracle), at
  * a fraction of the cost: higher-order functions evaluate interpreted
  * lambdas per element, while this stays inside whole-stage codegen.
  *
  * Contract (matches the corpus): equal-length arrays, no null
  * elements. Null array → null result (nullSafe).
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType, containsNull = false),
      ArrayType(FloatType, containsNull = false))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Native micro-unit squared-L2 kernel: `floor(‖a−b‖²·10⁶)` as LONG,
  * per-element FLOAT→DOUBLE promotion, exact double subtract/square,
  * ascending-index accumulation — the exact IEEE sequence of
  * `floor(aggregate(zip_with(a,b,(x,y)=>(x-y)²), 0d, +) · 10⁶)`, so
  * results are bit-identical to the declarative fold (and the DuckDB
  * oracle's `list_reduce` mirror) while staying inside whole-stage
  * codegen — the PQ encode/LUT stages evaluate this once per
  * (row, subspace, codebook entry). */
case class L2SqMicroF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType, containsNull = false),
      ArrayType(FloatType, containsNull = false))

  override def dataType: DataType = LongType

  override def prettyName: String = "l2sq_micro_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    math.floor(s * 1000000.0).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $x.getFloat($i)) - ((double) $y.getFloat($i));
         |  $s += $d * $d;
         |}
         |${ev.value} = (long) java.lang.Math.floor($s * 1000000.0);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqMicroF =
    copy(left = newLeft, right = newRight)
}

/** Native sorted-array intersection COUNT over two LONG arrays: a
  * two-pointer merge walk — zero allocation, stays in whole-stage
  * codegen. Counts DISTINCT common values (duplicate runs are skipped on
  * both sides), so for sorted inputs it equals
  * `size(array_intersect(a, b))` exactly — property-tested. The
  * per-edge kernel of adjacency-intersection triangle counting, where
  * the generic `array_intersect` pays a hash-set build per ROW. */
case class SortedIntersectCountL(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType, containsNull = false),
      ArrayType(LongType, containsNull = false))

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count_l"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        c += 1
        while (i < n && x.getLong(i) == xv) i += 1
        while (j < m && y.getLong(j) == yv) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else {
         |    $c++;
         |    while ($i < $n && $x.getLong($i) == $xv) { $i++; }
         |    while ($j < $m && $y.getLong($j) == $yv) { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountL =
    copy(left = newLeft, right = newRight)
}

/** Shared kernel for [[WinnowFp]]: min over all `w`-char windows of the
  * 60-bit md5 prefix hash (TextOps.hx semantics — the first 15 hex
  * chars of md5 as a positive long == the first 8 digest bytes
  * big-endian, shifted right 4). Windows are CHARACTER windows (same as
  * `Column.substr`), hashed over their UTF-8 bytes, so results are
  * bit-identical to the declarative
  * `array_min(transform(sequence(...), i => hx(substr(text,i,w))))`.
  * Windows advance by Unicode CODE POINTS (like `substr` and the DuckDB
  * oracle's `substring`), not UTF-16 units, so surrogate pairs neither
  * split a window nor shift offsets. */
object WinnowUtil {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def fingerprint(s: UTF8String, w: Int): Long = {
    val str = s.toString
    val cps = str.codePointCount(0, str.length)
    val md = tl.get()
    var min = Long.MaxValue
    // char offsets of the window's first and one-past-last code point
    var startChar = 0
    var endChar = str.offsetByCodePoints(0, math.min(w, cps))
    var k = 0
    val lastK = math.max(cps - w, 0)
    while (k <= lastK) {
      md.reset()
      val d = md.digest(
        str.substring(startChar, endChar).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = v >>> 4
      if (v < min) min = v
      if (k < lastK) {
        startChar = str.offsetByCodePoints(startChar, 1)
        if (endChar < str.length) endChar = str.offsetByCodePoints(endChar, 1)
      }
      k += 1
    }
    min
  }
}

/** Native Karp–Rabin/winnowing document fingerprint (min window hash):
  * one pass per row through a Scala kernel instead of 500+ interpreted
  * md5→hex→conv expression chains per document. */
case class WinnowFp(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "winnow_fp"

  override protected def nullSafeEval(input: Any): Any =
    WinnowUtil.fingerprint(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftshim.WinnowUtil.fingerprint($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFp =
    copy(child = newChild)
}

/** Shared kernel for [[MinhashSigsF]]: the k per-permutation minima of
  * `hxk(i, shingle)` over a document's word-trigram shingles, in ONE
  * pass — tokens split like Spark's `split(text, " ")` (regex split,
  * trailing empties kept), shingles are space-joined trigrams in
  * document order, and each hash is the 60-bit md5-prefix of
  * `"$i:" + shingle` UTF-8 bytes (TextOps.hxk semantics). Duplicate
  * shingles cannot change a MIN, so results are bit-identical to the
  * batch explode→distinct→16-min-aggregate pipeline (asserted in
  * DedupOpsSpec) — without 16 interpreted higher-order transforms per
  * row re-deriving the shingle array. Sub-trigram documents return
  * null (the batch form drops them: no shingle rows → no sig row). */
object MinhashUtil {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  // the k "i:" prefix byte arrays depend only on k (a plan-time
  // constant): built once per k, not per document — the hot streaming
  // ingest path calls sigs() per row
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, kk => Array.tabulate(kk)(i =>
      (i.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  def sigs(s: UTF8String, k: Int): Array[Long] = {
    val toks = s.toString.split(" ", -1)
    if (toks.length < 3) return null
    val md = tl.get()
    val mins = Array.fill(k)(Long.MaxValue)
    // md5("i:" + shingle) == md5 of prefix bytes then shingle bytes —
    // encode each exactly once instead of k string-concats per shingle
    val prefixes = prefixesFor(k)
    var j = 0
    while (j <= toks.length - 3) {
      val shBytes = (toks(j) + " " + toks(j + 1) + " " + toks(j + 2))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < k) {
        md.reset()
        md.update(prefixes(i))
        val d = md.digest(shBytes)
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v = v >>> 4
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    mins
  }
}

/** One-pass positional seed-gram hashing (r15): the per-position 60-bit
  * house hash `hx(array_join(slice(toks, p+1, seedW), " "))` of every
  * seedW-token window, computed by streaming the token bytes (encoded
  * ONCE each) through an MD5 with single-space separators — md5 of a
  * concatenation is md5 of its parts streamed in order, so values are
  * bit-identical to the declarative `hx(gram-string)` composition (and
  * to the DuckDB oracle that mirrors hx on the strings) without ever
  * materializing the ~(seedW × token) gram strings, their hex digests
  * or the conv() base-16 parse. Index i of the result IS position i. */
object SeedGramUtil {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  def hashes(s: UTF8String, seedW: Int): Array[Long] = {
    val toks = s.toString.split(" ", -1)
    val nPos = toks.length - seedW + 1
    if (nPos <= 0) return Array.emptyLongArray
    // every token's bytes encode once; each window re-feeds seedW of them
    val tb = new Array[Array[Byte]](toks.length)
    var t = 0
    while (t < toks.length) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    val md = tl.get()
    val out = new Array[Long](nPos)
    var p = 0
    while (p < nPos) {
      md.reset()
      var j = 0
      while (j < seedW) {
        if (j > 0) md.update(Space)
        md.update(tb(p + j))
        j += 1
      }
      val d = md.digest()
      // hx: the md5's first 15 hex chars = first 60 bits (>>> 4)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(p) = v >>> 4
      p += 1
    }
    out
  }
}

/** Native positional seed-gram hash vector (codegen'd): one kernel call
  * per document emits array<long> of per-position window hashes — the
  * posexplode feed of [[graft.ops.DedupOps.seedGramIndex]]. Replaces a
  * transform(sequence)/array_join/md5-hex/substring/conv tree evaluated
  * per POSITION (≈ corpus token count md5-hex round trips) with one
  * streamed digest per position over bytes encoded once per token;
  * value-identical to the declarative form (spec: ExprPropertySpec). */
case class SeedGramHashesF(child: Expression, seedW: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(seedW >= 1, s"seed_gram_hashes_f needs seedW >= 1, got $seedW")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "seed_gram_hashes_f"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      SeedGramUtil.hashes(input.asInstanceOf[UTF8String], seedW))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  org.apache.spark.sql.graftshim.SeedGramUtil.hashes($c, $seedW));
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SeedGramHashesF =
    copy(child = newChild)
}

/** One-pass n-gram window join (r15): the space-joined n-token windows
  * of a token array in one kernel call — exactly
  * `transform(sequence(1, size−n+1), i → concat_ws(" ", element_at(toks,
  * i+0..n−1)))` including concat_ws's null-skipping join (delegated to
  * `UTF8String.concatWs`), without the interpreted per-position
  * higher-order-function machinery. Empty array when the input has
  * fewer than n tokens (the `when(size < n, …)` guard's branch). */
object GramUtil {
  private val SpaceSep = UTF8String.fromString(" ")

  def grams(arr: ArrayData, n: Int): GenericArrayData = {
    val len = arr.numElements()
    val nPos = len - n + 1
    if (nPos <= 0) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](nPos)
    val window = new Array[UTF8String](n)
    var p = 0
    while (p < nPos) {
      var j = 0
      while (j < n) { window(j) = toks(p + j); j += 1 }
      out(p) = UTF8String.concatWs(SpaceSep, window: _*)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Native n-gram window vector — see [[GramUtil]]. Index i of the
  * result IS 0-based token position i (the positionalGrams feed). */
case class GramsF(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"grams_f needs n >= 1, got $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "grams_f"

  override protected def nullSafeEval(input: Any): Any =
    GramUtil.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = org.apache.spark.sql.graftshim.GramUtil.grams($c, $n);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): GramsF =
    copy(child = newChild)
}

/** One-pass sign-random-projection LSH bucket keys (r15): all `tables`
  * bucket keys of a float vector in one kernel call. The literal
  * hyperplane family is the house derivation — component (j, i) =
  * ((hx("j:i") mod 2001) − 1000) / 1000 as FLOAT — generated once per
  * (tables, planes, dims) and cached; per plane the projection is the
  * ascending-index FLOAT→DOUBLE dot (the DotProductF sequence), sign
  * bit j set iff ≥ 0 or NaN, bucket = sign bits + (table << planes).
  * Values are bit-identical to the literal-plane expression tree it
  * replaces (`ReferenceForms.lshBucket`, test scope; Spark's
  * GreaterThanOrEqual orders NaN
  * above every number, so a NaN projection sets the bit there too),
  * while collapsing a tables×planes-subexpression tree — re-planned and
  * re-codegen'd by every consumer query — into one call. */
object LshBucketUtil {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Float]]]()

  private def hx60(s: String): Long = {
    val md = tl.get(); md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** The (tables·planes) × dims literal plane matrix of the family. */
  private[graftshim] def planes(tables: Int, planes: Int, dims: Int): Array[Array[Float]] =
    planeCache.computeIfAbsent((tables, planes, dims), { case (t, p, d) =>
      Array.tabulate(t * p)(j =>
        Array.tabulate(d)(i => (((hx60(s"$j:$i") % 2001L) - 1000L).toDouble / 1000.0).toFloat))
    })

  def buckets(vec: ArrayData, tables: Int, nPlanes: Int, dims: Int): Array[Long] = {
    val pl = planes(tables, nPlanes, dims)
    val out = new Array[Long](tables)
    val n = math.min(vec.numElements(), dims)
    var t = 0
    while (t < tables) {
      var bucket = t.toLong << nPlanes
      var j = 0
      while (j < nPlanes) {
        val plane = pl(t * nPlanes + j)
        var s = 0.0
        var i = 0
        while (i < n) {
          s += vec.getFloat(i).toDouble * plane(i).toDouble
          i += 1
        }
        if (s >= 0 || s.isNaN) bucket += (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

/** Native all-tables LSH bucket-key vector — see [[LshBucketUtil]]. */
case class LshBucketsF(child: Expression, tables: Int, nPlanes: Int, dims: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "lsh_buckets_f"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(LshBucketUtil.buckets(
      input.asInstanceOf[ArrayData], tables, nPlanes, dims))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  org.apache.spark.sql.graftshim.LshBucketUtil.buckets($c, $tables, $nPlanes, $dims));
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): LshBucketsF =
    copy(child = newChild)
}

/** Native per-row MinHash signature (see [[MinhashUtil]]): the
  * stateless streaming form of the signature pipeline as one codegen'd
  * kernel call per row. */
/** One-pass SimHash over the whitespace tokens. */
object SimhashUtil {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** SimHash signature: per occurrence of each token, hx(token)'s low
    * `bits` bits vote ±1 per position; bit i of the signature is set
    * iff the vote sum is > 0. Integer vote sums commute, so the value
    * is bit-identical to the explode → 48-conditional-sum aggregation
    * it replaces (and to the DuckDB oracle), token order free. */
  def simhash(s: UTF8String, bits: Int): Long = {
    val toks = s.toString.split(" ", -1)
    val votes = new Array[Int](bits)
    val md = tl.get()
    var j = 0
    while (j < toks.length) {
      md.reset()
      val d = md.digest(
        toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // hx: the md5's first 15 hex chars = first 60 bits (>>> 4)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = v >>> 4
      var i = 0
      while (i < bits) {
        if (((v >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }
}

/** Native in-row SimHash (codegen'd): the whole signature computes in
  * one pass over the row's tokens, so signature-building is a narrow
  * map over the documents scan — the explode → groupBy form it
  * replaces shuffles one row per TOKEN (corpus token count, not doc
  * count) with 48 aggregation columns. The t7/t8 oracles are unchanged:
  * vote sums are order-free integers, so kernel ≡ aggregation ≡ oracle
  * bit-for-bit (spec-asserted corpus-wide in DedupOpsSpec). */
case class SimhashF(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_f"

  override protected def nullSafeEval(input: Any): Any =
    SimhashUtil.simhash(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = org.apache.spark.sql.graftshim.SimhashUtil.simhash(
       |  $c, $bits);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimhashF =
    copy(child = newChild)
}

/** F1 template extraction as a native Catalyst [[Generator]] — the
  * UDTF form of `graft.parse.WikiTemplateParser.extract` (reference
  * semantics: `src/helpers/template_extraction.py:40-116`): one input
  * page row → (pos, name, params) per extracted template, document
  * order, nested included.
  *
  * Why a Generator instead of the `posexplode(udf(...))` composition
  * (which stays as the SQL-surface fallback in TemplateFunctions): the
  * UDF path pays a full generic-converter round trip per page — UTF8String
  * → String → Seq[TemplateRow] → CatalystTypeConverters (array of rows,
  * per-entry map conversion) → materialized ArrayData → posexplode walks
  * it again. This expression parses straight off the UTF8String and
  * emits InternalRows with UTF8String/ArrayBasedMapData built in place:
  * no intermediate array materialization, no reflective converters, one
  * fewer serialization of every parsed template. The Generate node
  * itself is non-codegen either way (custom generators run via eval);
  * the stages above and below stay whole-stage codegen'd.
  *
  * Null/empty wikitext generates zero rows (matches `posexplode` over
  * the UDF's empty array). */
case class ExtractTemplatesGen(child: Expression)
    extends UnaryExpression with Generator with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def elementSchema: StructType = new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("name", StringType, nullable = false)
    .add("params", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)

  override def prettyName: String = "extract_templates_gen"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      val tmpls = graft.parse.WikiTemplateParser.extract(
        t.asInstanceOf[UTF8String].toString)
      var pos = -1
      tmpls.map { tm =>
        pos += 1
        val n = tm.params.length
        val keys = new Array[Any](n)
        val vals = new Array[Any](n)
        var i = 0
        tm.params.foreach { case (k, v) =>
          keys(i) = UTF8String.fromString(k)
          vals(i) = UTF8String.fromString(v)
          i += 1
        }
        InternalRow(pos, UTF8String.fromString(tm.name),
          new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractTemplatesGen =
    copy(child = newChild)
}

/** F4 key normalization as a native Catalyst expression — the map-level
  * companion of [[ExtractTemplatesGen]] in the flagship parse path
  * (reference: `wikipedia_page.py:297-301` — class→news_class, alias
  * fold, dash→underscore, in that order; collisions keep the LAST
  * value). KEY ORDER on collision is the engine's own contract, shared
  * with the Scala UDF it replaced (`ReferenceForms.fixParamsUdf`,
  * test scope): the renamed key moves to the END (LinkedHashMap
  * remove-then-put). This INTENTIONALLY differs
  * from the reference, whose fresh-dict rebuild keeps the colliding
  * key at its FIRST position — downstream consumers key by name, never
  * by position, so the divergence is observable only in raw map dumps
  * (ADVICE r12, adjudicated: documented, not silently implied
  * reference-faithful).
  *
  * Why native instead of the Scala UDF it replaces: the UDF pays a
  * CatalystTypeConverters round trip of every params map (MapData →
  * Scala Map → LinkedHashMap → back); this expression walks the
  * ArrayBasedMapData in place, calls the same
  * [[graft.wcd.ReferenceSchema.fixKey]], and rebuilds the map with no
  * generic conversion. (A Column-level `transform_keys` + when-chain
  * alternative was measured unusable — its expression DAG traversal
  * blew analysis up 20+ s at sf0.1.) */
case class FixParamsF(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(MapType(StringType, StringType))
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = false)
  override def prettyName: String = "fix_params_f"

  override protected def nullSafeEval(input: Any): Any = {
    val m = input.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val n = m.numElements()
    val ks = m.keyArray(); val vs = m.valueArray()
    val out = new java.util.LinkedHashMap[String, UTF8String]()
    var i = 0
    while (i < n) {
      val fk = graft.wcd.ReferenceSchema.fixKey(ks.getUTF8String(i).toString)
      out.remove(fk) // re-insert moves the renamed key to the END
      out.put(fk, vs.getUTF8String(i))
      i += 1
    }
    val keys = new Array[Any](out.size)
    val vals = new Array[Any](out.size)
    var j = 0
    val it = out.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey); vals(j) = e.getValue
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(newChild: Expression): FixParamsF =
    copy(child = newChild)
}

/** One-pass shot counter over the payload bytes. */
object ShotUtil {
  /** n_shots of the UTF-8 payload: frame mean byte levels at
    * `frameSize`, a new shot where |m − prev| ≥ `levelJump`, first
    * frame opens shot 1, empty payload counts 0 — exactly the
    * Multimodal.shotBoundaries statistic, and equal to the HOF
    * char-indexed kernel on the ASCII corpus contract. */
  def shots(s: UTF8String, frameSize: Int, levelJump: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    var shots = 1L
    var prev = Long.MinValue
    var start = 0
    while (start < n) {
      val end = math.min(start + frameSize, n)
      var sum = 0L
      var i = start
      while (i < end) { sum += bytes(i) & 0xff; i += 1 }
      val m = sum / (end - start)
      if (prev != Long.MinValue && math.abs(m - prev) >= levelJump) shots += 1
      prev = m
      start = end
    }
    shots
  }
}

/** Native in-row shot count (codegen'd) — bit-compatible with the
  * transform/zip_with/aggregate HOF composition it replaces on ASCII
  * payloads, and byte-indexed like Multimodal.shotBoundaries on
  * everything else. The HOF form was the suite's slowest kernel
  * (interpreted higher-order lambdas plus O(position) UTF8String
  * substring per character). */
case class ShotCountF(child: Expression, frameSize: Int, levelJump: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shot_count_f"

  override protected def nullSafeEval(input: Any): Any =
    ShotUtil.shots(input.asInstanceOf[UTF8String], frameSize, levelJump)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = org.apache.spark.sql.graftshim.ShotUtil.shots(
       |  $c, $frameSize, $levelJump);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShotCountF =
    copy(child = newChild)
}

/** One-pass VAD statistics over the payload bytes. */
object VadUtil {
  /** [n_frames, voiced_frames, n_segments, max_segment_frames] of the
    * UTF-8 payload under Multimodal.vadSegments' exact semantics:
    * frame mean byte level at `frameSize`, voiced at level ≥
    * `threshold`, interior silence runs shorter than `minGap` frames
    * merge into the surrounding speech (boundary silences never do). */
  def stats(s: UTF8String, frameSize: Int, threshold: Int, minGap: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return Array(0L, 0L, 0L, 0L)
    val nf = (n + frameSize - 1) / frameSize
    val voiced = new Array[Boolean](nf)
    var f = 0
    var start = 0
    while (start < n) {
      val end = math.min(start + frameSize, n)
      var sum = 0L
      var i = start
      while (i < end) { sum += bytes(i) & 0xff; i += 1 }
      voiced(f) = sum / (end - start) >= threshold
      f += 1
      start = end
    }
    // run-length encode, then the hangover flip on interior short silences
    val rFlag = new Array[Boolean](nf)
    val rLen = new Array[Int](nf)
    var nr = 0
    var i = 0
    while (i < nf) {
      var j = i
      while (j < nf && voiced(j) == voiced(i)) j += 1
      rFlag(nr) = voiced(i); rLen(nr) = j - i; nr += 1; i = j
    }
    var r = 1
    while (r < nr - 1) {
      if (!rFlag(r) && rLen(r) < minGap) rFlag(r) = true
      r += 1
    }
    var voicedFrames = 0L; var nSeg = 0L; var maxSeg = 0L
    r = 0
    while (r < nr) {
      if (rFlag(r)) {
        var segLen = 0L
        while (r < nr && rFlag(r)) { segLen += rLen(r); r += 1 }
        voicedFrames += segLen; nSeg += 1
        if (segLen > maxSeg) maxSeg = segLen
      } else r += 1
    }
    Array(nf.toLong, voicedFrames, nSeg, maxSeg)
  }
}

/** Native in-row VAD statistics (codegen'd) — Multimodal.vadSegments'
  * per-audio row as a single stateless expression: the form a streaming
  * ingest evaluates per arriving row with NO windows and NO state (the
  * shot_count_f move for voice-activity segmentation, hangover merge
  * included). Returns [n_frames, voiced_frames, n_segments,
  * max_segment_frames]; byte-indexed like the batch path's framing of
  * the same payload. */
case class VadStatsF(child: Expression, frameSize: Int, threshold: Int, minGap: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "vad_stats_f"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      VadUtil.stats(input.asInstanceOf[UTF8String], frameSize, threshold, minGap))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  org.apache.spark.sql.graftshim.VadUtil.stats($c, $frameSize, $threshold, $minGap));
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): VadStatsF =
    copy(child = newChild)
}

case class MinhashSigsF(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs_f"

  override protected def nullSafeEval(input: Any): Any = {
    val m = MinhashUtil.sigs(input.asInstanceOf[UTF8String], k)
    if (m == null) null else new GenericArrayData(m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("mins")
      s"""
         |long[] $m = org.apache.spark.sql.graftshim.MinhashUtil.sigs($c, $k);
         |if ($m == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($m);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSigsF =
    copy(child = newChild)
}

/** Distributed semi-join reduction via Spark's native bloom machinery —
  * the same `BloomFilterAggregate` / `BloomFilterMightContain` pair the
  * runtime-filter optimizer (`InjectRuntimeFilter`) wires up for shuffle
  * joins, driven explicitly: build the filter in one partial-aggregated
  * distributed pass over the build side, fetch only the serialized
  * filter (MBs) to the driver, and push it back as a foldable literal
  * inside a codegen'd `might_contain` probe. The probe is a plan-side
  * `Filter` at the scan — no Scala UDF, no per-row JVM boxing. At
  * 100 TB this is how a contamination probe avoids shuffling the
  * held-out side's shingles that can't possibly match. */
object BloomOps {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.types.BinaryType

  /** One distributed pass over `build`: the serialized bloom filter of
    * xxhash64(key), sized for `expectedItems` at `numBits` bits. */
  def bloomBytes(build: DataFrame, key: Column,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(ColumnBridge.toExpression(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    build.select(ColumnBridge.toColumn(agg)).head().getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe against a driver-built filter. No false
    * negatives (safe as a join prefilter); false positives fall out of
    * the join itself. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.toColumn(BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      new XxHash64(Seq(ColumnBridge.toExpression(key)))))
}

/** SQL registration for the custom expressions: a temp-function path
  * for already-built sessions (sessionState is private[sql], hence here)
  * plus a SparkSessionExtensions installer for cluster deployments
  * (`spark.sql.extensions=org.apache.spark.sql.graftshim.GraftSparkExtensions`). */
object SqlFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
  import org.apache.spark.sql.classic.SparkSession

  private def intArg(es: Seq[Expression], i: Int): Int = es(i) match {
    case Literal(v: Int, _) => v
    case other => other.eval().asInstanceOf[Number].intValue()
  }

  private def winnowFromArgs(es: Seq[Expression]): Expression =
    WinnowFp(es.head, intArg(es, 1))

  private def minhashFromArgs(es: Seq[Expression]): Expression =
    MinhashSigsF(es.head, intArg(es, 1))

  private def simhashFromArgs(es: Seq[Expression]): Expression =
    SimhashF(es.head, intArg(es, 1))

  private def seedGramFromArgs(es: Seq[Expression]): Expression =
    SeedGramHashesF(es.head, intArg(es, 1))

  private def shotFromArgs(es: Seq[Expression]): Expression =
    ShotCountF(es.head, intArg(es, 1), intArg(es, 2))

  private def vadFromArgs(es: Seq[Expression]): Expression =
    VadStatsF(es.head, intArg(es, 1), intArg(es, 2), intArg(es, 3))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_product_f"),
      (es: Seq[Expression]) => DotProductF(es.head, es(1))),
    (FunctionIdentifier("l2sq_micro_f"),
      new ExpressionInfo(classOf[L2SqMicroF].getName, "l2sq_micro_f"),
      (es: Seq[Expression]) => L2SqMicroF(es.head, es(1))),
    (FunctionIdentifier("sorted_intersect_count_l"),
      new ExpressionInfo(classOf[SortedIntersectCountL].getName, "sorted_intersect_count_l"),
      (es: Seq[Expression]) => SortedIntersectCountL(es.head, es(1))),
    (FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      winnowFromArgs _),
    (FunctionIdentifier("minhash_sigs_f"),
      new ExpressionInfo(classOf[MinhashSigsF].getName, "minhash_sigs_f"),
      minhashFromArgs _),
    (FunctionIdentifier("simhash_f"),
      new ExpressionInfo(classOf[SimhashF].getName, "simhash_f"),
      simhashFromArgs _),
    (FunctionIdentifier("seed_gram_hashes_f"),
      new ExpressionInfo(classOf[SeedGramHashesF].getName, "seed_gram_hashes_f"),
      seedGramFromArgs _),
    (FunctionIdentifier("shot_count_f"),
      new ExpressionInfo(classOf[ShotCountF].getName, "shot_count_f"),
      shotFromArgs _),
    (FunctionIdentifier("vad_stats_f"),
      new ExpressionInfo(classOf[VadStatsF].getName, "vad_stats_f"),
      vadFromArgs _),
    (FunctionIdentifier("first_level_domain"),
      new ExpressionInfo(classOf[FirstLevelDomain].getName, "first_level_domain"),
      (es: Seq[Expression]) => FirstLevelDomain(es.head)))

  /** Register on a live session (temp functions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.asInstanceOf[SparkSession].sessionState.functionRegistry
    functions.foreach { case (ident, _, builder) =>
      reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions` entry point injecting the graft functions into
  * every session of a cluster deployment. */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    SqlFunctions.functions.foreach(ext.injectFunction)
}
