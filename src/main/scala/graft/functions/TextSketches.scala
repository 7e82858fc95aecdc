package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text kernels as native Catalyst expressions: word n-gram
  * hashes for the n-gram Jaccard path, and the sorted-set intersection
  * that verifies near-dup candidates.
  *
  * The naive Spark shapes — `explode(sequence(...))` + per-position
  * `substring` (a row per gram), or `transform` lambdas (interpreted,
  * re-evaluated per element) — materialize ~|text| rows per document
  * before the first aggregate. Each kernel here instead scans its input
  * ONCE inside whole-stage codegen and emits the finished `array<long>`
  * or count, hashing byte spans of the UTF8String's backing bytes in place
  * via XXH64 (the hash family Spark's `xxhash64` exposes). The
  * MinHash/winnowing/gram-set sketches live in [[PortableSketches]].
  *
  * Kernels return an EMPTY array (never null) for degenerate inputs
  * (fewer than n tokens), so codegen stays on `defineCodeGen`'s non-null
  * fast path.
  */
object TextSketches {

  /** Distinct word n-gram hashes of a single-spaced string: hash of the byte
    * span covering n consecutive tokens (equals hashing
    * `concat_ws(" ", slice(tokens, j, n))`). Empty when fewer than n tokens.
    */
  def ngramHashes(norm: Column, n: Int): Column =
    bridge.column(NgramHashes(bridge.expression(norm), n))

  /** Size of the intersection of two SORTED long arrays (linear merge, no
    * hash set) — pairs with [[PortableSketches.portableGramHashes]] for
    * exact-Jaccard verification of candidate pairs.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(bridge.expression(a), bridge.expression(b)))

  // ------------------------------------------------------------- kernels

  private val empty = new GenericArrayData(Array.emptyLongArray)

  def computeNgrams(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    val starts = new ArrayBuffer[Int]
    val ends = new ArrayBuffer[Int]
    var i = 0
    var inTok = false
    while (i < len) {
      val sp = Platform.getByte(base, off + i) == ' '.toByte
      if (!sp && !inTok) { starts += i; inTok = true }
      else if (sp && inTok) { ends += i; inTok = false }
      i += 1
    }
    if (inTok) ends += len
    val t = starts.length
    if (t < n) return empty
    val grams = new Array[Long](t - n + 1)
    var j = 0
    while (j <= t - n) {
      grams(j) = XXH64.hashUnsafeBytes(base, off + starts(j), ends(j + n - 1) - starts(j), 42L)
      j += 1
    }
    sortedDistinct(grams, grams.length)
  }

  def computeSortedIntersect(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Sort `a[0,n)` in place and return the distinct prefix as ArrayData. */
  private[functions] def sortedDistinct(a: Array[Long], n: Int): ArrayData = {
    java.util.Arrays.sort(a, 0, n)
    var out = 0
    var i = 0
    while (i < n) {
      if (out == 0 || a(i) != a(out - 1)) { a(out) = a(i); out += 1 }
      i += 1
    }
    new GenericArrayData(if (out == n) a else java.util.Arrays.copyOf(a, out))
  }
}

/** `array<long>` distinct word n-gram hashes — see [[TextSketches]]. */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    TextSketches.computeNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSketches$$.MODULE$$.computeNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Intersection size of two sorted `array<long>` columns — see [[TextSketches]]. */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextSketches.computeSortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextSketches$$.MODULE$$.computeSortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
