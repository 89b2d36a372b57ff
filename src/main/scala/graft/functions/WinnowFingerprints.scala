package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the full winnowing (MOSS) fingerprint
  * selection over a normalized string — Rabin rolling hash of every
  * k-gram (a TRUE O(1) rolling update, not the O(k)-per-position closed
  * form) and a monotonic-deque window minimum, one O(|s|) pass with two
  * scratch arrays. Returns the distinct selected fingerprints.
  *
  * The array-HOF rendering in TextOps.winnowFps evaluates three
  * interpreted lambdas and allocates a w-slice per position; this
  * expression is the codegen-friendly hot path (the loop lives in one
  * static method call inside whole-stage codegen). Semantics are
  * bit-identical: same hash family (sum of codepoint × 256^j mod
  * 2^31-1), same w-window minima, same distinct set — WinnowSpec
  * cross-checks both against a literal reference implementation.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects a string, got ${t.simpleString}")
    }

  override def nullSafeEval(s: Any): Any =
    WinnowFingerprints.compute(s.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowFingerprints.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  private val P = 2147483647L // 2^31 - 1
  private val B = 256L

  /** One-pass winnowing: codepoints → rolling k-gram hashes → deque
    * window minima → first-occurrence-distinct fingerprint array.
    */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    val n = str.codePointCount(0, len)
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val cps = new Array[Long](n)
    var ci = 0
    var idx = 0
    while (ci < len) {
      val cp = str.codePointAt(ci)
      cps(idx) = cp.toLong
      idx += 1
      ci += Character.charCount(cp)
    }
    // B^(k-1) mod P, the coefficient of the outgoing character
    var coefTop = 1L
    var j = 0
    while (j < k - 1) { coefTop = coefTop * B % P; j += 1 }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var h = 0L
    j = 0
    while (j < k) { h = (h * B + cps(j)) % P; j += 1 }
    hs(0) = h
    var p = 1
    while (p < m) {
      h = ((h - cps(p - 1) * coefTop) % P + P) % P // evict leading char
      h = (h * B + cps(p + k - 1)) % P             // admit trailing char
      hs(p) = h
      p += 1
    }
    // sliding-window minimum via monotonic deque of indices
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var q = 0
    while (q < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(q)) tail -= 1
      deque(tail) = q; tail += 1
      if (deque(head) <= q - w) head += 1
      if (q >= w - 1) seen.add(hs(deque(head)))
      q += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Column-level API (Spark 4 classic Column↔Expression bridge). */
  def winnowFps(s: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(WinnowFingerprints(expression(s), k, w))
  }

  /** Register `winnow_fps(str, k, w)` for SQL use on a session. k and w
    * must be integer literals (validated — clear analysis-time error,
    * not an eval NPE).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlRegistry.registerOnce(spark, "winnow_fps")
}
