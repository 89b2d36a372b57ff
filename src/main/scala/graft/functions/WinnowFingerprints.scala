package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the full winnowing (MOSS) fingerprint
  * selection over a normalized string — Rabin rolling hash of every
  * k-gram (a TRUE O(1) rolling update, not the O(k)-per-position closed
  * form) and robust winnowing's window minimum (the rightmost minimum of
  * each w-window, rescanned only when it leaves the window), one O(|s|)
  * pass over per-thread scratch arrays. ASCII input is read from its
  * UTF-8 bytes in place. Returns the distinct selected fingerprints in
  * first-occurrence order as a primitive `UnsafeArrayData`.
  *
  * The array-HOF rendering it replaced in TextOps.winnowFps evaluated
  * three interpreted lambdas and allocated a w-slice per position; this
  * expression is the codegen-friendly hot path (the loop lives in one
  * static method call inside whole-stage codegen). Semantics are
  * bit-identical: same hash family (sum of codepoint × 256^j mod
  * 2^31-1), same w-window minima, same distinct values in the same
  * order — WinnowSpec checks the array against a literal reference
  * implementation under interpreted and codegen evaluation.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fps: k and w must be at least 1, got k=$k w=$w")

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

  /** Per-thread work arrays, grown to the longest input seen on the
    * thread, so an ASCII row allocates only its result.
    */
  private final class Scratch {
    var cps = new Array[Int](256)   // code points
    var hs = new Array[Long](256)   // k-gram hashes
    var sel = new Array[Long](256)  // selected fingerprints, then their distinct prefix
    var table = new Array[Long](512) // open-addressing set of fingerprints, -1 = empty
    def ints(n: Int): Array[Int] = { if (cps.length < n) cps = new Array[Int](n * 2); cps }
    def hashes(n: Int): Array[Long] = { if (hs.length < n) hs = new Array[Long](n * 2); hs }
    def selected(n: Int): Array[Long] = { if (sel.length < n) sel = new Array[Long](n * 2); sel }
    def set(n: Int): Array[Long] = {
      if (table.length < n) table = new Array[Long](n)
      java.util.Arrays.fill(table, 0, n, -1L)
      table
    }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** One-pass winnowing: code points → rolling k-gram hashes → robust
    * window minima → first-occurrence-distinct fingerprint array.
    */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val sc = scratch.get()
    val n = codePoints(s, sc)
    if (n < k + w - 1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val cps = sc.cps
    // B^(k-1) mod P, the coefficient of the outgoing character
    var coefTop = 1L
    var j = 0
    while (j < k - 1) { coefTop = coefTop * B % P; j += 1 }
    val m = n - k + 1
    val hs = sc.hashes(m)
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
    // robust winnowing: the rightmost minimum of each w-window, the window
    // rescanned only when that minimum leaves it, and a fingerprint
    // recorded only when the selected position changes
    val sel = sc.selected(m - w + 1)
    var nSel = 0
    var minPos = 0
    var lastPos = -1
    var q = 0
    while (q < m) {
      if (minPos <= q - w) {
        minPos = q - w + 1
        var r = minPos + 1
        while (r <= q) { if (hs(r) <= hs(minPos)) minPos = r; r += 1 }
      } else if (hs(q) <= hs(minPos)) minPos = q
      if (q >= w - 1 && minPos != lastPos) {
        sel(nSel) = hs(minPos); nSel += 1
        lastPos = minPos
      }
      q += 1
    }
    // distinct values in first-occurrence order, compacted in place;
    // fingerprints lie in [0, P), so -1 marks an empty slot
    val cap = Integer.highestOneBit(2 * nSel - 1) << 1
    val table = sc.set(cap)
    val mask = cap - 1
    var nOut = 0
    var i = 0
    while (i < nSel) {
      val v = sel(i)
      var slot = ((v * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
      while (table(slot) != -1L && table(slot) != v) slot = (slot + 1) & mask
      if (table(slot) == -1L) { table(slot) = v; sel(nOut) = v; nOut += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sel, Platform.LONG_ARRAY_OFFSET, nOut, 8)
  }

  /** Fills the scratch code-point array with `s`'s code points and returns
    * their count. ASCII bytes are their own code points; any other input
    * decodes through `String`, so malformed bytes read as U+FFFD.
    */
  private def codePoints(s: UTF8String, sc: Scratch): Int =
    if (s.isFullAscii) {
      val n = s.numBytes
      val cps = sc.ints(n)
      var i = 0
      while (i < n) { cps(i) = s.getByte(i); i += 1 }
      n
    } else {
      val str = s.toString
      val len = str.length
      val cps = sc.ints(len)
      var n = 0
      var ci = 0
      while (ci < len) {
        val cp = str.codePointAt(ci)
        cps(n) = cp
        n += 1
        ci += Character.charCount(cp)
      }
      n
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
