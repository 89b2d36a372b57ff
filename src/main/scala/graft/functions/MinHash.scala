package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 60-bit md5 hash of every 3-token
  * shingle of a text — the one md5 per shingle the whole MinHash pipeline
  * pays. Bit-identical to the SQL chain
  * `split(text, '\\s+')` → `concat_ws(' ', t_i, t_i+1, t_i+2)` →
  * `cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)`
  * (Portable.hash60 of each shingle, in order): tokens are the byte
  * spans between runs of `\s` bytes, read in place for ASCII text and
  * after the same String decode `split` makes for any other; each
  * shingle's bytes are copied into one reused buffer that feeds a
  * thread-local MD5, and the first 15 hex digits of the digest are its
  * first 8 bytes >>> 4.
  * NULL text gives NULL; fewer than 3 tokens give `[]`.
  *
  * The SQL chain runs interpreted higher-order lambdas, a hex string and
  * a temporary string per shingle; this expression is one static call
  * inside whole-stage codegen. MinHashSpec cross-checks it against that
  * chain under both codegen and interpreted evaluation.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle hashes expect a string, got ${child.dataType.simpleString}")

  override def nullSafeEval(s: Any): Any =
    ShingleHashes.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Per-thread MD5 and buffers: token bounds, one shingle's bytes, one digest. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var bounds = new Array[Int](64) // start and end byte offset of each token
    var buf = new Array[Byte](256)
    def addToken(t: Int, from: Int, until: Int): Unit = {
      if (bounds.length < 2 * t + 2) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
      bounds(2 * t) = from
      bounds(2 * t + 1) = until
    }
    def shingle(n: Int): Array[Byte] = { if (buf.length < n) buf = new Array[Byte](n * 2); buf }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Java's `\\s` (space, \t, \n, \x0B, \f, \r): ASCII bytes, which never
    * occur inside a multi-byte UTF-8 sequence.
    */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Top 60 bits of the md5 of each 3-token shingle of `s`, in order. */
  def compute(s: UTF8String): ArrayData = {
    // ASCII is read in place; other text goes through the String decode
    // `split` makes, so malformed bytes become U+FFFD as there
    val u = if (s.isFullAscii) s else UTF8String.fromString(s.toString)
    val sc = scratch.get()
    // tokens are the spans between maximal runs of whitespace, leading and
    // trailing empty ones included: exactly `split(u, "\\s+", -1)`
    val len = u.numBytes
    var nTok = 0
    var start = 0
    var i = 0
    while (i < len) {
      if (isSpace(u.getByte(i))) {
        sc.addToken(nTok, start, i)
        nTok += 1
        i += 1
        while (i < len && isSpace(u.getByte(i))) i += 1
        start = i
      } else i += 1
    }
    sc.addToken(nTok, start, len)
    nTok += 1
    val bounds = sc.bounds
    val n = math.max(nTok - 2, 0)
    val out = new Array[Long](n)
    val md = sc.md
    val d = sc.digest
    val base = u.getBaseObject
    val offset = u.getBaseOffset
    var t = 0
    while (t < n) {
      // the shingle's bytes: its three tokens joined by single spaces (no
      // longer than their span in `u`, whose separator runs are nonempty)
      val buf = sc.shingle(bounds(2 * t + 5) - bounds(2 * t))
      var pos = 0
      var j = 0
      while (j < 3) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val from = bounds(2 * (t + j))
        val tokLen = bounds(2 * (t + j) + 1) - from
        Platform.copyMemory(base, offset + from, buf, Platform.BYTE_ARRAY_OFFSET + pos, tokLen)
        pos += tokLen
        j += 1
      }
      md.update(buf, 0, pos)
      md.digest(d, 0, 16)
      var top = 0L
      j = 0
      while (j < 8) { top = (top << 8) | (d(j) & 0xffL); j += 1 }
      out(t) = top >>> 4
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-level API (Spark 4 classic Column↔Expression bridge). */
  def shingleHashes(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(ShingleHashes(expression(text)))
  }
}

/** Native Catalyst expression: the k-component MinHash signature of a
  * 60-bit hash array (the output of [[ShingleHashes]]). Component j is
  * the minimum over the array of the two-prime Broder permutation
  * h_j(x) = ((a1_j·(x mod p1) + b1_j) mod p1)·2³¹ + (a2_j·(x mod p2) + b2_j) mod p2,
  * exactly the `array_min(transform(hs, x -> …))` SQL it replaces and
  * DuckDB's `list_min(list_transform(…))` oracle (which reads the same
  * constants from this companion). Every intermediate stays below 2⁶²,
  * so the arithmetic is exact in 64 bits on both engines. An empty (or
  * all-NULL) array gives NULL components, as `array_min([])` does; a
  * NULL array gives NULL.
  *
  * One pass over the array fills all k minima: each element is reduced
  * mod p1 and mod p2 once, not once per component.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= MinHashSig.a1.length, s"k must be in 1..${MinHashSig.a1.length}, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash signatures expect array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(hs: Any): Any =
    MinHashSig.compute(hs.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private[graft] val p1 = 2147483647L // 2^31 - 1
  private[graft] val p2 = 2147483629L // 2^31 - 19
  private[graft] val a1 = Array(1103515245L, 1588635695L, 1203248318L, 784588716L,
    1343692587L, 423493549L, 858993459L, 1640531527L)
  private[graft] val b1 = Array(12345L, 392541289L, 1574243550L, 1914771284L,
    669059329L, 2027004510L, 1431655765L, 97531L)
  private[graft] val a2 = Array(1597334677L, 1812433253L, 1566083941L, 900000011L,
    1234567891L, 1111111121L, 362437L, 1300000003L)
  private[graft] val b2 = Array(1013904223L, 2027808443L, 7919L, 104729L,
    611953L, 1299709L, 15485863L, 32452843L)

  /** The k permutation minima of `hs`; NULL elements are skipped. */
  def compute(hs: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val x = hs.getLong(i)
        val x1 = x % p1
        val x2 = x % p2
        var j = 0
        while (j < k) {
          val h = ((a1(j) * x1 + b1(j)) % p1) * 2147483648L + (a2(j) * x2 + b2(j)) % p2
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        seen = true
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](k))
  }

  /** Column-level API (Spark 4 classic Column↔Expression bridge). */
  def minHashSig(hs: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(MinHashSig(expression(hs), k))
  }
}
