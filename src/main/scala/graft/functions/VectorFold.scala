package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** One ascending-index fold over two numeric vectors, the shared body of
  * graft's vector kernels (`cosine_similarity`, `dot_product`,
  * `l2_distance_sq`).
  *
  * The composable form, `aggregate(zip_with(a, b, ...), 0.0, ...)`,
  * materializes an intermediate array per row and folds it interpreted
  * (higher-order functions sit outside whole-stage codegen). A kernel is
  * one loop with full `doGenCode` support, so scans that score vectors
  * (SRP sign bits, exact top-k, range-search filters) stay inside the
  * codegen'd stage.
  *
  * Determinism contract: each element is widened to double
  * (`(double) x`, matching `cast(x as double)` in the fold) and the
  * accumulators add in ascending index order: the exact IEEE add
  * sequence of the SQL left-fold rendering and of DuckDB's `list_reduce`,
  * so results are bit-identical to the oracle formulation. Mismatched
  * lengths and NULL elements yield NULL, mirroring zip_with's padding
  * (never silently fold the common prefix).
  *
  * A kernel supplies its accumulators (`width` doubles, one `step` per
  * element pair, interpreted and as Java), its `finish` and its accepted
  * element types; nothing here branches on the kernel.
  */
abstract class VectorFold extends BinaryExpression {

  /** SQL name, for type-check messages. */
  def fnName: String

  /** Element types either side may hold. */
  protected def elementTypes: Seq[DataType] = Seq(FloatType, DoubleType)

  /** Number of double accumulators, each starting at 0.0. */
  protected def width: Int

  /** Folds one widened element pair into `acc`. */
  protected def step(acc: Array[Double], x: Double, y: Double): Unit

  /** Java statements folding the doubles `x`, `y` into `acc`. */
  protected def stepCode(acc: Seq[String], x: String, y: String): String

  /** The result of a complete fold, or null. */
  protected def finish(acc: Array[Double]): Any = java.lang.Double.valueOf(acc(0))

  /** Java statements setting the result (or `isNull`) from `acc`. */
  protected def finishCode(acc: Seq[String], isNull: String, value: String): String =
    s"$value = ${acc(0)};"

  override def dataType: DataType = DoubleType
  // nullable beyond child nullability: mismatched lengths and null
  // elements yield NULL, matching the zip_with fold
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(et, _) => elementTypes.contains(et)
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else {
      val arr = elementTypes.map(_.simpleString).mkString("array<", "|", ">")
      TypeCheckResult.TypeCheckFailure(s"$fnName expects ($arr, $arr), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left); val rf = isFloat(right)
    val acc = new Array[Double](width)
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      step(acc,
        if (lf) x.getFloat(i).toDouble else x.getDouble(i),
        if (rf) y.getFloat(i).toDouble else y.getDouble(i))
      i += 1
    }
    finish(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val (x, y) = (ctx.freshName("x"), ctx.freshName("y"))
      val acc = Seq.fill(width)(ctx.freshName("acc"))
      def get(arr: String, e: Expression) =
        if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  int $n = $a.numElements();
         |  ${acc.map(v => s"double $v = 0.0;").mkString(" ")}
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${get(a, left)};
         |    double $y = ${get(b, right)};
         |    ${stepCode(acc, x, y)}
         |  }
         |  if (!${ev.isNull}) { ${finishCode(acc, ev.isNull, ev.value.toString)} }
         |}
       """.stripMargin
    })
}

object VectorFold {
  /** Register every kernel for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlRegistry.functions.foreach { case (name, fn) =>
      if (classOf[VectorFold].isAssignableFrom(fn.cls)) SqlRegistry.registerOnce(spark, name)
    }
}

/** Inner product Σ xᵢyᵢ of two `array<float|double>` vectors. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  def fnName: String = "dot_product"
  protected def width: Int = 1
  protected def step(acc: Array[Double], x: Double, y: Double): Unit = acc(0) += x * y
  protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y;"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** SQUARED L2 distance Σ (xᵢ−yᵢ)² of two `array<float|double>` vectors,
  * the distance under Lloyd k-means assignment (ss15) and exact range
  * search (ss16).
  */
case class L2DistanceSq(left: Expression, right: Expression) extends VectorFold {
  def fnName: String = "l2_distance_sq"
  protected def width: Int = 1
  protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    val d = x - y
    acc(0) += d * d
  }
  protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += ($x - $y) * ($x - $y);"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistanceSq =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two `array<float>` vectors: the dot and both
  * squared norms in one pass, then `dot / sqrt(na·nb)`, NULL when that
  * denominator is 0 (a zero vector). The ANN hot path.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFold {
  def fnName: String = "cosine_similarity"
  override protected def elementTypes: Seq[DataType] = Seq(FloatType)
  protected def width: Int = 3
  protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    acc(0) += x * y; acc(1) += x * x; acc(2) += y * y
  }
  protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y; ${acc(1)} += $x * $x; ${acc(2)} += $y * $y;"
  override protected def finish(acc: Array[Double]): Any = {
    val denom = math.sqrt(acc(1) * acc(2))
    if (denom == 0.0) null else java.lang.Double.valueOf(acc(0) / denom)
  }
  override protected def finishCode(acc: Seq[String], isNull: String, value: String): String =
    s"double denom = java.lang.Math.sqrt(${acc(1)} * ${acc(2)}); " +
      s"if (denom == 0.0) { $isNull = true; } else { $value = ${acc(0)} / denom; }"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
