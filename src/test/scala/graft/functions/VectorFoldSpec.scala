package graft.functions

import graft.SparkTestSession.{sf, spark}
import graft.operators.SimilarityOps
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** The checks every VectorFold kernel passes, each case taking the kernel
  * as input: fold identity on real embeddings, codegen vs interpreted
  * (with empty, length-mismatched and NULL-element arrays), mixed
  * float × double, and degenerate or ill-typed inputs.
  */
abstract class VectorFoldSpec(k: VectorFoldSpec.Kernel) extends AnyFunSuite {
  import VectorFoldSpec._

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  private def sqlValue(call: String): Option[Double] = {
    val r = spark.sql(s"select $call as v").head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  private def literal(xs: Seq[Double], t: DataType): Expression =
    if (t == FloatType) Literal.create(xs.map(_.toFloat).toArray, ArrayType(FloatType))
    else Literal.create(xs.toArray, ArrayType(DoubleType))

  private val rt = k.yType.simpleString

  test("bit-identical to the composable SQL fold on real embeddings") {
    VectorFold.register(spark)
    val e = graft.Tables.embeddings(spark, sf)
    val pairs = e.select(col("vec_id").as("ai"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("bi"), col("embedding").as("b")))
      .filter(col("ai") < 20 && col("bi") < 20)
      .selectExpr("ai", "bi", "a", "b",
        s"${SimilarityOps.jlProjExpr("a")} as pa", s"${SimilarityOps.jlProjExpr("b")} as pb")
    ((s"${k.name}(a, b)" -> k.fold("a", "b")) +: k.extra).foreach { case (native, fold) =>
      val both = pairs.selectExpr("ai", "bi", s"$native as native", s"$fold as fold").collect()
      assert(both.length == 400)
      both.foreach { r =>
        val (n, f) = (r.getDouble(2), r.getDouble(3))
        assert(bits(n) == bits(f),
          s"$native, pair (${r.getLong(0)},${r.getLong(1)}): native=$n fold=$f")
      }
    }
  }

  test(k.codegenName) {
    VectorFold.register(spark)
    // array columns built from a range id: nothing constant-folds, so
    // the kernel runs in the whole-stage-codegen'd projection
    def arr(xs: Seq[Double], t: String) =
      xs.map(v => s"cast($v + id as $t)").mkString("array(", ", ", ")")
    val codegen = spark.range(1)
      .selectExpr(s"${k.name}(${arr(x, "float")}, ${arr(k.y, rt)}) as v").head().getDouble(0)
    val interpreted = k.build(literal(x, FloatType), literal(k.y, k.yType)).eval(null)
      .asInstanceOf[Double]
    assert(codegen == k.xy && interpreted == k.xy)
    val empty = s"array_remove(array(cast(2.0 as $rt)), cast(2.0 as $rt))"
    assert(sqlValue(s"${k.name}(array_remove(array(cast(1.0 as float)), cast(1.0 as float)), " +
      s"$empty)") == k.empty)
    // mismatched lengths → NULL (zip_with pads the short side with
    // NULLs, nulling the fold — folding the common prefix silently
    // would diverge from the oracle rendering)
    assert(sqlValue(s"${k.name}(array(cast(1.0 as float)), $empty)").isEmpty)
    // a NULL element also nulls the fold
    assert(sqlValue(s"${k.name}(array(cast(1.0 as float), cast(null as float)), " +
      s"array(cast(2.0 as $rt), cast(3.0 as $rt)))").isEmpty)
  }

  k.mixedName.foreach { name =>
    test(name) {
      VectorFold.register(spark)
      val e = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding").as("a"))
        .selectExpr(
          "vec_id", "a",
          "transform(sequence(1, 64), i -> cast(i as double) / 7.0 - 4.0) as b")
      val both = e.selectExpr(
        "vec_id",
        s"${k.name}(a, b) as native",
        s"${k.fold("a", "b")} as fold").collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(bits(r.getDouble(1)) == bits(r.getDouble(2)),
          s"vec ${r.getLong(0)}: native=${r.getDouble(1)} fold=${r.getDouble(2)}")
      }
    }
  }

  test(k.rejectName) {
    VectorFold.register(spark)
    assert(sqlValue(s"${k.name}(array(cast(0.0 as float)), array(cast(1.0 as $rt)))") == k.zero)
    k.rejected.foreach { args =>
      val bad = intercept[Exception] {
        spark.sql(s"select ${k.name}($args)").head()
      }
      assert(bad.getMessage.toLowerCase.contains(k.name) ||
        bad.getMessage.contains(k.signature), s"${k.name}($args): ${bad.getMessage}")
    }
  }
}

object VectorFoldSpec {

  /** One kernel's inputs to the shared cases. Every value is exact in
    * double: x = [1, 2] against `y` gives `xy`; a [0] vector against [1]
    * gives `zero`; two empty arrays give `empty` (None is NULL).
    */
  final case class Kernel(
      name: String,
      build: (Expression, Expression) => Expression,
      fold: (String, String) => String, // the composable aggregate(zip_with) rendering
      signature: String,
      yType: DataType,
      y: Seq[Double], xy: Double,
      zero: Option[Double], empty: Option[Double],
      rejected: Seq[String],
      codegenName: String, mixedName: Option[String], rejectName: String,
      extra: Seq[(String, String)] = Nil) // more (native, fold) pairs over a, b, pa, pb

  val x: Seq[Double] = Seq(1.0, 2.0)

  private def hofDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0.0 as double), (p, v) -> p + v)"

  /** Reference n-dim cosine over HOF folds: `sparkCosN`, composed of
    * native dots, must equal it bit for bit on ss21's float prefixes and
    * ss14's JL-projected doubles.
    */
  private def hofCos(a: String, b: String): String = {
    def dotN(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
        "cast(0 as double), (acc, v) -> acc + v)"
    s"(${dotN(a, b)}) / sqrt((${dotN(a, a)}) * (${dotN(b, b)}))"
  }

  val cosine: Kernel = Kernel("cosine_similarity", CosineSimilarity(_, _),
    (a, b) => s"${hofDot(a, b)} / sqrt(${hofDot(a, a)} * ${hofDot(b, b)})",
    "array<float>", FloatType, Seq(2.0, 4.0), 1.0, zero = None, empty = None,
    rejected = Seq("array(1.0d), array(2.0d)", "array(1, 2), array(3, 4)"),
    "codegen and interpreted paths agree", None,
    "zero vector yields null; type mismatch is rejected")

  val dot: Kernel = Kernel("dot_product", DotProduct(_, _), hofDot,
    "array<float|double>", DoubleType, Seq(3.0, 4.0), 11.0, zero = Some(0.0), empty = Some(0.0),
    rejected = Seq("array(1, 2), array(3, 4)"),
    "codegen and interpreted paths agree; empty arrays give 0.0",
    Some("mixed float x double matches the widened fold (ss10's plane dot)"),
    "non-numeric element types are rejected",
    extra = Seq(8, 16, 32).map { n =>
      // ss21's shape: cosine over float prefixes
      val (a, b) = (s"slice(a, 1, $n)", s"slice(b, 1, $n)")
      SimilarityOps.sparkCosN(a, b) -> hofCos(a, b)
    } :+ (SimilarityOps.sparkCosN("pa", "pb") -> hofCos("pa", "pb"))) // ss14's: JL doubles

  val l2: Kernel = Kernel("l2_distance_sq", L2DistanceSq(_, _),
    (a, b) => s"aggregate(zip_with($a, $b, (x, y) -> (cast(x as double) - cast(y as double)) * " +
      "(cast(x as double) - cast(y as double))), cast(0 as double), (p, v) -> p + v)",
    "array<float|double>", DoubleType, Seq(4.0, 6.0), 25.0, zero = Some(1.0), empty = Some(0.0),
    rejected = Seq("array(1, 2), array(3, 4)"),
    "codegen and interpreted paths agree; empty arrays give 0.0",
    Some("mixed float x double matches the widened fold (ss15's centroid distance)"),
    "non-numeric element types are rejected")
}

class CosineSimilaritySpec extends VectorFoldSpec(VectorFoldSpec.cosine)
class DotProductSpec extends VectorFoldSpec(VectorFoldSpec.dot)
class L2DistanceSpec extends VectorFoldSpec(VectorFoldSpec.l2)
