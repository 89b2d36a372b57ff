package graft.operators

import graft.SparkTestSession.spark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scan-local codebook scorer's equivalence law (r17): topCells
  * must emit EXACTLY the rows of the row_number()-over-exploded-frame
  * form it replaced — `ORDER BY cos DESC, cell ASC` per vector,
  * including the two degenerate arms the oracle fixtures barely touch:
  * duplicate cosines (parallel centroids → the cell-ASC tie-break
  * decides) and NaN scores (a zero-norm vector's cosine is 0/0 — NaN
  * sorts GREATEST under both forms, so NaN cells outrank real ones).
  * Both the n = 1 argmax specialization and the sorted-slice top-n path
  * are pinned. A drift here would silently re-rank IVF probe lists and
  * SemDeDup assignments while every downstream join still "works".
  */
class TopCellsSpec extends AnyFunSuite {
  import spark.implicits._

  private def windowForm(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, n: Int) =
    e.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "cell", "cosine_similarity(embedding, ce) as cs")
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cs"), col("cell"))))
      .filter(col("rn") <= n)
      .select("vec_id", "cell", "rn")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("topCells ≡ the row_number window over random vectors, " +
    "duplicate-cosine ties, and NaN scores — both the argmax (n=1) and " +
    "sorted-slice (n>1) paths") {
    graft.functions.VectorFold.register(spark)
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 60L).map { i =>
      val v: Seq[Float] =
        if (i % 7 == 6) Seq.fill(4)(0f) // zero norm → cos NaN vs EVERY cell
        else if (i % 5 < 2) Seq(1f, 2f, 3f, 4f) // shared direction (tie arm)
        else Seq.fill(4)(rnd.nextFloat() * 2 - 1)
      (i, v)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val cents = (0L until 9L).map { c =>
      // cells 0/3/6 are PARALLEL (scaled copies): every vector's cosine
      // to the three is identical, so only the cell-ASC tie-break can
      // order them — the arm a random fixture essentially never hits
      val ce: Seq[Float] =
        if (c % 3 == 0) Seq(1f, 2f, 3f, 4f).map(_ * (c + 1))
        else Seq.fill(4)(rnd.nextFloat() * 2 - 1)
      (c, ce)
    }.toDF("cell", "ce")
    for (n <- Seq(1, 3, 9)) {
      val got = asSet(SimilarityOps.topCells(e, cents, n, Seq("vec_id"))
        .select("vec_id", "cell", "rn"))
      val want = asSet(windowForm(e, cents, n))
      assert(got == want, s"n=$n: scan-local and window forms disagree")
    }
    // the empty-codebook contract: zero rows, like the old crossJoin
    assert(SimilarityOps.topCells(e, cents.limit(0), 1, Seq("vec_id"))
      .count() == 0)
  }
}
