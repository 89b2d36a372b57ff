package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs. Content is fixed; the seed sets only layout.
  *
  * The corpus is the repository's sf0.01 `documents` fixture (500
  * documents), shipped in `perfbench/data`. The benchmark's 5000-document
  * corpus is derived from it 10× with ScaleSmoke's structure-preserving
  * method: ids offset per copy and text mapped through a per-copy alphabet
  * permutation, so 10× the rows carry 10× the near-duplicate structure,
  * not a 10-way flood.
  * `lineitem` is synthetic: unique (l_orderkey, l_linenumber), integer
  * prices and discounts in 1/32 steps, so every revenue sum is exact in
  * binary floating point and independent of aggregation order.
  *
  * Every table is written as one parquet file (one split) whose row order
  * is a permutation keyed by the seed, so split counts never change but
  * any output that depends on row order does.
  */
object Inputs {
  val Copies = 10
  val LineitemRows = 60000L

  /** Tables each workload reads, by name. */
  def tables(spark: SparkSession, workload: String, dataDir: String): Seq[(String, String, DataFrame)] = {
    val docs = ("documents", "doc_id", docs10(spark.read.parquet(s"$dataDir/documents.parquet")))
    workload match {
      case "plumber" => Seq(("lineitem", "l_orderkey", lineitem(spark)), docs)
      case "curation_5k" => Seq(docs)
    }
  }

  /** Write every table of `workload` under `outDir`, row order set by `seed`. */
  def write(spark: SparkSession, workload: String, dataDir: String, seed: Long, outDir: String): Unit =
    tables(spark, workload, dataDir).foreach { case (name, key, df) =>
      df.repartition(1)
        .sortWithinPartitions(xxhash64(col(key), lit(seed)), col(key))
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

  def lineitem(spark: SparkSession): DataFrame =
    spark.range(0, LineitemRows, 1, 1).select(
      (expr("id div 4") + 1).as("l_orderkey"),
      (col("id").mod(4) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(1)), lit(50)) + 1).cast("double").as("l_quantity"),
      ((pmod(xxhash64(col("id"), lit(1)), lit(50)) + 1) *
        (pmod(xxhash64(col("id"), lit(2)), lit(1100)) + 900)).cast("double").as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(3)), lit(4)) / 32.0).as("l_discount"))

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  def docs10(docs: DataFrame): DataFrame =
    (0 until Copies).map { c =>
      val perm =
        if (c == 0) Alpha else new scala.util.Random(c).shuffle(Alpha.toList).mkString
      docs.select(
        (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), Alpha, perm).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
}
