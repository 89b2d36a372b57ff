package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketing: pre-shuffle a table once at write time so future joins and
  * aggregations on the bucket key run shuffle-free — the 100 TB answer to
  * "this join shuffles every run". BucketingSpec asserts the joined plan
  * contains no shuffle exchange.
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Join two tables bucketed on the same key with the same bucket count:
    * Catalyst recognizes the co-partitioning and plans a SortMergeJoin
    * with zero Exchange.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")
}

/** Bloom pre-filtered join — the 100 TB shuffle-reduction pattern: build
  * a Bloom filter over the small side's join keys (one tiny aggregate),
  * broadcast it, and drop non-matching big-side rows BEFORE the shuffle.
  * The filter admits false positives but never false negatives, and the
  * join itself removes the false positives — results are exactly the
  * plain join's, while the shuffle moves only ~matching rows. Uses
  * Spark's native BloomFilterAggregate / BloomFilterMightContain
  * expressions (the machinery behind runtime row-level filtering),
  * registered as SQL functions the same way reservoir_sample is.
  */
object BloomPrefilter {

  def register(spark: SparkSession): Unit =
    Seq("bloom_filter_agg", "might_contain")
      .foreach(graft.functions.SqlRegistry.registerOnce(spark, _))

  private val viewCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Big-side rows failing `might_contain` never reach the join shuffle.
    * might_contain requires the filter as a constant or scalar subquery,
    * so the one-row bloom aggregate is staged as a temp view and
    * referenced by subquery (Spark materializes it once, like its own
    * runtime-filter subqueries).
    */
  def prefilter(big: DataFrame, small: DataFrame, key: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    register(big.sparkSession)
    val view = s"graft_bloom_${viewCounter.incrementAndGet()}"
    small.agg(
      expr(s"bloom_filter_agg(xxhash64($key), ${expectedItems}L, ${numBits}L)").as("_bf"))
      .createOrReplaceTempView(view)
    big.filter(expr(s"might_contain((select _bf from $view), xxhash64($key))"))
  }

  /** Exact inner join with the Bloom pre-filter applied to `big`. */
  def join(big: DataFrame, small: DataFrame, key: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame =
    prefilter(big, small, key, expectedItems, numBits).join(small, key)
}

/** Skew handling: salted join for hot keys. AQE's skew-join split handles
  * most cases at runtime; explicit salting is the deterministic fallback
  * when a handful of keys dominate (e.g. a header row joined by billions
  * of detail rows).
  *
  * Left (large, skewed) rows get `salt = hash(row) % n`; the right
  * (smaller) side is replicated n×; the join key becomes (key, salt) —
  * splitting each hot key's rows across n reducers.
  */
object SkewTools {

  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val saltedLeft = left.withColumn(
      "_salt",
      pmod(hash(left.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    val replicatedRight = right.withColumn(
      "_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt")).drop("_salt")
  }
}
