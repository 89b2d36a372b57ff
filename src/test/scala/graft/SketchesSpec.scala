package graft

import graft.SparkTestSession.{sf, spark, withTempDir}
import graft.api.Sketches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import spark.implicits._
import org.scalatest.funsuite.AnyFunSuite

/** The Sketches API must be the SAME estimator the gated queries prove
  * correct — every assertion here compares API output row-by-row against
  * the an17-an23 gated renderings (which the driver hash-matches against
  * DuckDB), so the callable surface can't silently diverge from the
  * oracle-pinned math.
  */
class SketchesSpec extends AnyFunSuite {

  private def byName(n: String): DataFrame =
    SparkEntry.queries(n)(spark, sf)

  private def tokens(filter: String = "true"): DataFrame =
    Tables.documents(spark, sf)
      .filter(filter)
      .selectExpr("doc_id", "source", "explode(split(lower(text), '\\\\s+')) as w")

  test("kmvBuild+kmvEstimate equals the gated an17 estimates") {
    val api = Sketches.kmvEstimate(Sketches.kmvBuild(tokens(), "source", "w"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val gated = byName("an17_kmv_cardinality")
      .select("source", "n_est")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(api == gated)
    assert(api.nonEmpty)
    spark.catalog.clearCache()
  }

  test("kmvMerge of base+delta builds equals the gated an19 merged estimates") {
    val base = Sketches.kmvBuild(tokens("doc_id < 400"), "source", "w")
    val delta = Sketches.kmvBuild(tokens("doc_id >= 400"), "source", "w")
    val api = Sketches.kmvEstimate(Sketches.kmvMerge(base, delta))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val gated = byName("an19_kmv_merge")
      .select("source", "est_merged")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(api == gated)
    // the gate itself pins merged ≡ full; re-assert through the API so a
    // future API edit that breaks the containment cut fails HERE
    val full = Sketches.kmvEstimate(Sketches.kmvBuild(tokens(), "source", "w"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(api == full)
    spark.catalog.clearCache()
  }

  test("cmsBuild+cmsEstimate equals the gated an20 estimates") {
    val grid = Sketches.cmsBuild(tokens(), "w")
    val gated = byName("an20_cms_frequency")
      .select("token", "n_est")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val items = gated.keys.toSeq.toDF("item")
    val api = Sketches.cmsEstimate(grid, items, "item")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(api == gated)
    assert(api.nonEmpty)
    // state honors its own cap: the whole point of the sketch
    assert(grid.count() <= 4 * 512)
    spark.catalog.clearCache()
  }

  test("cmsMerge of shard grids equals the gated an21 merged estimates") {
    val merged = Sketches.cmsMerge(
      Sketches.cmsBuild(tokens("doc_id < 400"), "w"),
      Sketches.cmsBuild(tokens("doc_id >= 400"), "w"))
    val gated = byName("an21_cms_merge")
      .select("token", "est_merged")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val items = gated.keys.toSeq.toDF("item")
    val api = Sketches.cmsEstimate(merged, items, "item")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(api == gated)
    spark.catalog.clearCache()
  }

  test("quantileSampleBuild+Estimate equals the gated an22 estimates") {
    val docs = Tables.documents(spark, sf)
    val api = Sketches.quantileSampleEstimate(
        Sketches.quantileSampleBuild(docs, "source", "n_chars", "doc_id"))
      .select("key", "est_p50", "est_p90")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val gated = byName("an22_sample_quantiles")
      .select("source", "est_p50", "est_p90")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(api == gated)
    assert(api.nonEmpty)
    spark.catalog.clearCache()
  }

  test("quantileSampleMerge of base+delta equals the gated an23 merged estimates") {
    val docs = Tables.documents(spark, sf)
    val base = Sketches.quantileSampleBuild(
      docs.filter("doc_id < 400"), "source", "n_chars", "doc_id")
    val delta = Sketches.quantileSampleBuild(
      docs.filter("doc_id >= 400"), "source", "n_chars", "doc_id")
    val api = Sketches.quantileSampleEstimate(
        Sketches.quantileSampleMerge(base, delta))
      .select("key", "est_p50", "est_p90")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val gated = byName("an23_quantile_merge")
      .select("source", "merged_p50", "merged_p90")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(api == gated)
    spark.catalog.clearCache()
  }

  test("merges are tree-reduction safe: associative, and idempotent where claimed") {
    // A 1000-executor fold is a TREE of merges in arbitrary shape — the
    // two-shard gates (an19/an21/an23) prove one shape; this pins that
    // 3-way shards folded left or right both equal the from-scratch
    // build, and that re-merging a state with itself is a no-op for the
    // set-semantics sketches (KMV, k-min sample). CMS is additive by
    // design — NOT idempotent — so only associativity is asserted there.
    def kmvEst(df: DataFrame) = Sketches.kmvEstimate(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val shards = Seq("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")
    val ks = shards.map(f => Sketches.kmvBuild(tokens(f), "source", "w"))
    val kFull = kmvEst(Sketches.kmvBuild(tokens(), "source", "w"))
    assert(kmvEst(Sketches.kmvMerge(Sketches.kmvMerge(ks(0), ks(1)), ks(2))) == kFull)
    assert(kmvEst(Sketches.kmvMerge(ks(0), Sketches.kmvMerge(ks(1), ks(2)))) == kFull)
    val kOnce = Sketches.kmvBuild(tokens(), "source", "w")
    assert(kmvEst(Sketches.kmvMerge(kOnce, kOnce)) == kFull)

    def qsEst(df: DataFrame) = Sketches.quantileSampleEstimate(df)
      .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(3)))).toMap
    val docs = Tables.documents(spark, sf)
    val qs = shards.map(f => Sketches.quantileSampleBuild(
      docs.filter(f), "source", "n_chars", "doc_id"))
    val qFull = qsEst(Sketches.quantileSampleBuild(docs, "source", "n_chars", "doc_id"))
    assert(qsEst(Sketches.quantileSampleMerge(
      Sketches.quantileSampleMerge(qs(0), qs(1)), qs(2))) == qFull)
    assert(qsEst(Sketches.quantileSampleMerge(
      qs(0), Sketches.quantileSampleMerge(qs(1), qs(2)))) == qFull)
    val qOnce = Sketches.quantileSampleBuild(docs, "source", "n_chars", "doc_id")
    assert(qsEst(Sketches.quantileSampleMerge(qOnce, qOnce)) == qFull)

    val probes = Sketches.cmsEstimate(Sketches.cmsBuild(tokens(), "w"),
        tokens().select("w").distinct().limit(20), "w")
      .select("item").collect().map(_.getString(0)).toSeq.toDF("item")
    def cmsEst(g: DataFrame) = Sketches.cmsEstimate(g, probes, "item")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val gs = shards.map(f => Sketches.cmsBuild(tokens(f), "w"))
    val gFull = cmsEst(Sketches.cmsBuild(tokens(), "w"))
    assert(cmsEst(Sketches.cmsMerge(Sketches.cmsMerge(gs(0), gs(1)), gs(2))) == gFull)
    assert(cmsEst(Sketches.cmsMerge(gs(0), Sketches.cmsMerge(gs(1), gs(2)))) == gFull)
    spark.catalog.clearCache()
  }

  test("states survive the parquet round-trip the between-ingests workflow uses") {
    // The scaladoc's claimed lifecycle: persist a state to parquet after
    // each ingest, read it back on the next, merge with the new batch's
    // build, estimate — never re-scanning the base. Pin that the
    // written-and-reread state estimates identically to the live one
    // for all three sketches (longs and strings only, so this SHOULD be
    // trivially lossless — the test guards against a schema/nullability
    // drift breaking the contract silently).
    withTempDir("graft-sketch-state") { tmp =>
      val dir = tmp.toString
      val docs = Tables.documents(spark, sf)

      val kmvBase = Sketches.kmvBuild(tokens("doc_id < 400"), "source", "w")
      kmvBase.write.mode("overwrite").parquet(s"$dir/kmv")
      val kmvLive = Sketches.kmvEstimate(Sketches.kmvMerge(
          kmvBase, Sketches.kmvBuild(tokens("doc_id >= 400"), "source", "w")))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val kmvReread = Sketches.kmvEstimate(Sketches.kmvMerge(
          spark.read.parquet(s"$dir/kmv"),
          Sketches.kmvBuild(tokens("doc_id >= 400"), "source", "w")))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(kmvReread == kmvLive)

      val grid = Sketches.cmsBuild(tokens("doc_id < 400"), "w")
      grid.write.mode("overwrite").parquet(s"$dir/cms")
      val probes = tokens().select("w").distinct().limit(20)
      def cEst(g: DataFrame) = Sketches.cmsEstimate(
          Sketches.cmsMerge(g, Sketches.cmsBuild(tokens("doc_id >= 400"), "w")),
          probes, "w")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(cEst(spark.read.parquet(s"$dir/cms")) == cEst(grid))

      val smp = Sketches.quantileSampleBuild(
        docs.filter("doc_id < 400"), "source", "n_chars", "doc_id")
      smp.write.mode("overwrite").parquet(s"$dir/qs")
      def qEst(st: DataFrame) = Sketches.quantileSampleEstimate(
          Sketches.quantileSampleMerge(st, Sketches.quantileSampleBuild(
            docs.filter("doc_id >= 400"), "source", "n_chars", "doc_id")))
        .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(3)))).toMap
      assert(qEst(spark.read.parquet(s"$dir/qs")) == qEst(smp))
      spark.catalog.clearCache()
    }
  }

  test("sketch states are small: k rows per key / d*w cells, longs only") {
    val docs = Tables.documents(spark, sf)
    val kmv = Sketches.kmvBuild(tokens(), "source", "w", k = 8)
    val perKey = kmv.groupBy("key").count().agg(max("count")).head().getLong(0)
    assert(perKey <= 8)
    val qs = Sketches.quantileSampleBuild(docs, "source", "n_chars", "doc_id", k = 8)
    val perKeyQ = qs.groupBy("key").count().agg(max("count")).head().getLong(0)
    assert(perKeyQ <= 8)
    spark.catalog.clearCache()
  }
}
