package graft.tools

import graft.SparkTestSession.{sf, spark}
import graft.metrics.{StageMetricsListener, StageSpan}
import org.scalatest.funsuite.AnyFunSuite

/** Probe is the one measurement path for registered queries; its modes
  * must report what a listener attached by hand around the same build
  * and noop materialization sees.
  */
class ProbeSpec extends AnyFunSuite {

  private def direct(name: String): StageMetricsListener = {
    val q = Probe.query(name)
    val l = new StageMetricsListener
    l.collect(spark) {
      q.fn(spark, sf).write.format("noop").mode("overwrite").save()
    }
    spark.sharedState.cacheManager.clearCache()
    l
  }

  private def jobCount(l: StageMetricsListener): Int =
    l.spans.map(_.jobId).distinct.size

  test("reps reports the job count and shuffle bytes a directly attached " +
    "listener sees, including jobs run while the frame is built") {
    // dd08 collects its edge set while it is built (driver CC finish)
    for (name <- Seq("q1_pricing_summary", "dd08_dedup_clusters")) {
      val r = Probe.reps(spark, Probe.query(name), sf, 2)
      val l = direct(name)
      assert(r.wallS.size == 2)
      assert(r.jobs == jobCount(l), name)
      assert(r.stages == l.spans.size, name)
      assert(r.shuffleWriteBytes == l.shuffleWriteBytes, name)
      assert(r.shuffleReadBytes == l.shuffleReadBytes, name)
      assert(r.shuffleWriteBytes > 0, name)
    }
  }

  test("jobs lists every job the listener saw, each with its stages") {
    val (m, js) = Probe.jobs(spark, Probe.query("dd08_dedup_clusters"), sf)
    val seen = m.metrics.spans
    assert(js.map(_.id) == seen.map(_.jobId).distinct.sorted)
    assert(js.map(_.stages.size).sum == seen.size)
    assert(js.size == jobCount(direct("dd08_dedup_clusters")))
  }

  test("the job timeline groups spans by job and measures driver gaps") {
    val js = Probe.timeline(Seq(
      StageSpan("b", 2, 150, 170), StageSpan("a0", 1, 100, 120),
      StageSpan("a1", 1, 110, 130)))
    assert(js == Seq(
      Probe.Job(1, 30, 0, Seq("a0", "a1")),
      Probe.Job(2, 20, 20, Seq("b"))))
  }

  test("final-plan executes the query's own plan to its final adaptive form") {
    val p = Probe.finalPlan(spark, Probe.query("q1_pricing_summary"), sf)
    assert(p.contains("isFinalPlan=true") && p.contains("ShuffleQueryStage"), p)
  }

  test("plan returns the formatted physical plan before execution") {
    val p = Probe.plan(spark, Probe.query("q1_pricing_summary"), sf)
    assert(p.contains("Physical Plan") && p.contains("isFinalPlan=false"), p)
  }

  test("plan leaves no cached frame behind for the next query to match") {
    // dd06's band frame is dd04's whole r1Bands pipeline; with dd04's
    // persisted bands still cached, dd06 would print them instead of
    // banding from its own persisted hash sets
    spark.sharedState.cacheManager.clearCache()
    Probe.plan(spark, Probe.query("dd04_lsh_candidate_pairs"), sf)
    val after = Probe.plan(spark, Probe.query("dd06_ngram_jaccard"), sf)
    spark.sharedState.cacheManager.clearCache()
    val fresh = Probe.plan(spark, Probe.query("dd06_ngram_jaccard"), sf)
    assert(after != fresh, "two builds should differ in their raw ids")
    assert(Probe.normalizePlan(after) == Probe.normalizePlan(fresh))
  }

  test("normalizePlan renumbers run-dependent counters by first appearance " +
    "and blanks addresses, temp names and line numbers") {
    def plan(b: Int, rdd: Int, lambda: String, tmp: String, hash: String) =
      s"""*(${b + 3}) Project [a#${b + 10}L, b#${b + 7}, a#${b + 10}L AS c#${b + 12}]
         |+- ShuffleQueryStage ${b + 2}
         |   +- Exchange hashpartitioning(a#${b + 10}L, 4), ENSURE_REQUIREMENTS, [plan_id=${b + 40}]
         |      +- *(${b + 1}) Scan ExistingRDD[a#${b + 10}L], MapPartitionsRDD[$rdd] at localCheckpoint at SimilarityOps.scala:${b + 700}
         |+- Filter (${b + 4})
         |
         |(${b + 4}) Filter [codegen id : ${b + 1}]
         |Condition : ntile(4) IN (1)
         |Arguments: graft.Foo$$$$$$Lambda$$${b + 5}/0x00007f$lambda@3a$lambda, obj#${b + 7}
         |Location: InMemoryFileIndex [file:/tmp/graft-dd26-labels$tmp/data]
         |Scan parquet spark_catalog.default.graft_bkt_cust_$hash""".stripMargin
    val want =
      """*(1) Project [a#1L, b#2, a#1L AS c#3]
        |+- ShuffleQueryStage 1
        |   +- Exchange hashpartitioning(a#1L, 4), ENSURE_REQUIREMENTS, [plan_id=1]
        |      +- *(2) Scan ExistingRDD[a#1L], MapPartitionsRDD[1] at localCheckpoint at SimilarityOps.scala
        |+- Filter (1)
        |
        |(1) Filter [codegen id : 2]
        |Condition : ntile(4) IN (1)
        |Arguments: graft.Foo$$$Lambda, obj#2
        |Location: InMemoryFileIndex [file:/tmp/graft-dd26-labels_/data]
        |Scan parquet spark_catalog.default.graft_bkt_cust_h""".stripMargin
    assert(Probe.normalizePlan(plan(0, 12, "aa", "4761060537460320552", "80e7489c4304cb77")) == want)
    assert(Probe.normalizePlan(plan(100, 3655, "b0c1", "12825248334221344143", "1937192bda31998")) == want)
  }

  test("an unknown query name fails explicitly, before any session starts") {
    val e = intercept[IllegalArgumentException](Probe.query("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    intercept[IllegalArgumentException](
      Probe.main(Array("q1_pricing_summary,no_such_query", "jobs", sf)))
  }
}
