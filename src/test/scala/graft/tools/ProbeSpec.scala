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
    def ids(p: String) = p.replaceAll("#\\d+", "#_").replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("\\(\\d+\\)", "(_)").replaceAll("\\[codegen id : \\d+\\]", "[codegen id : _]")
    spark.sharedState.cacheManager.clearCache()
    Probe.plan(spark, Probe.query("dd04_lsh_candidate_pairs"), sf)
    val after = Probe.plan(spark, Probe.query("dd06_ngram_jaccard"), sf)
    spark.sharedState.cacheManager.clearCache()
    val fresh = Probe.plan(spark, Probe.query("dd06_ngram_jaccard"), sf)
    assert(ids(after) == ids(fresh))
  }

  test("an unknown query name fails explicitly, before any session starts") {
    val e = intercept[IllegalArgumentException](Probe.query("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    intercept[IllegalArgumentException](
      Probe.main(Array("q1_pricing_summary,no_such_query", "jobs", sf)))
  }
}
