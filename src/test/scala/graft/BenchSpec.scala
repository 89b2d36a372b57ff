package graft

import graft.SparkTestSession.{sf, spark}
import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the sweep lists a throwing query as failed and still rows the " +
    "others with their pinned counts") {
    val boom = Q.noOracle("boom")((_, _) => throw new IllegalStateException("boom"))
    val s = Bench.sweep(spark, Seq(boom, Probe.query("q1_pricing_summary")), sf, 4)
    assert(s.failed == Seq("boom"))
    val Seq(row) = s.rows
    assert(row.name == "q1_pricing_summary" && row.r.wallS.size == 4)
    val (jobs, bytes) = PlanCountsSpec.pins(row.name)
    assert(row.r.jobs == jobs)
    assert(bytes.forall(_ == row.r.shuffleWriteBytes))
    val w = row.r.wallS.sorted
    assert(row.min == w(0) && row.median == (w(1) + w(2)) / 2)
    val out = Bench.json(s, sf, 4)
    assert(out.contains("\"failed\":[\"boom\"]"))
    assert(out.contains(s""""q1_pricing_summary":{"median":"""))
    assert(out.contains(s""""jobs":$jobs,"""))
  }

  test("row quartiles interpolate between closest ranks for odd and even " +
    "rep counts") {
    def row(ws: Double*) = Bench.Row("x", Probe.Reps(ws, 0, 0, 0, 0, 0))
    val odd = row(3, 1, 2)
    assert((odd.min, odd.q1, odd.median, odd.q3) == (1.0, 1.5, 2.0, 2.5))
    val even = row(4, 1, 3, 2)
    assert((even.min, even.q1, even.median, even.q3) == (1.0, 1.75, 2.5, 3.25))
    assert(row(7).q1 == 7.0 && row(7).q3 == 7.0)
  }
}
