package graft.api

import graft.SparkTestSession.{sf, spark, withTempDir}
import org.scalatest.funsuite.AnyFunSuite

class SweepSpec extends AnyFunSuite {

  test("one-call sweep runs all arms and emits the comparison table") {
    withTempDir("graft-sweep") { tmp =>
      val out = tmp.toString
      val results = Sweep.run(spark, Flagship.graph, sf,
        Sweep.Config(numSteps = 2, randomArms = 2, benchIterations = 1,
          outDir = Some(out)))

      // full train_sweep.sh roster: naive, heuristic, plumber, random x2,
      // one-shot plumber_opt — 6 arms, all with real measurements
      assert(results.size == 6)
      val byArm = results.map(r => r.arm -> r).toMap
      assert(byArm.keySet == Set("naive", "heuristic", "plumber_rewrites",
        "random_rewrites_0", "random_rewrites_1", "plumber_opt"))
      assert(results.forall(r => r.finalRate > 0 && r.bestRate >= r.finalRate * 0.999))

      // structural gate: the rewriter arms actually explored numSteps
      // configs (the naive/opt arms are single-shot by design)
      assert(byArm("plumber_rewrites").steps == 2)
      assert(byArm("random_rewrites_0").steps == 2)
      // comparative claim with a noise allowance: single-shot wall-clock
      // timings on a loaded host can swing severalfold, so this only
      // guards against the plumber arm collapsing (a near-zero rate),
      // not against ordinary measurement noise. The paper-shaped strict
      // comparison (plumber best >= naive mean) belongs to the real
      // multi-iteration sweep, not a benchIterations=1 unit test.
      assert(byArm("plumber_rewrites").bestRate >= byArm("naive").meanRate * 0.2,
        s"plumber ${byArm("plumber_rewrites")} vs naive ${byArm("naive")}")

      // comparison table on disk, one row per arm, scrapeable shape
      val lines = scala.io.Source.fromFile(new java.io.File(out, "sweep_stats.csv"))
        .getLines().toSeq
      assert(lines.head == "arm,steps,final_rate,best_rate,mean_rate")
      assert(lines.size == 7)
      // per-arm rewriter artifacts (benchmark_stats.csv per rewriter arm)
      assert(new java.io.File(out, "plumber_rewrites/benchmark_stats.csv").exists())
      assert(new java.io.File(out, "random_rewrites_0/benchmark_stats.csv").exists())
      // comparison figure (SVG twin of the reference's scraped plot)
      assert(new java.io.File(out, "sweep_stats.svg").exists())
    }
  }

  test("forward trajectory is invariant to numDeviations (per-arm RNG)") {
    // deviation arms must not consume draws from the forward arm's stream
    val a = Rewriter.run(spark, Flagship.graph, sf,
      Rewriter.Config(numSteps = 2, strategy = Rewriter.RandomValid(7),
        benchIterations = 1, numDeviations = 1))._2
    val b = Rewriter.run(spark, Flagship.graph, sf,
      Rewriter.Config(numSteps = 2, strategy = Rewriter.RandomValid(7),
        benchIterations = 1, numDeviations = 3))._2
    assert(a.filter(_.deviation == 0).map(_.chosenNode) ==
      b.filter(_.deviation == 0).map(_.chosenNode))
  }
}
