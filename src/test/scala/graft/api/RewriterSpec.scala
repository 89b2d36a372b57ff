package graft.api

import graft.SparkTestSession.{sf, spark, withTempDir}
import org.scalatest.funsuite.AnyFunSuite

class RewriterSpec extends AnyFunSuite {

  test("rewriter loop: steps, parallelism bumps, CSV artifacts (§3.2)") {
    withTempDir("graft-rw") { tmp =>
      val out = tmp.toString
      val (g1, steps) = Rewriter.run(spark, Flagship.graph, sf,
        Rewriter.Config(numSteps = 3, benchIterations = 1, outDir = Some(out)))
      assert(steps.size == 3)
      assert(steps.forall(_.rate > 0))
      assert(steps.forall(_.thetas.nonEmpty))
      // at least one step bumped a node's parallelism
      val bumped = steps.exists(_.action.startsWith("parallelism+"))
      val fused = steps.exists(_.action.contains("fusion"))
      assert(bumped || fused)
      if (bumped) {
        val totalPar = g1.nodes.map(_.parallelism).sum
        assert(totalPar > Flagship.graph.nodes.map(_.parallelism).sum)
      }
      // reference CSV artifacts (graph_rewrites.py:966-983)
      val d = new java.io.File(out)
      assert(new java.io.File(d, "benchmark_stats.csv").exists())
      assert(new java.io.File(d, "node_stats_1.csv").exists())
      assert(new java.io.File(d, "thetas_1.csv").exists())
      val lines = scala.io.Source.fromFile(new java.io.File(d, "benchmark_stats.csv"))
        .getLines().toSeq
      assert(lines.head.startsWith("step,") && lines.size == 4)
    }
  }

  test("random_valid strategy is seeded-deterministic") {
    val (_, a) = Rewriter.run(spark, Flagship.graph, sf,
      Rewriter.Config(numSteps = 2, strategy = Rewriter.RandomValid(7), benchIterations = 1))
    val (_, b) = Rewriter.run(spark, Flagship.graph, sf,
      Rewriter.Config(numSteps = 2, strategy = Rewriter.RandomValid(7), benchIterations = 1))
    assert(a.map(_.chosenNode) == b.map(_.chosenNode))
  }

  test("random strategy draws from ALL ranked nodes, seeded-deterministic") {
    // graph_rewrites.py:582-584 — unlike random_valid, `random` may land on
    // non-parallelizable nodes (recorded as a noop action).
    val cfg = Rewriter.Config(numSteps = 3, strategy = Rewriter.Random(5), benchIterations = 1)
    val (_, a) = Rewriter.run(spark, Flagship.graph, sf, cfg)
    val (_, b) = Rewriter.run(spark, Flagship.graph, sf, cfg)
    assert(a.map(_.chosenNode) == b.map(_.chosenNode))
    assert(a.forall(_.chosenNode.nonEmpty))
    assert(a.forall(r => r.action.startsWith("parallelism+") || r.action.endsWith("(noop)")))
  }

  test("deviation arms avoid the recommendation and don't advance the graph") {
    // run_rewriter_runner's sweep arms (graph_rewrites.py:929-940,
    // train_sweep.sh ablation): per step, arm 0 follows the configured
    // strategy; arms >=1 re-pick via random_valid_deviation.
    val (g1, steps) = Rewriter.run(spark, Flagship.graph, sf,
      Rewriter.Config(numSteps = 2, numDeviations = 3, benchIterations = 1))
    assert(steps.size == 6) // 2 steps x 3 arms
    assert(steps.count(_.deviation == 0) == 2)
    for (s <- Seq(1, 2)) {
      val arm0 = steps.find(r => r.step == s && r.deviation == 0).get
      val devs = steps.filter(r => r.step == s && r.deviation > 0)
      assert(devs.size == 2)
      // deviation = recommendation removed from the valid pool
      assert(devs.forall(d => d.chosenNode.isEmpty || d.chosenNode != arm0.chosenNode))
      assert(devs.forall(_.rate > 0))
    }
    // only forward arms advance parallelism: 2 steps x +1 at most
    val grown = g1.nodes.map(_.parallelism).sum - Flagship.graph.nodes.map(_.parallelism).sum
    assert(grown <= 2)
  }

  test("source calibration sweeps the grid and fits two segments") {
    val (points, fit) = Optimizer.calibrateSource(spark, Flagship.graph, sf,
      grid = Seq(1, 2, 4, 8))
    assert(points.size == 4 && points.forall(_._2 > 0))
    assert(fit.error >= 0)
  }
}
