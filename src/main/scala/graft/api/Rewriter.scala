package graft.api

import graft.bench.Harness
import graft.ir.{PipelineGraph, PipelineOp}
import graft.metrics.Instrument
import graft.plans.Analysis
import graft.rules.Rules
import graft.solver.MaxMinThroughputLP
import org.apache.spark.sql.SparkSession

/** §3.2 — the incremental human-in-the-loop rewriter
  * (graph_rewrites.default_main → run_rewriter_runner,
  * graph_rewrites.py:808-988): per step, trace the pipeline, rank
  * bottlenecks, pick one by strategy, bump its parallelism (or record the
  * fusion no-op for Batch bottlenecks — graph_rewrites.py:325-331),
  * benchmark, detect plateaus, and emit the reference's CSV artifacts
  * (node_stats.csv, thetas.csv, benchmark_stats.csv).
  */
object Rewriter {

  sealed trait Strategy
  case object RankedTop extends Strategy                    // default: ranked top valid (strategy None)
  final case class Random(seed: Long) extends Strategy      // ANY ranked node (graph_rewrites.py:582-584)
  final case class RandomValid(seed: Long) extends Strategy // random among valid (585-593)
  /** Random among valid nodes with the ranked recommendation REMOVED —
    * the paper's deviation/ablation arm (graph_rewrites.py:594-607).
    */
  final case class RandomValidDeviation(seed: Long) extends Strategy

  final case class StepResult(
      step: Int,
      deviation: Int, // 0 = forward arm; 1.. = exploratory deviation arms
      chosenNode: Option[Int],
      action: String,
      rate: Double,
      thetas: Map[Int, Double])

  final case class Config(
      numSteps: Int = 5,
      strategy: Strategy = RankedTop,
      upParallelism: Int = 1, // parallelism increment per step
      benchIterations: Int = 2,
      // per step, arms 1..numDeviations-1 re-choose with
      // random_valid_deviation and benchmark the branch WITHOUT advancing
      // the forward graph (run_rewriter_runner, graph_rewrites.py:929-940)
      numDeviations: Int = 1,
      outDir: Option[String] = None)

  private def seedOf(s: Strategy): Long = s match {
    case Random(seed) => seed
    case RandomValid(seed) => seed
    case RandomValidDeviation(seed) => seed
    case RankedTop => 13L
  }

  def run(spark: SparkSession, g0: PipelineGraph, sfDir: String,
      cfg: Config = Config()): (PipelineGraph, Seq[StepResult]) = {
    require(cfg.numDeviations >= 1, "numDeviations has to be at least 1") // graph_rewrites.py:818
    var g = g0
    val history = scala.collection.mutable.ArrayBuffer[Analysis.Step]()
    val ignore = scala.collection.mutable.Set[Int]()
    val results = scala.collection.mutable.ArrayBuffer[StepResult]()
    // per-arm RNG: the forward arm's draws are a pure function of
    // (seed, step), so changing numDeviations never perturbs the forward
    // trajectory (the reference's deviation branches don't advance the
    // forward walk — sharing one stream would make forward runs
    // non-comparable across deviation settings)
    def armRng(step: Int, deviation: Int): scala.util.Random =
      new scala.util.Random(seedOf(cfg.strategy) ^ (step.toLong << 8) ^ deviation.toLong)

    for (step <- 1 to cfg.numSteps) {
      val run = Instrument.run(spark, g, sfDir)
      val ranked = run.nodeMetrics.filter(_.elementsProduced > 0)
      val valid = ranked.filter(m =>
        m.isParallelizable && !ignore.contains(m.nodeId) &&
          g.reachableFromSink.contains(m.nodeId))
      // the ranked recommendation (what strategy None would take)
      val recommended = Analysis.bottleneck(
        run.nodeMetrics.filter(m => g.reachableFromSink.contains(m.nodeId)),
        run.global, ignore.toSet)

      def choose(s: Strategy, rnd: scala.util.Random): Option[graft.metrics.NodeMetrics] = s match {
        case RankedTop => recommended
        case Random(_) =>
          if (ranked.isEmpty) None else Some(ranked(rnd.nextInt(ranked.size)))
        case RandomValid(_) =>
          if (valid.isEmpty) None else Some(valid(rnd.nextInt(valid.size)))
        case RandomValidDeviation(_) =>
          val pool = valid.filterNot(m => recommended.exists(_.nodeId == m.nodeId))
          if (pool.isEmpty) None else Some(pool(rnd.nextInt(pool.size)))
      }

      // LP thetas over the current metrics (joined onto the node table in
      // the CSVs, graph_rewrites.py:699-759)
      val thetas = MaxMinThroughputLP.solveMetrics(run.nodeMetrics, run.global.cores).thetas

      // arm 0 = configured strategy (advances the forward graph);
      // arms 1.. = random_valid_deviation branches from the same base
      for (deviation <- 0 until cfg.numDeviations) {
        val armStrategy =
          if (deviation == 0) cfg.strategy
          else RandomValidDeviation(seedOf(cfg.strategy))
        val chosen = choose(armStrategy, armRng(step, deviation))
        var gArm = g
        val action = chosen match {
          case Some(m) if m.op == "Batch" =>
            "map_and_batch_fusion(noop)" // Catalyst already fuses (§4.1)
          case Some(m) if !m.isParallelizable =>
            "not_parallelizable(noop)" // Random can land on any ranked node
          case Some(m) =>
            gArm = Rules.SetParallelism(m.nodeId,
              g.byId(m.nodeId).parallelism + cfg.upParallelism).rewrite(g)
            s"parallelism+${cfg.upParallelism}"
          case None => "none"
        }

        val bench = Harness.benchmark(spark, gArm, sfDir, cfg.benchIterations,
          new graft.bench.AutotuneState(minRuntimeSec = 0.0))
        results += StepResult(step, deviation, chosen.map(_.nodeId), action,
          bench.elementRate, thetas)

        if (deviation == 0) {
          g = gArm // only the forward arm advances the pipeline
          chosen.foreach(m => history += Analysis.Step(m.nodeId, bench.elementRate))
          Analysis.detectCycle(history.toSeq).foreach { plateaued =>
            ignore += plateaued // graph_rewrites.py:170-198 feeds next step
            history.clear()
          }
        }
      }

      cfg.outDir.foreach(dir => emitCsvs(dir, step, g, run, thetas, results.toSeq))
    }
    (g, results.toSeq)
  }

  /** node_stats.csv / thetas.csv / benchmark_stats.csv per step
    * (graph_rewrites.py:966-983).
    */
  private def emitCsvs(dir: String, step: Int, g: PipelineGraph,
      run: Instrument.RunResult, thetas: Map[Int, Double],
      results: Seq[StepResult]): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    def write(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(d, name))
      try lines.foreach(w.println) finally w.close()
    }
    write(s"node_stats_$step.csv",
      "node_id,name,op,parallelism,elements_produced,elements_consumed,processing_time_ns" +:
        run.nodeMetrics.map(m =>
          s"${m.nodeId},${m.name},${m.op},${m.parallelism},${m.elementsProduced},${m.elementsConsumed},${m.processingTimeNs}"))
    write(s"thetas_$step.csv",
      "node_id,theta" +: thetas.toSeq.sortBy(_._1).map { case (k, v) => s"$k,$v" })
    write("benchmark_stats.csv",
      "step,deviation,chosen_node,action,rate" +:
        results.map(r =>
          s"${r.step},${r.deviation},${r.chosenNode.getOrElse(-1)},${r.action},${r.rate}"))
  }
}
