package graft

/** End-to-end demo of the SURVEY §7.3 slice: build the flagship pipeline
  * IR, trace it instrumented, rank bottlenecks, solve the LP, apply
  * rewrites, and benchmark the optimized plan.
  *
  *   sbt 'runMain graft.Demo [sfDir]'
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.envCpus(8))

    val g0 = api.Flagship.graph
    // honors GRAFT_NO_OPTIMIZE / GRAFT_APPLY_CACHING / GRAFT_MAX_CHANGE /
    // GRAFT_FAST_OPTIMIZE / GRAFT_PRECISE_PROFILE (the reference's
    // PLUMBER_* env-gate parity; see Optimizer.Config.fromEnv)
    val res = api.Optimizer.optimizePipeline(spark, g0, sfDir,
      api.Optimizer.Config.fromEnv())

    println(s"bottleneck node   : ${res.bottleneck.map(g0.canonicalNames)}")
    println(f"machine           : ${res.global.cores} cores, " +
      f"disk ${res.global.diskBandwidthBps / 1e6}%.0f MB/s (FsProbe), " +
      f"mem free ${res.global.memoryFreeBytes >> 30} GiB")
    println(s"LP thetas         : ${res.thetas.toSeq.sortBy(_._1)}")
    println(f"predicted min-rate: ${res.predictedRate}%.0f elems/s")
    println(s"rules applied     : ${res.ruleReport.applied.mkString(", ")}")
    println(s"rules skipped     : ${res.ruleReport.skipped.mkString(", ")}")
    println("ranked bottleneck table:")
    res.rankedTable(spark)
      .select("name", "op", "parallelism", "elementsProduced",
        "expected_parallel_max_rate", "p_busy", "element_ratio")
      .show(32, false)
    println("recommended params (show_params analogue):")
    res.recommendedParams.foreach { case (k, v) => println(s"  $k = $v") }
    println("optimized pipeline DOT:\n" + res.optimized.toDot())

    val before = bench.Harness.benchmark(spark, g0, sfDir, maxIterations = 3)
    val after = bench.Harness.benchmark(spark, res.optimized, sfDir, maxIterations = 3)
    println(f"rows/s original ${before.elementRate}%.0f -> optimized ${after.elementRate}%.0f")

    // roofline figure (plotting_util.py parity, dependency-free SVG)
    res.rooflineSvg("roofline.svg")
    println("wrote roofline.svg")

    // §3.3 introspection surface (PlumberPerformanceModel API shape)
    val rec = api.Recommendation(g0, res.metrics, res.global,
      res.metrics.lastOption.map(_.elementsProduced).getOrElse(0L))
    println(f"introspection     : cpuUtil=${rec.cpuUtil * 100}%.0f%% " +
      f"diskUtil=${rec.diskUtil * 100}%.1f%% lpUpper=${rec.lpUpperBounds()}%.0f/s " +
      f"diskUpper=${rec.diskUpperBounds()}%.0f/s remainingCores=${rec.remainingCpuCores}%.1f")

    // precise per-node timing (profile mode: iterator barriers)
    val prof = metrics.PreciseProfiler.run(spark, g0, sfDir)
    println("precise per-node self time:")
    prof.timings.foreach(t => println(
      f"  ${g0.canonicalNames(t.nodeId)}%-12s agg=${t.aggregatePullNs / 1e6}%8.1f ms " +
        f"self=${t.selfNs / 1e6}%8.1f ms elems=${t.elements}"))

    // §3.2 incremental rewriter loop with CSV artifacts
    val out = java.nio.file.Files.createTempDirectory("graft-rewriter").toString
    val (_, steps) = api.Rewriter.run(spark, g0, sfDir,
      api.Rewriter.Config(numSteps = 3, benchIterations = 1, outDir = Some(out)))
    steps.foreach(s => println(
      f"rewriter step ${s.step}: node=${s.chosenNode.getOrElse(-1)} ${s.action} rate=${s.rate}%.0f"))
    println(s"rewriter CSVs: $out")
    spark.stop()
  }
}
