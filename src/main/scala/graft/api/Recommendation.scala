package graft.api

import graft.ir.{PipelineGraph, PipelineOp}
import graft.metrics.{GlobalMetrics, NodeMetrics, StageSpan}
import graft.plans.Analysis
import graft.solver.MaxMinThroughputLP
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One job's worth of traced stage spans — the reference's span-context
  * unit (`recommendation.span_contexts()` yields contexts whose `.spans`
  * carry name/start/end, graph_rewrites.py:453-455, 266-320).
  */
final case class SpanContext(jobId: Int, spans: Seq[StageSpan])

/** §3.3 interactive-introspection surface — the reference's
  * `PlumberPerformanceModel(...).model()` / `.recommendation()` API shape
  * (notebook/Example.ipynb; graph_rewrites.py:466-535), so code written
  * against the reference's method names ports one-to-one:
  *
  *   model.recommendation().bottleneck_node()  →  rec.bottleneckNode()
  *   model.CPU_Util() / Disk_Util()            →  rec.cpuUtil / diskUtil
  *   recommendation.upper_bounds()             →  rec.upperBounds()
  *   recommendation.LP_upper_bounds()          →  rec.lpUpperBounds()
  *   recommendation.disk_upper_bounds(bw)      →  rec.diskUpperBounds(bw)
  *   recommendation.span_contexts()            →  rec.spanContexts()
  *   model.dataset_working_set_size()          →  rec.datasetWorkingSetSize
  *   recommendation.projected_dataset_working_set_size()
  *                                             →  rec.projectedDatasetWorkingSetSize(sfDir)
  *   recommendation.iterator_autotune_output_time()
  *                                             →  rec.iteratorAutotuneOutputTime(...)
  *   model.to_graphviz("stats.dot")            →  rec.toGraphviz(path)
  */
final case class Recommendation(
    graph: PipelineGraph,
    metrics: Seq[NodeMetrics],
    global: GlobalMetrics,
    rowCount: Long,
    spans: Seq[StageSpan] = Nil) {

  /** bottleneck_node(mode): ranked top valid node. */
  def bottleneckNode(ignore: Set[Int] = Set.empty): Option[Int] =
    Analysis.bottleneck(metrics, global, ignore).map(_.nodeId)

  /** ranked_list_bottleneck_nodes_analysis(extended=True). */
  def rankedListBottleneckNodesAnalysis(spark: SparkSession): DataFrame =
    Analysis.rankedTable(spark, metrics, global)

  /** upper_bounds(keep_p_busy): per-node expected parallel max rates. */
  def upperBounds(keepPBusy: Boolean = false): Map[Int, Double] =
    metrics.map { m =>
      val r = Analysis.expectedParallelMaxRate(m, global)
      m.nodeId -> (if (keepPBusy) r * math.max(1e-9, pBusy(m)) else r)
    }.toMap

  /** LP_upper_bounds(naive, use_existing_usage): max-min achievable rate.
    * naive skips the sequential-op θmax=1 clamp; useExistingUsage floors
    * every θ at the node's current allocation (convex_solver.py:55-75,
    * the 4th LP variant get_runtime_data reports,
    * graph_rewrites.py:466-535).
    */
  def lpUpperBounds(naive: Boolean = false, useExistingUsage: Boolean = false,
      bandwidth: Option[MaxMinThroughputLP.Bandwidth] = None): Double =
    MaxMinThroughputLP.solveMetrics(metrics, global.cores, naive,
      useExistingUsage = useExistingUsage, bandwidth = bandwidth).rate

  /** disk_upper_bounds(bandwidth): element-rate ceiling from disk. */
  def diskUpperBounds(bandwidthBps: Double = global.diskBandwidthBps): Double =
    Analysis.diskUpperBound(bandwidthBps, diskBytesPerRootElement)

  /** disk_bytes_per_root_element(): measured source bytes per output row. */
  def diskBytesPerRootElement: Double =
    if (rowCount > 0) datasetWorkingSetSize / rowCount else 0.0

  /** dataset_working_set_size(): source bytes the traced run actually
    * read (the reference's "seen" size — a take(n)/truncated pipeline
    * sees a subset of the files on disk).
    */
  def datasetWorkingSetSize: Double = metrics.filter(_.isSource)
    .map(m => m.bytesPerElement * m.elementsProduced).sum

  /** projected_dataset_working_set_size(): the FULL on-disk byte size of
    * every file-backed source table in the graph — what the cache
    * planner compares against free memory when the trace only saw a
    * subset (pipeline_optimizer.py:1260-1285 logs seen/projected and
    * plans caches off the projection). Throws when the graph has no
    * file-backed (Scan) source, mirroring the reference's RuntimeError
    * path, which its caller catches.
    */
  def projectedDatasetWorkingSetSize(sfDir: String): Long = {
    if (!graph.nodes.map(_.op).exists(_.isInstanceOf[PipelineOp.Scan]))
      throw new IllegalStateException(
        "projected working set undefined: no file-backed (Scan) source in graph")
    datasetFileSizes(sfDir).values.sum // one walker for seen/projected parity
  }

  /** span_contexts(): the traced run's stage spans grouped per job —
    * each Spark job plays the reference's span-context role
    * (graph_rewrites.py:453-455); spans within a context carry
    * name/start/end for the mean/σ/outlier treatment below.
    */
  def spanContexts(): Seq[SpanContext] =
    spans.groupBy(_.jobId).toSeq.sortBy(_._1)
      .map { case (j, ss) => SpanContext(j, ss.sortBy(s => (s.startMs, s.name))) }

  /** Span aggregation exactly as span_context_to_networkx labels nodes
    * (graph_rewrites.py:266-320): per span name, count, mean/σ of
    * durations, and how many spans exceed mean + 2σ (the red-outlier
    * rule; the an02 query applies the same rule to the events table).
    * Spans are driver-local diagnostics, so the frame is tiny.
    */
  def spanOutliers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spans.map(s => (s.name, s.durationMs)).toDF("name", "dt_ms")
    val stats = df.groupBy("name").agg(
      count(lit(1)).as("n"),
      avg("dt_ms").as("mean_ms"),
      coalesce(stddev_samp(col("dt_ms")), lit(0.0)).as("std_ms"))
    df.join(stats, "name")
      .groupBy("name")
      .agg(
        first("n").as("n"), first("mean_ms").as("mean_ms"),
        first("std_ms").as("std_ms"),
        sum(when(col("dt_ms") > col("mean_ms") + lit(2) * col("std_ms")
          && col("n") > 1, 1L).otherwise(0L)).as("n_outliers"))
  }

  /** iterator_autotune_output_time(): the autotune harness's converged
    * per-element output time — the reciprocal of the A15 benchmark's
    * converged rate (gen_util.py's AUTOTUNE stop rule drives the rate;
    * plot_stats.py:359 reads this as "autotune latency").
    */
  def iteratorAutotuneOutputTime(bench: graft.bench.Harness.BenchResult): Double =
    if (bench.elementRate > 0) 1.0 / bench.elementRate else Double.PositiveInfinity

  /** Convenience overload: run the A15 convergence benchmark on this
    * graph, then report its converged output time.
    */
  def iteratorAutotuneOutputTime(spark: SparkSession, sfDir: String,
      maxIterations: Int = 8): Double =
    iteratorAutotuneOutputTime(
      graft.bench.Harness.benchmark(spark, graph, sfDir, maxIterations))

  /** remaining_CPU_cores(). */
  def remainingCpuCores: Double =
    math.max(0.0, global.cores - global.cpuTimeNs.toDouble / math.max(1L, global.wallclockNs))

  /** actual_rate(): observed sink rate. */
  def actualRate: Double = rowCount / math.max(1e-9, global.wallclockNs / 1e9)

  /** min_latency(): mean per-element service time across the pipeline. */
  def minLatencySec: Double = {
    val work = metrics.map(_.processingTimeNs).sum
    if (rowCount > 0) work / 1e9 / rowCount else 0.0
  }

  /** iterator_wallclock_duration(). */
  def iteratorWallclockSec: Double = global.wallclockNs / 1e9

  /** CPU_Util(): default calculation mode — see [[cpuUtil(Option)]].
    *
    * Behavior change in r9: this zero-arg default moved from
    * process-CPU accounting to the MODEL accounting (Σ per-node
    * processing time over wall × cores) when the three calculation
    * modes landed — callers that want the old number should pass
    * `Some("process_CPU_clock")`. The reference shows only the three
    * call sites (graph_rewrites.py:466-471), not CPU_Util's own
    * implementation, so "the default is model accounting" is this
    * repo's documented choice, not verified reference parity.
    */
  def cpuUtil: Double = cpuUtil(None)

  /** CPU_Util(calculation_mode) — the reference's three modes
    * (graph_rewrites.py:466-471 reads all three per run):
    *   - `None` (default): the MODEL's accounting — Σ per-node processing
    *     time over wall × cores, i.e. what the pipeline's own op metrics
    *     claim the pipeline consumed.
    *   - `"CPU_clock"`: the MACHINE CPU clock over the same window
    *     (/proc/stat busy delta, every process on the host) — reveals
    *     external contention the model can't see; falls back to the
    *     process clock when the platform gave no machine counter.
    *   - `"process_CPU_clock"`: this process's CPU clock — what the JVM
    *     actually burned, attribution-free.
    * Any other string throws, mirroring the reference's keyed dispatch.
    */
  def cpuUtil(calculationMode: Option[String]): Double = {
    val denom = math.max(1L, global.wallclockNs).toDouble * global.cores
    calculationMode match {
      case None =>
        metrics.map(_.processingTimeNs).sum / denom
      case Some("CPU_clock") =>
        (if (global.machineCpuTimeNs >= 0) global.machineCpuTimeNs
         else global.cpuTimeNs) / denom
      case Some("process_CPU_clock") =>
        global.cpuTimeNs / denom
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown CPU_Util calculation_mode: $other " +
            "(expected CPU_clock or process_CPU_clock)")
    }
  }

  /** Disk_Util(): observed source read rate over measured bandwidth. */
  def diskUtil: Double = {
    val rate = datasetWorkingSetSize / math.max(1e-9, global.wallclockNs / 1e9)
    if (global.diskBandwidthBps > 0) rate / global.diskBandwidthBps else 0.0
  }

  def memoryFree: Long = global.memoryFreeBytes
  def memoryTotal: Long = global.memoryTotalBytes
  def totalCpuTimeSec: Double = global.cpuTimeNs / 1e9
  def totalWallclockTimeSec: Double = global.wallclockNs / 1e9

  /** Memory_Util(): measured system memory utilization. */
  def memoryUtil: Double =
    if (global.memoryTotalBytes > 0)
      (global.memoryTotalBytes - global.memoryFreeBytes).toDouble /
        global.memoryTotalBytes
    else 0.0

  /** max_memory_usage(): peak JVM heap across the traced run (heap-pool
    * peaks bracketed by Instrument.run); -1 when the trace didn't
    * measure it (e.g. a snapshot reloaded from disk).
    */
  def maxMemoryUsage: Long = global.peakMemoryBytes

  /** disk_throughput(): observed source read rate in bytes/sec. */
  def diskThroughputBps: Double =
    datasetWorkingSetSize / math.max(1e-9, global.wallclockNs / 1e9)

  /** dataset_file_sizes(): per-file on-disk bytes for every file-backed
    * source table (the reference logs this next to the seen/projected
    * working-set comparison, pipeline_optimizer.py:1280-1284).
    */
  def datasetFileSizes(sfDir: String): Map[String, Long] = {
    val tables = graph.nodes.map(_.op)
      .collect { case PipelineOp.Scan(t, _) => t }.distinct
    def walk(p: java.io.File): Seq[(String, Long)] =
      if (p.isFile) Seq(p.getPath -> p.length())
      else Option(p.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    tables.flatMap(t => walk(new java.io.File(s"$sfDir/$t.parquet"))).toMap
  }

  /** iterator_duration(): summed per-node busy time — the pipeline's
    * active service time, vs. iteratorWallclockSec's end-to-end span.
    */
  def iteratorDurationSec: Double = metrics.map(_.processingTimeNs).sum / 1e9

  /** iterator_variance(): variance of the A15 benchmark's per-iteration
    * rates (name-parity delegate to BenchResult.rateVariance).
    */
  def iteratorVariance(bench: graft.bench.Harness.BenchResult): Double =
    bench.rateVariance

  /** to_graphviz(path): DOT with the bottleneck highlighted. */
  def toGraphviz(path: String): Unit = {
    val hot = bottleneckNode()
    val dot = graph.toDot(extraAttrs = id =>
      if (hot.contains(id)) "style=filled, fillcolor=\"#ffcccc\", color=red" else "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), dot)
  }

  private def pBusy(m: NodeMetrics): Double =
    if (global.cpuTimeNs > 0) m.processingTimeNs.toDouble / global.cpuTimeNs else 0.0
}

object Recommendation {
  /** Trace a pipeline and build its recommendation — the
    * `PlumberPerformanceModel(stats.pb).model().recommendation()` path.
    */
  def trace(spark: SparkSession, g: PipelineGraph, sfDir: String): Recommendation = {
    val run = graft.metrics.Instrument.run(spark, g, sfDir)
    Recommendation(g, run.nodeMetrics, run.global, run.rowCount, run.spans)
  }
}
