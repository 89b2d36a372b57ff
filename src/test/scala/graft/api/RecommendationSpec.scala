package graft.api

import graft.SparkTestSession.{sf, spark, withTempDir}
import org.scalatest.funsuite.AnyFunSuite

class RecommendationSpec extends AnyFunSuite {

  lazy val rec: Recommendation = Recommendation.trace(spark, Flagship.graph, sf)

  test("§3.3 introspection surface: bounds, utils, rates are coherent") {
    assert(rec.bottleneckNode().nonEmpty)
    assert(rec.rankedListBottleneckNodesAnalysis(spark).count() ==
      Flagship.graph.nodes.size)
    val ub = rec.upperBounds()
    assert(ub.size == Flagship.graph.nodes.size)
    assert(ub.values.forall(_ > 0))
    // keep_p_busy scales bounds down (p_busy ≤ 1 per node)
    val ubBusy = rec.upperBounds(keepPBusy = true)
    assert(ubBusy.forall { case (k, v) => v <= ub(k) + 1e-9 })
    // naive LP (no sequential clamp) can only raise the bound
    assert(rec.lpUpperBounds(naive = true) >= rec.lpUpperBounds() - 1e-9)
    assert(rec.cpuUtil >= 0 && rec.cpuUtil <= 1.5) // local mode headroom
    assert(rec.diskUtil >= 0)
    assert(rec.actualRate > 0)
    assert(rec.remainingCpuCores >= 0 && rec.remainingCpuCores <= rec.global.cores)
    assert(rec.totalWallclockTimeSec > 0)
    // disk bound uses measured bytes/root element
    assert(rec.diskBytesPerRootElement >= 0)
    assert(rec.diskUpperBounds(100e6) > 0)
  }

  test("CPU_Util calculation modes: None / CPU_clock / process_CPU_clock " +
    "follow the reference's three behaviors") {
    import graft.metrics.{GlobalMetrics, NodeMetrics}
    // exact pins on a hand-built model: wall 10s, 4 cores, model claims
    // 8 core-seconds, process burned 12, the machine 30
    def node(id: Int, procNs: Long) = NodeMetrics(id, s"n$id", "map", 1,
      100L, 100L, procNs, 0.0, isParallelizable = true,
      isSource = false, isRandom = false)
    val g = GlobalMetrics(cores = 4, memoryTotalBytes = 1L, memoryFreeBytes = 0L,
      wallclockNs = 10L * 1000000000L, cpuTimeNs = 12L * 1000000000L,
      diskBandwidthBps = 1.0, machineCpuTimeNs = 30L * 1000000000L)
    val r = Recommendation(Flagship.graph,
      Seq(node(0, 5L * 1000000000L), node(1, 3L * 1000000000L)), g, 100L)
    assert(math.abs(r.cpuUtil(None) - 8.0 / 40.0) < 1e-12)       // model spans
    assert(math.abs(r.cpuUtil(Some("process_CPU_clock")) - 12.0 / 40.0) < 1e-12)
    assert(math.abs(r.cpuUtil(Some("CPU_clock")) - 30.0 / 40.0) < 1e-12)
    // no machine counter (non-Linux trace): CPU_clock falls back to process
    val r2 = Recommendation(Flagship.graph, r.metrics,
      g.copy(machineCpuTimeNs = -1L), 100L)
    assert(r2.cpuUtil(Some("CPU_clock")) == r2.cpuUtil(Some("process_CPU_clock")))
    // unknown mode throws (the reference's keyed dispatch)
    intercept[IllegalArgumentException](r.cpuUtil(Some("bogus")))
    // live trace: the zero-arg default is the model-accounting mode, and
    // the machine clock lands in the same ballpark as the process clock —
    // ≥ in expectation, but /proc/stat's 10 ms jiffies lag the ns-granular
    // process counter on a ~1 s window, so allow 30% sampling slack
    assert(rec.cpuUtil == rec.cpuUtil(None))
    assert(rec.global.machineCpuTimeNs > 0) // Linux: the counter measured
    assert(rec.cpuUtil(Some("CPU_clock")) >=
      rec.cpuUtil(Some("process_CPU_clock")) * 0.7)
    assert(rec.cpuUtil(Some("process_CPU_clock")) >= 0)
  }

  test("span_contexts: traced stage spans group per job; outlier frame " +
    "matches the mean+2σ rule recomputed by hand") {
    val ctxs = rec.spanContexts()
    assert(ctxs.nonEmpty && ctxs.flatMap(_.spans).nonEmpty)
    assert(ctxs.forall(c => c.spans.forall(s => s.endMs >= s.startMs)))
    // contexts partition the span set
    assert(ctxs.flatMap(_.spans).size == rec.spans.size)
    assert(ctxs.map(_.jobId).distinct.size == ctxs.size)
    val byName = rec.spans.groupBy(_.name)
    val rows = rec.spanOutliers(spark).collect()
    assert(rows.length == byName.size)
    rows.foreach { r =>
      val ds = byName(r.getString(0)).map(_.durationMs.toDouble)
      val mean = ds.sum / ds.size
      val std = if (ds.size < 2) 0.0
        else math.sqrt(ds.map(d => (d - mean) * (d - mean)).sum / (ds.size - 1))
      assert(r.getLong(1) == ds.size)
      assert(math.abs(r.getDouble(2) - mean) < 1e-6)
      assert(math.abs(r.getDouble(3) - std) < 1e-6)
      val expected = if (ds.size > 1) ds.count(_ > mean + 2 * std) else 0
      assert(r.getLong(4) == expected)
    }
  }

  test("projected_dataset_working_set_size: full on-disk bytes of the " +
    "graph's scan tables; no-Scan graph throws") {
    val proj = rec.projectedDatasetWorkingSetSize(sf)
    // independent walk of the one table Flagship scans
    def size(p: java.io.File): Long =
      if (p.isFile) p.length()
      else Option(p.listFiles()).map(_.map(size).sum).getOrElse(0L)
    val expected = size(new java.io.File(s"$sf/lineitem.parquet"))
    assert(proj == expected && proj > 0)
    assert(rec.datasetWorkingSetSize >= 0)
    val noScan = rec.copy(graph = graft.ir.PipelineGraph(
      Seq(graft.ir.PipelineNode(0, graft.ir.PipelineOp.RangeSource(10))), 0))
    intercept[IllegalStateException](noScan.projectedDatasetWorkingSetSize(sf))
  }

  test("model-surface parity: memory/disk/file-size/duration methods are " +
    "coherent with their independent recomputes") {
    assert(rec.memoryUtil >= 0 && rec.memoryUtil <= 1.0)
    // the traced flagship materializes rows, so the bracketed heap peak
    // is a real positive measurement
    assert(rec.maxMemoryUsage > 0)
    assert(rec.diskThroughputBps >= 0)
    assert(math.abs(rec.diskThroughputBps * (rec.totalWallclockTimeSec) -
      rec.datasetWorkingSetSize) < 1e-3 * math.max(1.0, rec.datasetWorkingSetSize))
    val sizes = rec.datasetFileSizes(sf)
    assert(sizes.nonEmpty && sizes.values.forall(_ > 0))
    // file sizes sum to the projected working set (same walk, per-file)
    assert(sizes.values.sum == rec.projectedDatasetWorkingSetSize(sf))
    // busy time ≤ total CPU time (proportional attribution can't exceed it)
    assert(rec.iteratorDurationSec >= 0 &&
      rec.iteratorDurationSec <= rec.totalCpuTimeSec + 1e-9)
    val br = graft.bench.Harness.BenchResult(2000.0, 3, 1.5,
      Seq(1900.0, 2000.0, 2100.0))
    assert(math.abs(rec.iteratorVariance(br) - 10000.0) < 1e-6)
  }

  test("iterator_autotune_output_time: reciprocal of the A15 converged " +
    "rate; live overload runs the harness") {
    val br = graft.bench.Harness.BenchResult(2000.0, 3, 1.5,
      Seq(1900.0, 2000.0, 2100.0))
    assert(rec.iteratorAutotuneOutputTime(br) == 1.0 / 2000.0)
    assert(rec.iteratorAutotuneOutputTime(
      br.copy(elementRate = 0.0)).isPosInfinity)
    val live = rec.iteratorAutotuneOutputTime(spark, sf, maxIterations = 2)
    assert(live > 0 && java.lang.Double.isFinite(live))
  }

  test("to_graphviz writes a DOT file with the bottleneck highlighted") {
    withTempDir("graft-rec") { tmp =>
      val p = tmp.resolve("stats.dot")
      rec.toGraphviz(p.toString)
      val dot = java.nio.file.Files.readString(p)
      assert(dot.startsWith("digraph"))
      assert(dot.contains("fillcolor"))
    }
  }
}
