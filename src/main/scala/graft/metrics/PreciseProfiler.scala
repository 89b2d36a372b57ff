package graft.metrics

import graft.compile.Compiler
import graft.ir.PipelineGraph
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Precise per-node timing — the SURVEY §7.4 fallback: a `mapPartitions`
  * timing shim at every IR op boundary, measuring the cumulative time to
  * *pull* each node's iterator (the tf.data fork's
  * `aggregate_processing_time` analogue). Self time per node is the
  * cumulative time minus its inputs' cumulative time.
  *
  * The barriers break whole-stage codegen *between* ops, so this is
  * PROFILE MODE only — deliberately mirroring how the reference's tracing
  * perturbs the pipeline it measures. Production runs compile without
  * barriers and fuse fully; Instrument.run (cheap mode) keeps exact
  * element counts with proportional time attribution.
  */
object PreciseProfiler {

  final case class NodeTiming(
      nodeId: Int,
      aggregatePullNs: Long, // cumulative: this op + everything upstream
      selfNs: Long,          // aggregate minus inputs' aggregate
      elements: Long)

  /** finalWallNs / finalCpuNs / sourceInputBytes cover ONLY the last
    * (full-pipeline) materialization — the harness re-runs every prefix,
    * so its total wall time is ~N/2× a single pass and must never be
    * reported as one (it would make roofline's jobs-in-flight estimate
    * n = work/wall collapse and fire prefetch insertion spuriously).
    */
  final case class ProfiledRun(timings: Seq[NodeTiming], rowCount: Long,
      wallNs: Long, finalWallNs: Long, finalCpuNs: Long, sourceInputBytes: Long)

  def run(spark: SparkSession, g: PipelineGraph, sfDir: String): ProfiledRun = {
    // Time each node boundary by materializing its prefix independently —
    // mirroring the reference's per-node benchmark protocol
    // (benchmark_util.py:11-148) rather than one fused run, which Spark's
    // execution model can't attribute per-operator anyway.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val t0 = System.nanoTime()
    var finalWallNs = 0L
    var finalCpuNs = 0L
    var sourceInputBytes = 0L
    // anchor on the graph's declared sink, not topo position: a dead
    // terminal node with a larger id would otherwise get the run-level
    // globals measured on the wrong prefix
    val sinkId = g.sink
    val timings = g.topoOrder.map { id =>
      val acc = spark.sparkContext.longAccumulator(s"t_$id")
      val cnt = spark.sparkContext.longAccumulator(s"c_$id")
      val prefix = graft.bench.Harness.truncateAt(g, id)
      val df = wrap(spark, Compiler.compile(spark, prefix, sfDir).df, acc, cnt)
      if (id == sinkId) {
        // the sink prefix IS the whole pipeline: measure its single pass
        // for the run-level globals (wall, CPU, source bytes)
        val l = new StageMetricsListener
        val w0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        l.collect(spark) { df.write.format("noop").mode("overwrite").save() }
        finalWallNs = System.nanoTime() - w0
        finalCpuNs = math.max(0L, osBean.getProcessCpuTime - c0)
        sourceInputBytes = l.inputBytes
      } else df.write.format("noop").mode("overwrite").save()
      NodeTiming(id, math.max(acc.value, 1L), 0L, cnt.value)
    }
    val rowCount = timings.find(_.nodeId == sinkId).map(_.elements).getOrElse(0L)

    // self time = own aggregate pull minus inputs' aggregate pull
    val byId = timings.map(t => t.nodeId -> t).toMap
    val finalTimings = timings.map { t =>
      val inputsAgg = g.byId(t.nodeId).inputs.map(i => byId(i).aggregatePullNs).sum
      t.copy(selfNs = math.max(0L, t.aggregatePullNs - inputsAgg))
    }
    ProfiledRun(finalTimings, rowCount, System.nanoTime() - t0,
      finalWallNs, finalCpuNs, sourceInputBytes)
  }

  /** Iterator-timing barrier: counts elements and accumulates the nanos
    * spent pulling the upstream iterator, partition-locally.
    */
  private def wrap(spark: SparkSession, df: DataFrame,
      timeNs: LongAccumulator, rowCnt: LongAccumulator): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      new Iterator[Row] {
        override def hasNext: Boolean = {
          val s = System.nanoTime()
          val h = it.hasNext
          timeNs.add(System.nanoTime() - s)
          h
        }
        override def next(): Row = {
          val s = System.nanoTime()
          val r = it.next()
          timeNs.add(System.nanoTime() - s)
          rowCnt.add(1)
          r
        }
      }
    }(enc)
  }

  /** Merge precise timings into NodeMetrics (upgrades Instrument.run's
    * proportional attribution). Source nodes get the measured input bytes
    * of the final full-pipeline pass attributed per element, so the
    * disk-bound analysis (A13) keeps working in precise mode.
    */
  def toNodeMetrics(g: PipelineGraph, p: ProfiledRun): Seq[NodeMetrics] =
    p.timings.map { t =>
      val consumed = g.byId(t.nodeId).inputs
        .map(i => p.timings.find(_.nodeId == i).map(_.elements).getOrElse(0L)).sum
      NodeMetrics.of(g, t.nodeId, t.elements, consumed, t.selfNs, p.sourceInputBytes)
    }

  /** A precise trace in the shape of `Instrument.run`'s result. The
    * globals come from the FINAL (full-pipeline) pass only: the
    * profiler's own wall/CPU span all N prefix re-runs and would collapse
    * roofline's jobs-in-flight estimate if reported as one trace pass
    * (spurious prefetch insertion).
    */
  def trace(spark: SparkSession, g: PipelineGraph, sfDir: String): Instrument.RunResult = {
    val p = run(spark, g, sfDir)
    Instrument.RunResult(toNodeMetrics(g, p),
      GlobalMetrics.detect(p.finalWallNs, p.finalCpuNs)
        .copy(diskBandwidthBps = Instrument.measuredBandwidth(sfDir)),
      p.rowCount)
  }
}
