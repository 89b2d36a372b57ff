package graft.metrics

import graft.compile.Compiler
import graft.ir.{PipelineGraph, PipelineOp}
import org.apache.spark.sql.SparkSession

/** Per-operator metrics — our stats.pb analogue (SURVEY §1.3). One row per
  * pipeline node per snapshot; field names mirror the per-node state the
  * reference reads in graph_rewrites.py:390-432.
  */
final case class NodeMetrics(
    nodeId: Int,
    name: String,
    op: String,
    parallelism: Int,
    elementsProduced: Long,
    elementsConsumed: Long,
    processingTimeNs: Long,
    bytesPerElement: Double,
    isParallelizable: Boolean,
    isSource: Boolean,
    isRandom: Boolean)

object NodeMetrics {
  /** Node `id`'s row from a traced run of `g`: `produced` and `consumed`
    * element counts, `timeNs` of processing time, and the run's measured
    * `sourceBytes`, attributed per element to a source node (feeds
    * disk_bytes_per_root_element / diskUpperBound, A13).
    */
  def of(g: PipelineGraph, id: Int, produced: Long, consumed: Long,
      timeNs: Long, sourceBytes: Long): NodeMetrics = {
    val n = g.byId(id)
    val isSrc = PipelineOp.isSource(n.op)
    NodeMetrics(
      nodeId = id,
      name = g.canonicalNames(id),
      op = n.op.base,
      parallelism = n.parallelism,
      elementsProduced = produced,
      elementsConsumed = consumed,
      processingTimeNs = timeNs,
      bytesPerElement = if (isSrc && produced > 0) sourceBytes.toDouble / produced else 0.0,
      isParallelizable = PipelineOp.supportsParallelism(n.op),
      isSource = isSrc,
      isRandom = n.op.isRandom)
  }
}

/** Machine/global snapshot row (machine_info + global counters,
  * graph_rewrites.py:466-535 get_runtime_data).
  */
final case class GlobalMetrics(
    cores: Int,
    memoryTotalBytes: Long,
    memoryFreeBytes: Long,
    wallclockNs: Long,
    cpuTimeNs: Long,
    diskBandwidthBps: Double,
    // peak JVM heap across the traced run (pool peaks reset at trace
    // start, summed after — max_memory_usage parity); -1 when the run
    // wasn't bracketed by Instrument.run
    peakMemoryBytes: Long = -1L,
    // MACHINE-wide busy CPU ns over the traced window (/proc/stat delta
    // — every process, not just this JVM), feeding CPU_Util's
    // calculation_mode="CPU_clock"; -1 when the platform gave no counter
    machineCpuTimeNs: Long = -1L)

object GlobalMetrics {
  /** Autodetect from the JVM (machine_info autodetect analogue). Disk
    * bandwidth uses the reference's conservative local default of 100 MB/s
    * (graph_rewrites.py:161) unless measured by graft.bench.FsProbe.
    */
  def detect(wallclockNs: Long, cpuTimeNs: Long,
      diskBandwidthBps: Double = 100e6): GlobalMetrics = {
    val rt = Runtime.getRuntime
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val (tot, free) = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        (b.getTotalMemorySize, b.getFreeMemorySize)
      case _ => (rt.maxMemory(), rt.freeMemory())
    }
    GlobalMetrics(rt.availableProcessors(), tot, free, wallclockNs, cpuTimeNs, diskBandwidthBps)
  }
}

/** Instrumented pipeline execution: compile with per-node CollectMetrics,
  * run one action, and turn the observed counters + wall-clock into
  * Seq[NodeMetrics]. This replaces the TF fork's iterator tracing with the
  * observation surface Spark actually provides (SURVEY §7.4): element
  * counts are exact per node; time is attributed proportionally to
  * elements processed (documented approximation, refined per node by
  * bench.NodeSweep when precision matters).
  */
object Instrument {

  final case class RunResult(
      nodeMetrics: Seq[NodeMetrics],
      global: GlobalMetrics,
      rowCount: Long,
      spans: Seq[StageSpan] = Nil)

  def run(spark: SparkSession, g: PipelineGraph, sfDir: String): RunResult = {
    val compiled = Compiler.compile(spark, g, sfDir, instrument = true)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val listener = new StageMetricsListener
    // bracket the run with heap-pool peak tracking (max_memory_usage):
    // reset each pool's peak, sum the peaks after the action
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val machine0 = machineBusyCpuNs()
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    // collect() (not count()) — count() builds a NEW QueryExecution around
    // an added aggregate, and the CollectMetrics results would attach to
    // that execution instead of compiled.df.queryExecution. Instrumented
    // runs are bounded pipelines (profile mode), so collecting is safe.
    val rows = listener.collect(spark) { compiled.df.collect().length.toLong }
    val wallNs = System.nanoTime() - t0
    val cpuNs = math.max(0L, osBean.getProcessCpuTime - cpu0)
    val machine1 = machineBusyCpuNs()
    val machineNs =
      if (machine0 >= 0 && machine1 >= machine0) machine1 - machine0 else -1L

    val observed: Map[String, Long] =
      compiled.df.queryExecution.observedMetrics
        .map { case (k, row) => k -> row.getLong(0) }

    val elems: Int => Long = id => observed.getOrElse(s"node_$id", 0L)
    val totalElems = math.max(1L, g.nodes.map(n => elems(n.id)).sum)

    val metrics = g.topoOrder.map { id =>
      val produced = elems(id)
      // proportional attribution of measured CPU time across nodes by
      // work processed — coarse but honest; PreciseProfiler for exact.
      NodeMetrics.of(g, id, produced, g.byId(id).inputs.map(elems).sum,
        (cpuNs.toDouble * produced / totalElems).toLong, listener.inputBytes)
    }
    val global = GlobalMetrics.detect(wallNs, cpuNs)
      .copy(
        diskBandwidthBps = measuredBandwidth(sfDir),
        peakMemoryBytes = heapPools.map(_.getPeakUsage.getUsed).sum,
        machineCpuTimeNs = machineNs)
    RunResult(metrics, global, rows, listener.spans)
  }

  /** Machine-wide busy CPU time since boot in ns — the /proc/stat "cpu"
    * aggregate (user+nice+system+irq+softirq+steal jiffies at the
    * standard 100 Hz USER_HZ), every process on the host, not just this
    * JVM. -1 where /proc/stat doesn't exist (non-Linux) or doesn't
    * parse; callers fall back to the process clock.
    */
  private[metrics] def machineBusyCpuNs(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+")
      if (f(0) != "cpu") -1L
      else {
        // fields: user nice system idle iowait irq softirq steal ...
        val v = f.drop(1).take(8).map(_.toLong)
        val busy = v(0) + v(1) + v(2) + v(5) + v(6) + (if (v.length > 7) v(7) else 0L)
        busy * 10L * 1000000L // 100 Hz jiffies → ns
      }
    } catch { case _: Throwable => -1L }

  // FsProbe capacity measurement, cached per fixture dir (A20 feeding
  // machine_info, replacing the reference's 100 MB/s fallback).
  private val bwCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private[graft] def measuredBandwidth(sfDir: String): Double =
    bwCache.computeIfAbsent(sfDir, d => graft.bench.FsProbe.sequentialReadBps(d))
}
