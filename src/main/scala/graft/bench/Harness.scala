package graft.bench

import graft.compile.Compiler
import graft.ir.PipelineGraph
import graft.rules.Rules
import org.apache.spark.sql.SparkSession

/** A15 — benchmark-with-convergence (gen_util.py:86-154): AUTOTUNE mode
  * stops when the rate change falls below `errorThreshold` after at least
  * `minRuntimeSec`. Same state machine, driving repeated Spark actions
  * instead of iterator pulls; infinite repeat(-1) never materializes — the
  * driver loop re-submits the bounded plan (SURVEY §7.4).
  */
final class AutotuneState(
    val errorThreshold: Double = 0.01, // gen_util.py:140
    val minRuntimeSec: Double = 12.0) { // gen_util.py:267-268
  private var lastRate = 0.0
  private var elapsedSec = 0.0
  private var converged = false

  def update(elements: Long, dtSec: Double): Unit = {
    elapsedSec += dtSec
    val rate = if (dtSec > 0) elements / dtSec else 0.0
    if (elapsedSec >= minRuntimeSec && lastRate > 0) {
      val change = math.abs(rate - lastRate) / lastRate
      if (change < errorThreshold) converged = true
    }
    lastRate = rate
  }
  def isConverged: Boolean = converged
  def currentRate: Double = lastRate
  def elapsed: Double = elapsedSec
}

object Harness {
  final case class BenchResult(elementRate: Double, iterations: Int,
      elapsedSec: Double, iterationRates: Seq[Double]) {
    /** iterator_variance() parity: variance of per-iteration rates. */
    def rateVariance: Double = {
      if (iterationRates.size < 2) return 0.0
      val m = iterationRates.sum / iterationRates.size
      iterationRates.map(r => (r - m) * (r - m)).sum / (iterationRates.size - 1)
    }
  }

  /** Repeatedly run the compiled pipeline until AUTOTUNE convergence or
    * `maxIterations` — the reference's benchmark_summary loop
    * (gen_util.py:253-506) with Spark actions as the pull.
    */
  def benchmark(spark: SparkSession, g: PipelineGraph, sfDir: String,
      maxIterations: Int = 20, state: AutotuneState = new AutotuneState()): BenchResult = {
    val df = Compiler.compile(spark, g, sfDir).df
    // element count once, untimed; the TIMED action is a full noop-sink
    // materialization — count() as the timed action lets Catalyst prune
    // the pipeline's own work (see Probe.materialize)
    val n = df.count()
    var iters = 0
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (!state.isConverged && iters < maxIterations) {
      val s0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - s0) / 1e9
      state.update(n, dt)
      if (dt > 0) rates += n / dt
      iters += 1
    }
    BenchResult(state.currentRate, iters, (System.nanoTime() - t0) / 1e9, rates.toSeq)
  }

  /** A16 — per-node throughput sweep (benchmark_util.py:11-148): truncate
    * the pipeline at each parallelizable node, cap with take(n)+cache, and
    * benchmark across a parallelism grid. Exact per-node timing where the
    * proportional attribution of Instrument.run isn't enough.
    */
  def nodeSweep(spark: SparkSession, g: PipelineGraph, sfDir: String,
      grid: Seq[Int] = Seq(2, 4, 8), takeN: Int = 500): Map[(Int, Int), Double] = {
    val results = scala.collection.mutable.Map[(Int, Int), Double]()
    for {
      id <- g.topoOrder if graft.ir.PipelineOp.supportsParallelism(g.byId(id).op)
      p <- grid
    } {
      val truncated = truncateAt(g, id)
      val tuned = Rules.SetParallelism(id, p).rewrite(truncated)
      val df = Compiler.compile(spark, tuned, sfDir).df.limit(takeN)
      val n = df.count() // untimed; see benchmark() on why count can't time
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      results((id, p)) = if (dt > 0) n / dt else 0.0
    }
    results.toMap
  }

  /** Pipeline prefix ending at `nodeId` (pipeline truncation,
    * pipeline_optimizer.py:278-284).
    */
  def truncateAt(g: PipelineGraph, nodeId: Int): PipelineGraph = {
    val keep = scala.collection.mutable.Set(nodeId)
    var frontier = Seq(nodeId)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(g.byId(_).inputs).filterNot(keep)
      keep ++= frontier
    }
    PipelineGraph(g.nodes.filter(n => keep(n.id)), nodeId)
  }
}

/** A20 — filesystem bandwidth probe (resource_measurements.py:22-117):
  * pure-JVM sequential read of the fixture files, feeding machine_info's
  * disk bandwidth (no fio dependency).
  */
object FsProbe {
  def sequentialReadBps(dir: String, capBytes: Long = 256L << 20): Double = {
    val files = new java.io.File(dir).listFiles()
    if (files == null || files.isEmpty) return 100e6 // reference fallback
    val buf = new Array[Byte](1 << 20)
    var total = 0L
    val t0 = System.nanoTime()
    files.iterator.takeWhile(_ => total < capBytes).foreach { f =>
      if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try {
          var n = in.read(buf)
          while (n >= 0 && total < capBytes) { total += n; n = in.read(buf) }
        } finally in.close()
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (dt > 0) total / dt else 100e6
  }
}
