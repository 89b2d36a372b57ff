package perfbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0.
  */
object PerLayer {
  private val sums = Seq(
    "planning.executions" -> "count", "planning.analysis_ms" -> "ms",
    "planning.optimization_ms" -> "ms", "planning.physical_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.scan_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes")
  private val components = Seq("trace.ms", "optimizer.calibrate_ms", "optimizer.rewrite_ms", "solver.lp_ms")

  /** `passes` are the timed passes, `traced` the first traced pass's
    * counters per operation, `comps` the component timings.
    */
  def all(wl: Workload, passes: Seq[Main.Pass], traced: Seq[(String, Map[String, Double])],
      comps: Map[String, Double]): Seq[(String, (Double, String))] = {
    val samples = passes.flatMap(_.samples)
    def total(k: String, ops: Seq[(String, Map[String, Double])] = traced) = ops.map(_._2(k)).sum
    def opsNamed(n: String) = traced.filter(_._1 == n)
    def seconds(op: String) = Stats.median(samples.filter(_.op == op).map(_.seconds))
    def rate(op: String) = Stats.median(samples.filter(_.op == op).map(s => s.elements / s.seconds))

    val layers =
      Seq("compile.ms" -> (total("build_ms") -> "ms")) ++
        sums.map { case (k, u) => k -> (total(k) -> u) } ++
        Seq("exec.peak_exec_mem_bytes" ->
          (traced.map(_._2("exec.peak_exec_mem_bytes")).foldLeft(0.0)(math.max) -> "bytes")) ++
        components.map(k => k -> (comps.getOrElse(k, 0.0) -> "ms")) ++
        Seq("optimizer.jobs" -> (total("sched.jobs", traced.filter(_._1.endsWith(".optimize"))) -> "count"))
    val pipelines = Plumber.Pipelines.map(_._1).flatMap { p =>
      Seq(
        s"$p.elements_per_s" -> (rate(p) -> "1/s"),
        s"$p.opt_elements_per_s" -> (rate(s"$p.opt") -> "1/s"),
        s"$p.optimize_s" -> (seconds(s"$p.optimize") -> "s"),
        s"solver.$p.model_error" -> (modelError(wl, p, rate(s"$p.opt")) -> "ratio"))
    }
    val queries = Curation.Queries.flatMap { q =>
      Seq(
        s"q.$q.s" -> (seconds(q) -> "s"),
        s"q.$q.jobs" -> (total("sched.jobs", opsNamed(q)) -> "count"),
        s"q.$q.shuffle_bytes" -> (total("exec.shuffle_write_bytes", opsNamed(q)) -> "bytes"),
        s"q.$q.spill_bytes" -> (total("exec.spill_bytes", opsNamed(q)) -> "bytes"))
    }
    // input elements per second of a pass's data operations (the IR
    // pipeline runs, the queries), optimizer calls excluded
    val throughput = "elements_per_s" -> (Stats.median(passes.map { p =>
      val xs = p.samples.filter(_.elements > 0)
      xs.map(_.elements).sum / xs.map(_.seconds).sum
    }) -> "1/s")
    (throughput +: layers) ++ pipelines ++ queries
  }

  /** LP rate of pipeline `p` from the last `optimizePipeline` call. */
  def predicted(wl: Workload, p: String): Double =
    if (wl == Plumber) Plumber.lastResult.get(p).fold(0.0)(_.predictedRate) else 0.0

  /** |ln(LP rate / observed optimized rate)|: 0 for a perfect model, and
    * as large for a 2× over-prediction as for a 2× under-prediction.
    */
  def modelError(wl: Workload, p: String, observed: Double): Double = {
    val e = math.abs(math.log(predicted(wl, p) / observed))
    if (e.isFinite) e else 0.0
  }
}
