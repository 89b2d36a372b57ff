package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark harness, run from the root of a checkout:
  *
  *   Main --workload <plumber|curation_5k> --seed <n>
  *        --seconds <s> --trace <0|1>
  *
  * One closed loop from the driver thread on local[4]. A run sets up
  * three times (session start plus seeded input layout) and reports the
  * median, runs two untimed warm-up passes, then timed passes until
  * `--seconds` have elapsed (at least three), with every listener
  * detached. With
  * `--trace 1` it then runs two traced passes (listeners attached; the
  * counts of the two must repeat exactly) and, for IR pipelines, one call
  * of each optimizer component, and writes the spans once at the end.
  * The last stdout line is the JSON result; the lines before it print
  * every metric by name with its unit.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)
  /** One pass: wall seconds, CPU seconds of the process (JIT left out), samples. */
  final case class Pass(wall: Double, cpu: Double, samples: Seq[Sample])

  val Cores = 4
  val SetupRepeats = 3
  /** The first pass in a fresh JVM is ~3x a warm one; after one warm-up
    * pass the next still took 10-15% more CPU than later ones.
    */
  val WarmupPasses = 2
  /** At least three timed passes, so the median is a middle pass even
    * when passes are slow.
    */
  val MinTimedPasses = 3
  /** Counters that must repeat exactly between two traced passes. */
  val ExactCounts = Seq("sched.jobs", "sched.stages", "exec.shuffle_write_bytes", "exec.spill_bytes")

  def parse(argv: Seq[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    for {
      w <- kv.get("workload").filter(Workload.names.contains)
        .toRight(s"--workload must be one of ${Workload.names.mkString(", ")}")
      s <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      n <- kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0).toRight("--seconds must be a positive integer")
      t <- kv.get("trace").filter(Set("0", "1")).toRight("--trace must be 0 or 1")
      _ <- Either.cond(argv.size == 2 * kv.size, (), s"unexpected arguments: ${argv.mkString(" ")}")
    } yield Args(w, s, n, t == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq) match {
      case Right(a) => a
      case Left(err) => System.err.println(s"perfbench: $err"); sys.exit(2)
    }
    val root = Paths.get("").toAbsolutePath
    val refs = Reference.load(root.resolve("perfbench/reference.tsv"))
    val runId = f"${args.workload}-s${args.seed}-${System.currentTimeMillis()}%x"
    val work = root.resolve(s".bench_build/perfbench/$runId")
    // sys.exit, also on failure: Spark's non-daemon threads would keep
    // the JVM alive after an uncaught exception
    val code =
      try { run(args, root, work, runId, refs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally deleteTree(work)
    sys.exit(code)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.tools.LogHygiene.suppressTinyFrameWindowWarnings()
    graft.functions.WinnowFingerprints.register(s)
    graft.functions.NfcNormalize.register(s)
    s
  }

  /** Set up `SetupRepeats` times: each a fresh session and a fresh seeded
    * layout. Returns the last session, its input dir and every set-up time.
    */
  def setUp(args: Args, root: Path, work: Path): (SparkSession, String, Seq[Double]) = {
    var spark: SparkSession = null
    var dir = ""
    val times = (1 to SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      dir = work.resolve(s"inputs$i").toString
      Inputs.write(spark, args.workload, root.resolve("perfbench/data").toString, args.seed, dir)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, dir, times)
  }

  def run(args: Args, root: Path, work: Path, runId: String, refs: Map[String, Fingerprint]): Unit = {
    val wl = Workload(args.workload)
    val (spark, dir, setups) = setUp(args, root, work)
    val r = new Runner(spark, dir, Some(refs))

    def timedPass(tag: String): Pass = {
      r.startPass(tag)
      val c0 = Stats.cpuNs()
      val t0 = System.nanoTime()
      wl.pass(r, args.seed)
      Pass((System.nanoTime() - t0) / 1e9, (Stats.cpuNs() - c0) / 1e9, r.samples.toSeq)
    }

    val warmupS = (1 to WarmupPasses).map(i => timedPass(s"warmup$i").wall).sum
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (passes.size < MinTimedPasses || (System.nanoTime() - t0) / 1e9 < args.seconds)
      passes += timedPass(s"timed${passes.size + 1}")

    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val passS = Stats.median(passes.map(_.wall).toSeq)
    if (!args.trace) {
      metrics("setup_s") = Stats.median(setups) -> "s"
      metrics("pass_cpu_s") = Stats.median(passes.map(_.cpu).toSeq) -> "s"
    } else {
      val tracer = new Tracer(spark)
      tracer.attach()
      r.tracer = Some(tracer)
      val traced1S = timedPass("traced1").wall
      val c1 = r.counters.toSeq
      timedPass("traced2")
      val c2 = r.counters.toSeq
      r.startPass("components")
      val comps = wl.components(r)
      tracer.detach()
      r.tracer = None
      val spanFile = root.resolve(s".bench_build/perfbench/spans/$runId.jsonl")
      Spans.write(spanFile, tracer.spans, runId, args.workload, args.seed)
      println(s"spans: ${root.relativize(spanFile)}")

      // where the first traced pass spent its time, per operation
      c1.foreach { case (op, c) =>
        val planning = c("planning.analysis_ms") + c("planning.optimization_ms") + c("planning.physical_ms")
        println(f"  op $op%-28s wall_ms=${c("wall_ms")}%.0f build_ms=${c("build_ms")}%.0f " +
          f"planning_ms=${planning}%.0f driver_gap_ms=${c("sched.driver_gap_ms")}%.0f " +
          f"exec.run_ms=${c("exec.run_ms")}%.0f exec.cpu_ms=${c("exec.cpu_ms")}%.0f " +
          f"jobs=${c("sched.jobs")}%.0f shuffle_write_bytes=${c("exec.shuffle_write_bytes")}%.0f")
      }
      if (wl == Plumber) Plumber.bottlenecks.foreach { case (p, b) =>
        println(s"  optimizePipeline $p: bottleneck $b, LP rate ${Stats.num(PerLayer.predicted(wl, p))} 1/s")
      }
      val mismatches = Stats.countMismatches(c1, c2, ExactCounts)
      mismatches.foreach(m => println(s"count did not repeat: $m"))
      println(s"exact-counts check: ${if (mismatches.isEmpty) "all repeat" else s"${mismatches.size} differ"}")
      PerLayer.all(wl, passes.toSeq, c1, comps).foreach { case (k, v) => metrics(k) = v }
      metrics("pass_s") = passS -> "s"
      metrics("warmup_s") = warmupS -> "s"
      metrics("peak_rss_mb") = Stats.peakRssMb() -> "MB"
      metrics("timed_passes") = passes.size.toDouble -> "count"
      metrics("tracing_overhead_s") = (traced1S - passS) -> "s"
      metrics("op_fail_ratio") = r.failures.size.toDouble / r.attempted -> "ratio"
      metrics("counts.mismatches") = mismatches.size.toDouble -> "count"
    }
    spark.stop()

    println(s"perfbench run=$runId workload=${args.workload} seed=${args.seed} " +
      s"setups_s=${setups.map(Stats.num).mkString(",")} warmup_s=${Stats.num(warmupS)} " +
      s"pass_s=${passes.map(p => Stats.num(p.wall)).mkString(",")} " +
      s"cpu_s=${passes.map(p => Stats.num(p.cpu)).mkString(",")} timed_passes=${passes.size} " +
      s"samples=${passes.map(_.samples.size).sum}")
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-44s ${Stats.num(v)} $u") }
    // median over the timed passes per operation (the traced run also
    // reports these as per-layer metrics)
    passes.flatMap(_.samples).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      val rate = if (xs.head.elements > 0) f" ${Stats.median(xs.map(x => x.elements / x.seconds).toSeq)}%.1f 1/s" else ""
      println(f"  timed $op%-26s ${Stats.median(xs.map(_.seconds).toSeq)}%.4f s$rate")
    }
    r.failures.foreach(f => println(s"failed: $f"))
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${r.failures.isEmpty}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failures.size}, "metrics": {$body}}""")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}

object Stats {
  /** CPU time of this process so far, JIT compilation left out: every
    * thread, GC included, also threads that have since ended, minus the
    * time of the JIT compiler threads. Those compile hot code paths as they
    * warm up, a cost that varies from run to run and is not the program's
    * work; their number is fixed (`-XX:-UseDynamicNumberOfCompilerThreads`,
    * set by run.py), so none ends with its time uncounted.
    */
  def cpuNs(): Long = processCpuNs() - compilerCpuNs()

  /** utime + stime of the live JIT compiler threads, from /proc (clock
    * ticks of 10 ms).
    */
  def compilerCpuNs(): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.toArray(n => new Array[Path](n)).iterator.map { t =>
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum
    finally tasks.close()
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JSON number with every digit kept; non-finite values read 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** VmHWM of this process: its peak resident set, in MB. */
  def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val hwm = lines.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
    hwm.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** "<op> <counter> <first> vs <second>" for every counter that differs. */
  def countMismatches(a: Seq[(String, Map[String, Double])], b: Seq[(String, Map[String, Double])],
      keys: Seq[String]): Seq[String] =
    if (a.map(_._1) != b.map(_._1)) Seq(s"operation lists differ: ${a.map(_._1)} vs ${b.map(_._1)}")
    else a.zip(b).zipWithIndex.flatMap { case (((op, x), (_, y)), i) =>
      keys.filter(k => x(k) != y(k)).map(k => s"#${i + 1} $op $k ${x(k).toLong} vs ${y(k).toLong}")
    }
}

object Spans {
  /** Write every span as one JSON line keyed by run, workload, seed and operation. */
  def write(file: Path, spans: Seq[Span], runId: String, workload: String, seed: Long): Unit = {
    Files.createDirectories(file.getParent)
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val lines = spans.sortBy(s => (s.trace, s.startMs, s.id)).map { s =>
      s"""{"run": ${q(runId)}, "workload": ${q(workload)}, "seed": $seed, "op": ${q(s.trace)}, """ +
        s""""span": ${s.id}, "parent": ${s.parent.fold("null")(_.toString)}, "name": ${q(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }
    Files.writeString(file, lines.mkString("", "\n", "\n"))
  }
}
