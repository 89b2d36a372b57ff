package perfbench

import graft.api.Optimizer
import graft.compile.Compiler
import graft.ir.PipelineOp._
import graft.ir.{PipelineGraph, PipelineNode}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive output fingerprint: row count plus the exact sum of
  * a 64-bit hash of every row (columns in name order).
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  /** `df` with the fingerprint aggregates observed into `obs`. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.columns.sorted.map(c => col(s"`$c`")).toSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"), sum(h.cast("decimal(20,0)")).as("hash"))
  }

  def of(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long], Option(m("hash")).fold("0")(_.toString))
  }
}

/** One executed operation. `elements` is its input element count (0 for
  * operations that are not a pass over the data, such as an optimizer call).
  */
final case class Sample(op: String, seconds: Double, elements: Long)

/** Runs operations, times them, checks their outputs and, when a tracer
  * is attached, collects each operation's counters. Failures never stop
  * the pass: they are counted and reported. Without references (`refs`
  * None) outputs are only recorded in `seen`.
  */
final class Runner(val spark: SparkSession, val dir: String, refs: Option[Map[String, Fingerprint]]) {
  val seen = scala.collection.mutable.LinkedHashMap[String, Fingerprint]()
  var tracer: Option[Tracer] = None
  var tag = "warmup"
  val samples = scala.collection.mutable.ArrayBuffer[Sample]()
  val counters = scala.collection.mutable.ArrayBuffer[(String, Map[String, Double])]()
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  var attempted = 0L
  private var index = 0
  private val rowCounts = scala.collection.mutable.Map[String, Long]()

  /** Row count of input table `t`, read once. */
  def rows(t: String): Long =
    rowCounts.getOrElseUpdate(t, spark.read.parquet(s"$dir/$t.parquet").count())

  def startPass(name: String): Unit = { tag = name; index = 0; samples.clear(); counters.clear() }

  /** Run `body` as operation `name`; None if it threw. */
  def op[T](name: String, elements: Long)(body: => T): Option[T] = {
    attempted += 1
    index += 1
    tracer.foreach(_.begin(f"$tag/$index%02d:$name"))
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch { case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"
        None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.foreach(t => counters += name -> (t.end(name) + ("wall_ms" -> dt * 1e3) + ("build_ms" -> buildMs)))
    buildMs = 0.0
    if (r.isDefined) samples += Sample(name, dt, elements)
    r
  }

  private var buildMs = 0.0
  /** Time the DataFrame build (IR compile or query construction). */
  def build(name: String)(body: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val df = tracer.fold(body)(_.call(name)(body))
    buildMs += (System.nanoTime() - t0) / 1e6
    df
  }

  /** Materialize `df` to the noop sink; compare its fingerprint with the
    * reference for `refKey`. A mismatch is a failed operation.
    */
  def materialize(refKey: String, df: DataFrame): Fingerprint = {
    val obs = Observation()
    val run = () => Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save()
    tracer.fold(run())(_.call("materialize")(run()))
    val got = Fingerprint.of(obs)
    seen.getOrElseUpdate(refKey, got)
    refs.foreach(_.get(refKey) match {
      case Some(want) if want == got => ()
      case Some(want) => throw new IllegalStateException(s"output $got, reference $want")
      case None => throw new IllegalStateException(s"output $got, no reference")
    })
    got
  }
}

/** A workload: the operations of one pass. The seed sets their order. */
trait Workload {
  def name: String
  def pass(r: Runner, seed: Long): Unit
  /** Per-layer timings of single public calls, taken once in a traced run. */
  def components(r: Runner): Map[String, Double] = Map.empty

  /** The seed is mixed first: java.util.Random's first draws barely
    * differ between nearby seeds (unmixed, seeds 101-110 and 201-210 all
    * kept two items in their written order).
    */
  protected def order[A](xs: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(scala.util.hashing.byteswap64(seed)).shuffle(xs)
}

object Workload {
  def apply(name: String): Workload = name match {
    case "plumber" => Plumber
    case "curation_5k" => Curation
  }
  val names = Seq("plumber", "curation_5k")
}

/** Registered LLM-curation queries on the 5000-document corpus (sf0.01
  * derived 10×), each built and materialized, with caches cleared
  * between queries: the LSH banding builder and the connected-components
  * loop, the two shapes most curation queries share. Two queries, because
  * one run must fit the benchmark's time budget (see perfbench/README.md).
  */
object Curation extends Workload {
  val name = "curation_5k"
  val Queries = Seq("dd04_lsh_candidate_pairs", "dd08_dedup_clusters")

  def pass(r: Runner, seed: Long): Unit = {
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    order(Queries, seed).foreach { q =>
      r.op(q, r.rows("documents")) {
        r.materialize(s"$name/$q", r.build("SparkEntry.fn")(byName(q).fn(r.spark, r.dir)))
      }
      r.spark.sharedState.cacheManager.clearCache()
    }
  }
}

/** The Plumber loop on two IR pipelines: a timed run of the graph as
  * written, one `optimizePipeline`, a timed run of the optimized graph.
  */
object Plumber extends Workload {
  val name = "plumber"

  /** CPU-bound: one split of documents through native text functions. */
  val winnow: PipelineGraph = PipelineGraph(Seq(
    PipelineNode(0, Scan("documents")),
    PipelineNode(1, MapE(Seq("doc_id",
      "size(winnow_fps(nfc_normalize(lower(text)), 5, 4)) as nfp",
      "length(text) as n")), Seq(0)),
    PipelineNode(2, FilterE("nfp > 0"), Seq(1)),
    PipelineNode(3, Batch(64, dropRemainder = false, "doc_id % 4", Seq("doc_id"),
      Seq("sum(nfp) as nfp", "sum(n) as n")), Seq(2)),
    PipelineNode(4, Take(64, Seq("shard", "batch_id")), Seq(3))), sink = 4)

  /** (pipeline, graph, scanned table) */
  val Pipelines: Seq[(String, PipelineGraph, String)] = Seq(
    ("flagship", graft.api.Flagship.graph, "lineitem"),
    ("winnow", winnow, "documents"))

  /** Calibration is left to the traced run's component timings. */
  val Cfg = Optimizer.Config(fastOptimize = true)

  def pass(r: Runner, seed: Long): Unit =
    order(Pipelines, seed).foreach { case (p, g, table) =>
      val n = r.rows(table)
      def run(op: String, graph: PipelineGraph): Unit =
        r.op(op, n)(r.materialize(s"$name/$p",
          r.build("Compiler.compile")(Compiler.compile(r.spark, graph, r.dir).df)))
      run(p, g)
      r.op(s"$p.optimize", 0)(Optimizer.optimizePipeline(r.spark, g, r.dir, Cfg)).foreach { res =>
        lastResult += p -> res
        run(s"$p.opt", res.optimized)
      }
    }

  /** The last `optimizePipeline` result, per pipeline. */
  val lastResult = scala.collection.mutable.Map[String, Optimizer.Result]()

  /** "node <id> <op>" of the bottleneck the last result names, per pipeline. */
  def bottlenecks: Seq[(String, String)] = Pipelines.map { case (p, g, _) =>
    p -> lastResult.get(p).flatMap(_.bottleneck).fold("none") { id =>
      s"node $id ${g.nodes.find(_.id == id).fold("?")(_.op.getClass.getSimpleName)}"
    }
  }

  override def components(r: Runner): Map[String, Double] = {
    import graft.metrics.Instrument
    import graft.solver.MaxMinThroughputLP
    def ms[T](t: Tracer, call: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = t.call(call)(body)
      (v, (System.nanoTime() - t0) / 1e6)
    }
    val t = r.tracer.get
    val parts = Pipelines.flatMap { case (p, g, _) =>
      r.op(s"$p.components", 0) {
        val (run, traceMs) = ms(t, "Instrument.run")(Instrument.run(r.spark, g, r.dir))
        val (_, calMs) = ms(t, "Optimizer.calibrateSource")(Optimizer.calibrateSource(r.spark, g, r.dir))
        val cores = run.global.cores.toDouble
        val rates = run.nodeMetrics.filter(_.elementsProduced > 0).map { m =>
          MaxMinThroughputLP.OpRate(m.nodeId,
            graft.plans.Analysis.expectedPerCoreMaxRate(m) match {
              case x if x.isFinite => x
              case _ => 1e12
            },
            0.0, if (m.isParallelizable) cores else 1.0, m.parallelism.toDouble)
        }
        val (sol, lpMs) = ms(t, "MaxMinThroughputLP.solve")(MaxMinThroughputLP.solve(rates, cores))
        val (_, rwMs) = ms(t, "RuleRunner.run+schemaInvariant") {
          val rep = graft.rules.RuleRunner.run(g,
            Seq(graft.rules.Rules.RemoveCaches, graft.rules.Rules.ApplyLpThetas(sol.thetas)))
          Compiler.schemaInvariant(r.spark, g, rep.graph, r.dir)
        }
        Seq("trace.ms" -> traceMs, "optimizer.calibrate_ms" -> calMs,
          "solver.lp_ms" -> lpMs, "optimizer.rewrite_ms" -> rwMs)
      }.getOrElse(Nil)
    }
    parts.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
