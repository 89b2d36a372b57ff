package graft.tools

import graft.{Q, Session, SparkEntry}
import graft.metrics.{StageMetricsListener, StageSpan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution, SparkPlan}

/** One measurement path for registered queries.
  *
  *   sbt 'runMain graft.tools.Probe <q1,q2,...> [reps|jobs|plan|final-plan] [sfDir] [reps]'
  *
  *  - `reps` (default): [[warmUp]], one untimed rep, then `reps` (3)
  *    timed reps: median and min wall, and the fastest rep's jobs,
  *    stages, and shuffle read/write and spill in exact bytes.
  *  - `jobs`: each job of one measured rep with its span, the driver gap
  *    before it, and its stage names.
  *  - `plan`: the formatted physical plan before execution.
  *  - `final-plan`: the executed adaptive plan, where AQE's runtime stage
  *    reuse shows, with its reuse, broadcast and shuffle-stage counts.
  *
  * Both plan modes print through [[normalizePlan]], so the output of two
  * builds diffs to nothing when their plans are the same.
  *
  * sfDir defaults to `SPARK_GRAFT_SF_DIR` and cores to `SPARK_GRAFT_CPUS`
  * (default 4), as in `graft.Bench`, whose sweep is [[reps]] over every
  * registered query.
  */
object Probe {

  /** Fully materializes a frame through the noop sink, the measured action.
    * `.count()` is not a valid one: Catalyst prunes the columns a row count
    * does not need, and for window- and aggregate-shaped queries that
    * deletes the very work being measured (op11's count() shuffled 171
    * bytes against the real 1 MiB; sm15's lost its three rank exchanges;
    * q1's scanned one column instead of seven). The noop sink evaluates
    * every output column and discards it, the cost a consumer of the full
    * result pays.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The p-quantile of `xs` by linear interpolation between closest ranks;
    * p = 0.5 is the median (the mean of the middle two for an even count).
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = h.toInt
    if (lo + 1 < s.size) s(lo) + (h - lo) * (s(lo + 1) - s(lo)) else s(lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A byte count in the largest binary unit it reaches (B, KiB, MiB, GiB),
    * the unit every SCALE.md table prints.
    */
  def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1024.0 * 1024 * 1024)}%.2f GiB"
    else if (b >= (1L << 20)) f"${b / (1024.0 * 1024)}%.1f MiB"
    else if (b >= (1L << 10)) f"${b / 1024.0}%.1f KiB"
    else s"$b B"

  /** A plan's text with everything that moves between runs of the same
    * plan taken out, so two renderings of one plan compare equal and a
    * diff shows only plan changes. Counters (expression and plan ids,
    * whole-stage codegen ids, formatted-mode operator numbers, RDD ids,
    * AQE query-stage ids) are renumbered in order of first appearance,
    * which keeps which attribute is which within the plan; lambda
    * addresses, the random part of temp-directory names, the hash suffix
    * of temp tables and source line numbers are blanked.
    */
  def normalizePlan(plan: String): String = {
    def renumber(s: String, re: String): String = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.r.replaceAllIn(s, m => {
        val n = seen.getOrElseUpdate(m.group(2), seen.size + 1)
        java.util.regex.Matcher.quoteReplacement(s"${m.group(1)}$n${m.group(3)}")
      })
    }
    Seq(
      "(#)(\\d+)()",
      "(plan_id=)(\\d+)()",
      "(\\[codegen id : |\\*\\()(\\d+)(\\]|\\))",
      // formatted-mode operator numbers: detail headers "(n) Op", tree
      // lines (no colon) ending "Op (n)", and "operator id: n" references
      "(^\\((?=\\d+\\) )|^[^:\\n]*\\s\\((?=\\d+\\)$)|operator id[:=] ?)(\\d+)()",
      "(RDD\\[)(\\d+)(\\])",
      "(QueryStage )(\\d+)()"
    ).foldLeft(plan)((s, re) => renumber(s, "(?m)" + re))
      .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
      .replaceAll("(/tmp/[\\w-]*?)\\d{6,}", "$1_")
      .replaceAll("_[0-9a-f]{8,16}\\b", "_h")
      .replaceAll("\\.scala:\\d+", ".scala")
  }

  /** Untimed warm-up: JIT, codegen, broadcast machinery and FS cache. A
    * missing or corrupt fixture must surface as that query's failure, not
    * stop the run before any measurement, so every step is guarded.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    for (t <- Seq("lineitem", "orders", "customer", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    SparkEntry.all.find(_.name == "q3_top_revenue_orders")
      .foreach(q => try materialize(q.fn(spark, sfDir)) catch { case _: Throwable => () })
  }

  final case class Measured(wallS: Double, metrics: StageMetricsListener,
      executedPlan: SparkPlan)

  /** Builds a frame and [[materialize]]s it under ONE listener, so jobs
    * run while the frame is built are counted; then clears the cache the
    * query left. The frame's plan is taken first, so cached relations
    * still show in it.
    */
  def measure(spark: SparkSession)(build: => DataFrame): Measured = {
    val l = new StageMetricsListener
    val t0 = System.nanoTime()
    val df = l.collect(spark) { val df = build; materialize(df); df }
    val wallS = (System.nanoTime() - t0) / 1e9
    val plan = df.queryExecution.executedPlan
    spark.sharedState.cacheManager.clearCache()
    Measured(wallS, l, plan)
  }

  def query(name: String): Q = SparkEntry.all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown query: $name"))

  final case class Reps(wallS: Seq[Double], jobs: Int, stages: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  def reps(spark: SparkSession, q: Q, sfDir: String, n: Int): Reps = {
    measure(spark)(q.fn(spark, sfDir))
    val runs = Seq.fill(n)(measure(spark)(q.fn(spark, sfDir)))
    val l = runs.minBy(_.wallS).metrics
    Reps(runs.map(_.wallS), l.spans.map(_.jobId).distinct.size, l.spans.size,
      l.shuffleReadBytes, l.shuffleWriteBytes, l.spillBytes)
  }

  final case class Job(id: Int, spanMs: Long, gapMs: Long, stages: Seq[String])

  /** Spans grouped by job in id order; the gap is the driver's idle time
    * since the previous job ended (0 for the first).
    */
  def timeline(spans: Seq[StageSpan]): Seq[Job] = {
    var prevEnd = 0L
    spans.groupBy(_.jobId).toSeq.sortBy(_._1).map { case (id, js) =>
      val start = js.map(_.startMs).min
      val end = js.map(_.endMs).max
      val gap = if (prevEnd == 0) 0L else start - prevEnd
      prevEnd = math.max(prevEnd, end)
      Job(id, end - start, gap, js.map(_.name))
    }
  }

  /** One untimed rep, then the job timeline of one measured rep. */
  def jobs(spark: SparkSession, q: Q, sfDir: String): (Measured, Seq[Job]) = {
    measure(spark)(q.fn(spark, sfDir))
    val m = measure(spark)(q.fn(spark, sfDir))
    (m, timeline(m.metrics.spans))
  }

  /** Clears the cache the build left, as [[finalPlan]] does: otherwise a
    * later query's `persist()` can match this query's cached frame and
    * print a plan no single run of it has.
    */
  def plan(spark: SparkSession, q: Q, sfDir: String): String = {
    val p = q.fn(spark, sfDir).queryExecution.explainString(FormattedMode)
    spark.sharedState.cacheManager.clearCache()
    p
  }

  /** Executes the frame's OWN QueryExecution (the noop sink would run a
    * separate write execution and leave this plan unexecuted), dropping
    * every row on the executors so nothing ships to the driver, then
    * clears the cache the build left. The returned execution's adaptive
    * plan is the final one.
    */
  def execute(spark: SparkSession, df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
    spark.sharedState.cacheManager.clearCache()
    qe
  }

  def finalPlan(spark: SparkSession, q: Q, sfDir: String): String =
    execute(spark, q.fn(spark, sfDir)).executedPlan.toString

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <q1,q2,...> [reps|jobs|plan|final-plan] [sfDir] [reps]"
    val qs = args.headOption.getOrElse(sys.error(usage)).split(',').toSeq.map(n => query(n.trim))
    val mode = args.lift(1).getOrElse("reps")
    require(Set("reps", "jobs", "plan", "final-plan")(mode), s"unknown mode: $mode; $usage")
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage (or set SPARK_GRAFT_SF_DIR)"))
    val n = args.lift(3).fold(3)(_.toInt)
    val spark = Session.local(Session.envCpus(4))
    def count(p: String, re: String) = re.r.findAllIn(p).size
    if (mode == "reps") warmUp(spark, sfDir)
    qs.foreach { q =>
      println(s"== ${q.name}")
      mode match {
        case "reps" =>
          val r = reps(spark, q, sfDir, n)
          println(f"median ${median(r.wallS)}%.3f s  min ${r.wallS.min}%.3f s  " +
            s"jobs ${r.jobs}  stages ${r.stages}  shufR ${r.shuffleReadBytes} B  " +
            s"shufW ${r.shuffleWriteBytes} B  spill ${r.spillBytes} B  " +
            "reps " + r.wallS.map(t => f"$t%.3f").mkString(","))
        case "jobs" =>
          val (m, js) = jobs(spark, q, sfDir)
          js.foreach(j => println(f"job ${j.id}%4d  ${j.spanMs}%6d ms  gap ${j.gapMs}%5d ms  " +
            f"[${j.stages.size}%2d st]  ${j.stages.distinct.mkString(" | ")}"))
          println(f"TOTAL: ${m.wallS}%.3f s, ${js.size} jobs, ${m.metrics.spans.size} stages")
        case "plan" => println(normalizePlan(plan(spark, q, sfDir)))
        case "final-plan" =>
          val p = normalizePlan(finalPlan(spark, q, sfDir))
          println(s"reuse_nodes=${count(p, "ReusedQueryStage|ReusedExchange")} " +
            s"broadcast_nodes=${count(p, "BroadcastQueryStage|BroadcastExchange")} " +
            s"shuffle_stages=${count(p, "ShuffleQueryStage")}\n$p")
      }
    }
    spark.stop()
  }
}
