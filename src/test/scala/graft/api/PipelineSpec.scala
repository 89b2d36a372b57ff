package graft.api

import graft.SparkTestSession.{sf, spark, withTempDir}
import graft.bench.Harness
import graft.compile.{Compiler, GraphCodec}
import graft.ir.PipelineOp._
import graft.ir.{PipelineGraph, PipelineNode}
import graft.metrics.Instrument
import graft.rules.{RuleRunner, Rules}
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  test("flagship IR compiles and produces batches") {
    val df = Flagship.run(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 64)
    assert(df.columns.contains("batch_n") && df.columns.contains("revenue"))
  }

  test("instrumented run observes per-node element counts") {
    val run = Instrument.run(spark, Flagship.graph, sf)
    val byId = run.nodeMetrics.map(m => m.nodeId -> m).toMap
    assert(byId(0).elementsProduced == 6000) // full lineitem scan at sf0.001
    assert(byId(2).elementsProduced < byId(1).elementsProduced) // filter drops
    assert(byId(4).elementsProduced <= byId(2).elementsProduced / 32) // batching shrinks
    assert(run.rowCount > 0 && run.global.cores > 0)
  }

  test("optimizePipeline: LP thetas, bottleneck, schema invariance") {
    val res = Optimizer.optimizePipeline(spark, Flagship.graph, sf)
    assert(res.thetas.nonEmpty)
    assert(res.predictedRate > 0)
    assert(res.bottleneck.nonEmpty)
    // optimized graph still compiles to the same schema
    assert(Compiler.schemaInvariant(spark, res.original, res.optimized, sf))
    // ranked table exposes the derived-rate columns
    val cols = res.rankedTable(spark).columns.toSet
    assert(Set("expected_parallel_max_rate", "p_busy", "element_ratio").subsetOf(cols))
  }

  test("optimizePipeline reads no parquet footer once its table is warm") {
    // the trace run, the rewrite and the schema-invariance rail compile
    // the graph three times; with the table's schema cached none of them
    // may run a schema-inference job ("parquet at …")
    graft.Tables.lineitem(spark, sf)
    val l = new graft.metrics.StageMetricsListener
    l.collect(spark)(Optimizer.optimizePipeline(spark, Flagship.graph, sf,
      Optimizer.Config(fastOptimize = true)))
    assert(l.spans.nonEmpty)
    assert(!l.spans.exists(_.name.startsWith("parquet at ")),
      l.spans.map(_.name).mkString(", "))
  }

  test("optimizer un-starves a deliberately serialized pipeline") {
    // the reference's value prop end-to-end: a pipeline whose stages are
    // pinned to parallelism 1 must come out of optimizePipeline with its
    // parallelizable stages scaled up (θ ceil'd into parallelism).
    //
    // Needs preciseProfile: the cheap trace attributes CPU proportionally
    // to element counts, which makes every node's modeled rate IDENTICAL
    // by construction — the LP then correctly equalizes all θ at ~1.0 and
    // the outcome rides on float noise. Exact per-node self times give
    // the LP a real bottleneck to widen.
    val starved = Seq(0, 1, 2, 3).foldLeft(Flagship.graph)(
      (g, id) => Rules.SetParallelism(id, 1).rewrite(g))
    val res = Optimizer.optimizePipeline(
      spark, starved, sf, Optimizer.Config(preciseProfile = true))
    val widened = res.optimized.nodes.filter(n =>
      graft.ir.PipelineOp.supportsParallelism(n.op) && n.parallelism > 1)
    assert(widened.nonEmpty,
      s"no parallelizable node widened: ${res.optimized.nodes.map(n => n.id -> n.parallelism)}" +
        s" thetas=${res.thetas}")
    assert(res.predictedRate > 0)
  }

  test("optimizePipeline with preciseProfile uses exact per-node self time") {
    val res = Optimizer.optimizePipeline(
      spark, Flagship.graph, sf, Optimizer.Config(preciseProfile = true))
    assert(res.thetas.nonEmpty && res.predictedRate > 0)
    assert(Compiler.schemaInvariant(spark, res.original, res.optimized, sf))
    // precise mode measures each node directly: every traced node carries
    // its own element count, and self times are non-negative by clamping
    val byId = res.metrics.map(m => m.nodeId -> m).toMap
    assert(byId(0).elementsProduced == 6000)
    assert(res.metrics.forall(_.processingTimeNs >= 0))
  }

  test("InsertCache/RemoveCaches round-trip preserves semantics") {
    val g = Flagship.graph
    val cached = Rules.InsertCache(2).rewrite(g)
    assert(cached.nodes.exists(_.op == CacheOp))
    assert(Compiler.schemaInvariant(spark, g, cached, sf))
    val roundTrip = Rules.RemoveCaches.rewrite(cached)
    assert(!roundTrip.nodes.exists(_.op == CacheOp))
    assert(roundTrip.diff(g)._1.isEmpty)
    // cache insertion under a random op is rejected by the precondition
    val shuffled = PipelineGraph(
      g.nodes :+ PipelineNode(g.nextId, ShuffleOp(1), Seq(g.sink)), g.nextId)
    val report = RuleRunner.run(shuffled, Seq(Rules.InsertCache(shuffled.sink)))
    assert(report.skipped.nonEmpty && report.applied.isEmpty)
  }

  test("SourceOnlyTruncate keeps only the source (I/O ceiling probe)") {
    val truncated = Rules.SourceOnlyTruncate.rewrite(Flagship.graph)
    assert(truncated.nodes.size == 1)
    val n = Compiler.compile(spark, truncated, sf).df.count()
    assert(n == 6000)
  }

  test("prefetch compiles to identity; DeadNodeElim drops orphans") {
    val g = Flagship.graph
    val withPf = Rules.InsertPrefetch(16).rewrite(g)
    assert(Compiler.compile(spark, withPf, sf).df.count() ==
      Compiler.compile(spark, g, sf).df.count())
    val orphaned = PipelineGraph(
      g.nodes :+ PipelineNode(g.nextId, RangeSource(10)), g.sink)
    val cleaned = Rules.DeadNodeElim.rewrite(orphaned)
    assert(cleaned.nodes.map(_.id).toSet == g.nodes.map(_.id).toSet)
  }

  test("graph codec: save/load through Spark JSON preserves the pipeline") {
    withTempDir("graft-ir") { tmp =>
      val path = tmp.toString + "/g"
      GraphCodec.save(spark, Flagship.graph, path)
      val loaded = GraphCodec.load(spark, path)
      assert(loaded.nodes.sortBy(_.id) == Flagship.graph.nodes.sortBy(_.id))
      // ResumeDataset analogue: the reloaded graph compiles identically
      assert(Compiler.compile(spark, loaded, sf).df.schema ==
        Compiler.compile(spark, Flagship.graph, sf).df.schema)
    }
  }

  test("TfRecordSource: a pipeline starting at REAL TFRecord shards compiles, " +
    "runs, and codec-round-trips") {
    import spark.implicits._
    // stage a real TFRecord corpus (the reference pipelines' entry format)
    withTempDir("graft-ir-tfrec") { tmp =>
      val dir = tmp.toString
      graft.sources.TfRecords.write(
        (0L until 40L).map(i => f"$i%05d|payload".getBytes("UTF-8"))
          .toDF("rec").repartition(2), "rec", dir)
      // TFRecordDataset → map(parse) → filter — the canonical ingest prefix
      val g = PipelineGraph(Seq(
        PipelineNode(0, TfRecordSource(dir), Nil, parallelism = 2),
        PipelineNode(1, MapE(Seq(
          "cast(substring(cast(record as string), 1, 5) as bigint) as id")), Seq(0)),
        PipelineNode(2, FilterE("id % 2 = 0"), Seq(1))), sink = 2)
      val ids = Compiler.compile(spark, g, sf).df
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(0L until 40L by 2))
      // source classification + parallelism surface mirror Scan's
      assert(graft.ir.PipelineOp.isSource(TfRecordSource(dir)))
      assert(graft.ir.PipelineOp.supportsParallelism(TfRecordSource(dir)))
      // ResumeDataset analogue holds for the new source
      withTempDir("graft-ir-tfg") { tmp =>
        val path = tmp.toString + "/g"
        GraphCodec.save(spark, g, path)
        val loaded = GraphCodec.load(spark, path)
        assert(loaded.nodes.sortBy(_.id) == g.nodes.sortBy(_.id))
        assert(Compiler.compile(spark, loaded, sf).df
          .collect().map(_.getLong(0)).sorted.sameElements(ids))
      }
    }
  }

  test("benchmark harness converges (AUTOTUNE state machine)") {
    val state = new graft.bench.AutotuneState(errorThreshold = 0.5, minRuntimeSec = 0.0)
    val res = Harness.benchmark(spark, Flagship.graph, sf, maxIterations = 6, state = state)
    assert(res.iterations >= 2 && res.elementRate > 0)
  }

  test("node sweep benchmarks parallelizable prefixes over the grid") {
    val small = Harness.truncateAt(Flagship.graph, 2)
    val sweep = Harness.nodeSweep(spark, small, sf, grid = Seq(2), takeN = 100)
    assert(sweep.nonEmpty && sweep.values.forall(_ > 0))
  }

  test("compiled ops: zip truncates, concat appends, echo multiplies, unbatch explodes") {
    val g = PipelineGraph(
      Seq(
        PipelineNode(0, Scan("customer", Seq("c_custkey"))),
        PipelineNode(1, Scan("supplier", Seq("s_suppkey"))),
        PipelineNode(2, ZipOp(Seq("c_custkey"), Seq("s_suppkey")), Seq(0, 1))),
      sink = 2)
    assert(Compiler.compile(spark, g, sf).df.count() == 10) // truncated to supplier

    val echo = PipelineGraph(
      Seq(
        PipelineNode(0, Scan("supplier", Seq("s_suppkey"))),
        PipelineNode(1, FlatMapEcho("s_suppkey % 2"), Seq(0))),
      sink = 1)
    // suppliers 1..10: odd keys emit 2 copies, even 1 → 10 + 5
    assert(Compiler.compile(spark, echo, sf).df.count() == 15)
  }

  test("zip with a COMPOUND numeric-primary order key rides the " +
    "distributed ordinal (tie columns, no payload-sized global window)") {
    // lineitem's (l_orderkey, l_linenumber, l_quantity) is the repo's
    // canonical compound total order (TESTDATA: the first two alone are
    // not unique). Pre-r13 any multi-column key fell back to the global
    // window — entity-scale rows through one partition.
    val g = PipelineGraph(
      Seq(
        PipelineNode(0, Scan("lineitem",
          Seq("l_orderkey", "l_linenumber", "l_quantity"))),
        PipelineNode(1, Scan("lineitem", Seq("l_partkey"))),
        PipelineNode(2, ZipOp(
          Seq("l_orderkey", "l_linenumber", "l_quantity"),
          Seq("l_partkey")), Seq(0, 1))),
      sink = 2)
    val df = Compiler.compile(spark, g, sf).df
    // plan rail: the only unpartitioned windows are Ordinal's tiny
    // bucket-offset tables (input = the _ord_b aggregate), never a scan
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty &&
              !w.child.exists(_.nodeName.toLowerCase.contains("aggregate")) => w
      }
      assert(offenders.isEmpty,
        s"compound-key zip still plans a payload global window:\n$offenders")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // and the ordinal is the exact compound row_number: spot-check that
    // zipping lineitem with itself on the same compound key aligns rows
    val self = PipelineGraph(
      Seq(
        PipelineNode(0, Scan("lineitem",
          Seq("l_orderkey", "l_linenumber", "l_quantity"))),
        PipelineNode(1, Scan("lineitem",
          Seq("l_orderkey", "l_linenumber", "l_quantity"))),
        PipelineNode(2, ZipOp(
          Seq("l_orderkey", "l_linenumber", "l_quantity"),
          Seq("l_orderkey", "l_linenumber", "l_quantity")), Seq(0, 1))),
      sink = 2)
    val z = Compiler.compile(spark, self, sf).df
    assert(z.count() == graft.Tables.lineitem(spark, sf).count())
  }

  test("zip with a STRING primary order key rides the distributed ordinal " +
    "(sampled boundary strings, no payload-sized global window — r17 #2)") {
    // pre-r18 a non-numeric primary fell back to row_number() over an
    // unpartitioned Window: a 100 TB corpus through one task
    val g = PipelineGraph(
      Seq(
        PipelineNode(0, Scan("customer", Seq("c_name", "c_custkey"))),
        PipelineNode(1, Scan("supplier", Seq("s_name", "s_suppkey"))),
        PipelineNode(2, ZipOp(Seq("c_name", "c_custkey"),
          Seq("s_name", "s_suppkey")), Seq(0, 1))),
      sink = 2)
    val df = Compiler.compile(spark, g, sf).df
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty &&
              !w.child.exists(_.nodeName.toLowerCase.contains("aggregate")) => w
      }
      assert(offenders.isEmpty,
        s"string-key zip still plans a payload global window:\n$offenders")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // positional semantics: result aligns the i-th customer by name with
    // the i-th supplier by name — check against the window reference
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cRef = graft.Tables.customer(spark, sf)
      .withColumn("_zrn", row_number()
        .over(Window.orderBy("c_name", "c_custkey")).cast("long"))
      .select(col("_zrn"), col("c_name"))
    val sRef = graft.Tables.supplier(spark, sf)
      .withColumn("_zrn", row_number()
        .over(Window.orderBy("s_name", "s_suppkey")).cast("long"))
      .select(col("_zrn"), col("s_name"))
    val ref = cRef.join(sRef, "_zrn").drop("_zrn")
    val got = df.select("c_name", "s_name")
    assert(got.exceptAll(ref.select("c_name", "s_name")).isEmpty &&
      ref.select("c_name", "s_name").exceptAll(got).isEmpty)
  }
}
