package graft.plans

import graft.SparkTestSession.{sf, spark}
import graft.ir._
import graft.ir.PipelineOp._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Scale-quality rail over EVERY registered query's physical plan: an
  * unpartitioned window (Window.orderBy with no partitionBy) funnels the
  * whole input through one partition — the op11-class regression this
  * spec exists to catch. Global windows are tolerated only over
  * aggregated inputs (bucket-count offset tables, ranked node metrics —
  * tiny by construction).
  */
class PlanQualitySpec extends AnyFunSuite {

  /** Grouping keys whose cardinality is fixed by the PLAN (or by a fixed
    * label domain), not by data volume — the only grouped aggregates a
    * global window may sit on. r12 postmortem (VERDICT #2/#3): sm13
    * funneled a per-USER aggregate through a single-partition window for
    * three rounds because the old rail read "aggregate below" as
    * "bounded below"; grouping by an entity key (user_id, doc_id, w)
    * bounds nothing at 100 TB. Since r14 the exemption binds to the
    * (QUERY, key) pair (VERDICT r13 #5): a future query grouping an
    * entity-scale column merely ALIASED `source` is not in this map and
    * gets flagged. `_ord_b` stays query-global — it is emitted only by
    * graft.operators.Ordinal, which caps it at `buckets` (default 32)
    * structurally. Every entry here needs a justification.
    */
  private val boundedKeysGlobal: Set[String] = Set(
    "_ord_b")   // Ordinal's quantile bucket id — ≤ `buckets` (default 32)

  private val boundedKeysByQuery: Map[String, Set[String]] = Map(
    // an01's rank window sits on groupBy(l_returnflag, l_linestatus) —
    // 1-char enum domains ({A,N,R} × {O,F} = 6 rows, the flag/status
    // value domain of the data model, independent of row count). The
    // physical groupingExpressions carry the UNDERLYING column names
    // (the groupBy aliases resolve away below the window).
    "an01_ranked_rates" -> Set("l_returnflag", "l_linestatus"),
    // an13's share/χ² windows roll up groupBy(bin), where bin is the
    // projection `least(9, greatest(0, …))` — ≤ 10 values by the PLAN
    // itself (equal-width binning is an13's deliberate O(1)-state
    // scale choice), independent of row count
    "an13_value_drift" -> Set("bin"),
    // cu10's largest-remainder apportionment windows (total, rank over
    // fractional parts, remainder) ride the groupBy(source) rollup —
    // `source` is the corpus registry label, a fixed categorical domain
    // (~20 sources in the fixture; grows by onboarding decisions, never
    // with row count)
    "cu10_token_budget" -> Set("source"),
    // cu16's mass_ppm window rides the groupBy(shard_id) rollup of the
    // read-back export — shard_id is clamped to 0..numShards-1 (= 8) by
    // the assignment plan itself (least((8*cum) div total, 7)), a plan
    // constant independent of corpus size (VERDICT r14 #3: the
    // single-pass audit replaced the second shard read with this
    // 8-row-frame window)
    "cu16_equal_mass_export" -> Set("shard_id")
  )

  private def keyAllowed(query: String, key: String): Boolean =
    boundedKeysGlobal(key) ||
      boundedKeysByQuery.getOrElse(query, Set.empty)(key)

  /** Unary nodes that cannot INCREASE row count (or, for Expand, scale
    * it by a plan constant) — boundedness passes through them along the
    * window's row-producing spine. Anything not listed (Generate/
    * explode, object mapPartitions, …) can expand data-dependently and
    * breaks the chain.
    */
  private def passesThrough(n: SparkPlan): Boolean = {
    val nm = n.nodeName.toLowerCase
    n.children.size == 1 && (
      nm.startsWith("project") || nm.startsWith("filter") ||
      nm.startsWith("sort") || nm.contains("exchange") ||
      nm.startsWith("coalesce") || nm.startsWith("wholestagecodegen") ||
      nm.startsWith("inputadapter") || nm.startsWith("window") ||
      nm.startsWith("expand") || nm.startsWith("columnartorow") ||
      nm.startsWith("rowtocolumnar") || nm.startsWith("serialize") ||
      nm.startsWith("deserialize") || nm.startsWith("subquery") ||
      nm.startsWith("reusedexchange") || nm.startsWith("broadcastexchange"))
  }

  /** True when the plan's OUTPUT row count is bounded by construction:
    * a limit/TakeOrdered, a driver-built literal frame (LocalTableScan —
    * IR node tables, probe constants), a global no-key aggregate, or a
    * grouped aggregate whose keys are exempted FOR THIS QUERY (or whose
    * own input is bounded). Unlike the pre-r14 rail this walks the
    * window's row-producing SPINE recursively instead of `exists` over
    * the whole subtree (ADVICE r13): a corpus scan crossJoined with a
    * broadcast LocalTableScan no longer counts as bounded — every join
    * child must itself be bounded. Traverses INTO InMemoryTableScan's
    * cached plan — a persist() in an earlier-planned query swaps a
    * plan-identical aggregate subtree for a cache scan, which would
    * otherwise hide the aggregation and false-positive the rail.
    */
  private def boundedPlan(query: String, p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(g => keyAllowed(query, g.name)) ||
        a.children.forall(boundedPlan(query, _))
    case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      boundedPlan(query, s.relation.cachedPlan)
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case n if {
      val nm = n.nodeName.toLowerCase
      nm.contains("takeordered") || nm.contains("limit")
    } => true
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.children.forall(boundedPlan(query, _))
    case u: org.apache.spark.sql.execution.UnionExec =>
      u.children.forall(boundedPlan(query, _))
    case n if passesThrough(n) => boundedPlan(query, n.children.head)
    case _ => false
  }

  private def boundedBelow(query: String, p: SparkPlan): Boolean =
    boundedPlan(query, p)

  // Documented exception — ONE query whose semantics ARE a global order:
  //   q_zorder_layout    — the equal-count file cut IS a global sorted
  //                        write (repartitionByRange at scale); rank is
  //                        the oracle-deterministic rendering
  // (mm07/mm11's Hamming chains now run banded with a boundary stitch,
  // ss17's arm rankings ride the distributed Ordinal — all three left
  // this allowlist in round 9 — and sm13/an11/q_file_compaction moved
  // onto Ordinal.withGlobalOrdinal/withGlobalPrefixSum in round 13.)
  private val globalWindowAllowed = Set("q_zorder_layout")

  /** Global windows over a grouped aggregate whose boundedness is a
    * DATA-STRUCTURAL argument the physical plan cannot show. Each entry
    * must say why the frame stays small at 100 TB; a query whose window
    * input is entity-scale (sm13's old shape) must be REWRITTEN on
    * graft.operators.Ordinal, never listed here.
    */
  private val aggWindowJustified: Map[String, String] = Map(
    "mm07_image_ahash" ->
      ("stitch window rides the TWICE-aggregated block rollup " +
        "(doc_id div 16 → _band div 1024 → _blk): n/16384 rows, " +
        "shrinking 16384x per stitch level, and a third level composes " +
        "the same way if a corpus outgrows it (MultimodalOps.withBandCarry, " +
        "adjudicated ADVICE r9)"),
    "mm11_image_dhash" ->
      "same withBandCarry two-level stitch as mm07 over the dHash columns"
  )

  /** Every registered query built ONCE (the build itself is the expensive
    * part: bucket-table writes, codebook training, scratch round-trips),
    * shared by the window rail and the output-schema rail.
    * AdaptiveSparkPlanExec is a leaf until execution, so collecting over
    * the AQE-wrapped executedPlan inspects NOTHING — executedPlan is
    * forced while AQE is off (the window shape is a static property) or
    * the rail is blind. (This bit: the rail passed vacuously for two
    * rounds.) dd08 drives an iterative loop whose returned plan is a
    * checkpoint scan; building it executes the whole algorithm — covered
    * by its own gate + spec, skipped here.
    */
  private lazy val built: Seq[(graft.Q, org.apache.spark.sql.DataFrame, SparkPlan)] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.SparkEntry.all
      .filterNot(_.name == "dd08_dedup_clusters")
      .map { q =>
        try {
          val df = q.fn(spark, sf)
          (q, df, df.queryExecution.executedPlan)
        } catch {
          case e: Throwable => fail(s"${q.name} failed to plan: $e")
        }
      }
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("no gated query plans a global window over unbounded input") {
    val offenders = built
      .filterNot { case (q, _, _) =>
        globalWindowAllowed(q.name) || aggWindowJustified.contains(q.name)
      }
      .flatMap { case (q, _, plan) =>
        plan.collect {
          case w: WindowExec
              if w.partitionSpec.isEmpty && !boundedBelow(q.name, w.child) =>
            s"${q.name}: global Window over unbounded input"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the rail flags a global window over an entity-keyed aggregate " +
    "(sm13's pre-r13 shape)") {
    // r12 postmortem pin: `row_number() OVER (ORDER BY ...)` on a
    // groupBy(user_id) frame passed the old rail for three rounds
    // because ANY aggregate below counted as bounded. Rebuild that exact
    // shape and assert the tightened check rejects it — if this test
    // ever fails, the blind spot is back.
    import org.apache.spark.sql.functions.min
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val oldShape = spark.range(100)
        .selectExpr("id % 37 as user_id", "id * 7 as ts_us")
        .groupBy("user_id").agg(min("ts_us").as("first_us"))
        .selectExpr("first_us",
          "row_number() over (order by first_us, user_id) as rn")
      val flagged = oldShape.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedBelow("synthetic", w.child) => w
      }
      assert(flagged.nonEmpty,
        "an entity-keyed aggregate below a global window must not count as bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the rail flags an entity-scale column ALIASED to an exempted " +
    "bounded name (the r13 name-matching blind spot)") {
    // VERDICT r13 #5: the old rail exempted keys by bare attribute name
    // repo-wide, so any query grouping an entity column aliased `source`
    // slipped through. The exemption now binds (query, key): this shape
    // groups a per-document key RENAMED to `source` in a query that is
    // not in the exemption map — it must be flagged.
    import org.apache.spark.sql.functions.sum
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val aliased = spark.range(100)
        .selectExpr("id as source", "id * 3 as n_chars") // entity key in disguise
        .groupBy("source").agg(sum("n_chars").as("mass"))
        .selectExpr("mass",
          "row_number() over (order by mass, source) as rn")
      val flagged = aliased.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty &&
              !boundedBelow("future_query_not_in_map", w.child) => w
      }
      assert(flagged.nonEmpty,
        "a bounded-name alias on an entity key must not satisfy the rail")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the rail flags a global window over a cube/grouping-sets rollup " +
    "of an entity-scale frame (the Expand pass-through gap — VERDICT r14 #6)") {
    // passesThrough treats Expand as row-bounded (it scales rows by a
    // PLAN constant — the projection count), which is sound only when
    // the spine is bounded elsewhere. A cube over entity keys puts an
    // Expand below a grouped aggregate whose keys (user_id ×
    // grouping-id) bound nothing at 100 TB: the window's input is
    // entity-scale times a constant. The rail must flag it — the
    // aggregate's keys are not exempted and its Expand→scan spine is
    // unbounded.
    import org.apache.spark.sql.functions.sum
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val shape = spark.range(1000)
        .selectExpr("id as user_id", "id % 7 as region", "id * 2 as w")
        .cube("user_id", "region").agg(sum("w").as("s"))
        .selectExpr("s", "row_number() over (order by s) as rn")
      val flagged = shape.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedBelow("synthetic", w.child) => w
      }
      // the plan really contains the Expand this test is about
      assert(shape.queryExecution.executedPlan.collect {
        case e if e.nodeName.toLowerCase.startsWith("expand") => e
      }.nonEmpty, "cube must plan an Expand below the aggregate")
      assert(flagged.nonEmpty,
        "a cube over entity keys below a global window must be flagged")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the rail flags a global window over an exploded (Generate) frame " +
    "— data-dependent expansion never passes through") {
    // explode multiplies rows by a DATA-dependent factor (array length),
    // unlike Expand's plan constant — Generate is deliberately absent
    // from passesThrough, and this pin keeps it that way: a per-token
    // explode below a global rank is the corpus-tokenize funnel shape.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val shape = spark.range(100)
        .selectExpr("id", "sequence(0L, id % 7) as xs")
        .selectExpr("id", "explode(xs) as x")
        .selectExpr("x", "row_number() over (order by x, id) as rn")
      val flagged = shape.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedBelow("synthetic", w.child) => w
      }
      assert(flagged.nonEmpty,
        "an exploded frame below a global window must be flagged")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the rail is not satisfied by a broadcast of a tiny frame " +
    "BESIDE the corpus spine (ADVICE r13: exists-anywhere blind spot)") {
    // A corpus scan crossJoined with a 1-row aggregate put a
    // LocalTableScan/no-key agg SOMEWHERE below the window, which the
    // pre-r14 `exists` accepted as bounded. The spine walk must reject
    // it: the join's OTHER child is the unbounded scan.
    import org.apache.spark.sql.functions.{broadcast, sum}
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val corpus = spark.range(1000).selectExpr("id", "id * 2 as w")
      val tiny = corpus.agg(sum("w").as("total"))
      val shape = corpus.crossJoin(broadcast(tiny))
        .selectExpr("w", "total",
          "row_number() over (order by w, id) as rn")
      val flagged = shape.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedBelow("synthetic", w.child) => w
      }
      assert(flagged.nonEmpty,
        "corpus × broadcast(tiny) must still count as UNbounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("no plan ranks the exploded codebook frame: zero WindowExec " +
    "partitioned by vec_id anywhere (r17 — the scan-local topCells rail)") {
    // the pre-r17 IVF/SemDeDup scorer crossJoined corpus × codebook and
    // ranked with row_number() over (partition by vec_id) — an exchange
    // plus sort of the N·k frame, the dominant stage at production
    // codebook sizes (and ss29's measured 3.3 GiB of 100x spill). The
    // replacement computes top-n cells inside the scan projection
    // (topCells); this rail keeps the pattern from creeping back. Other
    // per-entity windows (q_id candidate ranks, a_id/b_id pair frames)
    // stay legitimate — only the per-VECTOR rank over scored cells was
    // the explosion signature.
    val offenders = built.flatMap { case (q, _, plan) =>
      plan.collect {
        case w: WindowExec if w.partitionSpec.exists(
          _.references.exists(_.name == "vec_id")) => q.name
      }
    }.distinct
    assert(offenders.isEmpty,
      s"vec_id-partitioned WindowExec found in: ${offenders.mkString(", ")}")
  }

  /** Compiled pipelines, each with its executed plan (AQE off, as for
    * `built`): a numeric- and a STRING-keyed zip, flagship (`Batch`) and a
    * length-bucketing `GroupByWindow`.
    */
  private lazy val compiledPlans: Seq[(String, SparkPlan)] = {
    val zips = Seq(
      // numeric primary
      ("zip_numeric", ZipOp(Seq("c_custkey"), Seq("s_suppkey")),
        Scan("customer", Seq("c_custkey")), Scan("supplier", Seq("s_suppkey"))),
      // STRING primary — the r17 funnel: pre-fix this compiled to
      // row_number() over a global Window, corpus through one task
      ("zip_string", ZipOp(Seq("c_name", "c_custkey"), Seq("s_name", "s_suppkey")),
        Scan("customer", Seq("c_name", "c_custkey")),
        Scan("supplier", Seq("s_name", "s_suppkey"))))
    val graphs =
      zips.map { case (name, zip, l, r) =>
        name -> PipelineGraph(
          Seq(PipelineNode(0, l), PipelineNode(1, r),
            PipelineNode(2, zip, Seq(0, 1))), sink = 2)
      } ++ Seq(
        "flagship" -> graft.api.Flagship.graph,
        "group_by_window" -> PipelineGraph.chain(
          Scan("documents"),
          MapE(Seq("doc_id", "size(split(text, ' ')) as ntok")),
          GroupByWindow("floor(ntok / 10D)", 4, Seq("doc_id"), Seq("max(ntok) as max_tok"))))
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graphs.map { case (name, g) =>
      name -> graft.compile.Compiler.compile(spark, g, sf).df.queryExecution.executedPlan
    }
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("no COMPILED PIPELINE plans an unpartitioned WindowExec over a " +
    "corpus-sized frame (r17 #2 — the vec_id rail's pattern generalized " +
    "to Compiler output, covering the string-keyed zip that used to " +
    "funnel through one partition)") {
    val offenders = compiledPlans.flatMap { case (name, plan) =>
      plan.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty && !boundedBelow(name, w.child) =>
          s"$name: global Window over unbounded input"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a compiled Batch and a compiled GroupByWindow shuffle once: one " +
    "hash exchange feeds both the keyed window and its aggregate") {
    val keyed = compiledPlans.filter { case (name, _) =>
      Set("flagship", "group_by_window")(name) }
    assert(keyed.size == 2)
    keyed.foreach { case (name, plan) =>
      // collect is pre-order: the first aggregate over the window is the
      // final (key, window id) aggregate
      val agg = plan.collect {
        case a: BaseAggregateExec if a.find(_.isInstanceOf[WindowExec]).isDefined => a
      }.headOption.getOrElse(fail(s"$name: no aggregate over a window"))
      def hashExchanges(p: SparkPlan) = p.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      val window = agg.collectFirst { case w: WindowExec => w }.get
      assert(hashExchanges(agg).size == 1,
        s"$name: ${hashExchanges(agg).size} hash exchanges under the aggregate\n$agg")
      assert(hashExchanges(window).size == 1, s"$name: the exchange is not below the window")
    }
  }

  test("mm13/mm14 composed detection ingest plans: partition-local " +
    "decode, NO corpus exchange anywhere in the read chain (VERDICT " +
    "r17 #1 done-criterion for mm14; mm13's r16 contract, now pinned)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (name <- Seq("mm13_ssd_ingest", "mm14_rcnn_ingest")) {
      val (_, _, plan) = built.find(_._1.name == name).get
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"$name's read chain plans ${shuffles.size} exchange(s):\n$plan")
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"$name's read chain plans a window:\n$plan")
    }
  }

  test("fn14's composed ingest plan: ONE broadcast vocab join, and the " +
    "padded_batch window reuses the bucketing exchange — no second " +
    "corpus shuffle (VERDICT r16 #1 done-criterion)") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val (_, _, plan) = built.find(_._1.name == "fn14_wmt_ingest").get
    // the vocab reaches the corpus path as exactly one broadcast (the
    // fn11 idiom: a 1-row sorted-array frame, never a per-token join)
    assert(plan.collect { case b: BroadcastExchangeExec => b }.size == 1,
      s"expected exactly one broadcast vocab exchange:\n$plan")
    // two windows: rn over (bucket) below, batch-max over (bucket, wid)
    // above — identified structurally by partition-spec arity
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 2, s"expected the two ingest windows:\n$plan")
    val outer = windows.find(_.partitionSpec.size == 2).get
    val inner = windows.find(_.partitionSpec.size == 1).get
    assert(outer.collect { case w: WindowExec => w }.contains(inner),
      "the batch-max window must sit above the bucketing window")
    // hashpartitioning(bucket) satisfies ClusteredDistribution(bucket,
    // wid) — the subset rule — so NOTHING between the two windows may
    // re-shuffle: padded_batch costs a sort, never a second corpus
    // exchange (the regression this pin exists to catch)
    val between = outer.collect { case s: ShuffleExchangeExec => s }.toSet --
      inner.collect { case s: ShuffleExchangeExec => s }.toSet
    assert(between.isEmpty,
      s"padded_batch must reuse the bucketing exchange, found: $between")
  }

  test("sm15 reads the corpus ONCE: all three epochs derive from the " +
    "persisted base projection (VERDICT r14 #2)") {
    // At 100 TB the repeated scan, not the rank, is a 3-epoch audit's
    // bill: the pre-r15 shape re-read documents.parquet per epoch (and
    // per Ordinal pass — 6 scans). The returned plan must now carry NO
    // direct file scan — every union branch feeds off the one cached
    // (doc_id) projection, whose single parquet scan lives inside the
    // InMemoryRelation.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val (_, _, plan) = built.find(_._1.name == "sm15_epoch_shuffle").get
    val directScans = plan.collect { case s: FileSourceScanExec => s }
    val cacheScans = plan.collect { case s: InMemoryTableScanExec => s }
    assert(directScans.isEmpty,
      s"sm15 must not re-scan parquet per epoch:\n$plan")
    assert(cacheScans.nonEmpty, "the epochs must ride the persisted base")
  }

  test("every oracle-gated query outputs only scalar columns") {
    // The driver's checker sorts result rows with pandas; an ARRAY/MAP/
    // STRUCT cell crashes its lexsort (`unhashable type: numpy.ndarray`)
    // — the exact failure that turned cu09/fn11 red in round 7 while the
    // repo's own tuple-izing validate.py stayed green. Complex payloads
    // belong UNNESTED as scalar rows (the op09 convention); this rail
    // makes that convention load-bearing for every current and future
    // gated query. No-oracle queries get a rows-only count from the
    // driver, so complex columns are harmless there (dd07's MLlib
    // signature arrays stay exempt by construction).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = built.collect {
      case (q, df, _) if q.oracle.nonEmpty =>
        df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"${q.name}.${f.name}: ${f.dataType.simpleString}"
        }.toSeq
    }.flatten
    assert(offenders.isEmpty,
      "gated queries must emit scalar columns only (unnest per op09):\n" +
        offenders.mkString("\n"))
  }

  test("dd08's output schema is scalar-only (covered here because the " +
    "shared-build rail skips it)") {
    // dd08 executes its whole CC loop at build time, so `built` excludes
    // it — but dd08 IS oracle-gated, and without this check the scalar-
    // output rail would silently skip one gated query. One dedicated
    // build at sf0.001 closes the gap.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val df = graft.SparkEntry.all.find(_.name == "dd08_dedup_clusters").get
      .fn(spark, sf)
    val bad = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType])
    assert(bad.isEmpty,
      "dd08 must emit scalar columns only: " + bad.map(_.name).mkString(", "))
    spark.catalog.clearCache()
  }

  test("q_bucket_join joins the bucketed tables with no exchange below the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // AQE wraps the tree and hides pre-execution join children; plan
    // without it for the structural assertion (bucketing is a static
    // planning property, not a runtime one)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // at the test SF the dimension side fits a broadcast, which would
    // bypass the bucketed path entirely — force the shuffle-family join
    // the bucketing claim is about (at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.SparkEntry.all.find(_.name == "q_bucket_join").get
      val plan = q.fn(spark, sf).queryExecution.executedPlan
      val join: Option[SparkPlan] = plan.collectFirst {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(join.nonEmpty, s"no shuffle-family join planned:\n$plan")
      val exchangesBelow = join.get.collect { case e: ShuffleExchangeExec => e }
      assert(exchangesBelow.isEmpty,
        s"bucketed join still shuffles its inputs:\n${join.get}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("q_partition_prune's scan prunes to the filtered partitions") {
    val q = graft.SparkEntry.all.find(_.name == "q_partition_prune").get
    val df = q.fn(spark, sf)
    assert(
      graft.sources.Sources.prunesPartitions(df),
      "partition filter did not reach the scan:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("ORC scans carry predicate pushdown and column pruning " +
    "(q_orc_roundtrip's landing-format claim)") {
    // The round-trip query itself is gate-pinned; this pins the reason
    // ORC is a LANDING format where CSV/JSONL are edge formats: a
    // filtered projection over the staged ORC must reach the scan as
    // PushedFilters + a pruned ReadSchema, like op01's parquet scan.
    val ev = graft.Tables.events(spark, sf).selectExpr(
      "event_id", "user_id", "event_type", "value",
      "unix_micros(ts) as ts_us", "props")
    val path = graft.operators.Scratch.dir("graft-orc-pushdown-spec")
    ev.write.mode("overwrite").orc(path)
    val plan = spark.read.schema(ev.schema).orc(path)
      .filter(org.apache.spark.sql.functions.col("value") > 100.0)
      .select("event_id", "value")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,100.0)]"),
      s"ORC scan lost the predicate:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,value:double>"),
      s"ORC scan read more columns than the projection needs:\n$plan")
  }
}
