package graft.compile

import graft.ir._
import graft.ir.PipelineOp._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compiles a PipelineGraph to a declarative DataFrame program — the
  * Spark-native replacement for the reference's GraphDef→tf.data
  * instantiation (graphdef_util.py:456-483 instantiate_pipeline).
  *
  * Everything stays in the DataFrame API so Catalyst applies pushdown,
  * pruning and whole-stage codegen across IR op boundaries; per-node
  * `parallelism` compiles to scan/shuffle partitioning, the only lever
  * that exists (and the right one) in Spark's execution model.
  *
  * With `instrument = true` every node boundary gets a CollectMetrics
  * (`df.observe`) counting elements — observation survives WSCG fusion
  * without breaking it (SURVEY §7.4).
  *
  * Keyed-window rule (`Batch`, `GroupByWindow`): the key expression is
  * materialised as its output column first and the window partitions by
  * that column, never by the expression, so the grouping aggregate reuses
  * the window's exchange (see `keyedWindows`).
  *
  * The gated `op*` queries whose operator this lowering reproduces exactly
  * build their graph and compile it here, so the oracle checks this code.
  */
object Compiler {

  final case class Compiled(df: DataFrame, observedNodes: Seq[Int])

  def compile(spark: SparkSession, g: PipelineGraph, sfDir: String,
      instrument: Boolean = false): Compiled = {
    val memo = scala.collection.mutable.Map[Int, DataFrame]()
    val observed = scala.collection.mutable.ArrayBuffer[Int]()

    def obs(id: Int, df: DataFrame): DataFrame =
      if (!instrument) df
      else { observed += id; df.observe(s"node_$id", count(lit(1)).as("elements")) }

    def build(id: Int): DataFrame = memo.getOrElseUpdate(id, {
      val node = g.byId(id)
      def in(k: Int = 0): DataFrame = build(node.inputs(k))
      val df = node.op match {
        case Scan(table, cols) =>
          val base = graft.Tables.t(spark, sfDir, table)
          val pruned = if (cols.nonEmpty) base.select(cols.map(col): _*) else base
          // parallelism > 1 → explicit scan repartition (tf.data interleave
          // cycle_length analogue); at scale prefer files.maxPartitionBytes.
          if (node.parallelism > 1) pruned.repartition(node.parallelism) else pruned
        case RangeSource(n) =>
          if (node.parallelism > 1) spark.range(0, n, 1, node.parallelism).toDF()
          else spark.range(n).toDF()
        case TfRecordSource(p) =>
          // shard files are the natural splits (size-balanced bins of
          // shards, one bin per task); parallelism > 1 re-spreads records
          // when the shard count undercuts the requested fan-out
          val recs = graft.sources.TfRecords.read(spark, p)
          if (node.parallelism > 1) recs.repartition(node.parallelism) else recs
        case MapE(exprs, _)   => in().selectExpr(exprs: _*)
        case FilterE(cond)    => in().filter(expr(cond))
        case Batch(size, drop, shardExpr, orderCols, aggs) =>
          val b = keyedWindows(in(), shardExpr, "shard", "batch_id", "batch_n",
            size, orderCols, aggs)
          if (drop) b.filter(col("batch_n") === size) else b
        case ShuffleOp(seed) =>
          // approximate buffer shuffle: redistribute by a seeded hash of the
          // whole row — cheap (single shuffle, no sort), like the reference's
          // bounded reservoir it perturbs order without total ordering.
          val src = in()
          src.repartition(abs(hash((src.columns.map(col) :+ lit(seed)).toIndexedSeq: _*)))
        case Repeat(k) =>
          require(k > 0, "repeat(-1) is a benchmark-loop construct, not a plan")
          in().crossJoin(spark.range(k).select(col("id").as("_copy"))).drop("_copy")
        case Take(n, ord)  => in().orderBy(ord.map(col): _*).limit(n)
        case Skip(n, ord)  => in().orderBy(ord.map(col): _*).offset(n)
        case ShardOp(m, i, key) => in().filter(expr(s"($key) % $m = $i"))
        case CacheOp       => in().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        case Prefetch(_)   => in() // stage pipelining is implicit in Spark
        case ZipOp(ordL, ordR) =>
          // numeric OR string PRIMARY order key → distributed ordinal
          // (quantile-bucketed ranks + broadcast prefix offsets; numeric
          // boundaries from the GK sketch, string boundaries from a
          // RangePartitioner-style bounded sample — VERDICT r17 #2
          // closed the string funnel; any further order columns ride as
          // within-bucket tieCols — ties on the primary share a bucket
          // by construction, so a compound order needs no global sort
          // either); only a primary of some OTHER type (array, struct,
          // binary — no gated pipeline uses one) falls back to the
          // global window, positional semantics being inherently
          // ordered. Under instrumentation the bucket splits are probed
          // from an UNINSTRUMENTED recompile of the same prefix, so (a)
          // the eager sketch/sample pass never fires the CollectMetrics
          // observers twice, and (b) profile mode measures the SAME
          // distributed plan that production runs — a serial-window
          // stand-in would make the optimizer rank a bottleneck that
          // doesn't exist.
          def ordinal(inputIdx: Int, ord: Seq[String]): DataFrame = {
            val df = in(inputIdx)
            val keyType = ord.headOption.flatMap(k =>
              df.schema.fields.find(_.name == k).map(_.dataType))
            def cleanTwin(): DataFrame = compile(spark,
              graft.bench.Harness.truncateAt(g, node.inputs(inputIdx)),
              sfDir).df
            keyType match {
              case Some(_: org.apache.spark.sql.types.NumericType) =>
                val splits =
                  if (!instrument) None
                  else Some(graft.operators.Ordinal.quantileSplits(
                    cleanTwin(), ord.head, 32))
                graft.operators.Ordinal.withGlobalOrdinal(df, ord.head, "_zrn",
                  splits = splits, tieCols = ord.tail)
              case Some(org.apache.spark.sql.types.StringType) =>
                val strSplits =
                  if (!instrument) None
                  else Some(graft.operators.Ordinal.sampledStringSplits(
                    cleanTwin(), ord.head, 32))
                graft.operators.Ordinal.withGlobalOrdinal(df, ord.head, "_zrn",
                  strSplits = strSplits, tieCols = ord.tail)
              case _ =>
                df.withColumn("_zrn",
                  row_number().over(Window.orderBy(ord.map(col): _*)).cast("long"))
            }
          }
          ordinal(0, ordL).join(ordinal(1, ordR), "_zrn").drop("_zrn")
        case ConcatOp      => in(0).unionByName(in(1))
        case FlatMapEcho(f) =>
          in().withColumn("_copy", explode(sequence(lit(0L), expr(f)))).drop("_copy")
        case Unbatch(c)    =>
          in().withColumn("_el", explode(col(c))).drop(c).withColumnRenamed("_el", c)
        case GroupByWindow(key, ws, ord, aggs) =>
          keyedWindows(in(), key, "bucket", "window_id", "window_n", ws, ord, aggs)
      }
      obs(id, df)
    })

    val df = build(g.sink)
    Compiled(df, observed.toSeq)
  }

  /** The keyed-window lowering shared by `Batch` and `GroupByWindow`:
    * rows keyed by `keyExpr`, numbered per key in `orderCols` order, and
    * cut into windows of `size` consecutive rows, one output row per
    * (key, window) with its row count and `aggs`. The key is
    * materialised as column `keyCol` before the window partitions by
    * that column, so the window's hash exchange on `keyCol` already
    * satisfies the (keyCol, idCol) aggregate and the plan shuffles once.
    */
  private def keyedWindows(df: DataFrame, keyExpr: String, keyCol: String,
      idCol: String, countCol: String, size: Int, orderCols: Seq[String],
      aggs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    df.withColumn(keyCol, expr(keyExpr))
      .withColumn("_rn", row_number().over(w))
      .withColumn(idCol, floor((col("_rn") - 1) / size))
      .groupBy(keyCol, idCol)
      .agg(count(lit(1)).as(countCol), aggs.map(a => expr(a)): _*)
  }

  /** Schema-invariance rail (element_spec immutability,
    * pipeline_optimizer.py:665-669): compiled schemas must match exactly.
    */
  def schemaInvariant(spark: SparkSession, a: PipelineGraph, b: PipelineGraph,
      sfDir: String): Boolean =
    compile(spark, a, sfDir).df.schema == compile(spark, b, sfDir).df.schema
}

/** Graph persistence as nodes/edges DataFrames (SURVEY §1.4) — the
  * ResumeDataset analogue: a pipeline written to Parquet/JSON can be
  * reloaded and recompiled (graphdef_util.py:456-483).
  */
object GraphCodec {
  import PipelineOp._

  // Each op serializes to (kind, scalar args, list slot A, list slot B) —
  // every field is its own JSON element, so expressions containing '|',
  // ',' or ';;' (e.g. SQL string concat `a || b`) round-trip verbatim; a
  // delimiter-joined encoding would silently shift fields on decode.
  private def opToJson(op: PipelineOp): (String, Seq[String], Seq[String], Seq[String]) =
    op match {
      case Scan(t, cs)      => ("Scan", Seq(t), cs, Nil)
      case RangeSource(n)   => ("RangeSource", Seq(n.toString), Nil, Nil)
      case TfRecordSource(p) => ("TfRecordSource", Seq(p), Nil, Nil)
      case MapE(es, r)      => ("MapE", Seq(r.toString), es, Nil)
      case FilterE(c)       => ("FilterE", Seq(c), Nil, Nil)
      case Batch(s, dr, sh, oc, ag) =>
        ("Batch", Seq(s.toString, dr.toString, sh), oc, ag)
      case ShuffleOp(seed)  => ("ShuffleOp", Seq(seed.toString), Nil, Nil)
      case Repeat(k)        => ("Repeat", Seq(k.toString), Nil, Nil)
      case Take(n, oc)      => ("Take", Seq(n.toString), oc, Nil)
      case Skip(n, oc)      => ("Skip", Seq(n.toString), oc, Nil)
      case ShardOp(m, i, k) => ("ShardOp", Seq(m.toString, i.toString, k), Nil, Nil)
      case CacheOp          => ("CacheOp", Nil, Nil, Nil)
      case Prefetch(b)      => ("Prefetch", Seq(b.toString), Nil, Nil)
      case ZipOp(l, r)      => ("ZipOp", Nil, l, r)
      case ConcatOp         => ("ConcatOp", Nil, Nil, Nil)
      case FlatMapEcho(f)   => ("FlatMapEcho", Seq(f), Nil, Nil)
      case Unbatch(c)       => ("Unbatch", Seq(c), Nil, Nil)
      case GroupByWindow(k, ws, oc, ag) =>
        ("GroupByWindow", Seq(k, ws.toString), oc, ag)
    }

  private def opFromJson(kind: String, args: Seq[String],
      listA: Seq[String], listB: Seq[String]): PipelineOp = kind match {
    case "Scan"          => Scan(args(0), listA)
    case "RangeSource"   => RangeSource(args(0).toLong)
    case "TfRecordSource" => TfRecordSource(args(0))
    case "MapE"          => MapE(listA, args(0).toBoolean)
    case "FilterE"       => FilterE(args(0))
    case "Batch"         => Batch(args(0).toInt, args(1).toBoolean, args(2), listA, listB)
    case "ShuffleOp"     => ShuffleOp(args(0).toLong)
    case "Repeat"        => Repeat(args(0).toInt)
    case "Take"          => Take(args(0).toInt, listA)
    case "Skip"          => Skip(args(0).toInt, listA)
    case "ShardOp"       => ShardOp(args(0).toInt, args(1).toInt, args(2))
    case "CacheOp"       => CacheOp
    case "Prefetch"      => Prefetch(args(0).toInt)
    case "ZipOp"         => ZipOp(listA, listB)
    case "ConcatOp"      => ConcatOp
    case "FlatMapEcho"   => FlatMapEcho(args(0))
    case "Unbatch"       => Unbatch(args(0))
    case "GroupByWindow" => GroupByWindow(args(0), args(1).toInt, listA, listB)
  }

  final case class NodeRow(id: Int, kind: String, args: Seq[String],
      listA: Seq[String], listB: Seq[String],
      inputs: Seq[Int], parallelism: Int, sink: Boolean)

  def toRows(g: PipelineGraph): Seq[NodeRow] =
    g.nodes.map { n =>
      val (k, a, la, lb) = opToJson(n.op)
      NodeRow(n.id, k, a, la, lb, n.inputs, n.parallelism, n.id == g.sink)
    }

  def fromRows(rows: Seq[NodeRow]): PipelineGraph =
    PipelineGraph(
      rows.map(r => PipelineNode(
        r.id, opFromJson(r.kind, r.args, r.listA, r.listB), r.inputs, r.parallelism)),
      rows.find(_.sink).map(_.id).getOrElse(rows.map(_.id).max))

  def save(spark: SparkSession, g: PipelineGraph, path: String): Unit = {
    import spark.implicits._
    toRows(g).toDS().coalesce(1).write.mode("overwrite").json(path)
  }

  def load(spark: SparkSession, path: String): PipelineGraph = {
    import spark.implicits._
    fromRows(spark.read.schema(implicitly[org.apache.spark.sql.Encoder[NodeRow]].schema)
      .json(path).as[NodeRow].collect().toSeq)
  }
}
