package graft.ir

/** Pipeline IR — the Spark-native analogue of the reference's GraphDef DAG
  * (graphdef_util.py:334-449 graphdef_to_networkx). Nodes are dataset
  * operators; edges are producer→consumer references. Pipelines are tiny
  * (≤ ~50 nodes), so graph algorithms run in the driver, exactly as the
  * reference uses networkx; the *data* the compiled pipeline processes is
  * what scales, and that lives in Spark.
  *
  * Operator parameters (parallelism, buffer sizes) are node attributes —
  * the reference models them as Const input nodes (graphdef_util.py:687-726);
  * we fold them into the node, which is what its positional-parameter
  * convention (graphdef_util.py:43-63) encodes anyway.
  */
sealed trait PipelineOp {
  /** Base op name for canonical renaming (graphdef_util.py:739-753). */
  def base: String = getClass.getSimpleName.stripSuffix("$")
  /** Mirrors the reference's randomness tracking: any op whose UDF carries
    * a seed attr is random (graphdef_util.py:251-266). Randomness must be
    * *declared* — JVM closures can't be introspected (SURVEY §7.4).
    */
  def isRandom: Boolean = false
}

object PipelineOp {
  /** Parquet table scan — TFRecordDataset / list_files+interleave stand-in.
    * `parallelism` on the node maps to scan split parallelism.
    */
  final case class Scan(table: String, columns: Seq[String] = Nil) extends PipelineOp
  /** Literal range source (Dataset.range). */
  final case class RangeSource(n: Long) extends PipelineOp
  /** NATIVE TFRecord source (TFRecordDataset itself, graphdef_util.py:24
    * — not the parquet stand-in): compiles to
    * graft.sources.TfRecords.read, one row per record
    * (file, rec_idx, record: binary), CRCs verified; shard files are the
    * read-parallelism unit, exactly the reference's contract.
    */
  final case class TfRecordSource(path: String) extends PipelineOp
  /** Per-element projection (map / ParallelMapDatasetV2). `exprs` are Spark
    * SQL expressions; `random` marks seeded UDFs for cache-safety analysis.
    */
  final case class MapE(exprs: Seq[String], random: Boolean = false) extends PipelineOp {
    override def isRandom: Boolean = random
  }
  /** Predicate filter (FilterDataset). */
  final case class FilterE(cond: String) extends PipelineOp
  /** Count-based batch (BatchDatasetV2): groups of `size` consecutive
    * elements per shard of `shardExpr`, ordered by `orderCols`.
    */
  final case class Batch(size: Int, dropRemainder: Boolean, shardExpr: String,
      orderCols: Seq[String], aggs: Seq[String]) extends PipelineOp
  /** Buffer shuffle (approximate): repartition by a seeded hash expression.
    * A full reorder is a strict superset of tf.data's reservoir shuffle.
    */
  final case class ShuffleOp(seed: Long) extends PipelineOp {
    override def isRandom: Boolean = true
  }
  /** repeat(count); count == -1 (infinite) never compiles to a plan — the
    * benchmark harness re-submits actions instead (SURVEY §7.4).
    */
  final case class Repeat(count: Int) extends PipelineOp
  final case class Take(n: Int, orderCols: Seq[String]) extends PipelineOp
  final case class Skip(n: Int, orderCols: Seq[String]) extends PipelineOp
  final case class ShardOp(mod: Int, idx: Int, keyExpr: String) extends PipelineOp
  /** cache() — materialize upstream on first pass (CacheDataset). */
  case object CacheOp extends PipelineOp
  /** prefetch(buffer) — compiled as identity (Spark stages already
    * pipeline); kept as an IR node for parity + roofline sizing.
    */
  final case class Prefetch(buffer: Int) extends PipelineOp
  /** Positional zip of two inputs (truncates at the shorter). */
  final case class ZipOp(orderColsL: Seq[String], orderColsR: Seq[String]) extends PipelineOp
  /** concatenate — ordered union of two inputs. */
  case object ConcatOp extends PipelineOp
  /** flat_map data echoing: each element emitted `1 + (factorExpr)` times. */
  final case class FlatMapEcho(factorExpr: String) extends PipelineOp
  /** unbatch — explode an array column back to rows. */
  final case class Unbatch(arrayCol: String) extends PipelineOp
  /** group_by_window: bucket by key expr, emit windows of `windowSize`. */
  final case class GroupByWindow(keyExpr: String, windowSize: Int,
      orderCols: Seq[String], aggs: Seq[String]) extends PipelineOp

  /** Ops that accept a parallelism parameter (SUPPORTED_PARALLELISM_OPS,
    * graphdef_util.py:13-17). In Spark parallelism = partition count.
    */
  def supportsParallelism(op: PipelineOp): Boolean = op match {
    case _: MapE | _: Scan | _: TfRecordSource | _: Batch | _: FlatMapEcho |
         _: GroupByWindow => true
    case _ => false
  }
  /** Source ops (SOURCE_OPS, graphdef_util.py:24). */
  def isSource(op: PipelineOp): Boolean = op match {
    case _: Scan | _: RangeSource | _: TfRecordSource => true
    case _ => false
  }
}

final case class PipelineNode(
    id: Int,
    op: PipelineOp,
    inputs: Seq[Int] = Nil,
    parallelism: Int = 1)

/** DAG with a single sink (the reference's `_Retval`,
  * graphdef_util.py:269-272).
  */
final case class PipelineGraph(nodes: Seq[PipelineNode], sink: Int) {
  require(nodes.map(_.id).distinct.size == nodes.size, "duplicate node ids")
  require(byId.contains(sink), s"sink $sink not in graph")

  lazy val byId: Map[Int, PipelineNode] = nodes.map(n => n.id -> n).toMap

  /** consumers of each node (edge direction producer→consumer). */
  lazy val consumers: Map[Int, Seq[Int]] =
    nodes.flatMap(n => n.inputs.map(_ -> n.id))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap.withDefaultValue(Nil)

  /** Kahn topological order, sources first (A2; deterministic: ties by id). */
  lazy val topoOrder: Seq[Int] = {
    val indeg = scala.collection.mutable.Map(nodes.map(n => n.id -> n.inputs.size): _*)
    val ready = scala.collection.mutable.SortedSet(nodes.filter(_.inputs.isEmpty).map(_.id): _*)
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    while (ready.nonEmpty) {
      val n = ready.head; ready.remove(n); out += n
      consumers(n).foreach { c =>
        indeg(c) -= 1; if (indeg(c) == 0) ready += c
      }
    }
    require(out.size == nodes.size, "cycle in pipeline graph")
    out.toSeq
  }

  /** Canonical `Base_k` names by topo order (A3, graphdef_util.py:739-753). */
  lazy val canonicalNames: Map[Int, String] = {
    val counters = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    topoOrder.map { id =>
      val base = byId(id).op.base
      val k = counters(base); counters(base) = k + 1
      id -> s"${base}_$k"
    }.toMap
  }

  /** Node ids reachable downstream of any random op — cache placement below
    * these is unsafe (A9, pipeline_optimizer.py:91-148).
    */
  lazy val randomTainted: Set[Int] = {
    val seeds = nodes.filter(_.op.isRandom).map(_.id)
    val seen = scala.collection.mutable.Set[Int](seeds: _*)
    var frontier = seeds
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(consumers(_)).filterNot(seen)
      seen ++= frontier
    }
    seen.toSet
  }

  /** Nodes on the path from sources to sink (dead-node elimination support,
    * graphdef_util.py:494-508).
    */
  lazy val reachableFromSink: Set[Int] = {
    val seen = scala.collection.mutable.Set(sink)
    var frontier = Seq(sink)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(byId(_).inputs).filterNot(seen)
      seen ++= frontier
    }
    seen.toSet
  }

  def withNode(n: PipelineNode): PipelineGraph =
    copy(nodes = nodes.filterNot(_.id == n.id) :+ n)

  def nextId: Int = nodes.map(_.id).max + 1

  /** Weisfeiler-Lehman graph hash (A18, pipeline_optimizer.py:1220-1227):
    * 3 relabel iterations over op base names, order-insensitive digest.
    */
  def wlHash: Long = {
    var labels: Map[Int, String] = nodes.map(n => n.id -> n.op.base).toMap
    for (_ <- 0 until 3) {
      labels = nodes.map { n =>
        val neigh = (n.inputs ++ consumers(n.id)).map(labels).sorted.mkString(",")
        n.id -> java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(labels(n.id) + "|" + neigh).toLong)
      }.toMap
    }
    scala.util.hashing.MurmurHash3.orderedHash(labels.values.toSeq.sorted).toLong
  }

  /** Isomorphism-ish compatibility diff (A17, pipeline_optimizer.py:466-499):
    * node-id/op sets added and removed relative to `other`.
    */
  def diff(other: PipelineGraph): (Set[String], Set[String]) = {
    val a = nodes.map(n => s"${n.id}:${n.op.base}").toSet
    val b = other.nodes.map(n => s"${n.id}:${n.op.base}").toSet
    (a -- b, b -- a)
  }

  /** DOT export (A26 analogue, graph_rewrites.py:614-667). `extraLabel`
    * extends the node label; `extraAttrs` appends raw DOT attributes
    * (e.g. colors for bottleneck/cache highlighting).
    */
  def toDot(extraLabel: Int => String = _ => "",
      extraAttrs: Int => String = _ => ""): String = {
    val ns = nodes.map { n =>
      val attrs = extraAttrs(n.id) match {
        case "" => ""
        case a  => s", $a"
      }
      s"""  n${n.id} [label="${canonicalNames(n.id)}(p=${n.parallelism})${extraLabel(n.id)}"$attrs];"""
    }
    val es = nodes.flatMap(n => n.inputs.map(i => s"  n$i -> n${n.id};"))
    (Seq("digraph pipeline {") ++ ns ++ es ++ Seq("}")).mkString("\n")
  }
}

object PipelineGraph {
  /** A linear pipeline: node k is `ops(k)` reading node k - 1, with the
    * last op as the sink.
    */
  def chain(ops: PipelineOp*): PipelineGraph = PipelineGraph(
    ops.zipWithIndex.map { case (op, k) =>
      PipelineNode(k, op, if (k == 0) Nil else Seq(k - 1))
    },
    sink = ops.size - 1)
}
