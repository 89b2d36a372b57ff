package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Reservoir state: up to k values plus the number of rows seen. */
final class Reservoir(val k: Int, val seed: Long) extends Serializable {
  val items = new java.util.ArrayList[Any](k)
  var seen: Long = 0L
  @transient lazy val rng = new java.util.Random(seed + seen)
}

/** `reservoir_sample(col, k, seed)` — TypedImperativeAggregate keeping a
  * uniform k-sample of the group (Vitter's Algorithm R, with a
  * probability-proportional merge for partial aggregation). This is the
  * exact semantics of tf.data's bounded-buffer shuffle
  * (SUPPORTED shuffle op, imagenet_input.py:198-202) as a Spark
  * aggregate — the custom-aggregate tier SURVEY §7.5 reserved for
  * "exact reservoir-shuffle emulation".
  *
  * Distributed determinism caveat (same as tf.data): the sample depends
  * on partition merge order; the seed makes single-partition use
  * reproducible.
  */
@ExpressionDescription(
  usage = "reservoir_sample(col, k, seed) - uniform k-sample of the group")
case class ReservoirSample(
    child: Expression,
    k: Int,
    seed: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Reservoir] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def createAggregationBuffer(): Reservoir = new Reservoir(k, seed)

  override def update(buf: Reservoir, input: InternalRow): Reservoir = {
    val v = child.eval(input)
    if (v != null) {
      buf.seen += 1
      if (buf.items.size < k) buf.items.add(copyOf(v))
      else {
        // Algorithm R: replace slot j with prob k/seen
        val j = nextLong(buf, buf.seen)
        if (j < k) buf.items.set(j.toInt, copyOf(v))
      }
    }
    buf
  }

  override def merge(b1: Reservoir, b2: Reservoir): Reservoir = {
    if (b2.seen == 0) return b1
    if (b1.seen == 0) return b2
    // uniform merge: fill k slots choosing each source with probability
    // proportional to its seen count, drawing without replacement
    val total = b1.seen + b2.seen
    val out = new Reservoir(k, seed ^ total)
    val i1 = new java.util.ArrayList[Any](b1.items)
    val i2 = new java.util.ArrayList[Any](b2.items)
    java.util.Collections.shuffle(i1, new java.util.Random(seed ^ b1.seen))
    java.util.Collections.shuffle(i2, new java.util.Random(seed ^ b2.seen ^ -1L))
    val rng = new java.util.Random(seed ^ total)
    var n1 = 0; var n2 = 0
    while (out.items.size < k && (n1 < i1.size || n2 < i2.size)) {
      val fromFirst =
        if (n1 >= i1.size) false
        else if (n2 >= i2.size) true
        else rng.nextDouble() < b1.seen.toDouble / total
      if (fromFirst) { out.items.add(i1.get(n1)); n1 += 1 }
      else { out.items.add(i2.get(n2)); n2 += 1 }
    }
    out.seen = total
    out
  }

  override def eval(buf: Reservoir): Any =
    new GenericArrayData(buf.items.toArray)

  override def serialize(buf: Reservoir): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeInt(buf.k); out.writeLong(buf.seed); out.writeLong(buf.seen)
    out.writeObject(buf.items)
    out.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Reservoir = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    val kk = in.readInt(); val sd = in.readLong(); val sn = in.readLong()
    val items = in.readObject().asInstanceOf[java.util.ArrayList[Any]]
    val r = new Reservoir(kk, sd)
    r.seen = sn
    r.items.addAll(items)
    r
  }

  // Deep-copy buffer-backed values before storing: Spark reuses the
  // underlying buffers across rows for UTF8String AND for array/map/struct
  // values (UnsafeArrayData, UnsafeRow…), so a stored reference would be
  // silently overwritten by later rows. InternalRow.copyValue handles
  // every such type (UTF8String, ArrayData, MapData, InternalRow).
  private def copyOf(v: Any): Any =
    org.apache.spark.sql.catalyst.InternalRow.copyValue(v)

  private def nextLong(buf: Reservoir, bound: Long): Long = {
    // deterministic per (seed, seen): uniform in [0, bound)
    val r = new java.util.Random(buf.seed ^ buf.seen * 0x9e3779b97f4a7c15L)
    math.floorMod(r.nextLong(), bound)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ReservoirSample =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ReservoirSample =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ReservoirSample =
    copy(child = newChildren.head)
}

object ReservoirSample {
  /** Register `reservoir_sample(col, k, seed)` on a session. k and seed
    * must be integer literals (validated — clear analysis-time error,
    * not an eval NPE).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlRegistry.registerOnce(spark, "reservoir_sample")
}
