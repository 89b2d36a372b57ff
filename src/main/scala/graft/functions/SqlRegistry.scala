package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's SQL function surface: one builder per name. Both deployment
  * paths read [[SqlRegistry.functions]]: runtime registration
  * ([[SqlRegistry.registerOnce]], behind every `register(spark)`) and
  * session extensions ([[GraftExtensions]]).
  *
  * Register-once gate (VERDICT r16 #6): every `X.register(spark)` call
  * used to hit `createOrReplaceTempFunction` unconditionally, so each
  * query that defensively registered its functions re-replaced them —
  * idempotent, but `SimpleFunctionRegistry` logs a "function replaced"
  * WARN per call, hundreds of lines per bench/test log a reader must
  * scan past.
  *
  * The gate is keyed by the session's FUNCTION-REGISTRY INSTANCE (a
  * WeakHashMap, so a dropped registry's entry can be collected), not by
  * the session and not by probing the registry: a `functionExists` probe
  * would silently skip OUR registration if a future Spark version ships
  * a built-in under the same name — exactly the shadowing bug a probe
  * cannot distinguish from our own prior call — and a session-keyed
  * latch (ADVICE r17) would stay latched if the session's registry is
  * ever cleared or replaced externally, turning later register() calls
  * into no-ops that surface as inexplicable "undefined function"
  * failures. Keying on the registry object means a replaced registry is
  * a fresh key and naturally re-registers. First call per
  * (registry, name) registers; later calls are no-ops.
  */
private[graft] object SqlRegistry {

  /** One SQL function: the expression class it documents and its builder. */
  final case class Fn(cls: Class[_], build: Seq[Expression] => Expression)

  /** Every graft SQL function, by name. `bloom_filter_agg` and
    * `might_contain` expose Spark's own runtime-filter expressions
    * (BloomPrefilter).
    */
  val functions: Seq[(String, Fn)] = Seq(
    "cosine_similarity" -> Fn(classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    "dot_product" -> Fn(classOf[DotProduct], e => DotProduct(e(0), e(1))),
    "l2_distance_sq" -> Fn(classOf[L2DistanceSq], e => L2DistanceSq(e(0), e(1))),
    "winnow_fps" -> Fn(classOf[WinnowFingerprints], e => WinnowFingerprints(e(0),
      LiteralArg.int("winnow_fps", "k", e(1)), LiteralArg.int("winnow_fps", "w", e(2)))),
    "reservoir_sample" -> Fn(classOf[ReservoirSample], e => ReservoirSample(e(0),
      LiteralArg.int("reservoir_sample", "n", e(1)),
      if (e.size > 2) LiteralArg.long("reservoir_sample", "seed", e(2)) else 42L)
      .toAggregateExpression()),
    "nfc_normalize" -> Fn(classOf[NfcNormalize], e => NfcNormalize(e.head)),
    "bloom_filter_agg" -> Fn(classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    "might_contain" -> Fn(classOf[BloomFilterMightContain],
      e => new BloomFilterMightContain(e(0), e(1))))

  private val byName = functions.toMap

  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry,
      java.util.Set[String]]())

  def registerOnce(spark: SparkSession, name: String): Unit = {
    val names = registered.computeIfAbsent(
      spark.sessionState.functionRegistry,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    if (names.add(name))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, byName(name).build, "built-in")
  }
}

/** Session-extension deployment path: sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`) get every graft SQL
  * function in every context — SQL, views, thrift — without a runtime
  * registry call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    SqlRegistry.functions.foreach { case (name, fn) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(fn.cls.getName, name), fn.build))
    }
}

/** Plan-time extraction of literal scalar arguments for SQL-registered
  * graft functions (winnow_fps' k/w, reservoir_sample's n/seed). These
  * parameters shape the expression itself, so they must be FOLDABLE,
  * DETERMINISTIC literals: a column reference would otherwise die as an
  * obscure NPE/ClassCastException inside `eval()`, and a foldable-but-
  * nondeterministic expression would be silently frozen at plan time.
  * Raised from the function builder, the error surfaces as a clear
  * analysis-time failure on the user's query.
  */
private[functions] object LiteralArg {
  def int(fn: String, arg: String, e: Expression): Int =
    num(fn, arg, e).intValue()
  def long(fn: String, arg: String, e: Expression): Long =
    num(fn, arg, e).longValue()
  private def num(fn: String, arg: String, e: Expression): Number = {
    if (!e.foldable || !e.deterministic)
      throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got ${e.sql}")
    // Integral dataType gate: a fractional literal (winnow_fps(text, 5.7, 4))
    // would otherwise silently truncate via Number.intValue, breaking the
    // "must be an integer literal" contract the error message promises.
    e.dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case other =>
        throw new IllegalArgumentException(
          s"$fn: $arg must be an integer literal, got ${e.sql} of type " +
            other.simpleString)
    }
    e.eval() match {
      case n: Number => n
      case null => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got NULL (${e.sql})")
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got ${e.sql} of type " +
          e.dataType.simpleString)
    }
  }
}
