package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization of a string —
  * the canonical-composition pass every text-ingest pipeline runs before
  * hashing or deduplication (a decomposed 'e'+U+0301 and a precomposed
  * 'é' are the same text to a reader but different bytes to every digest,
  * so un-normalized corpora silently under-deduplicate).
  *
  * Spark ships no normalization builtin; a Scala UDF would leave the
  * codegen'd stage and serialize every row. This expression stays inside
  * whole-stage codegen (`doGenCode` below) and delegates the actual
  * normalization to `java.text.Normalizer` (ICU-equivalent for NFC,
  * which is locale-independent by spec). DuckDB's `nfc_normalize`
  * implements the same Unicode algorithm, so outputs hash-match across
  * engines — asserted by the gated tx25 query.
  *
  * Registered for SQL as `nfc_normalize(str)`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** NFC-normalize one UTF8String. The fast path skips the String
    * round-trip entirely: `Normalizer.isNormalized` is O(n) with no
    * allocation, and real corpora are overwhelmingly already NFC.
    */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Register `nfc_normalize` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlRegistry.registerOnce(spark, "nfc_normalize")
}
