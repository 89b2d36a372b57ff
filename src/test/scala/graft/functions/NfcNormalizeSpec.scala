package graft.functions

import graft.SparkTestSession.spark
import org.scalatest.funsuite.AnyFunSuite

/** graft.functions.NfcNormalize — the native NFC Expression (the gated
  * tx25 query pins the cross-engine byte agreement; this pins the
  * Unicode semantics and the codegen/interpreted parity).
  */
class NfcNormalizeSpec extends AnyFunSuite {

  // Built with explicit escapes so a source-file NFC normalization (an
  // editor, formatter, or VCS filter) cannot silently collapse the two
  // visually identical literals into the same byte sequence.
  private val decomposed = "cafe\u0301 nai\u0308ve"
  private val composed = "caf\u00e9 na\u00efve"

  private def normSql(texts: String*): Array[String] = {
    import spark.implicits._
    NfcNormalize.register(spark)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .selectExpr("id", "nfc_normalize(t) as n")
      .orderBy("id")
      .collect()
      .map(_.getString(1))
  }

  test("decomposed sequences compose to the canonical form") {
    val Array(a, b, c) = normSql(decomposed, composed, "plain ascii")
    assert(a == composed, "combining marks must compose")
    assert(b == composed, "already-composed text is a fixpoint")
    assert(c == "plain ascii")
  }

  test("normalization is idempotent and matches java.text.Normalizer") {
    val inputs = Seq(decomposed, composed, "Ångström", "", "mixed éé")
    val out = normSql(inputs: _*)
    inputs.zip(out).foreach { case (in, o) =>
      val expected = java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFC)
      assert(o == expected, s"mismatch for ${in.map(c => f"${c.toInt}%04x")}")
      assert(normSql(o).head == o, "idempotence")
    }
  }

  test("interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = NfcNormalize(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)))
    // Literal input folds through the interpreted eval; the SQL path above
    // exercises codegen — both must produce the composed form
    assert(e.eval(null).toString == composed)
  }

  test("ASCII input comes back as the same instance; mixed input still composes") {
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain ascii, tabs\tand 0123456789 ~")
    assert(NfcNormalize.normalize(ascii) eq ascii)
    val mixed = NfcNormalize.normalize(UTF8String.fromString(s"ascii $decomposed ascii"))
    assert(mixed.toString == s"ascii $composed ascii")
    assert(normSql(s"ascii $decomposed ascii").head == s"ascii $composed ascii")
  }

  test("non-string input fails analysis with a clear message") {
    NfcNormalize.register(spark)
    val err = intercept[Exception] {
      spark.range(1).selectExpr("nfc_normalize(id)").collect()
    }
    assert(err.getMessage.contains("nfc_normalize") ||
      err.getMessage.toLowerCase.contains("type"))
  }
}
