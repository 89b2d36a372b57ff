package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkTestSession.{codegenModes, sf, spark, withCodegenMode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The native MinHash kernel (`ShingleHashes`, `MinHashSig`) against the
  * higher-order-function SQL it replaced, kept here as the literal
  * reference: split → 3-token concat_ws shingles → Portable.hash60 per
  * shingle → array_min of each two-prime Broder permutation. Checked
  * under interpreted evaluation (nullSafeEval) and whole-stage codegen
  * (doGenCode).
  */
class MinHashSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val refShingles =
    "case when size(toks) < 3 then array() else " +
      "transform(sequence(1, size(toks) - 2), i -> " +
      "concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))) end"
  private val refHs = s"transform(shingles, s -> ${graft.Portable.hash60("s")})"
  private def refMh(k: Int): String = {
    import MinHashSig.{a1, a2, b1, b2, p1, p2}
    s"array_min(transform(hs, x -> " +
      s"((${a1(k)}L * (x % ${p1}L) + ${b1(k)}L) % ${p1}L) * 2147483648L + " +
      s"((${a2(k)}L * (x % ${p2}L) + ${b2(k)}L) % ${p2}L))) as mh$k"
  }

  private val edgeCases: Seq[Option[Array[Byte]]] = Seq(
    None, Some(""), Some("   "), Some("\t\n "), Some("one"), Some("one two"),
    Some("one two three"), Some("  leading and trailing whitespace  "),
    Some("tabs\tand\nnewlines\r\nmixed  \t in between words"),
    Some("naïve café déjà vu 日本語 テキスト 🙂 emoji ünïcödé"),
    Some("a b c a b c a b c"),
    Some("vertical\u000Btab\fform feed \u000B\f separators"),
    Some(" \t\n\u000B\f\r")).map(_.map(_.getBytes(UTF_8))) ++ Seq(
    // malformed UTF-8, lone 0xFF and truncated 0xC3 bytes, which split
    // reads as U+FFFD: "a \xFF b\xFFc d\xC3e \xC3"
    Some(Array(0x61, 0x20, 0xff, 0x20, 0x62, 0xff, 0x63, 0x20, 0x64, 0xc3, 0x65, 0x20, 0xc3)
      .map(_.toByte)))

  private def randomDocs(n: Int, seed: Int): Seq[Option[String]] = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("alpha", "beta", "gamma", "δέλτα", "straße", "日本", "🙂",
      "the", "of", "and", "12", "x", "", "ÆØÅ", "zeta,")
    val seps = Vector(" ", " ", " ", "  ", "\t", "\n", " \r\n")
    Seq.fill(n) {
      val len = rnd.nextInt(40)
      val sb = new StringBuilder
      if (rnd.nextInt(8) == 0) sb ++= seps(rnd.nextInt(seps.size))
      (0 until len).foreach { i =>
        if (i > 0) sb ++= seps(rnd.nextInt(seps.size))
        sb ++= words(rnd.nextInt(words.size))
      }
      if (rnd.nextInt(8) == 0) sb ++= seps(rnd.nextInt(seps.size))
      Some(sb.toString)
    }
  }

  // text is cast from bytes so malformed UTF-8 reaches the kernels as is
  private lazy val docs: DataFrame =
    (edgeCases ++ randomDocs(2000, 7).map(_.map(_.getBytes(UTF_8)))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "raw")
      .repartition(3) // keeps the projections off the driver's LocalRelation folding
      .selectExpr("doc_id", "cast(raw as string) as text")

  private def rows(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toMap

  for ((mode, wholeStage) <- codegenModes)
    test(s"ShingleHashes and MinHashSig equal the HOF reference under $mode") {
      withCodegenMode(mode, wholeStage) {
        for (k <- Seq(4, 8)) {
          val ref = docs
            .selectExpr("doc_id", "split(text, '\\\\s+') as toks")
            .selectExpr("doc_id", s"$refShingles as shingles")
            .selectExpr("doc_id", s"$refHs as hs")
            .selectExpr("doc_id" +: "hs" +: (0 until k).map(refMh): _*)
          val sig = docs
            .select(col("doc_id"), ShingleHashes.shingleHashes(col("text")).as("hs"))
            .select(col("doc_id"), col("hs"), MinHashSig.minHashSig(col("hs"), k).as("sig"))
          val native = sig.select(col("doc_id") +: col("hs") +:
            (0 until k).map(j => col("sig").getItem(j).as(s"mh$j")): _*)
          val (want, got) = (rows(ref), rows(native))
          // the kernel ran inside whole-stage codegen exactly when asked to
          val fused = collect(native.queryExecution.executedPlan) {
            case w: WholeStageCodegenExec if w.toString.contains("minhashsig(") => w
          }
          assert(fused.nonEmpty == wholeStage)
          assert(got.size == edgeCases.size + 2000)
          assert(got == want, s"k=$k")
          // the edge cases behave as documented, not only as the reference
          assert(got(0L) == Seq.fill(k + 1)(null)) // NULL text
          assert(got(1L) == Seq(Nil) ++ Seq.fill(k)(null)) // "" → [] and NULL minima
          assert(got(5L).head == Nil && got(6L).head.asInstanceOf[List[_]].size == 1)
        }
      }
    }

  test("dd04 evaluates MinHashSig once per row: the mh projections do not inline it") {
    val p = graft.tools.Probe.finalPlan(spark, graft.tools.Probe.query("dd04_lsh_candidate_pairs"), sf)
    // the cached band relation prints once per scan of it, so count per
    // plan line: each Project that holds the kernel holds it once, and
    // the one that projects mh0.. reads `sig` instead of inlining it
    val lines = p.linesIterator.filter(_.contains("minhashsig(")).toSeq
    assert(lines.nonEmpty && lines.forall(l =>
      "minhashsig\\(".r.findAllIn(l).size == 1 && !l.contains(" AS mh0")), p)
  }
}
