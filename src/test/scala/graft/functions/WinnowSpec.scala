package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkTestSession.{codegenModes, sf, spark, withCodegenMode}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing (MOSS) fingerprint properties: the `winnow_fps` kernel's
  * exact output against a literal reference, the w+k-1 match guarantee,
  * selection density, and the overlap query's consistency with the
  * fingerprint set it joins.
  */
class WinnowSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Literal winnowing of one UTF-8 byte string: decode as Java does
    * (malformed bytes become U+FFFD), hash every k-gram of code points by
    * its closed form, take the rightmost minimum of every w-window of
    * hashes, and keep the distinct selected values in first-occurrence
    * order.
    */
  private def refWinnow(bytes: Array[Byte], k: Int, w: Int): Seq[Long] = {
    val cps = new String(bytes, UTF_8).codePoints.toArray.toSeq
    if (cps.length < k + w - 1) return Nil
    val hs = cps.sliding(k).map(_.foldLeft(0L)((acc, c) => (acc * 256 + c) % 2147483647L)).toVector
    hs.indices.sliding(w).map(win => hs(win.reverse.minBy(hs))).toSeq.distinct
  }

  private val kernelCases: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(11)
    def text(alphabet: Vector[String], maxLen: Int) =
      Seq.fill(rnd.nextInt(maxLen))(alphabet(rnd.nextInt(alphabet.size))).mkString
    val fixed = Seq(
      "", "a", "ab", "short", "the quick brown fox jumps over the lazy dog",
      "café naïve déjà vu 日本 🙂 emoji 🙂🙂 ünïcödé 日本語テキスト",
      "abababababababababababababababab", "aaaaaaaaaaaaaaaaaaaaaaaa",
      "🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂").map(_.getBytes(UTF_8))
    // malformed UTF-8: a lone 0xFF inside text and a truncated 0xC3 in the
    // middle and at the end
    val malformed = Seq(
      "valid text then ".getBytes(UTF_8) ++ Array(0xff.toByte) ++ " and more text after it".getBytes(UTF_8),
      "caf".getBytes(UTF_8) ++ Array(0xc3.toByte) ++ " au lait with a cut byte ".getBytes(UTF_8) ++
        Array(0xc3.toByte))
    val ascii = Vector("a", "b", "c", " ", "the", "fox")
    val mixed = Vector("a", "b", " ", "é", "日本", "🙂")
    fixed ++ malformed ++
      Seq.fill(100)(text(Vector("a", "b"), 60).getBytes(UTF_8)) ++ // all ties
      Seq.fill(100)(text(ascii, 40).getBytes(UTF_8)) ++
      Seq.fill(100)(text(mixed, 40).getBytes(UTF_8))
  }

  for ((mode, wholeStage) <- codegenModes)
    test(s"winnow_fps equals the literal reference array under $mode") {
      val raw = kernelCases.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "raw")
        .repartition(3) // keeps the projection off the driver's LocalRelation folding
        .selectExpr("id", "raw", "cast(raw as string) as text")
      withCodegenMode(mode, wholeStage) {
        for ((k, w) <- Seq((12, 8), (1, 1), (3, 4), (5, 1), (1, 6))) {
          val df = raw.select(col("id"), col("raw"),
            WinnowFingerprints.winnowFps(col("text"), k, w).as("fps"),
            col("text").cast("binary").as("bytes"))
          val got = df.collect()
          // the kernel ran inside whole-stage codegen exactly when asked to
          val fused = collect(df.queryExecution.executedPlan) {
            case p: WholeStageCodegenExec if p.toString.contains("winnowfingerprints(") => p
          }
          assert(fused.nonEmpty == wholeStage)
          assert(got.length == kernelCases.size)
          got.foreach { r =>
            val bytes = r.getAs[Array[Byte]]("raw")
            // the cast hands the kernel the bytes unchanged, malformed ones too
            assert(r.getAs[Array[Byte]]("bytes").sameElements(bytes))
            assert(r.getSeq[Long](2) == refWinnow(bytes, k, w),
              s"k=$k w=$w text=${new String(bytes, UTF_8)}")
          }
        }
      }
    }

  test("docs sharing a span >= w+k-1 chars share a fingerprint") {
    // k=12, w=8: guarantee threshold is 19 normalized chars. The shared
    // span below is 40 chars embedded in otherwise-disjoint text.
    val shared = "the quick brown fox jumps over a lazy dog"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"one two three four five $shared six seven eight"),
      (3L, "completely unrelated content with nothing in common at all here")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFps(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 40-char span must collide")
    assert((fps(1L) & fps(3L)).isEmpty || (fps(2L) & fps(3L)).isEmpty,
      "unrelated doc should not share fingerprints with both")
  }

  test("winnowing selects at most one fp per position and covers windows") {
    // selection density: distinct fps per doc is bounded by the number of
    // k-gram positions, and every window of w positions contributes one —
    // so a doc with n positions has between ceil((n-w+1)/w) and n fps.
    val docs = graft.Tables.documents(spark, sf)
    val n = docs.count()
    val stats = TextOps.winnowFps(docs)
      .groupBy("doc_id").count().collect()
    assert(stats.length == n, "every doc long enough yields fingerprints")
    assert(stats.forall(_.getLong(1) > 0))
  }

  test("declarative winnowing matches a direct reference on random text") {
    // reference: literal Schleimer/Wilkerson/Aiken selection — rolling
    // hash every k-gram, take the min of each w-window (min value; the
    // plan's window-min dedups to the same SET of selected hashes)
    val K = 12; val W = 8; val P = 2147483647L
    def refFps(text: String): Set[Long] = {
      val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
      if (norm.length < K + W - 1) return Set.empty
      val hs = (0 to norm.length - K).map { i =>
        (0 until K).foldLeft(0L)((acc, j) => (acc * 256 + norm(i + j).toLong) % P)
      }
      hs.sliding(W).map(_.min).toSet
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta,",
        "eta", "theta.", "iota", "kappa", "the", "of", "and", "12", "x")
      val docs = (1L to 20L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(60))(words(rnd.nextInt(words.size))).mkString(" ")
      }
      val got = TextOps.winnowFps(docs.toDF("doc_id", "text")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      docs.foreach { case (id, text) =>
        assert(got.getOrElse(id, Set.empty[Long]) == refFps(text),
          s"seed=$seed doc=$id")
      }
    }
  }

  test("Dedup.winnowCandidates API equals the gated tx12 query") {
    val docs = graft.Tables.documents(spark, sf)
    val api = Dedup.winnowCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gated = graft.SparkEntry.queries("tx12_winnow_overlap")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api.nonEmpty && api == gated)
    spark.catalog.clearCache()
  }

  test("tx12 pairs each share >= 5 fingerprints from the tx11 set") {
    val fps = graft.SparkEntry.queries("tx11_winnow_fingerprints")(spark, sf)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val pairs = graft.SparkEntry.queries("tx12_winnow_overlap")(spark, sf).collect()
    assert(pairs.nonEmpty)
    // the capped join can only undercount shared fps (boilerplate fps are
    // skipped), so the full-set intersection is >= the query's n_shared
    assert(pairs.forall { r =>
      (fps(r.getLong(0)) & fps(r.getLong(1))).size >= r.getLong(2)
    })
    spark.catalog.clearCache()
  }
}
