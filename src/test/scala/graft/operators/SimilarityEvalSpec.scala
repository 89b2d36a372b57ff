package graft.operators

import graft.SparkTestSession.spark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ss family's evaluation builders — [[SimilarityOps.exactTopK]],
  * [[SimilarityOps.rankTopK]], [[SimilarityOps.rankedTopK]] and
  * [[SimilarityOps.recallAt]] — against a driver-side brute force over
  * seeded random vectors, with duplicate vectors so ties must break by
  * n_id.
  */
class SimilarityEvalSpec extends AnyFunSuite {
  import spark.implicits._

  private type Vec = Array[Float]

  // the native expressions' arithmetic: ascending-index double folds
  private def dot(a: Vec, b: Vec): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
  private def cos(a: Vec, b: Vec): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** 40 seeded 8-dim vectors; ids 30–34 repeat ids 0–4 exactly. */
  private val corpus: Seq[(Long, Vec)] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    base ++ (0 until 5).map(i => (30L + i, base(i)._2.clone())) ++
      (35L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
  }

  private def frame(rows: Seq[(Long, Vec)]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def queries(rows: Seq[(Long, Vec)]): DataFrame =
    frame(rows).select(col("vec_id").as("q_id"), col("embedding").as("qe"))

  /** Driver brute force: per query, the k best other rows by (score
    * DESC, id ASC), as (q_id, rank, n_id).
    */
  private def brute(qs: Seq[(Long, Vec)], c: Seq[(Long, Vec)], k: Int,
      score: (Vec, Vec) => Double): Seq[(Long, Long, Long)] =
    qs.flatMap { case (q, qv) =>
      c.filter(_._1 != q)
        .map { case (n, nv) => (n, score(qv, nv)) }
        .sortBy { case (n, s) => (-s, n) }
        .take(k).zipWithIndex
        .map { case ((n, _), r) => (q, r + 1L, n) }
    }.sorted

  private def ids(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def register(): Unit = {
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.DotProduct.register(spark)
  }

  private val scores = Seq(
    "cosine" -> (("cosine_similarity(qe, ne)", cos _)),
    "dot" -> (("dot_product(qe, ne)", dot _)))

  for ((name, (sql, score)) <- scores)
    test(s"exactTopK equals the brute force by $name, ties broken by n_id") {
      register()
      // queries 0–4 have an exact duplicate (30–34) that scores a tie
      // with them against every other query; 10 and 20 rank both twins
      val qs = corpus.filter(r => Set(0L, 3L, 10L, 20L, 36L)(r._1))
      for (k <- Seq(1, 3, 7)) {
        val want = brute(qs, corpus, k, score).map(t => (t._1, t._3))
        assert(ids(SimilarityOps.exactTopK(queries(qs), frame(corpus), k, sql)) ==
          want.sorted, s"k=$k")
      }
      // twins 0 and 30 score the same against query 10: cut the list
      // right between them and the smaller id must be the one kept
      val q10 = corpus.filter(_._1 == 10L)
      val full = brute(q10, corpus, corpus.size, score).map(_._3)
      val r = full.indexOf(0L) + 1
      assert(full(r) == 30L, "the twins must rank next to each other")
      val cut = ids(SimilarityOps.exactTopK(queries(q10), frame(corpus), r, sql))
        .map(_._2).toSet
      assert(cut(0L) && !cut(30L))
    }

  test("rankTopK breaks equal scores by the smaller n_id; rankedTopK keeps the rank") {
    val cand = Seq((1L, 9L, 0.5), (1L, 4L, 0.5), (1L, 7L, 0.9), (1L, 2L, 0.1),
      (2L, 3L, 0.2), (2L, 1L, 0.2)).toDF("q_id", "n_id", "score")
    assert(ids(SimilarityOps.rankTopK(cand, 2, "score")) ==
      Seq((1L, 4L), (1L, 7L), (2L, 1L), (2L, 3L)))
    val ranked = SimilarityOps.rankedTopK(cand, 3, "score", carry = Seq("score"))
    assert(ranked.columns.toSeq == Seq("q_id", "rank", "n_id", "score"))
    assert(ranked.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq((1L, 1L, 7L), (1L, 2L, 4L), (1L, 3L, 9L), (2L, 1L, 1L), (2L, 2L, 3L)))
  }

  test("exactTopK with k past the corpus returns every other row, ranked") {
    register()
    val small = corpus.take(4)
    val got = SimilarityOps.exactTopK(queries(small), frame(small), 10,
      "cosine_similarity(qe, ne)")
    assert(ids(got) == brute(small, small, 10, cos).map(t => (t._1, t._3)).sorted)
    assert(got.count() == 4 * 3)
  }

  for ((name, (sql, score)) <- scores)
    test(s"recallAt equals the brute-force overlap, exact by $name") {
      register()
      val qs = corpus.filter(r => Set(0L, 3L, 10L, 20L, 36L)(r._1))
      val other = if (name == "cosine") ("dot_product(qe, ne)", dot _)
        else ("cosine_similarity(qe, ne)", cos _)
      val k = 5
      val exact = SimilarityOps.exactTopK(queries(qs), frame(corpus), k, sql)
      // the arm under test: the top-k by the other score
      val hits = SimilarityOps.exactTopK(queries(qs), frame(corpus), k, other._1)
        .toDF("hq_id", "hit_id")
      val got = SimilarityOps.recallAt(exact, hits, k).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val truth = brute(qs, corpus, k, score).groupBy(_._1)
      val arm = brute(qs, corpus, k, other._2).map(t => (t._1, t._3)).toSet
      assert(got.keySet == truth.keySet)
      for ((q, rows) <- truth) {
        val n = rows.count(t => arm((q, t._3))).toLong
        assert(got(q) == ((n, n * 100 / k)), s"query $q")
      }
    }

  test("recallAt: no exact rows give no recall row; an empty arm gives 0") {
    register()
    val one = corpus.take(1)
    val exactAlone = SimilarityOps.exactTopK(queries(one), frame(one), 3,
      "cosine_similarity(qe, ne)")
    assert(exactAlone.count() == 0)
    val none = Seq.empty[(Long, Long)].toDF("hq_id", "hit_id")
    assert(SimilarityOps.recallAt(exactAlone, none, 3).count() == 0)
    val qs = corpus.take(3)
    val exact = SimilarityOps.exactTopK(queries(qs), frame(corpus), 3,
      "cosine_similarity(qe, ne)")
    val rows = SimilarityOps.recallAt(exact, none, 3).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == qs.map(_._1))
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }

  test("recallAt groups by the per-query columns exact carries") {
    val exact = Seq((1L, 5L, 7L), (1L, 6L, 7L), (2L, 5L, 9L))
      .toDF("q_id", "n_id", "n_cand")
    val hits = Seq((1L, 6L), (2L, 6L)).toDF("rq_id", "rn_id")
    val got = SimilarityOps.recallAt(exact, hits, 2)
    assert(got.columns.toSeq == Seq("q_id", "n_cand", "n_hit", "recall_x100"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq == Seq((1L, 7L, 1L, 50L), (2L, 9L, 0L, 0L)))
  }
}
