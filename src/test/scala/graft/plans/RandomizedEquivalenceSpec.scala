package graft.plans

import graft.SparkTestSession.{spark, withBroadcastThreshold}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded randomized equivalence checks (hand-rolled property loops —
  * scalatestplus isn't in the offline cache): the scale-oriented rewrites
  * (salting, Bloom pre-filtering, distributed connected components,
  * distributed ordinals) must be RESULT-invariant on arbitrary inputs,
  * not just on the fixture tables the gate exercises. Seeds are fixed so
  * failures reproduce.
  */
class RandomizedEquivalenceSpec extends AnyFunSuite {

  import spark.implicits._

  test("connected components match union-find on random graphs") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val nVerts = 30 + rnd.nextInt(40)
      val verts = (0L until nVerts.toLong).toSeq
      val edges = Seq.fill(2 * nVerts)(
        (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong))
        .filter(p => p._1 < p._2).distinct

      // reference: plain union-find with path compression
      val parent = Array.tabulate(nVerts)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = verts.map(v => v -> find(v.toInt).toLong).toMap

      def labels(): Map[Long, Long] = graft.functions.Dedup.connectedComponents(
        verts.toDF("doc_id"), edges.toDF("a_id", "b_id"),
        "doc_id", "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // default conf: the edge set fits the broadcast budget, so the
      // driver finishes it (0 star rounds); -1 forces the star rounds
      assert(labels() == expected, s"driver path, seed=$seed")
      assert(graft.functions.Dedup.lastCcRounds == 0, s"seed=$seed")
      withBroadcastThreshold(-1) {
        assert(labels() == expected, s"star rounds, seed=$seed")
        assert(graft.functions.Dedup.lastCcRounds >= 1, s"seed=$seed")
      }
    }
  }

  test("salted join equals plain join under extreme synthetic skew") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // 90% of left rows hit one hot key — the case salting exists for
      val left = (1 to 400).map { i =>
        (if (rnd.nextDouble() < 0.9) 1L else 1L + rnd.nextInt(20), i.toLong)
      }.toDF("k", "payload")
      val right = (1L to 20L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val plain = left.join(right, "k")
        .groupBy("k").agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val salted = SkewTools.saltedJoin(left, right, "k", saltBuckets = 5)
        .groupBy("k").agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(salted == plain, s"seed=$seed")
    }
  }

  test("bloom-prefiltered join equals plain join on random key sets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val big = Seq.fill(500)((rnd.nextInt(1000).toLong, rnd.nextInt(100)))
        .toDF("k", "v")
      val small = Seq.fill(30)(rnd.nextInt(1000).toLong).distinct
        .map(k => (k, s"s$k")).toDF("k", "tag")
      val plain = big.join(small, "k")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val bloomed = BloomPrefilter.join(big, small, "k",
        expectedItems = 64, numBits = 1 << 12)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(bloomed == plain, s"seed=$seed")
    }
  }

  test("a star-forest input converges with ZERO star rounds, labels exact") {
    // saved min-id labels ARE a star forest — the r18 direct convergence
    // test must recognize it without paying a single star round
    val verts = (0L to 10L).toDF("doc_id")
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (5L, 7L), (5L, 9L))
      .toDF("a_id", "b_id")
    // threshold -1: the star-round path must itself stop at zero rounds
    val got = withBroadcastThreshold(-1) {
      graft.functions.Dedup.connectedComponents(
          verts, edges, "doc_id", "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(graft.functions.Dedup.lastCcRounds == 0)
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 5L, 8L -> 8L, 9L -> 5L, 10L -> 10L)
    assert(got == expected)
  }

  test("a 30-hop chain converges to one min-labeled component (diameter independence)") {
    val n = 31L
    val verts = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // threshold -1 forces the star rounds this round-count law is about
    val got = withBroadcastThreshold(-1) {
      graft.functions.Dedup.connectedComponents(
          verts, edges, "doc_id", "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == (0L until n).map(_ -> 0L).toMap)
    // star rounds, not diameter rounds: ~log n, nowhere near 30
    assert(graft.functions.Dedup.lastCcRounds >= 1)
    assert(graft.functions.Dedup.lastCcRounds <= 8)
  }

  test("the driver finish takes edge sets of exactly 16 B/edge × E, the rounds one byte less") {
    // a 30-hop chain has E = 30 distinct edges, so 480 B is the boundary
    val n = 31L
    val verts = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i + 1, i)).toDF("a_id", "b_id")
    val expected = (0L until n).map(_ -> 0L).toMap
    def labels(): Map[Long, Long] = graft.functions.Dedup.connectedComponents(
        verts, edges, "doc_id", "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withBroadcastThreshold(16L * (n - 1)) {
      assert(labels() == expected)
      assert(graft.functions.Dedup.lastCcRounds == 0, "driver path expected")
    }
    withBroadcastThreshold(16L * (n - 1) - 1) {
      assert(labels() == expected)
      assert(graft.functions.Dedup.lastCcRounds >= 1, "star rounds expected")
    }
  }

  test("duplicatedSpans match a brute-force reference on random corpora") {
    val k = 4
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      // small vocab forces organic window collisions within and across docs
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (0 until 12).map { id =>
        val n = 3 + rnd.nextInt(15)
        id.toLong -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }

      // reference: count every k-token window across the corpus, flag
      // positions whose window repeats, merge overlapping/contiguous
      val wins = docs.flatMap { case (id, text) =>
        val t = text.split("\\s+")
        (0 to t.length - k).map(i => (id, i, t.slice(i, i + k).mkString(" ")))
      }
      val freq = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = docs.flatMap { case (id, _) =>
        val flagged = wins.filter(w => w._1 == id && freq(w._3) >= 2)
          .map(_._2).sorted
        if (flagged.isEmpty) Nil
        else {
          val spans = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
          var (s0, e0, nw) = (flagged.head, flagged.head + k, 1)
          flagged.tail.foreach { i =>
            if (i > e0) { spans += ((s0, e0, nw)); s0 = i; e0 = i + k; nw = 1 }
            else { e0 = math.max(e0, i + k); nw += 1 }
          }
          spans += ((s0, e0, nw))
          spans.map { case (s, e, n) => (id, s, e, n.toLong) }
        }
      }.toSet

      val got = graft.functions.Dedup.duplicatedSpans(
        docs.toDF("doc_id", "text"), k = k)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("distributed ordinal is a dense rank on random multiset keys") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(200)
      // duplicate-heavy keys: ordinal must still be a permutation of 1..n
      val keys = Seq.fill(n)(rnd.nextInt(30).toLong - 15L)
      val got = graft.operators.Ordinal.withGlobalOrdinal(
        keys.toDF("k"), "k", "rn", buckets = 1 + rnd.nextInt(8))
        .orderBy("rn").select("k", "rn").as[(Long, Long)].collect()
      assert(got.map(_._2).toSeq == (1L to n.toLong), s"seed=$seed")
      assert(got.map(_._1).toSeq == keys.sorted, s"seed=$seed")
    }
  }

  test("distributed prefix sum matches a sequential fold on random " +
    "multisets (keys duplicated, values negative, random bucket counts)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(200 + seed)
      val n = 50 + rnd.nextInt(200)
      // (key, id, value): duplicate-heavy keys so ties straddle would-be
      // bucket boundaries; signed values so the sum algebra is exercised
      // beyond monotone accumulation
      val rows = (0 until n).map(i =>
        (rnd.nextInt(20).toLong - 10L, i.toLong, rnd.nextInt(100).toLong - 50L))
      // reference: sort by (k, id), sequential exclusive fold
      val sorted = rows.sortBy(r => (r._1, r._2))
      val expected = sorted.zip(
        sorted.scanLeft(0L)(_ + _._3).dropRight(1))
        .map { case ((k, id, _), cum) => (k, id, cum) }.toSet
      val got = graft.operators.Ordinal.withGlobalPrefixSum(
        rows.toDF("k", "id", "v"), "k", "v", "cum",
        buckets = 1 + rnd.nextInt(8), tieCols = Seq("id"))
        .select("k", "id", "cum").as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }
}
