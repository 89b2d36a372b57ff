package graft.operators

import graft.SparkTestSession.{sf, spark, withBroadcastThreshold}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import spark.implicits._

  test("bucket cap keeps pair enumeration linear under a template flood") {
    // A boilerplate template floods one band bucket with 300 docs; a
    // legitimate near-dup group of 10 sits in another. Uncapped pairing
    // would emit 300*299/2 = 44,850 pairs from the flood alone.
    val flood = (0L until 300L).map(i => (i, 0, 777L))
    val organic = (1000L until 1010L).map(i => (i, 1, 42L))
    val bands = (flood ++ organic).toDF("doc_id", "band", "h")
    val pairs = DedupOps.cappedBandPairs(bands).collect()
    // flooded bucket (n=300 > cap) skipped entirely; organic bucket kept
    assert(pairs.length == 10 * 9 / 2)
    assert(pairs.forall(r => r.getLong(0) >= 1000L && r.getLong(1) >= 1000L))
  }

  test("buckets at exactly the cap still pair (boundary is inclusive)") {
    val n = DedupOps.bucketCap.toLong
    val bands = (0L until n).map(i => (i, 0, 5L)).toDF("doc_id", "band", "h")
    assert(DedupOps.cappedBandPairs(bands).count() == n * (n - 1) / 2)
  }

  test("pair volume is bounded by buckets * cap^2 regardless of flood size") {
    // Three floods of different sizes over the cap, plus small buckets:
    // output must never exceed (#admitted buckets) * cap*(cap-1)/2.
    val cap = DedupOps.bucketCap
    val rows =
      (0L until 500L).map(i => (i, 0, 1L)) ++          // flood, skipped
        (500L until 700L).map(i => (i, 1, 2L)) ++      // flood, skipped
        (700L until 700L + cap).map(i => (i, 2, 3L)) ++ // exactly cap, kept
        (900L until 905L).map(i => (i, 3, 4L))         // small, kept
    val pairs = DedupOps.cappedBandPairs(rows.toDF("doc_id", "band", "h"))
    val perBucketMax = cap.toLong * (cap - 1) / 2
    assert(pairs.count() == perBucketMax + 5L * 4 / 2)
  }

  test("star edges keep a flooded bucket as ONE cluster at linear cost") {
    // 300 template docs share a bucket: the star (doc -> bucket min)
    // connects the whole flood into a single component with 299 edges,
    // not 44,850 — and since r19 organic buckets are stars too (same
    // components as the clique, O(bucket) edges): 4 edges for 5 docs.
    val flood = (0L until 300L).map(i => (i, 0, 777L))
    val organic = (1000L until 1005L).map(i => (i, 1, 42L))
    val bands = (flood ++ organic).toDF("doc_id", "band", "h")
    val edges = DedupOps.bandStarEdges(bands)
    assert(edges.count() == 299L + 4L)
    val vertices = (flood ++ organic).map(_._1).toDF("doc_id")
    // threshold -1: the flood must converge through the star rounds
    val clusters = withBroadcastThreshold(-1) {
      graft.functions.Dedup
        .connectedComponents(vertices, edges, "doc_id", "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert((0L until 300L).forall(clusters(_) == 0L), "flood must be one cluster")
    assert((1000L until 1005L).forall(clusters(_) == 1000L))
  }

  test("a NULL band key never forms a cluster (r19): short docs band to " +
    "NULL and must stay singletons, exactly like the oracle's equality join") {
    val rows = Seq[(Long, Int, Option[Long])](
      (1L, 0, None), (2L, 0, None), (3L, 0, None), // NULL bucket
      (10L, 1, Some(5L)), (11L, 1, Some(5L)))      // real bucket
    val bands = rows.toDF("doc_id", "band", "h")
    val edges = DedupOps.bandStarEdges(bands)
    assert(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 11L)))
  }

  test("connected components converge on a path graph far longer than the round cap") {
    // A chain-shaped near-dup graph (gradual drift): diameter 600 ≫ the
    // 64-round cap. Min-label propagation would need 600 rounds and fail
    // loudly; the large-star/small-star alternation is diameter-
    // independent (O(log² n) rounds) and must label the whole chain 0.
    val n = 600L
    val verts = (0L to n).toDF("doc_id")
    val edges = (0L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // threshold -1 forces the star rounds this law is about
    val got = withBroadcastThreshold(-1) {
      graft.functions.Dedup
        .connectedComponents(verts, edges, "doc_id", "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    assert(graft.functions.Dedup.lastCcRounds >= 1)
    assert(got.length == n + 1)
    assert(got.forall(_._2 == 0L), "every chain node must label to the minimum")
  }

  test("connected components accept narrow integral ids and reject strings") {
    // tinyint/smallint render as "tinyint"/"smallint" — the DataType
    // match must admit them (the old simpleString guard wrongly rejected
    // them) and still reject non-integral ids fast.
    val verts = Seq(1, 2, 3, 4).toDF("id").select(col("id").cast("smallint").as("id"))
    // a 2-hop path is no star forest, so each conf takes its own path
    val edges = Seq((1, 2), (3, 2)).toDF("a", "b")
      .select(col("a").cast("smallint").as("a"), col("b").cast("smallint").as("b"))
    def labels(): Map[Long, Long] =
      graft.functions.Dedup.connectedComponents(verts, edges, "id", "a", "b")
        .collect().map(r => (r.getShort(0).toLong, r.getLong(1))).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
    assert(labels() == expected)
    withBroadcastThreshold(-1) { assert(labels() == expected) }
    val bad = intercept[IllegalArgumentException] {
      graft.functions.Dedup.connectedComponents(
        Seq("a", "b").toDF("id"), Seq(("a", "b")).toDF("a", "b"), "id", "a", "b")
    }
    assert(bad.getMessage.contains("integral id column"))
  }

  test("Dedup.clusters API equals the gated dd08 query") {
    val docs = graft.Tables.documents(spark, sf)
    val api = graft.functions.Dedup.clusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gated = graft.SparkEntry.queries("dd08_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(api == gated)
    spark.catalog.clearCache()
  }

  test("clusterLabels finishes on the driver in few Spark jobs; -1 keeps the star-round job count") {
    val docs = graft.Tables.documents(spark, sf)
    def jobs(): Int = {
      spark.catalog.clearCache()
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        DedupOps.clusterLabels(docs).write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext, 10000)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    // default conf: the fixture's edge set fits the broadcast budget and
    // the driver finishes it in a few jobs
    val driverJobs = jobs()
    assert(graft.functions.Dedup.lastCcRounds == 0)
    assert(driverJobs <= 12, s"$driverJobs Spark jobs")
    // -1: the 5 star rounds run in 39 jobs — reading the edge count
    // adds no job
    withBroadcastThreshold(-1) {
      assert(jobs() == 39)
      assert(graft.functions.Dedup.lastCcRounds == 5)
    }
  }

  test("dd14 semantic dedup partitions the corpus into keep groups") {
    val n = graft.Tables.embeddings(spark, sf).count()
    val dd14 = graft.SparkEntry.queries("dd14_semantic_dedup")(spark, sf).collect()
    // every vector lands in exactly one cluster; representatives unique
    assert(dd14.map(_.getLong(1)).sum == n)
    assert(dd14.map(_.getLong(0)).distinct.length == dd14.length)
    // ss03 finds pairs at this SF, so some cluster must have merged
    assert(dd14.exists(_.getLong(1) > 1), "expected a merged cluster")
    // each ss03 pair's endpoints share a component: the keep set never
    // contains both sides of a near-dup pair
    val keeps = dd14.map(_.getLong(0)).toSet
    val pairs = graft.SparkEntry.queries("ss03_embed_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => !(keeps(a) && keeps(b)) },
      "a near-dup pair survived dedup intact")
    spark.catalog.clearCache()
  }

  test("Dedup.prunePassages drops shared boilerplate, keeps unique text") {
    import spark.implicits._
    // 8-token boilerplate header shared by 3 docs (> maxDocs=2) + unique
    // bodies; doc 4 is all-unique, doc 5 is ONLY the boilerplate
    val boiler = "terms of service apply to all content here"
    val docs = Seq(
      (1L, s"$boiler alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, s"$boiler india juliet kilo lima mike november oscar papa"),
      (3L, s"$boiler quebec romeo sierra tango uniform victor whiskey xray"),
      (4L, "yankee zulu one two three four five six"),
      (5L, boiler)).toDF("doc_id", "text")
    val out = graft.functions.Dedup.prunePassages(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) ==
      ("alpha bravo charlie delta echo foxtrot golf hotel", 8L))
    assert(out(4L) == ("yankee zulu one two three four five six", 8L))
    assert(out(5L) == ("", 0L)) // pure boilerplate doc survives as empty
  }

  test("prunePassages kept-token counts agree with the gated dd17 query") {
    val docs = graft.Tables.documents(spark, sf)
    val api = graft.functions.Dedup.prunePassages(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val gated = graft.SparkEntry.queries("dd17_passage_boilerplate")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(api == gated)
    // reconstruction is consistent: pruned token count == n_toks_kept
    val recon = graft.functions.Dedup.prunePassages(docs)
      .selectExpr("doc_id",
        "case when pruned = '' then 0 else size(split(pruned, ' ')) end as n",
        "n_toks_kept")
      .collect()
    assert(recon.forall(r => r.getInt(1).toLong == r.getLong(2)))
  }

  test("duplicatedSpans finds the shared tail with full extent; removeSpans keeps the unique prefix") {
    import spark.implicits._
    // 20-token tail shared by docs 1 and 2 behind unique 10-token
    // prefixes; doc 3 is all-unique. k=16: the 5 windows fully inside
    // the tail (starts 10..14) are flagged and merge to ONE span
    // [10, 30) — the tail's exact extent; straddling windows mix in
    // unique prefix text and stay unflagged.
    val tail = (1 to 20).map(i => s"shared$i").mkString(" ")
    def prefix(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${prefix("aa")} $tail"),
      (2L, s"${prefix("bb")} $tail"),
      (3L, (1 to 30).map(i => s"cc$i").mkString(" "))).toDF("doc_id", "text")
    val spans = graft.functions.Dedup.duplicatedSpans(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.toSet == Set((1L, 10, 30, 5L), (2L, 10, 30, 5L)))
    val pruned = graft.functions.Dedup.removeSpans(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(pruned(1L) == (prefix("aa"), 10L))
    assert(pruned(2L) == (prefix("bb"), 10L))
    assert(pruned(3L) == ((1 to 30).map(i => s"cc$i").mkString(" "), 30L))
  }

  test("duplicatedSpans: whole-doc duplicates collapse to empty; short docs never flag") {
    import spark.implicits._
    val dup = (1 to 16).map(i => s"dd$i").mkString(" ") // exactly k tokens
    val short = (1 to 15).map(i => s"dd$i").mkString(" ") // k-1: no windows
    val docs = Seq((1L, dup), (2L, dup), (3L, short), (4L, short))
      .toDF("doc_id", "text")
    val spans = graft.functions.Dedup.duplicatedSpans(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.toSet == Set((1L, 0, 16), (2L, 0, 16)))
    val pruned = graft.functions.Dedup.removeSpans(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pruned(1L) == "" && pruned(2L) == "")
    assert(pruned(3L) == short && pruned(4L) == short)
  }

  test("duplicatedSpans separates non-contiguous duplicated regions into distinct spans") {
    import spark.implicits._
    // doc 1: [dup16] [unique20] [dup16] — two islands, not one
    val dupA = (1 to 16).map(i => s"xx$i").mkString(" ")
    val dupB = (1 to 16).map(i => s"yy$i").mkString(" ")
    val mid = (1 to 20).map(i => s"mm$i").mkString(" ")
    val docs = Seq(
      (1L, s"$dupA $mid $dupB"),
      (2L, dupA), (3L, dupB)).toDF("doc_id", "text")
    val spans = graft.functions.Dedup.duplicatedSpans(docs)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((0, 16), (36, 52)))
  }

  test("r=2 banding (dd13) admits no more candidates than r=1 (dd04)") {
    // The b×r precision contract: requiring TWO minhash components to
    // agree per band can only shrink the candidate set relative to one.
    val dd04 = graft.SparkEntry.queries("dd04_lsh_candidate_pairs")(spark, sf)
    val dd13 = graft.SparkEntry.queries("dd13_lsh_r2")(spark, sf)
    val n04 = dd04.count()
    val n13 = dd13.count()
    info(s"candidate pairs: r=1 (dd04) = $n04, r=2 (dd13) = $n13")
    assert(n13 <= n04, s"r=2 produced $n13 > r=1's $n04")
    assert(dd13.filter(col("a_id") >= col("b_id")).isEmpty)
  }

  test("dd20 soft weights: each cluster carries ~one doc of sampling mass") {
    val rows = graft.SparkEntry.queries("dd20_soft_weights")(spark, sf).collect()
    val dd08 = graft.SparkEntry.queries("dd08_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == dd08,
      "soft-weight clusters diverged from dd08")
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val n = rs.length.toLong
      assert(rs.forall(_.getLong(2) == n), s"cluster_size wrong in cluster $cid")
      assert(rs.forall(_.getLong(3) == 1000000L / n), s"weight wrong in cluster $cid")
      // cluster mass: n * (1e6 div n) ∈ (1e6 - n, 1e6] — one doc's worth
      val mass = rs.map(_.getLong(3)).sum
      assert(mass <= 1000000L && mass > 1000000L - n)
    }
    assert(rows.filter(_.getLong(2) == 1L).forall(_.getLong(3) == 1000000L))
    spark.catalog.clearCache()
  }
}
