package graft

import graft.SparkTestSession.{sf, spark}
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + spot checks over the full registered query surface. The
  * DuckDB hash-compare is the driver's gate; here we assert every query
  * runs at sf0.001 and pin a few independently-computed values.
  */
class QuerySpec extends AnyFunSuite {

  // queries whose correct result can legitimately be empty
  private val mayBeEmpty = Set("dd04_lsh_candidate_pairs", "dd06_ngram_jaccard",
    "ss03_embed_neardup", "op08b_batch_drop_remainder", "dd07_mllib_minhash_lsh")

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs${if (q.oracle.isDefined) " (oracle-gated)" else ""}") {
      val n = q.fn(spark, sf).count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("every query registers the SQL functions it calls") {
    // the shared session carries every function an earlier query
    // registered; a new session (same context) carries none
    val unresolved = SparkEntry.all.flatMap { q =>
      try { q.fn(spark.newSession(), sf); None }
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNRESOLVED_ROUTINE" => Some(s"${q.name}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    assert(unresolved.isEmpty, unresolved.mkString("\n"))
  }

  test("entry() smoke: flagship rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 pricing summary: totals reconcile with raw counts") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("count_order")).head().getLong(0)
    assert(total == 6000) // sf0.001 lineitem cardinality
  }

  test("dd01 exact dedup keeps ≤ one row per distinct text") {
    val df = SparkEntry.queries("dd01_exact_dedup")(spark, sf)
    val docs = Tables.documents(spark, sf).select("text").distinct().count()
    assert(df.count() == docs)
  }

  test("ss01 top-k returns exactly 5 ranked neighbors per query vector") {
    val rows = SparkEntry.queries("ss01_topk_cosine")(spark, sf).collect()
    assert(rows.length == 25)
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.forall { case (_, rs) =>
      rs.map(_.getLong(1)).sorted.sameElements(1L to 5L) })
  }

  test("ss09 PQ recall rows are well-formed per query vector") {
    val rows = SparkEntry.queries("ss09_pq_recall")(spark, sf).collect()
    assert(rows.length == 5) // one row per query vector (vec_id < 5)
    assert(rows.forall { r =>
      val hits = r.getLong(1)
      hits >= 0 && hits <= 3 && r.getLong(2) == hits * 100 / 3 })
  }

  test("ss11 trained-centroid IVF recall rows are well-formed per query vector") {
    val rows = SparkEntry.queries("ss11_ivf_trained_recall")(spark, sf).collect()
    assert(rows.length == 5) // one row per query vector (vec_id < 5)
    assert(rows.forall { r =>
      val hits = r.getLong(1)
      hits >= 0 && hits <= 3 && r.getLong(2) == hits * 100 / 3 })
    // trained codebook: one centroid per label, full-width float means
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
    val cent = graft.operators.SimilarityOps.trainedCentroids(e).collect()
    assert(cent.length == e.select("label").distinct().count())
    assert(cent.forall(_.getSeq[Float](1).length == 64))
    spark.catalog.clearCache()
  }

  test("dd15 admission is invariant under batch repartitioning") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter("doc_id < 400")
    val batch = docs.filter("doc_id >= 400")
    val a = graft.functions.Dedup.incrementalNearDup(corpus, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    val b = graft.functions.Dedup.incrementalNearDup(
      corpus.repartition(5), batch.repartition(3), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    assert(a == b)
  }

  test("cu03 full ledger agrees with cu01 on every shared signal") {
    val full = SparkEntry.queries("cu03_full_ledger")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(3), r.getBoolean(5), r.getBoolean(6),
          r.getString(9))).toMap
    val base = SparkEntry.queries("cu01_curation_ledger")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(5),
          r.getString(6))).toMap
    assert(full.keySet == base.keySet)
    // (pred_lang, is_quality, exact_keep, near_keep, split) must be
    // identical — the full ledger only ADDS signals
    assert(full == base)
    // and full-ledger kept implies base-ledger kept (strictly stricter)
    val fullKept = SparkEntry.queries("cu03_full_ledger")(spark, sf)
      .filter("kept").collect().map(_.getLong(0)).toSet
    val baseKept = SparkEntry.queries("cu01_curation_ledger")(spark, sf)
      .filter("kept").collect().map(_.getLong(0)).toSet
    assert(fullKept.subsetOf(baseKept))
    spark.catalog.clearCache()
  }

  test("dd16 cluster histogram accounts for every document exactly once") {
    val rows = SparkEntry.queries("dd16_cluster_stats")(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum // Σ size·count
    assert(total == Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.getLong(2) == r.getLong(0) * r.getLong(1)))
    spark.catalog.clearCache()
  }

  test("Dedup.contamination equals the gated dd12 audit") {
    val docs = Tables.documents(spark, sf)
    val api = graft.functions.Dedup.contamination(
      docs.filter("doc_id % 50 <> 0"), docs.filter("doc_id % 50 = 0"),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val gated = SparkEntry.queries("dd12_contamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(api == gated)
    assert(api.nonEmpty)
  }

  test("dd15 incremental near-dup admits a subset of dd11's exact-dedup admissions") {
    // an exact duplicate has identical minhash signatures, so it shares
    // every band bucket — near-dup admission is strictly stricter
    val near = SparkEntry.queries("dd15_incremental_neardup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("dd11_incremental_dedup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(near.subsetOf(exact), s"${(near -- exact).size} near-admitted ids not exact-admitted")
    spark.catalog.clearCache()
  }

  test("ss13 IVF-PQ recall rows are well-formed per query vector") {
    val rows = SparkEntry.queries("ss13_ivfpq_recall")(spark, sf).collect()
    assert(rows.length == 5) // one row per query vector (vec_id < 5)
    assert(rows.forall { r =>
      val hits = r.getLong(1)
      hits >= 0 && hits <= 3 && r.getLong(2) == hits * 100 / 3 })
    spark.catalog.clearCache()
  }

  test("tx13 gopher flags: pass is exactly the conjunction of the rules") {
    val rows = SparkEntry.queries("tx13_gopher_rules")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getBoolean(6) ==
      (r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3) &&
        r.getBoolean(4) && r.getBoolean(5))))
  }

  test("sm04 mixture: kept ≤ total per source, global kept near half") {
    val rows = SparkEntry.queries("sm04_mixture_weights")(spark, sf).collect()
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
    val total = rows.map(_.getLong(1)).sum
    val kept = rows.map(_.getLong(2)).sum
    // target mixture is uniform at half the corpus; the hash threshold
    // realizes each source's quota in expectation — allow sampling slack
    assert(kept > total / 4 && kept < 3 * total / 4,
      s"kept $kept of $total is far from the half-corpus target")
  }

  test("cu02 adaptive quality: strictly-above-median keeps under half per source") {
    val kept = SparkEntry.queries("cu02_adaptive_quality")(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty)
    kept.foreach { case (src, k) =>
      assert(2 * k <= sizes(src),
        s"$src keeps $k of ${sizes(src)} — above-median can keep at most half")
    }
  }

  test("tx19 BM25: scores descend, and every hit really contains a query term") {
    val rows = SparkEntry.queries("tx19_bm25")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "not sorted desc")
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 4))
    val hitIds = rows.map(_.getLong(0)).toSet
    val withTerm = Tables.documents(spark, sf)
      .filter("exists(split(lower(text), '\\\\s+'), " +
        "w -> w in ('the', 'data', 'model', 'quick'))")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hitIds.subsetOf(withTerm))
  }

  test("an11 Zipf octaves: contiguous buckets partitioning the vocabulary") {
    val rows = SparkEntry.queries("an11_zipf_octaves")(spark, sf).collect()
      .sortBy(_.getLong(0))
    val octaves = rows.map(_.getLong(0))
    assert(octaves.head == 0 && octaves.sameElements(0L until octaves.length))
    // octave k holds ranks [2^k, 2^(k+1)): at most 2^k types, and every
    // octave except the last is exactly full
    rows.init.foreach(r => assert(r.getLong(1) == (1L << r.getLong(0))))
    assert(rows.last.getLong(1) <= (1L << rows.last.getLong(0)))
    val vocab = Tables.documents(spark, sf)
      .selectExpr("explode(array_distinct(split(lower(text), '\\\\s+'))) as w")
      .distinct().count()
    assert(rows.map(_.getLong(1)).sum == vocab)
    val toks = Tables.documents(spark, sf)
      .selectExpr("size(split(lower(text), '\\\\s+')) as n")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == toks)
  }

  test("an12 constraint audit: checked counts match tables, RI rules are clean") {
    val rows = SparkEntry.queries("an12_constraint_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 7)
    val nDocs = Tables.documents(spark, sf).count()
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows("documents.min_length_200")._1 == nDocs)
    assert(rows("orders.pk_unique")._1 == nOrders)
    // synthetic data is referentially intact and PK-clean
    assert(rows("lineitem.orphan_orderkey")._2 == 0)
    assert(rows("orders.orphan_custkey")._2 == 0)
    assert(rows("orders.pk_unique")._2 == 0)
    // the mixed-language rule must FIRE (audit discrimination)
    val nonEn = Tables.documents(spark, sf).filter("lang <> 'en'").count()
    assert(rows("documents.english_only")._2 == nonEn)
    rows.values.foreach { case (checked, viol) =>
      assert(viol >= 0 && viol <= checked)
    }
  }

  test("sm08 Poisson/HT: kept ≤ docs, HT mass only from kept rows, estimate sane") {
    val rows = SparkEntry.queries("sm08_poisson_ht")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nKept, _, ht) =>
      assert(nKept <= nDocs, s"$src kept more than it has")
      assert((nKept == 0) == (ht == 0L), s"$src HT mass without kept rows")
    }
    val trueTotal = rows.map(_._4).sum
    val htTotal = rows.map(_._5).sum
    // unbiased estimator on a fixed corpus: the realized estimate must
    // land within ±50% of truth (deterministic for this fixture)
    assert(math.abs(htTotal - trueTotal) * 2 <= trueTotal,
      s"HT total $htTotal vs true $trueTotal")
  }

  test("q_scd2 history: contiguous versions, one open row per user, ranges chain") {
    val rows = SparkEntry.queries("q_scd2_history")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (uid, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to sorted.length),
        s"user $uid versions not contiguous")
      assert(sorted.count(_._4.isEmpty) == 1, s"user $uid open rows != 1")
      assert(sorted.last._4.isEmpty, s"user $uid open row is not the latest")
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._4.contains(b._3), s"user $uid ranges don't chain")
      }
    }
  }

  test("ss16 pruned range search equals in-test brute force") {
    val e = Tables.embeddings(spark, sf)
    val pruned = SparkEntry.queries("ss16_range_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q = e.filter("vec_id % 20 = 0")
      .select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding").as("qe"))
    val brute = q.crossJoin(e)
      .filter("vec_id <> q_id")
      .selectExpr("q_id", "vec_id as n_id",
        "aggregate(zip_with(qe, embedding, (x, y) -> " +
          "(cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), " +
          "cast(0 as double), (acc, v) -> acc + v) as d2")
      .filter("d2 <= 1.5625")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == brute)
    assert(pruned.nonEmpty)
  }

  test("an13 drift: χ² term is zero exactly when the halves agree") {
    val rows = SparkEntry.queries("an13_value_drift")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (nRef, nCur, t) = (r.getLong(1), r.getLong(2), r.getDouble(5))
      assert(t >= 0.0)
      assert((t == 0.0) == (nRef == nCur))
    }
    // floor-div ppm shares sum to ≤ 1e6 and within rounding of it
    val s = rows.map(_.getLong(3)).sum
    assert(s <= 1000000L && s > 999000L, s"ref shares sum $s")
  }

  test("q_zorder: z-order bounds both dimensions, linear leaves price unbounded") {
    val rows = SparkEntry.queries("q_zorder_layout")(spark, sf).collect()
    val z = rows.filter(_.getString(0) == "zorder")
    val l = rows.filter(_.getString(0) == "linear")
    assert(z.length == 32 && l.length == 32)
    assert(rows.forall(_.getLong(2) > 0), "empty layout file")
    def meanSpanY(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(4)).sum.toDouble / rs.length
    assert(meanSpanY(z) < meanSpanY(l) / 2,
      f"z-order mean price span ${meanSpanY(z)}%.1f not < half of linear ${meanSpanY(l)}%.1f")
  }

  test("tx21: code verdict fires exactly on the augmented docs") {
    val rows = SparkEntry.queries("tx21_code_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getBoolean(4) == (r.getLong(0) % 4 == 0)))
  }

  test("mm07: aHash is decode-deterministic with a -1-rooted Hamming chain") {
    import graft.multimodal.ImageCodec
    val a = ImageCodec.ahash(7L, ImageCodec.syntheticPng(7L))
    val b = ImageCodec.ahash(7L, ImageCodec.syntheticPng(7L))
    assert(a == b, "aHash not deterministic across decode runs")
    val rows = SparkEntry.queries("mm07_image_ahash")(spark, sf).collect()
    assert(rows.count(_.getLong(5) == -1L) == 1, "exactly one chain root")
    assert(rows.forall(r => r.getLong(5) >= -1L && r.getLong(5) <= 64L))
  }

  test("dd21: containment verdicts honor their own thresholds") {
    val rows = SparkEntry.queries("dd21_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, cab, cba, v) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(a < b)
      assert(cab >= 0 && cab <= 10000 && cba >= 0 && cba <= 10000)
      val expect =
        if (cab >= 8000 && cab >= cba + 2000) "a_in_b"
        else if (cba >= 8000 && cba >= cab + 2000) "b_in_a"
        else "mutual"
      assert(v == expect, s"pair ($a,$b) verdict $v, expected $expect")
    }
    // the prefix augmentation must surface at least one true containment
    assert(rows.exists(_.getString(4) != "mutual"), "no directional verdicts")
    spark.catalog.clearCache()
  }

  test("sm10: Neyman allocation spends within budget and shifts sum ~0") {
    val rows = SparkEntry.queries("sm10_neyman_allocation")(spark, sf).collect()
    assert(rows.nonEmpty)
    val neyman = rows.map(_.getLong(3)).sum
    val prop = rows.map(_.getLong(4)).sum
    assert(neyman <= 1000L && neyman > 1000L - rows.length, s"neyman total $neyman")
    assert(prop <= 1000L && prop > 1000L - rows.length, s"prop total $prop")
    assert(rows.map(_.getLong(5)).sum == neyman - prop)
    assert(rows.forall(_.getLong(2) >= 0L))
  }

  test("an14: funnel stages are ordered and monotone") {
    val rows = SparkEntry.queries("an14_funnel")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getString(1)).toSeq == Seq("view", "click", "purchase"))
    val n = rows.map(_.getLong(2))
    assert(n(0) >= n(1) && n(1) >= n(2), s"funnel not monotone: ${n.toSeq}")
    assert(rows(0).getLong(3) == 1000000L)
    rows.foreach(r => assert(r.getLong(3) == 1000000L * r.getLong(2) / n(0)))
  }

  test("ss18: sweep recall is non-decreasing and probe cost strictly grows") {
    val rows = SparkEntry.queries("ss18_nprobe_sweep")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(1))
    byQ.foreach { case (qid, rs) =>
      val ord = rs.sortBy(_.getLong(0))
      assert(ord.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      val rec = ord.map(_.getLong(4))
      assert(rec(0) <= rec(1) && rec(1) <= rec(2),
        s"recall not monotone for q$qid: ${rec.toSeq}")
      val cost = ord.map(_.getLong(2))
      assert(cost(0) <= cost(1) && cost(1) <= cost(2),
        s"probe cost not monotone for q$qid: ${cost.toSeq}")
      assert(ord.forall(r => r.getLong(3) <= 3))
    }
    spark.catalog.clearCache()
  }

  test("cu09: provenance rows reconcile with dd08 cluster membership") {
    val prov = SparkEntry.queries("cu09_dedup_provenance")(spark, sf).collect()
    val dd08 = SparkEntry.queries("dd08_dedup_clusters")(spark, sf)
      .collect().groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val byKeeper = prov.groupBy(_.getLong(0))
    byKeeper.foreach { case (keeper, rs) =>
      val members = dd08(keeper)
      val nm = rs.head.getLong(1)
      val nd = rs.head.getLong(2)
      assert(rs.forall(r => r.getLong(1) == nm && r.getLong(2) == nd))
      assert(nm == members.size && nd == nm - 1)
      assert(rs.length == math.min(16, nd))
      // drop_rank is 1..min(16, nd), and ranks walk the dropped ids in
      // ascending id order (keeper = cluster min sits at window rank 1)
      val ranked = rs.sortBy(_.getLong(3))
      assert(ranked.map(_.getLong(3)).toSeq == (1L to math.min(16L, nd)))
      val dropped = ranked.map(_.getLong(4)).toSeq
      assert(dropped == dropped.sorted)
      assert(dropped.forall(id => members.contains(id) && id != keeper))
    }
    // every multi-member dd08 cluster has a provenance row
    assert(byKeeper.size == dd08.count(_._2.size > 1))
    spark.catalog.clearCache()
  }

  test("dd26: saved-labels audit is byte-identical to the inline recompute") {
    import graft.operators.DedupOps
    val saved = SparkEntry.queries("dd26_saved_labels_audit")(spark, sf).collect()
    val inline = DedupOps.labelAudit(
      DedupOps.clusterLabels(Tables.documents(spark, sf))).collect()
    assert(saved.toSeq == inline.toSeq)
    // the census reconciles with dd08's clustering
    val sizes = SparkEntry.queries("dd08_dedup_clusters")(spark, sf)
      .collect().groupBy(_.getLong(1)).view.mapValues(_.size).toMap
    val r = saved.head
    assert(r.getLong(0) == sizes.values.sum)          // n_docs
    assert(r.getLong(1) == sizes.size)                // n_clusters
    assert(r.getLong(2) == sizes.count(_._2 > 1))     // n_multi
    assert(r.getLong(3) == r.getLong(0) - r.getLong(1)) // n_dropped
    assert(r.getLong(4) == sizes.values.max)          // max_cluster_size
    spark.catalog.clearCache()
  }

  test("dd27: incremental labels adopt real corpus clusters; is_new is " +
    "exactly dd15's admitted set") {
    import graft.operators.DedupOps
    val rows = SparkEntry.queries("dd27_incremental_labels")(spark, sf).collect()
    val batchIds = Tables.documents(spark, sf)
      .filter("doc_id >= 400").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == batchIds) // every batch doc, once
    val corpusLabels = DedupOps.clusterLabels(
        Tables.documents(spark, sf).filter("doc_id < 400"))
      .collect().map(_.getLong(1)).toSet
    rows.foreach { r =>
      val (id, label, nMatched, isNew) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (isNew == 1) {
        // new singleton: labels itself, touched no corpus cluster
        assert(label == id && nMatched == 0)
      } else {
        // adopted: a real corpus cluster label (< 400 ≤ any batch id),
        // touching at least one and at most 4 (band count) clusters
        assert(corpusLabels.contains(label) && label < 400)
        assert(nMatched >= 1 && nMatched <= 4)
      }
    }
    // the no-shared-bucket condition is dd15's admission: sets must agree
    val admitted = SparkEntry.queries("dd15_incremental_neardup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(rows.filter(_.getLong(3) == 1).map(_.getLong(0)).toSet == admitted)
    spark.catalog.clearCache()
  }

  test("dd27: would-merge branch fires on real positives spanning >= 2 " +
    "distinct corpus clusters") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("dd27_incremental_labels")(spark, sf).collect()
    val wouldMerge = rows.filter(_.getLong(2) >= 2).map(_.getLong(0)).toSet
    // the most interesting branch — incremental merge detection — must be
    // EXERCISED by the fixture, not merely survive it (the r7 "real
    // positives" rule the lateness audits already follow)
    assert(wouldMerge.nonEmpty, "fixture never exercises the would-merge branch")
    // independent recount via a different path: batch bands joined to the
    // CORPUS DOCS sharing a bucket, mapped through the corpus clustering —
    // bypassing dd27's (band, h, label) rollup entirely. Per-bucket members
    // share one label by construction, so the distinct-label count per
    // batch doc must equal dd27's n_matched_clusters exactly.
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter("doc_id < 400")
    val labelOf = DedupOps.clusterLabels(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shared = DedupOps.r1Bands(docs.filter("doc_id >= 400"), "doc_id", "text")
      .select(col("doc_id").as("b_doc"), col("band"), col("h"))
      .join(DedupOps.r1Bands(corpus, "doc_id", "text"), Seq("band", "h"))
      .select("b_doc", "doc_id").collect()
    val labelsPerBatch = shared.groupBy(_.getLong(0)).view
      .mapValues(_.map(r => labelOf(r.getLong(1))).toSet).toMap
    rows.foreach { r =>
      val got = labelsPerBatch.getOrElse(r.getLong(0), Set.empty[Long])
      assert(got.size == r.getLong(2),
        s"doc ${r.getLong(0)}: n_matched_clusters ${r.getLong(2)} != recount ${got.size}")
    }
    // and the would-merge members' matched labels really are >= 2 clusters
    wouldMerge.foreach(id => assert(labelsPerBatch(id).size >= 2))
    spark.catalog.clearCache()
  }

  test("q_incr_merge: merged state equals the from-scratch recompute") {
    val rows = SparkEntry.queries("q_incr_merge")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "incremental merge diverged from recompute")
  }

  test("an15: histogram prediction equals the executed join's cardinality") {
    val rows = SparkEntry.queries("an15_join_cardinality")(spark, sf).collect()
    val byPart = rows.groupBy(_.getString(0))
    val predicted = byPart("total").head.getLong(4)
    val actual = byPart("actual").head.getLong(4)
    assert(predicted == actual, s"predicted $predicted != actual $actual")
    assert(byPart("key").forall(r => r.getLong(4) == r.getLong(2) * r.getLong(3)))
    assert(byPart("key").map(_.getLong(4)).sum <= predicted)
  }

  test("fn11: count vectors reconcile with token counts") {
    val rows = SparkEntry.queries("fn11_count_vector")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      // dense: every doc carries exactly slots 1..16, zeros included
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 16L), s"doc $doc slots")
      // slot counts sum to exactly n_invocab, bounded by all tokens
      assert(rs.map(_.getLong(3)).sum == rs.head.getLong(4), s"doc $doc count sum mismatch")
      assert(rs.head.getLong(4) <= rs.head.getLong(5))
    }
  }

  test("mm08: seeded near-dup images pair at the bottom of the Hamming range") {
    val rows = SparkEntry.queries("mm08_ahash_neardup")(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= 10L))
    // the shared-seed pairs (5k, 5k+1) that band-collide must verify
    val seeded = rows.filter(r =>
      r.getLong(0) % 5 == 0 && r.getLong(1) == r.getLong(0) + 1)
    assert(seeded.nonEmpty, "no seeded perceptual pair surfaced")
    assert(seeded.forall(_.getLong(2) <= 5L),
      "a seeded near-dup pair verified above 5 bits")
    spark.catalog.clearCache()
  }

  test("sm11: execution achieves the sm10 design exactly where strata allow") {
    val alloc = SparkEntry.queries("sm10_neyman_allocation")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val exec = SparkEntry.queries("sm11_neyman_execute")(spark, sf).collect()
    assert(exec.length == alloc.size)
    exec.foreach { r =>
      val (src, allocN, achieved) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (nDocs, design) = alloc(src)
      assert(allocN == design, s"$src: execution disagrees with the design")
      assert(achieved == math.min(allocN, nDocs),
        s"$src: achieved $achieved != min(alloc $allocN, n $nDocs)")
    }
    // rerun stability: the deterministic hash draw yields identical rollups
    val again = SparkEntry.queries("sm11_neyman_execute")(spark, sf).collect()
    assert(exec.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("dd22: S-curve retention is monotone in J and ordered by r") {
    val rows = SparkEntry.queries("dd22_lsh_scurve")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(4)))
    val byCfg = rows.groupBy(_._1)
    assert(byCfg.keySet == Set((8L, 1L), (4L, 2L), (2L, 4L)))
    byCfg.foreach { case (cfg, rs) =>
      val sorted = rs.sortBy(_._2)
      // retention grows with agreement, and full agreement retains all
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq,
        s"$cfg: p_ppm not monotone in m")
      sorted.find(_._2 == 8L).foreach(r => assert(r._3 == 1000000L))
    }
    // at every observed m: higher r = stricter (r=1 ≥ r=2 ≥ r=4)
    rows.groupBy(_._2).foreach { case (m, rs) =>
      val p = rs.map(r => r._1 -> r._3).toMap
      assert(p((8L, 1L)) >= p((4L, 2L)) && p((4L, 2L)) >= p((2L, 4L)),
        s"m=$m: configs not precision-ordered")
    }
    spark.catalog.clearCache()
  }

  test("st09: lateness accounting is internally consistent") {
    val rows = SparkEntry.queries("st09_late_events")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, late, dis) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(late <= n)
      if (dis == 0L) assert(late == 0L, "late events without any disorder")
      if (late > 0L) assert(dis > 1800000000L, "late implies >30min disorder")
    }
  }

  test("st10: loss is non-increasing in watermark delay and vanishes at 2h") {
    val rows = SparkEntry.queries("st10_watermark_curve")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(60L, 300L, 1800L, 7200L))
    val drops = rows.map(_.getLong(1))
    assert(drops.sliding(2).forall(p => p(0) >= p(1)),
      s"loss curve not monotone: ${drops.toSeq}")
    // the augmentation shifts events exactly 2h, so a 2h delay loses none
    assert(drops.last == 0L)
    assert(drops.head > 0L, "augmented late events not visible at 60s delay")
  }

  test("q_cdc_compact: exactly one surviving record per changelog key") {
    val rows = SparkEntry.queries("q_cdc_compact")(spark, sf).collect()
    val keys = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "duplicate key survived compaction")
    val distinctKeys = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type").distinct().count()
    assert(rows.length == distinctKeys)
  }

  test("ss19: Hamming shortlist + rerank rows are well-formed") {
    val rows = SparkEntry.queries("ss19_hamming_rerank")(spark, sf).collect()
    assert(rows.length == 5) // one row per query vector (vec_id < 5)
    assert(rows.forall { r =>
      val (nCand, hMin, hMax, nHit) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      nCand >= 1 && nCand <= 50 && hMin <= hMax && hMax <= 64 &&
        nHit >= 0 && nHit <= 3 && r.getLong(5) == nHit * 100 / 3
    })
  }

  test("tx22: the lowest doc_id is fully novel; ppm stays in range") {
    val rows = SparkEntry.queries("tx22_ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 1000000 &&
      r.getLong(2) <= r.getLong(1)))
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(3) == 1000000) // every hash first appears there
  }

  test("cu10: largest-remainder allocations sum to the budget exactly") {
    val rows = SparkEntry.queries("cu10_token_budget")(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == 100000L)
    assert(rows.forall(r => r.getLong(3) >= 0))
  }

  test("q_file_compaction: bins conserve bytes and respect the sorted-fit bound") {
    val files = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey % 997 as file_id", "cast(l_quantity as bigint) as q")
      .groupBy("file_id")
      .agg(org.apache.spark.sql.functions.expr("count(1) * 64 + sum(q)").as("bytes"))
      .collect()
    val bins = SparkEntry.queries("q_file_compaction")(spark, sf).collect()
    assert(bins.map(_.getLong(2)).sum == files.map(_.getLong(1)).sum)
    assert(bins.map(_.getLong(1)).sum == files.length)
    val maxFile = files.map(_.getLong(1)).max
    assert(bins.forall(_.getLong(2) <= 1048576L + maxFile)) // ≤ one file over target
  }

  test("mm09: VAD segments are disjoint, ordered, and count their frames") {
    val rows = SparkEntry.queries("mm09_vad_segments")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, segs) =>
      val ordered = segs.sortBy(_._2)
      ordered.foreach { case (_, _, s, e, n) =>
        assert(s < e && n <= e - s && n >= 1)
      }
      ordered.sliding(2).foreach {
        case Array((_, _, _, e1, _), (_, _, s2, _, _)) => assert(e1 < s2)
        case _ => ()
      } // gap of ≥ 1 inactive frame between segments (else they'd merge)
    }
  }

  test("ss20: recall is non-decreasing in shortlist size per query") {
    val rows = SparkEntry.queries("ss20_shortlist_sweep")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))) // (q, shortlist, hits)
    assert(rows.length == 15) // 3 arms × 5 queries
    rows.groupBy(_._1).foreach { case (_, arms) =>
      val byC = arms.sortBy(_._2).map(_._3)
      assert(byC.zip(byC.tail).forall { case (a, b) => a <= b },
        s"recall not monotone in shortlist: ${arms.toSeq}")
    }
  }

  test("an16: drift contributions stay within total-variation bounds") {
    val rows = SparkEntry.queries("an16_token_tv_drift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 500000))
  }

  // Registered AFTER the full per-query sweep above (funsuite runs tests
  // in registration order): the persist() sites inside the queries rely
  // on the documented caller contract — bench/verify run
  // spark.catalog.clearCache() between queries — so a full sweep plus one
  // clearCache must leave ZERO persistent RDDs. DataFrame persists are
  // released synchronously by clearCache; localCheckpoint blocks are
  // released by the ContextCleaner once unreachable, hence the bounded
  // GC nudge. A leak here is a cached-RDD growth bug at scale.
  test("cache hygiene: full sweep + clearCache leaves no persistent RDDs") {
    spark.catalog.clearCache()
    System.gc()
    val deadline = System.currentTimeMillis() + 20000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"persistent RDDs survive clearCache + GC: ${leaked.values.map(_.toString).mkString("; ")}")
  }

  test("oracle SQL exists for every oracle-checkable query") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are the documented exceptions: MLlib's MinHash
    // is not DuckDB-expressible and reservoir sampling is seeded
    // engine-locally. op03/q_approx_distinct/an07 graduated to oracled
    // in round 8 (relative-path inventory / KMV / hash-sampled quantiles).
    assert(missing == Set("dd07_mllib_minhash_lsh", "op11b_reservoir_shuffle"))
  }

  test("tx23: readability bands follow the score; augmented docs gain sentences") {
    val rows = SparkEntry.queries("tx23_readability")(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.forall { r =>
      val (w, s, syl, score, band) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))
      val expected = 206835 - (1015 * w) / s - (84600 * math.max(syl, w)) / w
      score == expected &&
        band == (if (score >= 60000) "easy"
                 else if (score >= 30000) "standard" else "difficult") &&
        s >= 1 && syl >= 0 && w >= 1
    })
    // doc_id % 3 == 0 gains ' It is short. It reads well. We like it.' → ≥3 sentences
    assert(rows.filter(_.getLong(0) % 3 == 0).forall(_.getLong(2) >= 3))
  }

  test("an17: KMV estimate is exact under k and within 50% above it") {
    val rows = SparkEntry.queries("an17_kmv_cardinality")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) == 32L))
    rows.foreach { r =>
      val (exact, est, errBp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      if (exact < 32) assert(est == exact, s"sub-k source must fall back: $r")
      // k=32 ⇒ relative stderr ~ 1/√30 ≈ 18%; 50% is a loose 2.7σ bound
      else assert(errBp < 5000, s"KMV est off by ${errBp}bp: $r")
      assert(errBp == math.abs(est - exact) * 10000 / exact)
    }
  }

  test("ss21: full-width arm recalls 100%; truncated arms stay in range") {
    val rows = SparkEntry.queries("ss21_mrl_recall")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(8L, 16L, 32L, 64L))
    val full = rows.find(_.getLong(0) == 64L).get
    assert(full.getLong(1) == 15L && full.getLong(2) == 100L)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 15 &&
      r.getLong(2) == r.getLong(1) * 100 / 15))
    spark.catalog.clearCache()
  }

  test("cu11: phases tile each source evenly; ord is a within-phase permutation") {
    val rows = SparkEntry.queries("cu11_curriculum")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val byPhase = docs.groupBy(_._4)
      assert(byPhase.keySet.forall(p => p >= 1 && p <= 4))
      // ntile: phase sizes differ by at most 1
      val sizes = byPhase.values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"$src phase sizes $sizes")
      // ord is 1..n within each phase
      byPhase.foreach { case (_, members) =>
        assert(members.map(_._5).sorted.toSeq == (1L to members.size).toSeq)
      }
      // phases are contiguous score tiers under (score, doc_id) order
      val ordered = byPhase.toSeq.sortBy(_._1)
      val ord = Ordering.Tuple2[Long, Long]
      ordered.sliding(2).foreach {
        case Seq((_, lo), (_, hi)) =>
          assert(ord.lteq(lo.map(d => (d._3, d._1)).max(ord),
            hi.map(d => (d._3, d._1)).min(ord)))
        case _ => ()
      }
    }
  }

  test("q_mor_deletes: per-file counts conserve; verdict follows the threshold") {
    val rows = SparkEntry.queries("q_mor_deletes")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (n, del, live, ppm, rewrite) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
      n == del + live && ppm == 1000000L * live / n &&
        rewrite == (1000000L * del / n > 100000L)
    })
    // totals reconcile with the corpus and the 15%-ish delete rate
    val total = rows.map(_.getLong(1)).sum
    val deleted = rows.map(_.getLong(2)).sum
    assert(total == Tables.orders(spark, sf).count())
    assert(deleted > total / 10 && deleted < total / 5)
  }

  test("sm12: bootstrap CI brackets the sample mean with sane widths") {
    val rows = SparkEntry.queries("sm12_bootstrap_ci")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mean, lo, hi, w) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lo <= hi && w == hi - lo, s"CI malformed: $r")
      // the point estimate lies inside (or at) the 94% interval
      assert(mean >= lo && mean <= hi, s"mean outside CI: $r")
      assert(n > 0 && w >= 0)
    }
  }

  test("mm10: downmix stats match the closed form recomputed in Scala") {
    val rows = SparkEntry.queries("mm10_stereo_downmix")(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val id = r.getLong(0)
      val n = 100 + (id % 32).toInt
      val mono = (0 until n).map(i =>
        ((id * 7 + 13 * i) % 256 + (id * 11 + 17 * i) % 256) / 2)
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == mono.max)
      assert(r.getLong(3) == mono.map(v => v * v).sum)
      assert(r.getLong(4) == 1000000L * 255 / mono.max)
    }
  }

  test("dd23: same-variant augmented docs pair at Hamming 0; all pairs verified") {
    val rows = SparkEntry.queries("dd23_passage_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.forall(r => r._1 < r._3 && r._5 >= 0 && r._5 <= 3))
    // sf0.001 augmented docs: ids 0,5,...,45; same doc_id % 7 ⇒ identical
    // appended passage ⇒ a Hamming-0 pair (buckets are far below the cap)
    val augmented = (0L until 50L by 5).toSeq
    val expectPairs = for {
      a <- augmented; b <- augmented
      if a < b && a % 7 == b % 7
    } yield (a, b)
    expectPairs.foreach { case (a, b) =>
      assert(rows.exists(r => r._1 == a && r._3 == b && r._5 == 0),
        s"missing Hamming-0 passage pair ($a, $b)")
    }
    spark.catalog.clearCache()
  }

  test("an18: KS statistic is a valid ppm; every source is audited") {
    val rows = SparkEntry.queries("an18_ks_drift")(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 1000000))
    // finite corpora always separate somewhere: max D > 0 for some source
    assert(rows.exists(_.getLong(2) > 0))
  }

  test("cu13: dataset card metrics are complete, bounded, and dd01-consistent") {
    val rows = SparkEntry.queries("cu13_dataset_card")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("n_docs", "n_tokens", "n_chars", "lang_en_ppm",
      "quality_ppm", "exact_dup_ppm", "pii_ppm", "code_ppm"))
    val n = Tables.documents(spark, sf).count()
    assert(rows("n_docs") == n)
    assert(rows("n_tokens") > 0 && rows("n_chars") > rows("n_tokens"))
    Seq("lang_en_ppm", "quality_ppm", "exact_dup_ppm", "pii_ppm", "code_ppm")
      .foreach(m => assert(rows(m) >= 0 && rows(m) <= 1000000, m))
    // exact_dup_ppm agrees with dd01 (one row per digest keeper)
    val keepers = SparkEntry.queries("dd01_exact_dedup")(spark, sf).count()
    assert(rows("exact_dup_ppm") == 1000000L * (n - keepers) / n)
  }

  test("sm13: user-atomic split partitions users; test side never crosses") {
    val rows = SparkEntry.queries("sm13_temporal_split")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("train", "test"))
    val ev = Tables.events(spark, sf)
    assert(rows("train")._1 + rows("test")._1 ==
      ev.select("user_id").distinct().count())
    assert(rows("train")._2 + rows("test")._2 == ev.count())
    assert(rows("test")._3 == 0, "test users predate the cutoff?")
    assert(rows("train")._3 > 0, "no future events reported for train users")
  }

  test("ss22: staleness audit covers both eras; verdict follows the threshold") {
    val rows = SparkEntry.queries("ss22_index_staleness")(spark, sf).collect()
    val e = Tables.embeddings(spark, sf)
    assert(rows.map(_.getLong(1)).sum == e.filter("vec_id % 2 = 0").count())
    assert(rows.map(_.getLong(2)).sum == e.filter("vec_id % 2 = 1").count())
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000)
      assert(r.getBoolean(4) == (r.getLong(3) > 20000), s"verdict drift: $r")
    }
    spark.catalog.clearCache()
  }

  test("dd24: CDC chunks tile every document contiguously") {
    val rows = SparkEntry.queries("dd24_cdc_chunks")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lens = Tables.documents(spark, sf)
      .selectExpr("doc_id", "cast(length(text) as bigint) as n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == lens.keySet, "every doc chunks")
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 1, s"doc $id first chunk not at pos 1")
      // exact contiguity: only the final empty-tail chunk is ever
      // dropped and it never consumes an ordinal, so the surviving
      // ordinals are exactly 0..n-1 (a disjunction on max was vacuous)
      assert(sorted.map(_._2).toSeq == (0L until sorted.size).toSeq,
        s"doc $id ordinal gap")
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 + a._4 == b._3, s"doc $id gap at chunk ${b._2}")
        case _ => ()
      }
      assert(sorted.map(_._4).sum == lens(id), s"doc $id chunks don't cover text")
    }
  }

  test("ss23: ranking metrics are internally consistent per query") {
    val rows = SparkEntry.queries("ss23_ranking_metrics")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (nRel, hits5, prec, rec, mrr) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(hits5 <= math.min(5L, nRel))
      assert(prec == hits5 * 100 / 5)
      assert(rec == (if (nRel == 0) 0L else hits5 * 100 / nRel))
      assert(mrr >= 0 && mrr <= 1000000)
      if (hits5 > 0) assert(mrr >= 1000000 / 5, "a top-5 hit bounds MRR below")
    }
  }

  test("q_csv_roundtrip: text round-trip loses nothing vs direct parquet") {
    val viaCsv = SparkEntry.queries("q_csv_roundtrip")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val direct = Tables.events(spark, sf)
      .selectExpr("event_type", "value", "unix_micros(ts) as ts_us", "props")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.expr(Portable.dsum("value")).as("v"),
        org.apache.spark.sql.functions.expr("cast(min(ts_us) as bigint)").as("first_us"),
        org.apache.spark.sql.functions.expr("cast(max(ts_us) as bigint)").as("last_us"),
        org.apache.spark.sql.functions.expr("cast(sum(length(props)) as bigint)").as("pc"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(viaCsv == direct)
  }

  test("KMV estimator arithmetic is exact in the former overflow zone") {
    // kth in (2^63/(k-1), 2^60) made the old quot/rem split overflow —
    // small-vocabulary sources land exactly there. The wide-decimal
    // single divide must match BigInt math at both k values.
    val cases = Seq(435846811221257031L, 900000000000000017L, 1L << 59)
    cases.foreach { kth =>
      val got32 = spark.sql(
        "select cast(cast('35740566642812256256' as decimal(38,0)) " +
          s"div ${kth}L as bigint) as e").head().getLong(0)
      assert(got32 == (BigInt(31) * (BigInt(1) << 60) / kth).toLong, s"k=32 kth=$kth")
      val got16 = spark.sql(
        "select cast(cast('17293822569102704640' as decimal(38,0)) " +
          s"div ${kth}L as bigint) as e").head().getLong(0)
      assert(got16 == (BigInt(15) * (BigInt(1) << 60) / kth).toLong, s"k=16 kth=$kth")
    }
  }

  test("an19: merged KMV sketch always equals the from-scratch sketch") {
    val rows = SparkEntry.queries("an19_kmv_merge")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"sketch merge lost information: $r")
      assert(r.getLong(1) == r.getLong(2))
    }
    // merged estimates agree with an17's single-pass estimates
    val an17 = SparkEntry.queries("an17_kmv_cardinality")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    rows.foreach(r => assert(r.getLong(2) == an17(r.getString(0)),
      s"full sketch drifted from an17 for ${r.getString(0)}"))
    spark.catalog.clearCache()
  }

  test("mm11: dHash matches a direct Scala recompute through the codec") {
    val rows = SparkEntry.queries("mm11_image_dhash")(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val id = r.getLong(0)
      val f = graft.multimodal.ImageCodec.dhash(id,
        graft.multimodal.ImageCodec.syntheticPng(id))
      assert(r.getLong(3) == f.dhash_lo && r.getLong(4) == f.dhash_hi)
    }
    // chain starts undefined, then stays within 0..64 bits
    val sorted = rows.sortBy(_.getLong(0))
    assert(sorted.head.getLong(5) == -1)
    assert(sorted.tail.forall(r => r.getLong(5) >= 0 && r.getLong(5) <= 64))
  }

  test("cu14: per-source cards roll up to cu13's corpus totals") {
    val cards = SparkEntry.queries("cu14_source_cards")(spark, sf).collect()
    val global = SparkEntry.queries("cu13_dataset_card")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cards.nonEmpty)
    assert(cards.map(_.getLong(1)).sum == global("n_docs"))
    assert(cards.map(_.getLong(2)).sum == global("n_tokens"))
    assert(cards.map(_.getLong(3)).sum == global("n_chars"))
    cards.foreach(r => (4 to 8).foreach(i =>
      assert(r.getLong(i) >= 0 && r.getLong(i) <= 1000000)))
  }

  test("dd25: chunk-store accounting reconciles with dd24's chunk rows") {
    val row = SparkEntry.queries("dd25_chunk_dedup")(spark, sf).head()
    val chunks = SparkEntry.queries("dd24_cdc_chunks")(spark, sf).collect()
      .map(r => (r.getLong(4), r.getLong(3)))
    assert(row.getLong(0) == chunks.length)
    assert(row.getLong(1) == chunks.map(_._1).distinct.length)
    assert(row.getLong(2) == chunks.map(_._2).sum)
    assert(row.getLong(3) <= row.getLong(2))
    assert(row.getLong(4) == 1000000L * (row.getLong(2) - row.getLong(3)) / row.getLong(2))
  }

  test("st14: KMV window estimates are exact under k and within 60% above it") {
    val rows = SparkEntry.queries("st14_window_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, users, est) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(users <= n)
      if (users < 16) assert(est == users, s"sub-k window must be exact: $r")
      // k=16 ⇒ relative stderr ~ 1/√14 ≈ 27%; 60% is a loose ~2.2σ bound
      else assert(math.abs(est - users) * 10 <= users * 6,
        s"KMV window estimate off: $r")
    }
  }

  test("ss24: filtered-ANN accounting is consistent; candidates bound hits") {
    val rows = SparkEntry.queries("ss24_filtered_ann")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (nRel, nCand, nHit, recall) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nCand <= nRel, "filtered candidates can't exceed the label cohort")
      assert(nHit <= math.min(3L, nCand), s"hits bounded by candidates: $r")
      val truthSize = math.min(3L, nRel)
      assert(truthSize > 0 && recall == nHit * 100 / truthSize)
    }
    spark.catalog.clearCache()
  }

  test("cu12: funnel conserves rows and chains stage outputs") {
    val rows = SparkEntry.queries("cu12_curation_funnel")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSeq == Seq("quality", "exact_dedup", "near_dup"))
    rows.foreach(r =>
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4), s"conservation: $r"))
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a.getLong(3) == b.getLong(2), "stage chain broken")
      case _ => ()
    }
    // stage 1 rows_in = corpus size; final rows_out = cu01's kept count
    assert(rows.head.getLong(2) == Tables.documents(spark, sf).count())
    val kept = SparkEntry.queries("cu01_curation_ledger")(spark, sf)
      .filter("kept").count()
    assert(rows.last.getLong(3) == kept)
    spark.catalog.clearCache()
  }

  test("q_jsonl_roundtrip: JSONL round-trip loses nothing vs direct parquet") {
    val viaJson = SparkEntry.queries("q_jsonl_roundtrip")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val direct = Tables.events(spark, sf)
      .selectExpr("event_type", "value", "unix_micros(ts) as ts_us", "props")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.expr(Portable.dsum("value")).as("v"),
        org.apache.spark.sql.functions.expr("cast(min(ts_us) as bigint)").as("first_us"),
        org.apache.spark.sql.functions.expr("cast(max(ts_us) as bigint)").as("last_us"),
        org.apache.spark.sql.functions.expr("cast(sum(length(props)) as bigint)").as("pc"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(viaJson == direct)
  }

  test("an20: CMS estimates are one-sided and exact counts match a recount") {
    val rows = SparkEntry.queries("an20_cms_frequency")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    assert(rows.map(_._1).distinct.length == 20)
    rows.foreach { case (tok, nExact, nEst, over) =>
      // CMS error is strictly one-sided: collisions only ever ADD mass
      assert(nEst >= nExact, s"$tok: estimate below truth")
      assert(over == nEst - nExact, s"$tok: overcount column inconsistent")
    }
    // the top-20 exact counts agree with an independent recount
    val recount = Tables.documents(spark, sf)
      .selectExpr("explode(split(lower(text), '\\\\s+')) as w")
      .groupBy("w").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("w"))
      .limit(20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(t => t._1 -> t._2).toMap == recount)
    spark.catalog.clearCache()
  }

  test("an22: quantile sketch REALLY samples (k < group size, nonzero " +
    "error somewhere), estimates are attainable values, and the " +
    "degenerate k >= n branch is exact") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("an22_sample_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    val valuesBySrc = Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    rows.foreach { r =>
      val (src, nDocs, k) = (r.getString(0), r.getLong(1), r.getLong(2))
      val vals = valuesBySrc(src)
      assert(nDocs == vals.length)
      assert(k == math.min(16L, nDocs))
      assert(k < nDocs, s"$src: sampling branch not exercised (k == n_docs)")
      // estimates are members of the source's value multiset
      assert(vals.contains(r.getLong(3)) && vals.contains(r.getLong(5)))
      // the exact side matches a by-hand positional-rank recompute
      assert(r.getLong(4) == vals(((nDocs + 1) / 2).toInt - 1), s"$src p50")
      assert(r.getLong(6) == vals(((9 * nDocs + 9) / 10).toInt - 1), s"$src p90")
    }
    // real positives: the sample disagrees with the truth SOMEWHERE
    assert(rows.exists(r => r.getLong(7) + r.getLong(8) > 0),
      "every estimate exact — sampling not actually stressed")
    // degenerate branch (k >= every group size): est ≡ exact, err ≡ 0
    val exact = graft.plans.AnalysisQueries
      .sampleQuantiles(Tables.documents(spark, sf), k = 1000).collect()
    exact.foreach { r =>
      assert(r.getLong(2) == r.getLong(1)) // k collapses to n_docs
      assert(r.getLong(3) == r.getLong(4) && r.getLong(5) == r.getLong(6))
      assert(r.getLong(7) == 0 && r.getLong(8) == 0)
    }
    spark.catalog.clearCache()
  }

  test("an23: merged quantile samples estimate identically to the " +
    "full-build sample, and the full side IS an22's estimate") {
    val rows = SparkEntry.queries("an23_quantile_merge")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(4)
        && r.getBoolean(5), s"${r.getString(0)}: merge diverged from full build")
    }
    // cross-query consistency: an23's full-build sample is the same k=16
    // hash-cut an22 estimates from, so the numbers must be identical
    val an22 = SparkEntry.queries("an22_sample_quantiles")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(5))).toMap
    rows.foreach { r =>
      assert(an22(r.getString(0)) == ((r.getLong(2), r.getLong(4))),
        s"${r.getString(0)}: an23 full-build != an22 estimate")
    }
    spark.catalog.clearCache()
  }

  test("an21: cell-wise-added shard grids estimate identically to the " +
    "full-build grid, and estimates agree with an20") {
    val rows = SparkEntry.queries("an21_cms_merge")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == 20)
    // the merge law itself: every probe token agrees merged-vs-full
    rows.foreach { case (tok, em, ef, m) =>
      assert(em == ef && m, s"$tok: merged grid diverged from full build")
    }
    // cross-query consistency: the full-build estimates ARE an20's
    // estimates (same grid parameters, same hash salt, same top-20)
    val an20 = SparkEntry.queries("an20_cms_frequency")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.foreach { case (tok, _, ef, _) =>
      assert(an20(tok) == ef, s"$tok: an21 full-build estimate != an20")
    }
    spark.catalog.clearCache()
  }
}
