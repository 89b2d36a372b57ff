package graft.tools

import graft.metrics.StageMetricsListener
import org.apache.spark.sql.functions._

/** sf1-equivalent smoke for the heavy query family (VERDICT r5 #7): all
  * SCALE.md evidence is sf0.1, so the linearity claims are unstressed.
  * No sf1 fixture exists, so this derives one from sf0.1: documents and
  * embeddings replicated `copies`× with remapped ids, text mapped
  * through a per-copy alphabet permutation and embedding dimensions
  * sign-flipped by a per-(copy, dim) hash. The substitution keeps each copy's ORGANIC
  * near-dup structure intact while making cross-copy shingles/planes
  * distinct — i.e. 10× the data carries 10× the structure, instead of
  * turning every document into a 10-way near-dup flood (which the flood
  * fixture already covers separately).
  *
  *   sbt 'runMain graft.tools.ScaleSmoke [sfDir] [copies] [q1,q2,...]'
  *
  * Appends a measured section to SCALE.md: per heavy query, shuffle
  * write, spill, wall time, and the ratio vs the sf0.1 run — linear
  * plans should land ≈ copies× on shuffle bytes with ZERO spill.
  *
  * The optional third argument selects a SUBSET of the audited queries
  * for a deeper-multiplier arm (VERDICT r15 #3: e.g. copies=100 for the
  * flood-sensitive exports) — subset runs write their own
  * `## Derived Nx subset smoke` section with wall ratios alongside the
  * shuffle ratios, and never disturb the main fixture section.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val subset: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = graft.Session.local(8)

    val dir = java.nio.file.Files.createTempDirectory("graft-scale-smoke").toString
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = graft.Tables.documents(spark, sfDir)
    val embs = graft.Tables.embeddings(spark, sfDir)

    // copy c: ids offset into disjoint ranges; letters mapped through a
    // deterministic pseudorandom PERMUTATION of the alphabet
    // (Fisher-Yates seeded by c; copy 0 is the identity) so shingle/
    // minhash/winnow content is copy-distinct but structurally identical
    // within the copy. Previously a rotate-by-c, which WRAPS at 26: a
    // 100x fixture then carried genuine whole-corpus 4-way duplication
    // (copies 0/26/52/78 byte-identical text under fresh ids) and the
    // dd21 subset arm measured that flood, not the plan (282x shuffle at
    // 100x — honest work on dishonest data). 26! permutations never wrap.
    val bigDocs = (0 until copies).map { c =>
      val perm =
        if (c == 0) alpha
        else new scala.util.Random(c).shuffle(alpha.toList).mkString
      docs.select(
        (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), alpha, perm).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    bigDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // copy c: flip each embedding dimension's sign by a per-(copy, dim)
    // hash — an orthogonal transform, so every within-copy dot product
    // (and thus the copy's whole near-dup structure) is preserved
    // EXACTLY, while cross-copy cosines collapse to ~Σ±v_i²/‖v‖²≈0.
    // (A first cut added a common per-copy offset: that pulled all of a
    // copy's vectors toward the offset direction and inflated ss10's
    // true-pair count 382×. A second cut rotated coordinates: the
    // synthetic embeddings are smooth across dimensions, so lagged
    // copies of the same vector stayed correlated — 5× extra pairs.
    // Sign flips are the orthogonal transform with no autocorrelation
    // escape hatch.)
    // labels offset per copy: the Nx corpus carries Nx CELLS of the
    // original size — the SemDeDup k∝N contract ss25's linearity claim
    // rests on (a fixed cell count at Nx rows would be the flood case,
    // not the contract; no other smoke query reads labels — ss10 is
    // SRP-keyed, an22/st15 ride documents/events)
    val bigEmbs = (0 until copies).map { c =>
      embs.select(
        (col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> " +
          s"float(x * (1 - 2 * pmod(xxhash64($c, i), 2))))").as("embedding"),
        (col("label") + lit(c * 10)).as("label"))
    }.reduce(_ unionAll _)
    bigEmbs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // copy c: event/user ids offset into disjoint ranges (so the sample
    // keys — salted event-id hashes — are copy-distinct), timestamps
    // KEPT — the windows stay the same and each holds copies× the
    // events, which is exactly the stress st15's "sample stays ≤ k
    // rows/window at any corpus size" claim needs
    val evs = graft.Tables.events(spark, sfDir)
    val bigEvs = (0 until copies).map { c =>
      evs.select(
        (col("event_id") + lit(c.toLong * 10000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c.toLong * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    bigEvs.write.mode("overwrite").parquet(s"$dir/events.parquet")

    // heavy family per VERDICT r5 #7; (name, claim-to-stress)
    val audited = Seq(
      "dd04_lsh_candidate_pairs" -> "banding volume linear in docs",
      "dd08_dedup_clusters" -> "CC shuffles (id,label) longs only",
      "tx12_winnow_overlap" -> "worst shuffle/scan ratio stays linear",
      "cu01_curation_ledger" -> "one-plan ledger, signals share a scan",
      "ss10_srp_neardup" -> "sign codes born in scan; capped banding",
      "cu03_full_ledger" -> "full ledger: signal exchanges scale with rows, not text",
      "dd15_incremental_neardup" -> "anti-join: corpus side stays a distinct-key set",
      "dd18_dup_spans" -> "stride-1 window hashes linear in tokens; no pair stage",
      "sm06_fluency_buckets" -> "bigram-LM aggs linear; one tercile window of longs",
      "dd20_soft_weights" -> "CC + one count window: (id, label) longs only",
      "cu08_cluster_split" -> "CC + scan-local split hash: no new exchange",
      "dd21_containment" -> "capped candidates; verify ships (doc_id, sng) longs (broadcast forced OFF on both legs, so the ratio is linear-vs-linear)",
      "dd23_passage_neardup" -> "passage banding stays bucket-capped under cross-copy shared boilerplate (the augmented passage is copy-invariant by construction — a deliberate flood)",
      "cu13_dataset_card" -> "one scan + one map-side global agg: output is 8 rows at ANY corpus size",
      "dd16_cluster_stats" -> "CC family: size histogram rides (id, label) longs; rounds stay flat (see CC section)",
      "cu09_dedup_provenance" -> "CC family: provenance window ships (id, label, rank) longs; drops capped at 16/keeper",
      "an20_cms_frequency" -> "CMS counters cap at d·w=2048 cells; shuffle scales with vocab (the count frame), never corpus tokens",
      "dd26_saved_labels_audit" -> "pays the one-time cluster+write at Nx; the audit-alone scan is label-table-sized (cluster-once subsection below)",
      "dd27_incremental_labels" -> "batch grows ~Nx while corpus stays copy-0: wall flat, shuffle stays bucket-rollup-sized (the corpus label table broadcasts; batch text never shuffles)",
      "an21_cms_merge" -> "two shard grids + cell-wise merge: exchanges stay ≤ 2·d·w cells regardless of corpus",
      "an22_sample_quantiles" -> "the (source, value, hash) frame scales linearly; samples stay k rows/source, so estimate work is corpus-size-free",
      "an23_quantile_merge" -> "each side cuts to ≤ k rows/source BEFORE the merge: the merge exchange is ≤ 2k rows/source at any corpus size",
      "st15_window_quantiles" -> "same windows, Nx events each: the (window, value, hash) frame scales linearly; the sample cut stays ≤ k rows/window",
      "ss25_semdedup_cells" -> "SemDeDup k∝N contract: per-copy labels give Nx CELLS of constant size, so within-cell pair work and shuffle stay ≈ Nx, never quadratic; broadcast forced OFF on both legs (the 1x leg's cell-keyed pair join fits the threshold once the assignment went scan-local — r17), so the ratio is linear-vs-linear",
      "st16_stream_semdedup" -> "sequential (streaming-twin) fold: all 4 levels reuse ONE persisted assignment, kept/within-batch joins stay cell-bounded — same k∝N linearity as ss25 with batch boundaries in the plan",
      "ss29_bitext_margin" -> "A×B never forms: the per-copy labels give Nx cells, so cross-side pair volume (the dominant shuffle) stays ≈ Nx under the k∝N contract — mining cost linear in the corpus; broadcast forced OFF on both legs (the 1x leg's joins all fit the threshold once the assignment stopped exploding — r17), so the ratio is linear-vs-linear",
      "sm13_temporal_split" -> "entity-scale median rides the distributed Ordinal (r12's one scale-killer, fixed r13): shuffle tracks the per-user frame ≈ Nx, no single-partition window anywhere",
      "an11_zipf_octaves" -> "vocab rank rides Ordinal on -freq: shuffle tracks the (copy-permuted, ~Nx) vocab frame; octave rollup ≤ 64 rows at any corpus",
      "an18_ks_drift" -> "corpus CDF rides withGlobalPrefixSum: exchanges track the sources × values grid, the per-source CDFs stay source-partitioned",
      "cu15_equal_mass_shards" -> "the prefix sum runs over EVERY document: shuffle must scale ≈ Nx in (doc_id, n_chars) longs with zero spill — the corpus-frame stress of the r13 primitive",
      "sm14_priority_sample" -> "TakeOrdered selection: shuffle stays ≈ FLAT at Nx (k+1 rows per partition partial, never the corpus) — the constant-communication claim, measured",
      "cu16_equal_mass_export" -> "physical sharded export: TWO corpus-byte exchanges by design — the assignment→text join plus the terminal shard_id placement; broadcast forced OFF on both legs (a 100 TB assignment table cannot broadcast), so the ratio is linear-vs-linear; writer-task skew is bounded by the assignment's <1-max-doc mass deviation",
      "cu17_curriculum_export" -> "ordered export: TWO corpus-byte exchanges by design — the assignment→text join plus the sort-within-shard placement (ExternalSorter merges spilled runs, no in-memory shard); broadcast forced OFF on both legs (a 100 TB assignment table cannot broadcast), so the ratio is linear-vs-linear",
      "cu19_sequence_packing" -> "the prefix sum runs over EVERY document and the seq rollup over corpus_tokens/2048 keys: shuffle must scale ≈ Nx in longs with zero spill — no single-partition window anywhere",
      "sm15_epoch_shuffle" -> "3 whole-corpus permutation ranks on the distributed Ordinal: shuffle must scale ≈ Nx in (hash, doc_id) longs with zero spill — the epoch-order claim is bit-reproducibility, not locality",
      "cu20_epoch_ordered_export" -> "epoch-ordered export: one Ordinal rank pass in longs plus the terminal sort-within-shard exchange carrying the corpus bytes ONCE — wall and shuffle must scale ≈ Nx like cu17, with the permutation (not the curriculum) as the placement key",
      "fn14_wmt_ingest" -> "the composed GNMT text chain (r17): ONE bucket exchange carrying the token-id arrays, reused by the batch-max window (plan-pinned) — shuffle ≈ Nx with zero spill; the vocab rollup ships (word, count) longs only")
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    // claim-column suffix naming the CC path each leg took
    def ccPaths(cc1: Int, ccN: Int): String =
      (for (a <- ShuffleAudit.ccPath(cc1); b <- ShuffleAudit.ccPath(ccN))
        yield s" (CC path 1x: $a; ${copies}x: $b)").getOrElse("")
    def fmt(b: Long): String =
      if (b >= (1L << 20)) f"${b / 1048576.0}%.1f MiB"
      else if (b >= 1024) f"${b / 1024.0}%.1f KiB" else s"$b B"

    // (shuffleWrite, spill, wall, rows, ccRounds) — ccRounds is the
    // star-round count when the query drove connectedComponents, else -1.
    // `shufflePartitions` sizes the leg's reduce side (None = the
    // harness default 8): the deep-multiplier subset arm scales it with
    // the fixture so sort spill reflects the PLAN, not an 8-partition
    // harness sorting 100x frames (VERDICT r16 #4 — AQE can COALESCE an
    // over-provisioned shuffle but never split an under-provisioned
    // non-skewed one, and no 100 TB cluster runs 8 reducers; shuffle
    // BYTES are partition-count-independent, so the linearity ratios
    // stay like-for-like).
    def run(name: String, d: String,
        shufflePartitions: Option[Int] = None): (Long, Long, Double, Long, Int) = {
      val q = byName(name)
      // dd21: at 1x the exploded shingle-hash frame fits the broadcast
      // threshold, hiding the verify join's true volume from TaskMetrics
      // — r9 published a 579x broadcast-vs-shuffle artifact with a
      // caveat paragraph. Force the exchange on BOTH legs (the
      // PlanQualitySpec q_bucket_join pattern) so the row measures
      // linear-vs-linear. cu17 is the same class at deep multipliers
      // (r16): its assignment→text join broadcasts at 1x but cannot at
      // Nx (or on a real cluster at 100 TB), so the unforced 100x ratio
      // read ≈ 2N — the honest at-scale constant is TWO corpus-byte
      // exchanges (assignment join + placement sort), measured
      // linear-vs-linear with the broadcast off.
      // ss29/ss25 joined the list in r17: once semDedupAssign stopped
      // paying the exploded-frame exchange, the 1x legs' remaining
      // cell-keyed pair joins fit the broadcast threshold (ss29's
      // unforced ratio read ≈ 534x, ss25's ≈ 15.5x) — the same
      // broadcast-vs-shuffle artifact, one stage later
      val forceShuffle =
        name == "dd21_containment" || name == "cu17_curriculum_export" ||
          name == "cu16_equal_mass_export" || name == "ss29_bitext_margin" ||
          name == "ss25_semdedup_cells"
      val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      shufflePartitions.foreach(p =>
        spark.conf.set("spark.sql.shuffle.partitions", p.toString))
      if (forceShuffle) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      }
      try {
        // ONE execution per leg (ADVICE r16): the row count rides the
        // measured noop materialization as an Observation (a CollectMetrics
        // node — per-partition count partials, no exchange), instead of a
        // separate untimed count() leg that re-ran the whole query — for
        // the export queries that leg performed the full side-effecting
        // export a second time (doubling 100x-fixture runtime), and its
        // differently-pruned plan was not the one being measured. The
        // count now describes EXACTLY the measured plan; wall times are
        // single-pass (no warm-up leg), identically on both fixtures, so
        // the Nx/1x ratios stay like-for-like.
        val obs = org.apache.spark.sql.Observation()
        val l = new StageMetricsListener
        graft.functions.Dedup.lastCcRounds = -1
        graft.operators.SimilarityOps.lastCellStats = None
        val t0 = System.nanoTime()
        l.collect(spark) {
          q.fn(spark, d).observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val rows = obs.get("rows").asInstanceOf[Long]
        spark.sharedState.cacheManager.clearCache()
        (l.shuffleWriteBytes, l.spillBytes, dt, rows,
          graft.functions.Dedup.lastCcRounds)
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        if (forceShuffle) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        }
      }
    }

    // Deep-multiplier subset arm (VERDICT r15 #3): the selected queries
    // only, with WALL ratios recorded beside the shuffle ratios — the
    // claim at 100x is 'wall and shuffle ≈ Nx; spill acceptable and
    // recorded, superlinear wall is not'. Writes its own SCALE.md
    // section; the main fixture section is untouched.
    if (subset.isDefined) {
      val picked = audited.filter { case (n, _) => subset.get(n) }
      require(picked.nonEmpty,
        s"no audited query matches: ${subset.get.mkString(",")}")
      // reduce-side sizing ∝ the fixture (min the harness default): the
      // 1x leg keeps 8; the Nx leg gets 8·copies/10 (e.g. 80 at 100x) —
      // cluster-honest partition provisioning (AQE coalesces over-
      // provisioned exchanges; an 8-reducer sort of a 100x frame spills
      // by HARNESS construction, not by plan — VERDICT r16 #4)
      val nxParts = math.max(8, 8 * copies / 10)
      val sb = new StringBuilder
      sb ++= s"\n## Derived ${copies}x subset smoke (" +
        picked.map(_._1).mkString(", ") + ")\n\n"
      sb ++= s"Same fixture derivation as the main section, at ${copies}x, on\n"
      sb ++= "the flood-sensitive queries only. Linear plans must hold wall AND\n"
      sb ++= "shuffle ≈ Nx; spill is acceptable (the ordered exports sort via\n"
      sb ++= "ExternalSorter's spilled merge runs by design) and recorded.\n"
      sb ++= s"Reduce partitions are sized with the data (8 at 1x, $nxParts at\n"
      sb ++= s"${copies}x) — the cluster-honest provisioning a fixed-8 harness\n"
      sb ++= "cannot imitate: AQE can coalesce an over-provisioned shuffle but\n"
      sb ++= "never split an under-provisioned non-skewed sort, so a fixed\n"
      sb ++= "reducer count at Nx measures harness memory pressure, not the\n"
      sb ++= "plan. Logical shuffle volume is partition-count-independent, but\n"
      sb ++= "the PHYSICAL bytes carry a granularity penalty at higher reducer\n"
      sb ++= "counts (more, smaller lz4 blocks compress worse — dd21's 100x\n"
      sb ++= "leg writes 3.28 GiB at 8 reducers vs 4.47 GiB at 80, same plan,\n"
      sb ++= "same rows), so byte ratios here can overshoot Nx by up to ~1.35x\n"
      sb ++= "where the 1x leg's blocks are large; row ratios and spill are the\n"
      sb ++= "granularity-free signals. Each leg executes ONCE —\n"
      sb ++= "the row count rides the measured noop run as an Observation.\n\n"
      sb ++= s"| query | rows 1x/${copies}x | shuffle 1x | shuffle ${copies}x " +
        s"| shuffle ratio | spill ${copies}x | wall 1x | wall ${copies}x " +
        "| wall ratio | claim |\n"
      sb ++= "|---|---|---|---|---|---|---|---|---|---|\n"
      picked.foreach { case (name, claim) =>
        val (s1, _, dt1, r1, cc1) = run(name, sfDir)
        val (sN, spN, dtN, rN, ccN) = run(name, dir, Some(nxParts))
        val sRatio = if (s1 > 0) f"${sN.toDouble / s1}%.1fx" else "n/a"
        val wRatio = if (dt1 > 0) f"${dtN / dt1}%.1fx" else "n/a"
        sb ++= s"| $name | $r1 / $rN | ${fmt(s1)} | ${fmt(sN)} | $sRatio " +
          f"| ${fmt(spN)} | $dt1%.1f s | $dtN%.1f s | $wRatio " +
          s"| $claim${ccPaths(cc1, ccN)} |\n"
        println(f"$name subset done: ${fmt(sN)} shuffle, ${fmt(spN)} spill, " +
          f"$dtN%.1f s ($wRatio wall)")
      }
      writeSection(sb.toString, subsetKind = true)
      println(s"appended ${picked.size}-query ${copies}x subset section to SCALE.md")
      spark.stop()
      return
    }

    val sb = new StringBuilder
    sb ++= s"\n## Derived ${copies}x fixture (sf0.1 replicated, copy-permuted text, sign-flipped embeddings)\n\n"
    sb ++= s"${copies}× the documents/embeddings/events of sf0.1 with per-copy\n"
    sb ++= "character-permuted text, per-(copy, dim) sign-flipped embeddings, and\n"
    sb ++= "id-offset events on the SAME timestamps (same windows, copies× the\n"
    sb ++= "events each) — organic near-dup structure preserved per copy, no\n"
    sb ++= "cross-copy floods. Linear plans\n"
    sb ++= s"must scale shuffle ≈ ${copies}× with zero spill.\n\n"
    sb ++= "| query | rows 1x/" + copies + "x | shuffle 1x | shuffle " + copies +
      "x | ratio | spill | wall " + copies + "x | claim |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    // CC round-count flatness: (query, rounds at 1x, rounds at Nx,
    // wall at 1x, wall at Nx) for queries that drove connectedComponents
    val ccRounds = scala.collection.mutable.ArrayBuffer[(String, Int, Int, Double, Double)]()
    // SemDeDup cell geometry per fixture: (cells, maxCell, meanCell,
    // hotFlagged) captured from the ss25 runs' hot-cell telemetry
    val semGeo = scala.collection.mutable.Map[String, (Long, Long, Double, Boolean)]()
    audited.foreach { case (name, claim) =>
      val (s1, _, dt1, r1, cc1) = run(name, sfDir)
      if (name == "ss25_semdedup_cells")
        graft.operators.SimilarityOps.lastCellStats.foreach { case (c, mx, mn) =>
          semGeo("1x") = (c, mx, mn, graft.operators.SimilarityOps.lastHotCellFlagged)
        }
      val (sN, spN, dtN, rN, ccN) = run(name, dir)
      if (name == "ss25_semdedup_cells")
        graft.operators.SimilarityOps.lastCellStats.foreach { case (c, mx, mn) =>
          semGeo(s"${copies}x") = (c, mx, mn, graft.operators.SimilarityOps.lastHotCellFlagged)
        }
      if (cc1 >= 0 && ccN >= 0) ccRounds += ((name, cc1, ccN, dt1, dtN))
      val ratio = if (s1 > 0) f"${sN.toDouble / s1}%.1f" + "x" else "n/a"
      sb ++= s"| $name | $r1 / $rN | ${fmt(s1)} | ${fmt(sN)} | $ratio " +
        f"| ${fmt(spN)} | $dtN%.1f s | $claim${ccPaths(cc1, ccN)} |\n"
      println(s"$name done: ${fmt(sN)} shuffle, ${fmt(spN)} spill")
    }
    // Diameter-independence, measured: alternating large-star/small-star
    // converges in ~log n rounds, so 10× the data must NOT mean 10× the
    // rounds — flat-ish round counts (±1) and sub-linear wall growth are
    // the evidence the CC claim rests on.
    sb ++= s"\n### CC round-count flatness (star rounds, 1x vs ${copies}x)\n\n"
    sb ++= "0 rounds: the edge set fit spark.sql.autoBroadcastJoinThreshold\n"
    sb ++= "(16 B/edge) and the driver finished it with union-find.\n\n"
    sb ++= "| query | rounds 1x | rounds " + copies + "x | wall 1x | wall " +
      copies + "x |\n|---|---|---|---|---|\n"
    ccRounds.foreach { case (name, c1, cN, d1, dN) =>
      sb ++= f"| $name | $c1 | $cN | $d1%.1f s | $dN%.1f s |\n"
    }

    // SemDeDup cell geometry (ss25's k∝N contract, measured): the Nx
    // fixture offsets labels per copy, so the codebook carries Nx cells
    // — max cell size must stay ≈ flat (per-cell quadratic work is then
    // constant per cell and linear in the corpus) and the hot-cell guard
    // must stay quiet. A flat cell count with Nx max would be the flood
    // case the guard exists to flag.
    sb ++= s"\n### SemDeDup cell geometry (ss25): k∝N keeps cells constant-size\n\n"
    sb ++= "| fixture | cells | mean cell | max cell | max/mean | hot-cell flag |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    Seq("1x", s"${copies}x").foreach { fx =>
      semGeo.get(fx).foreach { case (c, mx, mn, hot) =>
        sb ++= f"| $fx | $c | $mn%.1f | $mx | ${mx / mn}%.2fx | $hot |\n"
      }
    }
    semGeo.get("1x").zip(semGeo.get(s"${copies}x")).foreach {
      case ((c1, mx1, _, _), (cN, mxN, _, _)) =>
        sb ++= f"\nCells grew ${cN.toDouble / c1}%.1fx while the max cell moved " +
          f"${mxN.toDouble / mx1}%.2fx — within-cell pair work per cell is " +
          "corpus-size-free under the contract, so the pair stage scales " +
          "with the cell COUNT (linear), never the corpus squared.\n"
    }

    // Cluster-once at Nx (dd26's claim): labels persisted once, then the
    // audit ALONE measured — its scan bytes must track the label table
    // (16 B/doc of longs), not the corpus text, at any corpus size.
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(p))
    }
    def auditAlone(docsDir: String): (Long, Long, Long) = {
      val lp = java.nio.file.Files.createTempDirectory("graft-smoke-labels").toString
      graft.operators.DedupOps.clusterLabels(graft.Tables.documents(spark, docsDir))
        .write.mode("overwrite").parquet(lp)
      val l = new StageMetricsListener
      l.collect(spark) {
        graft.operators.DedupOps.labelAudit(spark.read.parquet(lp)).count(): Unit
      }
      (dirBytes(lp), l.inputBytes, dirBytes(s"$docsDir/documents.parquet"))
    }
    val (lb1, as1, cb1) = auditAlone(sfDir)
    val (lbN, asN, cbN) = auditAlone(dir)
    sb ++= s"\n### Cluster-once at ${copies}x: the audit reads labels, not corpus\n\n"
    sb ++= "| fixture | corpus parquet | label table | audit scan | scan/corpus |\n"
    sb ++= "|---|---|---|---|---|\n"
    sb ++= f"| 1x | ${fmt(cb1)} | ${fmt(lb1)} | ${fmt(as1)} | ${as1.toDouble / cb1}%.4f |\n"
    sb ++= f"| ${copies}x | ${fmt(cbN)} | ${fmt(lbN)} | ${fmt(asN)} | ${asN.toDouble / cbN}%.4f |\n"
    sb ++= s"\nAt ${copies}x the audit's scan grows with the label table " +
      "(longs/doc), and its corpus fraction shrinks — repeat audits never " +
      "pay corpus-scan cost again.\n"

    // Incremental SemDeDup ingest at Nx (ss26's API path, dd27's
    // lifecycle): the corpus (copy-0 vec_id < 400 — FIXED across
    // fixtures) is deduplicated once and its kept ledger saved; each
    // ingest then admits the batch against the saved reps. The Nx
    // fixture's copies all offset vec_id by ≥ 10M, so the batch grows
    // ~Nx while the corpus side stays the same kept table — ingest
    // shuffle/wall must track the BATCH, never the corpus. (The fixed
    // k=10 codebook means batch cells grow with the batch — the k∝N
    // telemetry for THAT lives in the ss25 geometry section; production
    // retrains the codebook as the corpus absorbs batches.)
    graft.functions.CosineSimilarity.register(spark)
    val incCorpus = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 400)
    val incCent = graft.operators.SimilarityOps.trainedCentroids(incCorpus)
    val keptPath = java.nio.file.Files.createTempDirectory("graft-smoke-kept").toString
    graft.functions.Similarity
      .semDedupCells(incCorpus.select("vec_id", "embedding"), incCent)
      .filter(col("keep_flag") === 1).select("vec_id", "cell")
      .join(incCorpus.select("vec_id", "embedding"), Seq("vec_id"))
      .write.mode("overwrite").parquet(keptPath)
    spark.sharedState.cacheManager.clearCache()
    def ingestAlone(embDir: String): (Long, Long, Long, Double) = {
      val batch = graft.Tables.embeddings(spark, embDir)
        .select("vec_id", "embedding").filter(col("vec_id") >= 400)
      val kept = spark.read.parquet(keptPath)
      val l = new StageMetricsListener
      val t0 = System.nanoTime()
      var admitted = 0L
      var rows = 0L
      l.collect(spark) {
        val ledger = graft.functions.Similarity
          .semDedupIncrement(kept, batch, incCent)
        val agg = ledger.agg(count(lit(1)), sum("keep_flag")).collect()(0)
        rows = agg.getLong(0); admitted = agg.getLong(1)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      (rows, admitted, l.shuffleWriteBytes, dt)
    }
    val (ib1, ia1, ish1, iw1) = ingestAlone(sfDir)
    val (ibN, iaN, ishN, iwN) = ingestAlone(dir)
    sb ++= s"\n### Incremental SemDeDup at ${copies}x (ss26): ingest pays for the batch, not the corpus\n\n"
    sb ++= "| fixture | batch rows | admitted | kept corpus reps | ingest shuffle | wall |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    val keptRows = spark.read.parquet(keptPath).count()
    sb ++= f"| 1x | $ib1 | $ia1 | $keptRows | ${fmt(ish1)} | $iw1%.1f s |\n"
    sb ++= f"| ${copies}x | $ibN | $iaN | $keptRows | ${fmt(ishN)} | $iwN%.1f s |\n"
    sb ++= f"\nThe batch grew ${ibN.toDouble / ib1}%.1fx and ingest shuffle moved " +
      f"${ishN.toDouble / math.max(ish1, 1L)}%.1fx — the corpus enters only as its " +
      s"$keptRows saved reps (identical in both rows), so re-admitting " +
      "tomorrow's batch never re-pays yesterday's corpus.\n"

    // CMS cell cap (an20/an21's claim): the materialized grid is ≤ d·w
    // cells no matter how big the corpus gets — the whole point of the
    // sketch. Measured by counting distinct (row, bucket) cells.
    def cmsCells(d: String): Long = graft.Tables.documents(spark, d)
      .selectExpr("explode(split(lower(text), '\\\\s+')) as w")
      .distinct()
      .selectExpr("w", "explode(array(0, 1, 2, 3)) as r")
      .selectExpr("r",
        s"${graft.Portable.hash60("concat('cms', cast(r as string), '|', w)")} % 512 as b")
      .distinct().count()
    val (cells1, cellsN) = (cmsCells(sfDir), cmsCells(dir))
    sb ++= s"\n### CMS grid cell count (an20/an21): capped at d*w = 2048\n\n"
    sb ++= s"| fixture | occupied cells | cap |\n|---|---|---|\n"
    sb ++= s"| 1x | $cells1 | 2048 |\n| ${copies}x | $cellsN | 2048 |\n"
    assert(cells1 <= 2048 && cellsN <= 2048,
      s"CMS grid exceeded d*w cells: $cells1 / $cellsN")

    sb ++= "\nFixture caveats (artifacts of the derivation, not the plans):\n"
    sb ++= "ss10's super-10× rows/shuffle are CROSS-COPY tail pairs — at dim 64\n"
    sb ++= "any orthogonal decorrelation leaves cosine spread ~1/√64 ≈ 0.125, so\n"
    sb ++= "cross-copy images of the same vector clear the 0.3 verify threshold\n"
    sb ++= "~1% of the time; shuffle stays proportional to (organic + tail) pair\n"
    sb ++= "volume with zero spill, which is the linearity claim. tx12/dd04's few-%\n"
    sb ++= "row deviations are cross-copy k-gram collisions of the permuted tiny\n"
    sb ++= "vocabulary (tx12 +) and merged buckets crossing the 64 cap (dd04 −).\n"
    sb ++= "dd21 runs with broadcast joins forced off on BOTH legs, so its ratio\n"
    sb ++= "is a true linear-vs-linear exchange measurement (r9's 579× row was a\n"
    sb ++= "broadcast-vs-shuffle artifact of the 1x leg fitting the threshold).\n"

    writeSection(sb.toString, subsetKind = false)
    println(s"appended ${audited.size}-query smoke section to SCALE.md")
    spark.stop()
  }

  /** Replace THIS kind's previous `## Derived …` section in SCALE.md
    * (main fixture vs subset smoke), leaving the other kind's section —
    * and everything else — intact, then append the new section.
    */
  private def writeSection(section: String, subsetKind: Boolean): Unit = {
    val scalePath = java.nio.file.Paths.get("SCALE.md")
    val existing = if (java.nio.file.Files.exists(scalePath))
      java.nio.file.Files.readString(scalePath) else ""
    java.nio.file.Files.writeString(scalePath,
      spliceSection(existing, section, subsetKind))
  }

  /** Pure splice rule (spec-pinned — a regression here silently destroys
    * committed measurement evidence): drop only the same-kind `## Derived`
    * section(s), keep the audit base and the other kind verbatim, append
    * the new section at the end. Kind is decided by the section's HEADER
    * LINE alone (ADVICE r16): a contains() over the whole body would
    * misclassify a main-fixture section whose prose merely MENTIONS the
    * subset smoke — the phrase already appears in ShuffleAudit claim text
    * — and silently delete or duplicate committed evidence.
    */
  private[tools] def spliceSection(existing: String, section: String,
      subsetKind: Boolean): String = {
    val keep = existing.split("(?=\n## Derived )").filterNot { p =>
      p.startsWith("\n## Derived ") && {
        val header = p.drop(1).takeWhile(_ != '\n')
        val isSubset = header.matches("## Derived \\d+x subset smoke\\b.*")
        if (subsetKind) isSubset else !isSubset
      }
    }
    keep.mkString + section
  }
}
