package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Emits PLANS.md — formatted physical plans of the headline queries at a
  * given scale factor, as reviewable evidence of plan quality (pushdown,
  * broadcast choice, single-shuffle aggregation, WSCG spans). Each plan
  * goes through [[Probe.normalizePlan]] before it is cut, so regenerating
  * an unchanged plan gives an empty diff.
  *
  *   sbt 'runMain graft.tools.DumpPlans [sfDir] [outFile]'
  */
object DumpPlans {

  private val headline = Seq(
    "op01_scan_pushdown", "q1_pricing_summary", "q3_top_revenue_orders",
    "q5_nation_revenue", "q6_forecast_revenue", "q10_returned_customers",
    "q_window_topn", "q_asof_join",
    "dd01_exact_dedup", "dd04_lsh_candidate_pairs", "ss01_topk_cosine",
    "st01_window_agg",
    // round-2 reworked plans: sharded shuffle window, block-join near-dup,
    // distributed zip ordinal, real-codec decode
    "op11_shuffle", "ss03_embed_neardup", "op18_zip", "mm03_image_decode",
    // round-2 additions: banded simhash pairing, nprobe=2 IVF, TF-IDF,
    // salted + Bloom + partition-pruned relational paths, sampling
    "dd10_simhash_neardup", "ss05_ann_nprobe2", "tx07_tfidf", "tx08_chunk_pack",
    "q_salted_join", "q_partition_prune", "sm01_stratified_sample",
    "st04_stream_enrich", "dd12_contamination", "q_running_total",
    "fn09_json_extract", "ss06_quantize_int8",
    // round-3 additions: capped LSH banding, r=2 band keys, star-edge
    // clustering, WAV decode, native grouping-sets
    "dd08_dedup_clusters", "dd13_lsh_r2", "mm05_wav_decode",
    "q_grouping_sets_ds", "tx10_repetition",
    // round-5 additions: PQ-ADC quantized ANN + recall, SRP-LSH near-dup,
    // semantic dedup, the one-plan curation ledger, zero-shuffle winnowing
    "ss09_pq_recall", "ss10_srp_neardup", "dd14_semantic_dedup",
    "cu01_curation_ledger", "tx11_winnow_fingerprints",
    // round-6 additions: gopher rule flags (pure scan projection),
    // mixture rebalance (broadcast ppm, fact never shuffles), adaptive
    // per-source median threshold (one exchange, two windows)
    "tx13_gopher_rules", "sm04_mixture_weights", "cu02_adaptive_quality",
    "ss12_semantic_contamination", "ss13_ivfpq_recall", "st05_first_touch",
    "dd15_incremental_neardup", "cu03_full_ledger",
    // round-7 additions: DSIR weights (token stream never shuffles),
    // PII redaction (pure scan projection), passage boilerplate flags
    "sm05_dsir_weights", "tx17_pii_redact", "dd17_passage_boilerplate",
    "dd18_dup_spans", "cu04_quality_keeper", "cu05_domain_filter",
    "sm06_fluency_buckets", "tx18_trigram_backoff", "ss14_jl_recall",
    "cu06_classifier_filter", "q_bucket_join",
    // round-7 additions: broadcast-codebook Lloyd k-means, exact token
    // heavy hitters, temperature mixture, per-event running totals,
    // video keyframe-seek sampling
    "ss15_kmeans_lloyd", "an10_heavy_hitters", "sm07_temperature_mix",
    "st06_running_total", "mm06_frame_sample",
    // round-7 additions: BM25 sparse retrieval, Zipf octave profile,
    // declarative data-quality audit
    "tx19_bm25", "an11_zipf_octaves", "an12_constraint_audit",
    // round-7 additions: PPS sampling + HT accounting, SCD2 history,
    // exact pruned range search, sliding windows, interval anti-join
    "sm08_poisson_ht", "q_scd2_history", "ss16_range_search",
    "st07_sliding_window", "st08_abandoned_clicks",
    // round-7 additions: mojibake repair (scan projection), URL-keyed
    // dedup, dedup-aware temperature rebalance
    "tx20_mojibake_repair", "dd19_url_dedup", "cu07_mixture_rebalance",
    // round-7 additions: soft-dedup weights, cluster-atomic split, RRF
    // hybrid retrieval, universe sampling, drift audit, Z-order layout,
    // code detection, perceptual image hash
    "dd20_soft_weights", "cu08_cluster_split", "ss17_rrf_hybrid",
    "sm09_universe_sample", "an13_value_drift", "q_zorder_layout",
    "tx21_code_detect", "mm07_image_ahash", "dd21_containment",
    "sm10_neyman_allocation", "an14_funnel", "st09_late_events",
    "ss18_nprobe_sweep", "cu09_dedup_provenance", "q_incr_merge",
    "fn11_count_vector", "an15_join_cardinality", "mm08_ahash_neardup",
    "sm11_neyman_execute", "dd22_lsh_scurve", "st10_watermark_curve",
    "q_cdc_compact",
    // binary-quantization ANN + shortlist sweep, n-gram novelty,
    // streaming dedup ledger, native session windows, VAD segments,
    // token-budget apportionment, compaction planner, token drift
    "ss19_hamming_rerank", "ss20_shortlist_sweep", "tx22_ngram_novelty",
    "st11_stream_dedup", "st12_session_window", "mm09_vad_segments",
    "cu10_token_budget", "q_file_compaction", "an16_token_tv_drift",
    // MRL truncation recall, KMV cardinality, KS source drift,
    // readability, curriculum, curation funnel, bootstrap CI,
    // MoR delete audit, stereo downmix, passage near-dup, windowed top-k
    "ss21_mrl_recall", "an17_kmv_cardinality", "an18_ks_drift",
    "tx23_readability", "cu11_curriculum", "cu12_curation_funnel",
    "sm12_bootstrap_ci", "q_mor_deletes", "mm10_stereo_downmix",
    "dd23_passage_neardup", "st13_window_topk",
    // dataset card, CDC chunking, index staleness, temporal split,
    // retrieval eval metrics, CSV round-trip
    "cu13_dataset_card", "dd24_cdc_chunks", "ss22_index_staleness",
    "sm13_temporal_split", "ss23_ranking_metrics", "q_csv_roundtrip",
    "an19_kmv_merge", "mm11_image_dhash", "cu14_source_cards",
    "dd25_chunk_dedup", "tx25_nfc_normalize", "st14_window_distinct",
    "ss24_filtered_ann", "dd26_saved_labels_audit", "dd27_incremental_labels",
    "q_approx_distinct", "an07_approx_profile",
    // round-8 additions: CMS frequency sketch, JSONL round-trip
    "an20_cms_frequency", "q_jsonl_roundtrip",
    // round-9: gated CMS merge law + mergeable quantile sketch pair
    "an21_cms_merge", "an22_sample_quantiles", "an23_quantile_merge",
    // round-10: ORC round-trip (columnar landing format), windowed
    // quantile sample (st15 — the streaming twin's batch rendering)
    "q_orc_roundtrip", "st15_window_quantiles",
    // round-12: cluster-scoped SemDeDup — the pinned plan must show the
    // broadcast codebook feeding one scored assignment pass and a
    // cell-keyed exchange into the within-cell pair join — and its
    // incremental-ingest twin (kept reps only on the corpus side)
    "ss25_semdedup_cells", "ss26_semdedup_increment",
    // the τ sweep must show ONE pair join feeding a partial-agg'd max
    // and a broadcast τ grid; the geometry pre-flight must show NO pair
    // join at all — just the broadcast-scored assignment and a rollup
    "ss27_semdedup_tau_sweep", "ss28_cell_geometry",
    // the sequential (streaming-twin) fold must show one reused
    // persisted assignment feeding every level — never a re-scored scan
    // per batch — with cell-keyed exchanges only
    "st16_stream_semdedup",
    // round-13: equal-mass export sharding — the pinned plan must show
    // the corpus-frame running total riding the bucketed prefix sum
    // (partitioned window over _ord_b + broadcast offsets), with NO
    // single-partition WindowExec over the document frame
    "cu15_equal_mass_shards",
    // round-13: priority sampling — the pinned plan must show
    // TakeOrderedAndProject doing the selection (never a global sort or
    // an unbounded window) with the rank window confined to the 51-row
    // limited frame; since r14 τ rides the SAME limited frame (one
    // TakeOrdered subtree over one scan — no second scan for τ)
    "sm14_priority_sample",
    // round-14: the physical equal-mass export — the pinned plan must
    // show the read-back rollup over the real shard files (no global
    // sort; the only corpus-frame machinery is cu15's bucketed prefix
    // sum inside the write, which runs before this plan's scan)
    "cu16_equal_mass_export",
    // round-14: the curriculum-ORDERED export — same read-back rollup
    // shape; the write's ordering rides repartitionAndSortWithinPartitions
    // (no global sort, no unpartitioned window anywhere)
    "cu17_curriculum_export",
    // round-15: the export-manifest audit — a trivial manifest read, but
    // every gated query carries the full four-artifact contract (oracle +
    // ShuffleAudit row + plan pin + README row), so it pins uniformly
    // (VERDICT r14 #5); the plan must stay a driver-built local scan of
    // numShards manifest rows — corpus bytes move only inside the write
    "cu18_export_manifest",
    // round-15: the epoch-ORDERED export — the pinned plan must show the
    // read-back rollup over the real shard files with ONE scan (the
    // single-pass audit convention); inside the write, the permutation
    // rank rides the bucketed Ordinal and placement rides
    // repartitionAndSortWithinPartitions — no global sort, no
    // single-partition row_number anywhere
    "cu20_epoch_ordered_export",
    // round-14: sequence packing — the pinned plan must show the
    // corpus token total riding the bucketed prefix sum (partitioned
    // _ord_b window + broadcast offsets) with both rollups map-side
    // partial-aggregated; NO single-partition WindowExec over documents
    "cu19_sequence_packing",
    // round-14: deterministic epoch shuffle — the pinned plan must show
    // each epoch's rank riding the bucketed Ordinal (partitioned _ord_b
    // windows + broadcast offsets), three union branches, no
    // single-partition row_number anywhere
    "sm15_epoch_shuffle",
    // round-17: the two composed ingest chains — fn14's pinned plan must
    // show ONE corpus scan, the broadcast vocab array join, and the
    // batch-max window REUSING the bucketing exchange (no second corpus
    // shuffle — also asserted structurally in PlanQualitySpec); mm13 is
    // partition-local maps end-to-end (no exchange at all)
    "fn14_wmt_ingest", "mm13_ssd_ingest",
    // bitext mining must show the cell-keyed (never A×B) pair join and
    // per-vector rank windows over the one persisted pair frame
    "ss29_bitext_margin",
    // the TFRecord round-trip must show the shard scan (size-balanced
    // bins of shards, one bin per task) feeding the decode flatMap — no
    // exchange before the agg
    "q_tfrecord_roundtrip", "fn12_tfexample_roundtrip",
    "mm12_imagenet_ingest", "fn13_varlen_roundtrip",
    // round-16: deterministic reservoir — the pinned plan must show
    // stream-sharded position windows (never a single-partition
    // row_number), the hash draw + slot filter INSIDE the scan-side
    // projection, and the max_by rollup partial-aggregating map-side
    "op11c_reservoir_det")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.Session.local(8)

    val sb = new StringBuilder
    sb ++= s"# Physical plans (headline queries, $sfDir)\n\n"
    sb ++= "Generated by `graft.tools.DumpPlans`. Things to check per plan:\n"
    sb ++= "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning), join\n"
    sb ++= "strategy (broadcast for dims, shuffle for fact-fact), partial→final\n"
    sb ++= "aggregation around a single Exchange, and WholeStageCodegen spans.\n"
    headline.foreach { name =>
      // run the frame's own execution so its adaptive plan is the final one
      val qe = Probe.execute(spark, graft.SparkEntry.queries(name)(spark, sfDir))
      sb ++= s"\n## $name\n\n```\n"
      sb ++= Probe.normalizePlan(qe.explainString(FormattedMode)).take(6000)
      sb ++= "\n```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out (${headline.size} plans)")
    spark.stop()
  }
}
