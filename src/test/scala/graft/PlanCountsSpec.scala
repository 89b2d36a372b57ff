package graft

import graft.SparkTestSession.{sf, spark}
import graft.operators.DedupPlanCountsSpec
import graft.tools.Probe
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.SeqMap

/** Drift-proof plan counts for every registered query whose counts repeat:
  * its Spark job count and shuffle-write bytes at sf0.001 on local[4],
  * measured through `Probe.measure` (build and noop materialization under
  * one listener).
  *
  * Counts repeat exactly at a fixed sf and core count however busy the
  * host is, so they are the evidence for a structural change. A change
  * that must keep every plan leaves these rows as they are; a change that
  * is meant to move a plan updates its rows and says why. A new query
  * gets a row. The dedup family's rows run as
  * `graft.operators.DedupPlanCountsSpec`.
  */
object PlanCountsSpec {
  private def pin(jobs: Int, bytes: Long): (Int, Option[Long]) = (jobs, Some(bytes))

  /** A query whose shuffle-write bytes do not repeat between runs of
    * unchanged code (its job count does).
    */
  private def jobsOnly(jobs: Int): (Int, Option[Long]) = (jobs, None)

  /** Queries whose job count does not repeat between runs of unchanged
    * code either; they have no row.
    */
  val unpinned: Set[String] = Set("ss08_ivf_recall", "ss21_mrl_recall")

  /** query → (jobs, shuffle-write bytes), in registration order. */
  val pins: SeqMap[String, (Int, Option[Long])] = SeqMap(
    "op01_scan_pushdown" -> pin(1, 0L),
    "op02_source_text" -> pin(1, 0L),
    "op03_list_files" -> pin(4, 251L),
    "op04_range_source" -> pin(1, 0L),
    "op05_interleave" -> pin(2, 1541L),
    "op06_map_derived" -> pin(1, 0L),
    "op07_filter_predicate" -> pin(1, 0L),
    "op08_batch" -> pin(2, 71927L),
    "op08b_batch_drop_remainder" -> pin(2, 71927L),
    "op09_padded_batch" -> pin(2, 61185L),
    "op10_map_and_batch" -> pin(2, 21109L),
    "op11_shuffle" -> pin(2, 8842L),
    "op11b_reservoir_shuffle" -> pin(2, 1775L),
    "op11c_reservoir_det" -> pin(2, 68699L),
    "op12_repeat" -> pin(1, 0L),
    "op13_take" -> pin(1, 0L),
    "op14_skip" -> pin(1, 0L),
    "op15_shard" -> pin(1, 0L),
    "op16_cache_reuse" -> pin(5, 360L),
    "op17_prefetch_noop" -> pin(1, 0L),
    "op18_zip" -> pin(14, 4540L),
    "op18b_zip_string" -> pin(16, 4748L),
    "op19_concatenate" -> pin(1, 0L),
    "op20_flat_map_echo" -> pin(1, 0L),
    "op20b_echo_bernoulli" -> pin(1, 0L),
    "op21_unbatch" -> pin(2, 2198L),
    "op22_group_by_window" -> pin(2, 4800L),
    "op23_choose_from" -> pin(1, 0L),
    "op26_restructure" -> pin(1, 0L),
    "q1_pricing_summary" -> pin(2, 713L),
    "q3_top_revenue_orders" -> pin(4, 2927L),
    "q5_nation_revenue" -> pin(7, 338L),
    "q6_forecast_revenue" -> pin(2, 86L),
    "q4_priority_semijoin" -> pin(3, 266L),
    "q_antijoin_orders" -> pin(3, 213L),
    "q_distinct_profile" -> pin(3, 2574L),
    "q_approx_distinct" -> pin(8, 4091L),
    "q_window_topn" -> pin(2, 6739L),
    "q10_returned_customers" -> pin(5, 5389L),
    "q_asof_join" -> pin(2, 8428L),
    "q_bloom_prefilter" -> pin(5, 5959L),
    "q_rollup_totals" -> pin(2, 608L),
    "q_salted_join" -> pin(3, 377L),
    "q_partition_prune" -> pin(4, 199L),
    "q_csv_roundtrip" -> pin(3, 470L),
    "q_jsonl_roundtrip" -> pin(3, 470L),
    "q_orc_roundtrip" -> pin(3, 470L),
    "q_tfrecord_roundtrip" -> pin(4, 88744L),
    "q_cube_totals" -> pin(2, 686L),
    "q_pivot_counts" -> pin(3, 2778L),
    "q_running_total" -> pin(2, 38892L),
    "q_setops" -> pin(4, 1647L),
    "q_grouping_sets" -> pin(2, 352L),
    "q_grouping_sets_ds" -> pin(2, 352L),
    "q_bucket_join" -> pin(5, 2539L),
    "q_scd2_history" -> pin(2, 21068L),
    "q_zorder_layout" -> pin(4, 24095L),
    "q_incr_merge" -> pin(5, 1124L),
    "q_cdc_compact" -> pin(2, 2542L),
    "q_file_compaction" -> pin(10, 42842L),
    "q_mor_deletes" -> pin(3, 4502L),
    "fn01_parse_fields" -> pin(1, 0L),
    "fn02_tokenize_hashbucket" -> pin(1, 0L),
    "fn03_vocab_lookup" -> pin(3, 0L),
    "fn04_control_flow" -> pin(1, 0L),
    "fn05_vector_math" -> pin(1, 0L),
    "fn06_string_ops" -> pin(1, 0L),
    "fn07_sos_eos_tokens" -> pin(1, 0L),
    "fn08_tensor_shaping" -> pin(2, 3709L),
    "fn09_json_extract" -> pin(2, 306L),
    "fn10_feature_hash" -> pin(1, 0L),
    "fn11_count_vector" -> pin(5, 175966L),
    "fn12_tfexample_roundtrip" -> pin(3, 337L),
    "fn13_varlen_roundtrip" -> pin(2, 0L),
    "fn14_wmt_ingest" -> pin(4, 16536L),
    "tx01_langid" -> pin(1, 0L),
    "tx02_quality_score" -> pin(1, 0L),
    "tx03_token_stats" -> pin(1, 0L),
    "tx05_quality_filter" -> pin(1, 0L),
    "tx04_fingerprint" -> pin(1, 0L),
    "tx06_top_ngrams" -> pin(2, 283502L),
    "tx07_tfidf" -> pin(7, 179430L),
    "tx08_chunk_pack" -> pin(1, 0L),
    "tx09_vocab_coverage" -> pin(6, 1765L),
    "tx10_repetition" -> pin(3, 166188L),
    "tx11_winnow_fingerprints" -> pin(2, 87721L),
    "tx12_winnow_overlap" -> pin(4, 984566L),
    "tx13_gopher_rules" -> pin(2, 87721L),
    "tx14_lang_mismatch" -> pin(2, 2150L),
    "tx15_doc_packing" -> pin(2, 7308L),
    "tx16_bigram_fluency" -> pin(10, 172398L),
    "tx18_trigram_backoff" -> pin(13, 585371L),
    "tx17_pii_redact" -> pin(1, 0L),
    "tx19_bm25" -> pin(8, 19219L),
    "tx20_mojibake_repair" -> pin(1, 0L),
    "tx21_code_detect" -> pin(1, 0L),
    "tx22_ngram_novelty" -> pin(7, 381071L),
    "tx23_readability" -> pin(1, 0L),
    "tx25_nfc_normalize" -> pin(1, 0L),
    "dd01_exact_dedup" -> pin(2, 8972L),
    "dd02_dedup_subset" -> pin(2, 2325L),
    "dd03_minhash_signatures" -> pin(2, 87721L),
    "dd04_lsh_candidate_pairs" -> pin(8, 166553L),
    "dd05_simhash" -> pin(2, 87721L),
    "dd06_ngram_jaccard" -> pin(15, 181365L),
    "dd08_dedup_clusters" -> pin(9, 133506L),
    "dd09_signature_jaccard" -> pin(8, 254017L),
    "dd10_simhash_neardup" -> pin(8, 157399L),
    "dd11_incremental_dedup" -> pin(2, 0L),
    "dd12_contamination" -> pin(7, 96067L),
    "dd13_lsh_r2" -> pin(8, 159896L),
    "dd15_incremental_neardup" -> pin(10, 111786L),
    "dd16_cluster_stats" -> pin(11, 135745L),
    "dd17_passage_boilerplate" -> pin(5, 95989L),
    "dd18_dup_spans" -> pin(7, 367058L),
    "dd19_url_dedup" -> pin(3, 14925L),
    "dd21_containment" -> pin(15, 83785L),
    "dd22_lsh_scurve" -> pin(9, 216840L),
    "dd20_soft_weights" -> pin(10, 138710L),
    "dd23_passage_neardup" -> pin(7, 607528L),
    "dd24_cdc_chunks" -> pin(2, 87721L),
    "dd25_chunk_dedup" -> pin(4, 127386L),
    "dd26_saved_labels_audit" -> pin(13, 135566L),
    "dd27_incremental_labels" -> pin(18, 149413L),
    "dd07_mllib_minhash_lsh" -> pin(5, 75083L),
    "ss01_topk_cosine" -> pin(3, 536L),
    "ss02_ann_ivf" -> pin(11, 140645L),
    "ss03_embed_neardup" -> pin(2, 0L),
    "ss04_label_centroids" -> pin(2, 840L),
    "ss05_ann_nprobe2" -> pin(11, 140644L),
    "ss06_quantize_int8" -> pin(1, 0L),
    "ss07_dim_stats" -> pin(2, 180L),
    "ss09_pq_recall" -> pin(20, 197285L),
    "ss10_srp_neardup" -> jobsOnly(7),
    "dd14_semantic_dedup" -> pin(10, 10042L),
    "ss11_ivf_trained_recall" -> pin(16, 146078L),
    "ss12_semantic_contamination" -> pin(7, 30589L),
    "ss13_ivfpq_recall" -> pin(30, 367550L),
    "ss14_jl_recall" -> pin(11, 3320L),
    "ss15_kmeans_lloyd" -> pin(5, 6471L),
    "ss16_range_search" -> pin(10, 137796L),
    "ss17_rrf_hybrid" -> pin(17, 57467L),
    "ss18_nprobe_sweep" -> pin(14, 162733L),
    "ss19_hamming_rerank" -> pin(9, 69722L),
    "ss20_shortlist_sweep" -> pin(11, 69722L),
    "ss22_index_staleness" -> pin(10, 144063L),
    "ss24_filtered_ann" -> pin(25, 169267L),
    "ss23_ranking_metrics" -> pin(3, 46486L),
    "ss25_semdedup_cells" -> pin(13, 286507L),
    "ss26_semdedup_increment" -> jobsOnly(26),
    "ss27_semdedup_tau_sweep" -> pin(15, 162036L),
    "ss28_cell_geometry" -> pin(10, 142498L),
    "ss29_bitext_margin" -> pin(12, 200671L),
    "sm01_stratified_sample" -> pin(2, 260L),
    "sm02_hash_split" -> pin(2, 575L),
    "sm03_key_skew" -> pin(6, 2701L),
    "sm04_mixture_weights" -> pin(7, 1408L),
    "sm06_fluency_buckets" -> jobsOnly(12),
    "sm05_dsir_weights" -> pin(9, 191696L),
    "sm07_temperature_mix" -> pin(4, 305L),
    "sm08_poisson_ht" -> pin(4, 1192L),
    "sm09_universe_sample" -> pin(3, 333L),
    "sm10_neyman_allocation" -> pin(4, 808L),
    "sm11_neyman_execute" -> pin(7, 13516L),
    "sm12_bootstrap_ci" -> pin(5, 18507L),
    "sm13_temporal_split" -> pin(15, 3572L),
    "sm14_priority_sample" -> pin(1, 0L),
    "sm15_epoch_shuffle" -> pin(22, 32227L),
    "mm01_binary_meta" -> pin(1, 0L),
    "mm02_chunk_sample" -> pin(1, 0L),
    "mm03_image_decode" -> pin(1, 0L),
    "mm04_pcm_energy" -> pin(1, 0L),
    "mm05_wav_decode" -> pin(1, 0L),
    "mm06_frame_sample" -> pin(1, 0L),
    "mm07_image_ahash" -> pin(8, 2410L),
    "mm08_ahash_neardup" -> pin(14, 5211L),
    "mm09_vad_segments" -> pin(2, 4124L),
    "mm10_stereo_downmix" -> pin(1, 0L),
    "mm11_image_dhash" -> pin(8, 2116L),
    "mm12_imagenet_ingest" -> pin(4, 45123L),
    "mm13_ssd_ingest" -> pin(3, 45816L),
    "mm14_rcnn_ingest" -> pin(5, 51314L),
    "st01_window_agg" -> pin(2, 16799L),
    "st02_sessionize" -> pin(2, 18902L),
    "st03_interval_join" -> pin(2, 0L),
    "st04_stream_enrich" -> pin(3, 276L),
    "st05_first_touch" -> pin(2, 2036L),
    "st06_running_total" -> pin(2, 22511L),
    "st07_sliding_window" -> pin(2, 82302L),
    "st08_abandoned_clicks" -> pin(5, 3705L),
    "st09_late_events" -> pin(2, 15041L),
    "st10_watermark_curve" -> pin(5, 15238L),
    "st11_stream_dedup" -> pin(2, 16699L),
    "st12_session_window" -> pin(2, 27282L),
    "st13_window_topk" -> pin(3, 31159L),
    "st14_window_distinct" -> pin(6, 32445L),
    "st15_window_quantiles" -> pin(6, 42724L),
    "st16_stream_semdedup" -> pin(32, 340612L),
    "cu01_curation_ledger" -> pin(13, 239817L),
    "cu02_adaptive_quality" -> pin(3, 99817L),
    "cu03_full_ledger" -> pin(22, 284829L),
    "cu04_quality_keeper" -> pin(13, 232484L),
    "cu05_domain_filter" -> pin(1, 0L),
    "cu06_classifier_filter" -> pin(1, 0L),
    "cu07_mixture_rebalance" -> pin(10, 11183L),
    "cu08_cluster_split" -> pin(9, 133506L),
    "cu09_dedup_provenance" -> pin(10, 138710L),
    "cu10_token_budget" -> pin(3, 925L),
    "cu11_curriculum" -> pin(2, 9194L),
    "cu12_curation_funnel" -> pin(14, 234688L),
    "cu13_dataset_card" -> pin(3, 11947L),
    "cu14_source_cards" -> pin(3, 15876L),
    "cu15_equal_mass_shards" -> pin(11, 11287L),
    "cu16_equal_mass_export" -> pin(14, 93070L),
    "cu17_curriculum_export" -> pin(5, 98256L),
    "cu18_export_manifest" -> pin(12, 92334L),
    "cu19_sequence_packing" -> pin(9, 11086L),
    "cu20_epoch_ordered_export" -> pin(10, 187145L),
    "an01_ranked_rates" -> pin(3, 685L),
    "an02_span_outliers" -> pin(3, 444L),
    "an03_canonical_rename" -> pin(2, 445L),
    "an04_table_cardinalities" -> pin(6, 295L),
    "an05_working_set" -> pin(2, 581L),
    "an06_column_profile" -> jobsOnly(3),
    "an07_approx_profile" -> pin(10, 160130L),
    "an08_value_histogram" -> pin(2, 420L),
    "an09_exact_quantiles" -> pin(2, 1477L),
    "an10_heavy_hitters" -> pin(4, 821L),
    "an11_zipf_octaves" -> pin(10, 4788L),
    "an12_constraint_audit" -> pin(11, 11050L),
    "an13_value_drift" -> pin(7, 717L),
    "an14_funnel" -> pin(16, 1762L),
    "an15_join_cardinality" -> pin(8, 2217L),
    "an16_token_tv_drift" -> pin(6, 1990L),
    "an17_kmv_cardinality" -> pin(3, 11163L),
    "an18_ks_drift" -> pin(19, 24435L),
    "an19_kmv_merge" -> pin(12, 187454L),
    "an20_cms_frequency" -> pin(6, 3937L),
    "an21_cms_merge" -> pin(16, 13581L),
    "an22_sample_quantiles" -> pin(6, 18244L),
    "an23_quantile_merge" -> pin(8, 13330L)
  )

  /** Measured after one unmeasured build of the same query, so every
    * table it reads has its schema cached (`Tables.t`) and the count does
    * not depend on which suites ran first.
    */
  def measured(name: String): (Int, Long) = {
    val q = Probe.query(name)
    q.fn(spark, sf)
    spark.sharedState.cacheManager.clearCache()
    val m = Probe.measure(spark)(q.fn(spark, sf)).metrics
    (m.spans.map(_.jobId).distinct.size, m.shuffleWriteBytes)
  }

  def title(name: String): String =
    if (pins(name)._2.isDefined) s"$name keeps its job count and shuffle-write bytes"
    else s"$name keeps its job count"

  def assertPinned(name: String): Unit = {
    val (jobs, bytes) = pins(name)
    val (j, b) = measured(name)
    assert(j == jobs, s"jobs of $name")
    bytes.foreach(want => assert(b == want, s"shuffle-write bytes of $name"))
  }
}

class PlanCountsSpec extends AnyFunSuite {
  import PlanCountsSpec._

  test("every registered query has a pinned row or is unpinned") {
    assert(SparkEntry.all.map(_.name).toSet == pins.keySet ++ unpinned)
    assert(pins.keySet.intersect(unpinned).isEmpty)
  }

  for (name <- pins.keys if !DedupPlanCountsSpec.family.contains(name))
    test(title(name))(assertPinned(name))
}
