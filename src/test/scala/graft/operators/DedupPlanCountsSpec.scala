package graft.operators

import graft.PlanCountsSpec
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash/LSH dedup family's rows of [[graft.PlanCountsSpec]].
  *
  * The queries here build through the shared shingle → minhash → band
  * definitions, the bucket-capped self-join and the overlap verify in
  * DedupOps, so a change to one of those shows up as a count change in
  * every query that uses it.
  */
class DedupPlanCountsSpec extends AnyFunSuite {
  for (name <- DedupPlanCountsSpec.family)
    test(PlanCountsSpec.title(name))(PlanCountsSpec.assertPinned(name))
}

object DedupPlanCountsSpec {
  val family: Seq[String] = Seq(
    "dd03_minhash_signatures", "dd04_lsh_candidate_pairs", "dd05_simhash",
    "dd06_ngram_jaccard", "dd08_dedup_clusters", "dd09_signature_jaccard",
    "dd10_simhash_neardup", "dd12_contamination", "dd13_lsh_r2",
    "dd15_incremental_neardup", "dd16_cluster_stats", "dd20_soft_weights",
    "dd21_containment", "dd22_lsh_scurve", "dd23_passage_neardup",
    "dd26_saved_labels_audit", "dd27_incremental_labels", "tx06_top_ngrams",
    "cu01_curation_ledger", "cu03_full_ledger", "cu04_quality_keeper",
    "cu08_cluster_split", "cu09_dedup_provenance", "cu12_curation_funnel")
}
