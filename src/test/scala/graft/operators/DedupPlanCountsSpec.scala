package graft.operators

import graft.SparkTestSession.{sf, spark}
import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** Drift-proof plan counts for the MinHash/LSH dedup family: each query's
  * Spark job count and shuffle-write bytes at sf0.001, measured through
  * `Probe.measure` (build and noop materialization under one listener).
  *
  * The queries here build through the shared shingle → minhash → band
  * definitions, the bucket-capped self-join and the overlap verify in
  * DedupOps, so a change to one of those shows up as a count change in
  * every query that uses it. A refactor of those definitions must leave
  * these rows as they are; a change that is meant to move a plan updates
  * its rows and says why.
  */
class DedupPlanCountsSpec extends AnyFunSuite {

  /** query → (jobs, shuffle-write bytes) at sf0.001, local[4]. */
  private val expected: Seq[(String, (Int, Long))] = Seq(
    "dd03_minhash_signatures" -> (3, 87721L),
    "dd04_lsh_candidate_pairs" -> (9, 166553L),
    "dd05_simhash" -> (3, 87721L),
    "dd06_ngram_jaccard" -> (16, 181365L),
    "dd08_dedup_clusters" -> (10, 133506L),
    "dd09_signature_jaccard" -> (9, 254017L),
    "dd10_simhash_neardup" -> (9, 157399L),
    "dd12_contamination" -> (8, 96067L),
    "dd13_lsh_r2" -> (9, 159896L),
    "dd15_incremental_neardup" -> (11, 111786L),
    "dd16_cluster_stats" -> (12, 135745L),
    "dd20_soft_weights" -> (11, 138710L),
    "dd21_containment" -> (16, 83785L),
    "dd22_lsh_scurve" -> (10, 216840L),
    "dd23_passage_neardup" -> (8, 607528L),
    "dd26_saved_labels_audit" -> (14, 135566L),
    "dd27_incremental_labels" -> (19, 149413L),
    "tx06_top_ngrams" -> (3, 283502L),
    "cu01_curation_ledger" -> (14, 239817L),
    "cu03_full_ledger" -> (23, 284829L),
    "cu04_quality_keeper" -> (14, 232484L),
    "cu08_cluster_split" -> (10, 133506L),
    "cu09_dedup_provenance" -> (11, 138710L),
    "cu12_curation_funnel" -> (15, 234688L))

  private def measured(name: String): (Int, Long) = {
    val m = Probe.measure(spark)(Probe.query(name).fn(spark, sf)).metrics
    (m.spans.map(_.jobId).distinct.size, m.shuffleWriteBytes)
  }

  for ((name, want) <- expected) {
    test(s"$name keeps its job count and shuffle-write bytes") {
      assert(measured(name) == want)
    }
  }
}
