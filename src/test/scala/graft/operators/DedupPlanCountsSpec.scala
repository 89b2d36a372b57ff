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
    "dd03_minhash_signatures" -> (2, 87721L),
    "dd04_lsh_candidate_pairs" -> (8, 166553L),
    "dd05_simhash" -> (2, 87721L),
    "dd06_ngram_jaccard" -> (15, 181365L),
    "dd08_dedup_clusters" -> (9, 133506L),
    "dd09_signature_jaccard" -> (8, 254017L),
    "dd10_simhash_neardup" -> (8, 157399L),
    "dd12_contamination" -> (7, 96067L),
    "dd13_lsh_r2" -> (8, 159896L),
    "dd15_incremental_neardup" -> (10, 111786L),
    "dd16_cluster_stats" -> (11, 135745L),
    "dd20_soft_weights" -> (10, 138710L),
    "dd21_containment" -> (15, 83785L),
    "dd22_lsh_scurve" -> (9, 216840L),
    "dd23_passage_neardup" -> (7, 607528L),
    "dd26_saved_labels_audit" -> (13, 135566L),
    "dd27_incremental_labels" -> (18, 149413L),
    "tx06_top_ngrams" -> (2, 283502L),
    "cu01_curation_ledger" -> (13, 239817L),
    "cu03_full_ledger" -> (22, 284829L),
    "cu04_quality_keeper" -> (13, 232484L),
    "cu08_cluster_split" -> (9, 133506L),
    "cu09_dedup_provenance" -> (10, 138710L),
    "cu12_curation_funnel" -> (14, 234688L))

  /** Measured after one unmeasured build of the same query, so every
    * table it reads has its schema cached (`Tables.t`) and the count does
    * not depend on which suites ran first.
    */
  private def measured(name: String): (Int, Long) = {
    val q = Probe.query(name)
    q.fn(spark, sf)
    spark.sharedState.cacheManager.clearCache()
    val m = Probe.measure(spark)(q.fn(spark, sf)).metrics
    (m.spans.map(_.jobId).distinct.size, m.shuffleWriteBytes)
  }

  for ((name, want) <- expected) {
    test(s"$name keeps its job count and shuffle-write bytes") {
      assert(measured(name) == want)
    }
  }
}
