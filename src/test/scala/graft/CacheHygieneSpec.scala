package graft

import graft.SparkTestSession.{sf, spark}
import org.scalatest.funsuite.AnyFunSuite

/** Library users don't run bench/verify's clearCache-between-queries
  * contract, so the cached footprint has to stay BOUNDED without it:
  * every `persist()` site registers with the CacheManager, which dedups
  * by canonicalized plan — re-running the same query must REUSE entries,
  * never add blocks — and iterative temp state (localCheckpoint) must
  * become GC-reclaimable as soon as the result is materialized. This
  * spec runs the persist-heaviest query set twice WITHOUT clearCache and
  * asserts zero growth on the rerun plus a hard per-site cap on the
  * total. (QuerySpec separately asserts the contract path: full sweep +
  * one clearCache leaves nothing.)
  */
class CacheHygieneSpec extends AnyFunSuite {

  private val heavy = Seq(
    "dd04_lsh_candidate_pairs", // r1Bands persist + capped band self-join
    "dd06_ngram_jaccard",       // hh + bands persists
    "dd08_dedup_clusters",      // bands persist + CC localCheckpoint rounds
    "ss05_ann_nprobe2",         // ivfSearch scored persist
    "ss10_srp_neardup",         // srpBandPairs capped persist
    "ss11_ivf_trained_recall",  // trained centroids + ivfSearch scored
    "ss13_ivfpq_recall",        // scored persist + residual persist
    "dd15_incremental_neardup", // r1Bands batch-side persist
    "tx06_top_ngrams",          // token-count persist
    "tx16_bigram_fluency",      // bigram-occurrence persist (3 consumers)
    "sm06_fluency_buckets",     // rides tx16's bigram persist
    "dd21_containment",         // containmentPairs hh + bands persists
    "ss18_nprobe_sweep",        // sweep's shared scored persist (3 arms)
    "ss26_semdedup_increment")  // corpus-ledger assign + batch assign persists

  /** localCheckpoint blocks release via the ContextCleaner once their
    * RDD is unreachable — nudge GC until the count stops shrinking.
    */
  private def gcSettle(): Int = {
    var last = Int.MaxValue
    var cur = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis() + 20000
    while (cur < last && System.currentTimeMillis() < deadline) {
      last = cur
      System.gc()
      Thread.sleep(300)
      cur = spark.sparkContext.getPersistentRDDs.size
    }
    cur
  }

  test("repeat runs without clearCache reuse cache entries instead of leaking") {
    spark.catalog.clearCache()
    def sweep(): Unit =
      heavy.foreach(q => SparkEntry.queries(q)(spark, sf).count())
    sweep()
    val after1 = gcSettle()
    sweep()
    val after2 = gcSettle()
    assert(after2 <= after1,
      s"persistent RDDs grew across identical reruns: $after1 -> $after2")
    // hard cap: proportional to the fixed number of persist sites in the
    // query set (each contributes at most 2), never O(runs)
    assert(after1 <= 2 * heavy.size,
      s"cached footprint $after1 exceeds the per-site bound ${2 * heavy.size}")
    spark.catalog.clearCache()
  }
}
