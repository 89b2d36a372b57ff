package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: one JSON line
  * {"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}.
  *
  * The FULL JSON (all queries + medians) is written to bench_out.json
  * (cwd); the PRINTED line is a compact variant capped at 1400 chars
  * (headline q* queries + slowest others, `queries_shown`/`queries_total`
  * counters, `full_results` pointer) so it survives a log-tail capture
  * that keeps only the last ~2000 chars of stdout. Values are rounded to
  * milliseconds.
  *
  * A warm-up pass (table scans + one broadcast-join query) runs before any
  * timing so JIT/codegen/FS-cache costs don't inflate the first query.
  * Query failures are excluded from the total and listed under "failed".
  */
object Bench {
  /** One timed query: steady-state min, (possibly trimmed) median, base-rep
    * pass/fail, settle-rep count (>0 ⇒ the median was trimmed to the
    * `reps` fastest samples), and whether the min stayed > 1.5x the prior
    * round's min after healing (inflated ⇒ re-run isolated before calling
    * it a regression).
    */
  private case class BenchRow(name: String, min: Double, med: Double,
      ok: Boolean, settle: Int, inflated: Boolean)

  /** Fully materialize a query result via the noop sink — the timed
    * action (r16). `.count()` is NOT a valid benchmark action: Catalyst
    * prunes columns the row count does not need, and for window/agg-
    * shaped queries that deletes the very work being timed (measured:
    * op11's count() shuffled 171 BYTES vs the real 1 MiB — the timed
    * plan was a filtered scan-count; sm15's count() lost its three rank
    * exchanges; even q1's count() scanned one column instead of seven
    * because the pruned sums never reached the scan). The noop sink
    * evaluates every output column and discards it — the cost a consumer
    * of the full result actually pays.
    */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Warm-up (untimed): JIT + codegen + broadcast machinery + FS cache.
    * Guarded throughout — a missing/corrupt fixture must surface as a
    * per-query "failed" entry, not kill the bench before timing.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    for (t <- Seq("lineitem", "orders", "customer", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    SparkEntry.all.find(_.name == "q3_top_revenue_orders")
      .foreach(q => try materialize(q.fn(spark, sfDir)) catch { case _: Throwable => () })
  }

  /** Cross-run references are valid only between runs of the SAME
    * measurement methodology. r16 switched the timed action from
    * `.count()` (prunable — see [[materialize]]) to full noop-sink
    * materialization, which strictly increases measured work for the
    * pruned class: comparing a noop min against a count-era reference
    * would latch phantom regressions on every affected row, and the
    * monotone min would keep the stale faster references forever. A
    * bench_out.json without the CURRENT methodology marker therefore
    * contributes NO references — the next run re-seeds, exactly like a
    * first run (an explicit, documented reset; the r9→r10 rule bans
    * SILENT resets, not methodology migrations).
    */
  private[graft] val methodology = "noop"
  private[graft] def refsCompatible(txt: String): Boolean =
    txt.contains("\"methodology\":\"" + methodology + "\"")

  /** Parse the per-query cross-run reference out of a committed
    * bench_out.json body: prefers the MONOTONE `queries_ref` block (see
    * [[nextQueryRef]]), falling back to the raw `queries` mins for
    * pre-r13 files; a different sf or any malformed content degrades to
    * an empty reference, never a failure. Regex-free string splitting
    * over our own fixed format. Exposed for BenchRefSpec — this parser
    * feeds the regression gate that protects every other gate.
    */
  private[graft] def parsePriorMin(txt: String, sfDir: String): Map[String, Double] =
    try {
      val block =
        if (txt.contains("\"queries_ref\":{")) "\"queries_ref\":\\{"
        else "\"queries\":\\{"
      if (!txt.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
      else txt.split(block, 2) match {
        case Array(_, rest) =>
          rest.takeWhile(_ != '}').split(",").iterator.flatMap { kv =>
            kv.split(":") match {
              case Array(k, v) => scala.util.Try(
                k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble).toOption
              case _ => None
            }
          }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }

  /** Parse the flagship's cross-run reference: `flagship_ref` with
    * `pipeline_elements_per_sec` as the pre-r12 fallback; accepts
    * scientific notation (Doubles >= 1e7 render as "1.9E7"); 0.0 = no
    * reference. Exposed for BenchRefSpec.
    */
  private[graft] def parsePriorFlagship(txt: String, sfDir: String): Double =
    try {
      def field(name: String): Double =
        txt.split("\"" + name + "\":", 2) match {
          case Array(_, rest) => scala.util.Try(
            rest.takeWhile(c => c.isDigit || c == '.' || c == 'E' ||
              c == 'e' || c == '+' || c == '-').toDouble).getOrElse(0.0)
          case _ => 0.0
        }
      if (!txt.contains("\"sf\":\"" + sfDir + "\"")) 0.0
      else {
        val ref = field("flagship_ref")
        if (ref > 0) ref else field("pipeline_elements_per_sec")
      }
    } catch { case _: Throwable => 0.0 }

  /** MONOTONE per-query reference update (VERDICT r12 #1 — the
    * per-query twin of [[nextFlagshipRef]], in the time domain where
    * better = lower): min(prior ref, this run's healed min, isolated
    * re-run min). An inflated row's min exceeds its prior ref by
    * construction, so min() keeps the prior — a contended sweep can
    * never overwrite its committed reference — and a reference that WAS
    * poisoned upward self-repairs on the first clean run. Wall time has
    * a physical floor the work itself enforces, so a too-low reference
    * cannot latch a false regression the way a too-high flagship anchor
    * can.
    */
  private[graft] def nextQueryRef(prior: Option[Double],
      isolated: Option[Double], currentMin: Double): Double =
    (prior.toSeq ++ isolated :+ currentMin).min

  /** Inflation threshold for a query with prior reference `ref` seconds
    * (VERDICT r14 #1). The 1.5x ratio alone latched dd22/ss25 as inflated
    * on three consecutive rounds with ZERO code change: sub-2-s LSH/
    * SemDeDup rows carry run-to-run spread (GC pauses, codegen cache
    * evictions across a 237-query sweep) whose ABSOLUTE size (~0.5-1 s)
    * exceeds 50% of their reference — a ratio test cannot separate that
    * noise class from a real regression. Every row therefore gets a flat
    * 0.5 s absolute slack on top of the ratio: threshold = 1.5*ref + 0.5.
    * Flat (not gated on ref < 2 s) so the threshold is MONOTONE in the
    * reference — a step at 2 s would give a SLOWER reference a stricter
    * absolute bar (threshold(1.99) = 3.49 vs threshold(2.01) = 3.02),
    * letting a ref that drifts across the boundary abruptly lose its
    * slack and latch the exact phantom class this rule removes.
    *
    * Documented bias: a real regression must now exceed 1.5x + 0.5 s to
    * be flagged — e.g. a 1.0 s row regressing to 1.9 s passes silently.
    * Acceptable: the unflagged absolute cost is bounded by the slack
    * (0.5 s per row per round, and proportionally negligible for long
    * rows — 7% of a 7 s threshold), while the false-alarm class it
    * removes fired on ~40% of runs and each firing cost a manual
    * isolated re-measurement to adjudicate.
    */
  private[graft] def inflationThreshold(ref: Double): Double =
    1.5 * ref + 0.5

  /** Family-level drift guard (VERDICT r15 #2): [[inflationThreshold]]'s
    * flat 0.5 s slack is right per-row but opens an unbounded AGGREGATE
    * window — 30 short rows each drifting +0.4 s is a real ~12 s
    * regression no single row flags. This latches when the short-row
    * family (prior ref in [0.1, 2) s — below 0.1 the ratio is scheduler
    * jitter, at 2+ the per-row ratio test already has teeth) is
    * collectively > 1.3× its reference mass with ≥ 20 such rows (fewer
    * rows can't separate drift from a couple of contended samples).
    * Interaction with the per-row rule, documented: a contended sweep
    * may trip `drift` while every individual row adjudicates clean via
    * its isolated re-run — that combination is the CORRECT signal to
    * re-run the sweep on a quiet box, not a code regression; conversely
    * a clean sweep with drift:true and quiet isolated rows means many
    * small real slowdowns. Takes (currentMin, priorRef) pairs; rows
    * outside the family are ignored here, not by the caller.
    */
  private[graft] def familyDrift(rows: Seq[(Double, Double)]): Boolean = {
    val fam = rows.filter { case (_, ref) => ref >= 0.1 && ref < 2.0 }
    fam.size >= 20 && {
      val refSum = fam.map(_._2).sum
      refSum > 0 && fam.map(_._1).sum / refSum > 1.3
    }
  }

  /** Deterministic sample for the drift self-adjudication (VERDICT r16
    * #2): the `n` most-drifted rows of the short-row family the
    * [[familyDrift]] guard watches (prior ref in [0.1, 2) s), ranked by
    * current/ref descending with a name tie-break — so a contended
    * driver run re-measures the same rows any re-run would.
    * Takes (name, currentMin, priorRef) triples.
    */
  private[graft] def driftSample(rows: Seq[(String, Double, Double)],
      n: Int = 10): Seq[String] =
    rows.filter { case (_, _, ref) => ref >= 0.1 && ref < 2.0 }
      .sortBy { case (name, cur, ref) => (-cur / ref, name) }
      .take(n).map(_._1)

  /** Drift verdict from the isolated re-measurements of the sample
    * (VERDICT r16 #2): the family guard fires on the SWEEP's mins, which
    * a contended host inflates uniformly; the post-sweep isolated reps
    * measure the same rows on a quiet(er) scheduler. Verdict =
    * `regression` iff the isolated sample's aggregate still exceeds the
    * same 1.3× bar the family guard uses — i.e. the drift survives
    * isolation; otherwise `contention` (this round's exact scenario:
    * every flagged row cleared its isolated re-run). An empty sample
    * (every isolated rep failed — no evidence either way) stays
    * `regression`: silence must not read as exoneration.
    * Takes (isolatedMin, priorRef) pairs for the sampled rows that
    * produced an isolated measurement.
    */
  private[graft] def driftVerdict(sample: Seq[(Double, Double)]): String = {
    val refSum = sample.map(_._2).sum
    if (sample.isEmpty || refSum <= 0) "regression"
    else if (sample.map(_._1).sum / refSum > 1.3) "regression"
    else "contention"
  }

  /** Drift-normalization divisor (VERDICT r18 #2): the MEDIAN isolated-
    * min / prior-ref ratio over the drift-adjudication sample. The r18
    * driver run was unadjudicable raw — the box slowed ~1.45x mid-round,
    * so every per-query ratio needed manual normalization against rows
    * the round had not touched. The drift sample's isolated re-runs are
    * exactly that evidence (quiet-scheduler re-measures of the most-
    * drifted short rows), so the bench now publishes the divisor a
    * round-over-round comparison should divide current times by before
    * calling anything a regression. Median, not mean: the sample is
    * chosen MOST-drifted-first, so one genuinely regressed row would
    * poison a mean while the median stays at the box's true speed as
    * long as the majority of sampled rows are untouched (documented
    * bias: with >5 truly regressed rows in the sample the divisor reads
    * high and under-flags — the per-row `iso_ratio` map is published
    * beside it so a reader can recompute). 1.0 when there is no sample
    * (no drift latched, or every isolated rep failed): dividing by the
    * published value is then a no-op, never a crash. Additive field
    * only — no existing field's semantics change.
    */
  private[graft] def driftDivisor(sample: Seq[(Double, Double)]): Double = {
    val ratios = sample.collect { case (iso, ref) if ref > 0 => iso / ref }
    if (ratios.isEmpty) 1.0 else median(ratios)
  }

  /** Of the sampled (isolatedMin, priorRef) rows, how many individually
    * cleared their own inflation threshold. Published as `drift_cleared`
    * (beside `drift_sampled`) next to the verdict: the aggregate
    * [[driftVerdict]] sum-ratio can read `regression` while every row
    * clears individually — one heavy row dominating a sample of light
    * ones (r18's drifted run: ss25 at 1.74x its ref pushed the sum to
    * 1.32 while all ten rows, ss25 included, sat under their
    * thresholds). The count does not soften the verdict — the verdict
    * rule stands — it hands the reader the per-row evidence for that
    * mixed signal without recomputing thresholds by hand.
    */
  private[graft] def driftClearedCount(sample: Seq[(Double, Double)]): Int =
    sample.count { case (iso, ref) => iso <= inflationThreshold(ref) }

  /** Final inflation adjudication (VERDICT r14 #1): the post-sweep
    * isolated re-measurement was already the human adjudication step —
    * "re-run isolated before calling it a regression" — so its verdict
    * now clears the PUBLISHED flag instead of only feeding queries_ref.
    * A row stays inflated only if its isolated min (3 clean reps after
    * the sweep's churn ended) still exceeds the threshold; a row whose
    * isolated re-run failed every rep (no evidence either way) stays
    * flagged. The raw sweep verdicts remain visible as `inflated_sweep`.
    */
  private[graft] def adjudicateInflated(ref: Double,
      isolatedMin: Option[Double]): Boolean =
    isolatedMin.forall(_ > inflationThreshold(ref))

  /** Flagship reference update (ADVICE r11 + r12): moves only UPWARD,
    * and only on a CLEAN run — a failed or inflated flagship pass is
    * measuring the host, not the code, and must not move the anchor in
    * either direction. The upward step is sanity-capped at 2x the prior
    * anchor (one mis-measured fast rep would otherwise permanently
    * raise the bar and latch every honest later round as inflated). A
    * real lasting regression keeps flagship_inflated latched until a
    * human re-baselines bench_out.json — intended (a silent reset is
    * the r9→r10 failure mode).
    */
  private[graft] def nextFlagshipRef(prior: Double, rate: Double,
      failed: Boolean, inflated: Boolean): Double =
    if (failed || inflated) prior
    else if (prior > 0 && rate > 2 * prior) prior
    else math.max(prior, rate)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCpus(4))
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)

    def round3(v: Double): Double = math.rint(v * 1000) / 1000

    // min over reps (default 2, +1 extra rep for sub-second queries whose
    // round-over-round deltas are dominated by host noise): single-shot
    // timings on a busy host carry ±20% noise that pollutes comparisons;
    // the minimum is the standard steady-state estimator, and the median
    // is reported alongside so a min-vs-median gap flags a noisy sample
    // instead of triggering a manual plan audit.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(2).max(1)
    // Dev-loop subset filter (comma-separated query names). The driver
    // never sets it, so round benches always time the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val bench = only.fold(SparkEntry.all)(s => SparkEntry.all.filter(q => s(q.name)))

    // Cross-run reference (VERDICT r9 #2): the med/min self-heal only sees
    // WITHIN-run spread, so a query whose every rep is equally
    // contention-inflated sails through (r9 published cu08/cu09/cu12 at
    // ~1.9x their isolated cost with noisy:false). The previous round's
    // bench_out.json is committed — its per-query min is a same-host,
    // same-sf steady-state reference. A current min over the prior-ref
    // threshold (inflationThreshold: 1.5x plus a flat 0.5 s absolute
    // slack at every ref — VERDICT r14 #1) on a non-trivial query earns
    // extra settle reps; if the gap still doesn't close, the query gets
    // an isolated post-sweep re-measurement whose verdict decides the
    // final published "inflated" list (adjudicateInflated). Parse is regex-free string splitting over our own
    // fixed format; any mismatch (missing file, different sf) degrades
    // to an empty reference, never a failure.
    //
    // The reference block read here is `queries_ref` — the MONOTONE map
    // this run writes via nextQueryRef — not the raw published mins
    // (VERDICT r12 #1: the driver's contended r12 sweep left
    // q_antijoin_orders at 5.415 s vs a true 0.52 s in the published
    // map; raw mins as next round's reference would have set that row's
    // heal threshold to ~8 s, the r9→r10 flagship failure mode one
    // level down). `queries` is the fallback for pre-r13 files.
    val priorMin: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("bench_out.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val txt = java.nio.file.Files.readString(p)
        // methodology gate: count-era references are not comparable
        if (!refsCompatible(txt)) Map.empty else parsePriorMin(txt, sfDir)
      }
    } catch { case _: Throwable => Map.empty }

    // The flagship's cross-run reference, same contract as priorMin: the
    // committed bench_out.json carries a steady-state rate for this sf.
    // r10 published 271k el/s against r9's 519k with no flag — uniform
    // whole-run contention is invisible to a median-of-3, so the flagship
    // needs the same heal the query rows got (parse + update rules live
    // in parsePriorFlagship / nextFlagshipRef, pinned by BenchRefSpec).
    val priorFlagship: Double = try {
      val p = java.nio.file.Paths.get("bench_out.json")
      if (!java.nio.file.Files.exists(p)) 0.0
      else {
        val txt = java.nio.file.Files.readString(p)
        if (!refsCompatible(txt)) 0.0 else parsePriorFlagship(txt, sfDir)
      }
    } catch { case _: Throwable => 0.0 }

    // Flagship pipeline throughput (input elements/sec over one pass) —
    // the images/sec-shaped headline number. Measured FIRST, before the
    // ~200-query sweep churns the heap (r7 showed a ~15% tail penalty
    // landing in the round-over-round comparison), with ONE untimed
    // warmup pass of the flagship itself (JIT spread across cold reps is
    // 3×: 184k→553k el/s) and the MEDIAN of 3 timed reps reported — the
    // estimator robust to one contended rep on a busy driver host.
    // Failure is tracked separately from the rate: a thrown exception
    // sets the flag, while a legitimately computed 0.0 (dt <= 0) does not.
    var flagshipFailed = false
    var flagshipInflated = false
    val flagshipRate =
      if (only.isDefined) 0.0 // subset dev runs skip the flagship pass
      else try {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val n = li.count()
        materialize(api.Flagship.run(spark, sfDir)) // untimed warmup rep
        def rep(): Double = {
          val df = api.Flagship.run(spark, sfDir)
          val t0 = System.nanoTime()
          materialize(df)
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt > 0) math.rint(n / dt) else 0.0
        }
        val samples = scala.collection.mutable.ArrayBuffer((1 to 3).map(_ => rep()): _*)
        // Cross-run heal, flagship edition: median of the BEST 3 reps
        // (rates — higher is better) below prior/1.5 earns up to 3
        // settle reps; a gap that still doesn't close sets the
        // flagship_inflated flag so the published rate is readable as
        // "contended run, re-measure isolated" instead of a regression.
        def best3Med = median(samples.sorted.takeRight(3).toSeq)
        var settle = 0
        while (priorFlagship > 0 && settle < 3 && best3Med * 1.5 < priorFlagship) {
          samples += rep(); settle += 1
        }
        flagshipInflated = priorFlagship > 0 && best3Med * 1.5 < priorFlagship
        best3Med
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] flagship failed: ${e.getMessage}")
          flagshipFailed = true
          0.0
      }

    val results = bench.map { q =>
      def rep(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { materialize(q.fn(spark, sfDir)); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // unpersist query-local caches so back-to-back runs don't
        // accumulate MEMORY_AND_DISK blocks across the whole sweep
        spark.sharedState.cacheManager.clearCache()
        (dt, ok)
      }
      // Pass/fail is decided by the base reps only; the bonus rep for
      // sub-second queries is timing-only (its time is kept when it
      // succeeds, a failure there never flips a green query to failed).
      // reps=1 means exactly one run — no silent bonus rep.
      val base = (1 to reps).map(_ => rep())
      val ok = base.forall(_._2)
      var times =
        if (reps >= 2 && ok && base.map(_._1).min < 1.0) {
          val extra = rep()
          if (extra._2) base :+ extra else base
        } else base
      // Self-healing under host contention: when the median/min gap on a
      // non-trivial query exceeds the 1.5 noise threshold, the sample is
      // contention-poisoned — run up to 2 extra settle reps (stopping as
      // soon as the gap closes) and keep the min over ALL reps. A transient
      // driver-host spike then costs one extra rep instead of publishing a
      // phantom 2-3× regression (r8: dd23 shown at 9.9 s vs a real 3.2 s).
      // Persistent whole-run contention still surfaces via the noisy flag.
      def contended(ts: Seq[Double]): Boolean = {
        val mn = ts.min
        mn >= 0.1 && median(ts) / mn > 1.5
      }
      var settle = 0
      while (reps >= 2 && ok && settle < 2 && contended(times.map(_._1))) {
        val extra = rep()
        if (extra._2) times = times :+ extra
        settle += 1
      }
      // Cross-run heal: uniform whole-query contention keeps med/min ≈ 1
      // and dodges the loop above — compare against the prior round's min
      // instead. Bounded at 2 extra reps so a REAL regression costs two
      // reps and then publishes honestly (flagged below), never loops.
      val ref = priorMin.get(q.name)
      def inflatedVsPrior(ts: Seq[Double]): Boolean =
        ref.exists(p => p >= 0.1 && ts.min > inflationThreshold(p))
      while (reps >= 2 && ok && settle < 4 && inflatedVsPrior(times.map(_._1))) {
        val extra = rep()
        if (extra._2) times = times :+ extra
        settle += 1
      }
      val inflated = ok && inflatedVsPrior(times.map(_._1))
      // When settle reps ran, publish the median over the `reps` fastest
      // samples (contention-proven outliers trimmed, sample size kept at
      // the base count). A real regression survives trimming — every rep,
      // settle included, is at least the true steady-state time — but a
      // transient spike no longer latches the noisy flag after healing.
      val ts = times.map(_._1)
      val medTs = if (settle > 0) ts.sorted.take(reps) else ts
      BenchRow(q.name, round3(ts.min), round3(median(medTs)), ok, settle, inflated)
    }

    val okResults = results.filter(_.ok)
    // Family-level drift over the short-row family (familyDrift, pinned
    // by BenchRefSpec — VERDICT r15 #2), computed BEFORE the isolated
    // pass so a latched flag can select its own adjudication sample: the
    // `driftSample` rows ride the same post-sweep isolated re-measure as
    // the inflated rows, and `driftVerdict` decides contention-vs-
    // regression from THEIR quiet-scheduler mins (VERDICT r16 #2 — the
    // r16 driver run needed a human to diff the contended sweep against
    // the committed clean bench; now the artifacts carry the verdict).
    val driftTriples = okResults.flatMap(r =>
      priorMin.get(r.name).map(p => (r.name, r.min, p)))
    val drift = familyDrift(driftTriples.map { case (_, c, p) => (c, p) })
    val driftSampleNames: Seq[String] =
      if (drift) driftSample(driftTriples) else Seq.empty

    // Post-sweep isolated re-measurement (VERDICT r12 #6): rows still
    // inflated after healing — plus, on a latched drift flag, the
    // drift-adjudication sample — get one more timing pass AFTER the
    // sweep's memory/scheduler churn has ended, recorded to
    // bench_isolated.json so the round's own artifacts carry the
    // contention adjudication a judge previously had to re-run by hand.
    // The isolated mins also feed queries_ref below — a contended sweep
    // therefore cannot poison the cross-run reference even for rows
    // whose settle reps never caught a clean sample.
    // Subset runs (SPARK_GRAFT_BENCH_ONLY) adjudicate too (ADVICE r15):
    // skipping the isolated pass left bench_out_subset.json's `inflated`
    // carrying raw sweep verdicts while the key's documented semantics
    // are "post-adjudication final list" — the pass is cheap (3 reps per
    // flagged row) and keeps the field's meaning uniform; subset runs
    // write bench_isolated_subset.json so a dev loop never clobbers the
    // committed full-surface adjudication artifact.
    val isolated: Map[String, Double] = {
      val infl = results.filter(r => r.ok && r.inflated).map(_.name)
      val toMeasure = (infl ++ driftSampleNames).distinct
      if (toMeasure.isEmpty) Map.empty
      else {
        val byName = bench.map(q => q.name -> q).toMap
        // Only SUCCESSFUL reps may time: a mid-query failure's partial
        // wall time would feed the MONOTONE queries_ref and permanently
        // lower the committed reference (ADVICE r13). All 3 reps failing
        // omits the query from the isolated map entirely.
        val m = toMeasure.flatMap { n =>
          byName.get(n).flatMap { q =>
            val ts = (1 to 3).flatMap { _ =>
              val t0 = System.nanoTime()
              val succeeded =
                try { materialize(q.fn(spark, sfDir)); true }
                catch { case _: Throwable => false }
              val dt = (System.nanoTime() - t0) / 1e9
              spark.sharedState.cacheManager.clearCache()
              if (succeeded) Some(dt) else None
            }
            if (ts.isEmpty) None else Some(n -> round3(ts.min))
          }
        }.toMap
        val body = m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val isoName =
          if (only.isDefined) "bench_isolated_subset.json"
          else "bench_isolated.json"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(isoName),
          s"""{"queries":$body,"reps":3,"sf":"$sfDir"}""")
        m
      }
    }

    // Drift self-adjudication artifacts (VERDICT r16 #2): the sampled
    // rows' isolated mins and the verdict they imply — `contention`
    // replays this round's exact scenario (uniform sweep inflation,
    // quiet isolated re-runs); `regression` means the drift SURVIVED
    // isolation and is real. Rules pinned in BenchRefSpec.
    val driftIso: Seq[(String, Double)] =
      driftSampleNames.flatMap(n => isolated.get(n).map(n -> _))
    val driftIsoSample = driftIso.map { case (n, iso) => (iso, priorMin(n)) }
    val driftVerdictStr =
      if (!drift) "none"
      else driftVerdict(driftIsoSample)
    val driftCleared = driftClearedCount(driftIsoSample)
    // Drift-normalized PERF survival (VERDICT r18 #2, additive): the
    // per-row iso ratios and their median as the box-speed divisor.
    val driftDiv = round3(driftDivisor(driftIsoSample))
    val isoRatioMap = driftIso.collect {
      case (n, iso) if priorMin.getOrElse(n, 0.0) > 0 =>
        "\"" + n + "\":" + round3(iso / priorMin(n))
    }.mkString("{", ",", "}")
    val qs = okResults.map(r => "\"" + r.name + "\":" + r.min)
      .mkString("{", ",", "}")
    // Cross-run reference, MONOTONE — the nextQueryRef rule (VERDICT
    // r12 #1), pinned by BenchRefSpec.
    val qsRef = okResults.map { r =>
      "\"" + r.name + "\":" +
        round3(nextQueryRef(priorMin.get(r.name), isolated.get(r.name), r.min))
    }.mkString("{", ",", "}")
    val qsMed = okResults.map(r => "\"" + r.name + "\":" + r.med)
      .mkString("{", ",", "}")
    val failed = results.filter(!_.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    // per-query settle counts (ADVICE r9: a reader must be able to tell a
    // trimmed median from an untrimmed one) + the inflated lists:
    // `inflated_sweep` is the raw sweep verdict; `inflated` is the final
    // list after the isolated re-measurement adjudicates each row
    // (adjudicateInflated, pinned by BenchRefSpec — VERDICT r14 #1).
    val healed = results.filter(r => r.ok && r.settle > 0)
      .map(r => "\"" + r.name + "\":" + r.settle).mkString("{", ",", "}")
    val sweepInflated = results.filter(r => r.ok && r.inflated)
    val inflatedSweepList =
      sweepInflated.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val inflatedList = sweepInflated
      .filter(r => priorMin.get(r.name)
        .forall(p => adjudicateInflated(p, isolated.get(r.name))))
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    val total = round3(okResults.map(_.min).sum)
    // Host-contention detector: on an idle host min≈median; a busy host
    // inflates some reps, widening the gap. Flag the run as noisy when
    // median/min > 1.5 on ≥ 5 non-trivial queries (min ≥ 0.1 s — below
    // that the ratio is dominated by scheduler jitter, not contention),
    // so a reader discounts regressions without a manual re-run.
    val noisyCount = results.count { r =>
      r.ok && r.min >= 0.1 && r.med / r.min > 1.5
    }
    val noisy = noisyCount >= 5
    // the drift ratio and row count publish beside the flag so a reader
    // sees how close the run sat to the bar (flag computed above, before
    // the isolated pass, so the sample could ride it)
    val driftFam = driftTriples
      .collect { case (_, c, ref) if ref >= 0.1 && ref < 2.0 => (c, ref) }
    val driftRatio =
      if (driftFam.isEmpty || driftFam.map(_._2).sum == 0) 0.0
      else round3(driftFam.map(_._1).sum / driftFam.map(_._2).sum)
    // Rates are written in plain decimal (never scientific notation) so
    // next round's string-splitting parser reads them back verbatim.
    def plain(v: Double): String = new java.math.BigDecimal(v).toPlainString
    // Update rule: nextFlagshipRef (ADVICE r11 + r12), pinned by
    // BenchRefSpec — upward-only, clean runs only, capped at 2x prior.
    val flagshipRef =
      nextFlagshipRef(priorFlagship, flagshipRate, flagshipFailed, flagshipInflated)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","methodology":"$methodology",""" +
        s""""queries":$qs,""" +
        s""""queries_median":$qsMed,"failed":$failed,""" +
        s""""noisy":$noisy,"noisy_queries":$noisyCount,""" +
        s""""drift":$drift,"drift_ratio":$driftRatio,""" +
        s""""drift_rows":${driftFam.size},""" +
        s""""drift_verdict":"$driftVerdictStr",""" +
        s""""drift_cleared":$driftCleared,"drift_sampled":${driftIso.size},""" +
        s""""drift_divisor":$driftDiv,"iso_ratio":$isoRatioMap,""" +
        s""""drift_isolated":${driftIso.map { case (k, v) =>
          "\"" + k + "\":" + v
        }.mkString("{", ",", "}")},""" +
        s""""inflated":$inflatedList,"inflated_sweep":$inflatedSweepList,""" +
        s""""healed":$healed,""" +
        s""""queries_ref":$qsRef,""" +
        s""""prior_ref_queries":${priorMin.size},""" +
        s""""flagship_failed":$flagshipFailed,""" +
        s""""flagship_inflated":$flagshipInflated,""" +
        s""""flagship_ref":${plain(flagshipRef)},""" +
        s""""pipeline_elements_per_sec":${plain(flagshipRate)},"sf":"$sfDir"}"""
    // subset dev runs must not overwrite the committed full-surface
    // reference the cross-run heal reads next round
    val outName = if (only.isDefined) "bench_out_subset.json" else "bench_out.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outName), json)

    // The printed line must survive a log-tail capture that keeps only the
    // last ~2000 chars of stdout (BENCH_r05/r06 both truncated mid-line and
    // parsed as null): print a COMPACT line — all headline q* queries plus
    // the slowest others, greedily added until a hard 1400-char budget —
    // and point at bench_out.json (committed) for the full per-query map.
    val headline = okResults.filter(_.name.startsWith("q"))
    val others = okResults.filterNot(_.name.startsWith("q")).sortBy(-_.min)
    def compactLine(entries: Seq[BenchRow]): String = {
      val m = entries.map(r => "\"" + r.name + "\":" + r.min)
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","methodology":"$methodology",""" +
        s""""queries":$m,""" +
        s""""queries_shown":${entries.size},"queries_total":${okResults.size},""" +
        s""""full_results":"bench_out.json","failed":$failed,""" +
        s""""noisy":$noisy,"noisy_queries":$noisyCount,""" +
        s""""drift":$drift,"drift_verdict":"$driftVerdictStr",""" +
        s""""drift_divisor":$driftDiv,""" +
        s""""inflated":$inflatedList,""" +
        s""""flagship_failed":$flagshipFailed,""" +
        s""""flagship_inflated":$flagshipInflated,""" +
        s""""pipeline_elements_per_sec":${plain(flagshipRate)},"sf":"$sfDir"}"""
    }
    var shown = headline ++ others
    while (shown.size > headline.size && compactLine(shown).length > 1400)
      shown = shown.dropRight(1)
    println(compactLine(shown))
    spark.stop()
  }
}
