package graft.solver

/** A10 — max-min throughput allocation (convex_solver.py:29-156).
  *
  * maximize   min_i(rate_i · θ_i)
  * subject to Σθ_i ≤ cores, θmin_i ≤ θ_i ≤ θmax_i
  *
  * The optimum equalizes effective rates for every unclamped op, so no LP
  * solver is needed: binary-search the achievable rate R and water-fill
  * θ_i(R) = clamp(R/rate_i, θmin_i, θmax_i) — Σθ_i(R) is monotone in R.
  * Mirrors the reference's semantics: θmax = 1 for sequential ops, θmin
  * scaled down when over-subscribed (convex_solver.py:77-83), optional
  * per-op change budget (convex_solver.py:98-103).
  */
object MaxMinThroughputLP {

  final case class OpRate(
      id: Int,
      perCoreRate: Double, // elements/sec at θ=1
      thetaMin: Double = 0.0,
      thetaMax: Double = Double.PositiveInfinity,
      existing: Double = 0.0)

  final case class Solution(thetas: Map[Int, Double], rate: Double, coresUsed: Double)

  /** Piecewise bandwidth cap on one op (convex_solver.py:104-128): the
    * achievable rate is additionally bounded by BOTH segment lines of the
    * A14 fit evaluated at that op's θ — rate ≤ m1·θ + b1 and
    * rate ≤ m2·θ + b2 (the second segment is typically near-flat: the
    * device's saturation bandwidth).
    */
  final case class Bandwidth(opId: Int, m1: Double, b1: Double, m2: Double, b2: Double) {
    /** Negative-slope second segment → flat plateau at the segments'
      * crossing (see fromFit). Identity for well-formed caps.
      */
    def normalized: Bandwidth =
      if (m2 >= 0) this
      else {
        val plateau =
          if (m1 - m2 > 1e-12) m1 * ((b2 - b1) / (m1 - m2)) + b1 else b1
        copy(m2 = 0.0, b2 = plateau)
      }
  }

  object Bandwidth {
    /** Adapt an A14 PiecewiseFit (elements/sec vs parallelism) to the LP.
      *
      * A fitted NEGATIVE second slope (throughput declining past
      * saturation — contention) is replaced by a flat cap at the
      * saturation level: the unconstrained least-squares intercept of a
      * declining line extrapolates ABOVE every observed rate at θ=0, and
      * segTheta's flat-cap branch would read that intercept as the
      * ceiling, overstating it (and disagreeing with effRate's declining
      * line — the solve() bracket then lands below the true optimum). The
      * plateau level is the fit evaluated at the breakpoint.
      */
    def fromFit(opId: Int, f: PiecewiseFit.Fit,
        xBreak: Option[Double] = None): Bandwidth =
      if (f.slope2 >= 0) Bandwidth(opId, f.slope1, f.icept1, f.slope2, f.icept2)
      else {
        val plateau = xBreak.map(x => f.slope2 * x + f.icept2)
        plateau.fold(
          Bandwidth(opId, f.slope1, f.icept1, f.slope2, f.icept2).normalized)(
          p => Bandwidth(opId, f.slope1, f.icept1, 0.0, p))
      }
  }

  def solve(ops: Seq[OpRate], cores: Double, maxChange: Option[Double] = None,
      useExistingUsage: Boolean = false, cpuUtilCores: Double = 0.0,
      bandwidth: Option[Bandwidth] = None): Solution = {
    require(ops.nonEmpty && cores > 0)
    // declining caps are normalized to their plateau (see Bandwidth):
    // segTheta/effRate assume non-negative segment slopes
    val bandwidthN = bandwidth.map(_.normalized)
    // use_existing_usage (convex_solver.py:55-75): floor every θ at the
    // op's observed core usage (sequential ops capped at 1), and charge
    // whatever measured utilization the per-op floors do NOT explain
    // (cpuUtilCores − Σfloors, the "modeling bias") against the budget.
    val floored =
      if (!useExistingUsage) ops
      else ops.map { o =>
        val cap = if (o.thetaMax <= 1.0) math.min(o.existing, 1.0) else o.existing
        o.copy(thetaMin = math.max(o.thetaMin, cap))
      }
    val modelingBias =
      if (useExistingUsage) math.max(0.0, cpuUtilCores - floored.map(_.thetaMin).sum)
      else 0.0
    val coresAvail = math.max(cores - modelingBias, 1e-10)
    // over-subscription guard: scale θmin down if Σθmin > coresAvail
    val minSum = floored.map(_.thetaMin).sum
    val minScale = if (minSum > coresAvail) coresAvail / minSum else 1.0
    val eff = floored.map { o =>
      val hi0 = maxChange.fold(o.thetaMax)(mc => math.min(o.thetaMax, o.existing + mc))
      val lo = o.thetaMin * minScale
      o.copy(thetaMin = lo, thetaMax = math.max(lo, hi0))
    }
    // θ needed by one bandwidth segment to reach rate r: invert r = m·θ+b
    // (a flat segment is a hard cap — zero θ below it, unreachable above)
    def segTheta(m: Double, b: Double, r: Double): Double =
      if (m > 1e-12) math.max(0.0, (r - b) / m)
      else if (r <= b) 0.0
      else Double.PositiveInfinity
    def neededTheta(o: OpRate, r: Double): Double = {
      val base = if (o.perCoreRate > 0) r / o.perCoreRate else o.thetaMin
      bandwidthN match {
        case Some(bw) if bw.opId == o.id =>
          math.max(base, math.max(segTheta(bw.m1, bw.b1, r), segTheta(bw.m2, bw.b2, r)))
        case _ => base
      }
    }
    def thetasFor(r: Double): Seq[Double] =
      eff.map(o => clamp(neededTheta(o, r), o.thetaMin, o.thetaMax))
    def used(r: Double): Double = thetasFor(r).sum
    // effective rate of an op at allocation t, bandwidth caps included
    // (floored at 0: a fitted line can dip negative at small θ, but a
    // physical rate cannot)
    def effRate(o: OpRate, t: Double): Double = {
      val r0 = o.perCoreRate * t
      bandwidthN.filter(_.opId == o.id)
        .map(bw => math.max(0.0,
          math.min(r0, math.min(bw.m1 * t + bw.b1, bw.m2 * t + bw.b2))))
        .getOrElse(r0)
    }

    // bracket: R=0 uses Σθmin; no op can exceed rate·min(θmax, cores), so
    // the fastest op at full budget bounds the achievable min-rate above
    var lo = 0.0
    var hi = eff.map(o => o.perCoreRate * math.min(o.thetaMax, coresAvail))
      .foldLeft(1.0)(math.max) * 2 + 1
    for (_ <- 0 until 200) {
      val mid = (lo + hi) / 2
      if (used(mid) <= coresAvail) lo = mid else hi = mid
    }
    // the feasibility search can overshoot R once a clamped op stops the
    // objective from rising; shrink to the binding min-rate so non-binding
    // ops don't hoard cores (matches the equalizing optimum)
    val rate = eff.zip(thetasFor(lo)).map { case (o, t) => effRate(o, t) }.min
    val thetas = thetasFor(rate)
    Solution(eff.map(_.id).zip(thetas).toMap, rate, thetas.sum)
  }

  /** The LP's rows for traced per-node metrics (convex_solver.py:41-47):
    * one per node that produced elements, at its per-core rate (a node
    * with no measured time is effectively unconstrained), with θmax =
    * `cores` for parallelizable ops and 1 for sequential ones unless
    * `naive` lifts that clamp.
    */
  def opRates(metrics: Seq[graft.metrics.NodeMetrics], cores: Int,
      naive: Boolean = false): Seq[OpRate] =
    metrics.filter(_.elementsProduced > 0).map { m =>
      OpRate(
        id = m.nodeId,
        perCoreRate = graft.plans.Analysis.expectedPerCoreMaxRate(m) match {
          case r if r.isFinite => r
          case _               => 1e12
        },
        thetaMax = if (naive || m.isParallelizable) cores.toDouble else 1.0,
        existing = m.parallelism.toDouble)
    }

  /** `solve` over `opRates(metrics, cores, naive)`; with no node that
    * produced elements there is nothing to allocate: no θ, rate 0.
    */
  def solveMetrics(metrics: Seq[graft.metrics.NodeMetrics], cores: Int,
      naive: Boolean = false, maxChange: Option[Double] = None,
      useExistingUsage: Boolean = false,
      bandwidth: Option[Bandwidth] = None): Solution = {
    val ops = opRates(metrics, cores, naive)
    if (ops.isEmpty) Solution(Map.empty, 0.0, 0.0)
    else solve(ops, cores.toDouble, maxChange, useExistingUsage, bandwidth = bandwidth)
  }

  private def clamp(x: Double, lo: Double, hi: Double): Double =
    math.max(lo, math.min(hi, x))
}

/** A11 — min-cost resource allocation (convex_solver.py:158-300):
  * minimize CPU·$ + disk·$ + cache·$ subject to meeting `minRate`, with at
  * most one cache whose placement masks the cost of everything upstream
  * (the reference's cache_mask). One boolean per candidate → enumerate
  * cache choices (≤ ~20) and solve each inner allocation in closed form.
  * Prices are the reference's GCP N1 constants (machine_info.py:80-109).
  */
object MinCostLP {

  final case class Prices(
      vcpuPerHour: Double = 0.031611,
      gbRamPerHour: Double = 0.004237,
      ssdGbPerMonth: Double = 0.080)

  final case class OpSpec(id: Int, perCoreRate: Double, upstreamOf: Set[Int])

  final case class Choice(cacheAt: Option[Int], thetas: Map[Int, Double], costPerHour: Double)

  def solve(ops: Seq[OpSpec], minRate: Double, cacheCandidates: Seq[Int],
      cacheBytes: Map[Int, Long], prices: Prices = Prices()): Choice = {
    def inner(cacheAt: Option[Int]): Choice = {
      val masked: Set[Int] = cacheAt.map(c => ops.find(_.id == c).map(_.upstreamOf + c)
        .getOrElse(Set(c))).getOrElse(Set.empty)
      val thetas = ops.map { o =>
        // cached upstream ops replay from the materialization: θ → 0
        val t = if (masked.contains(o.id) && cacheAt.exists(_ != o.id)) 0.0
          else if (o.perCoreRate > 0) minRate / o.perCoreRate
          else 0.0
        o.id -> t
      }.toMap
      val cpuCost = thetas.values.sum * prices.vcpuPerHour
      val cacheCost = cacheAt.map(c =>
        cacheBytes.getOrElse(c, 0L) / 1e9 * prices.gbRamPerHour).getOrElse(0.0)
      Choice(cacheAt, thetas, cpuCost + cacheCost)
    }
    (None +: cacheCandidates.map(Option(_))).map(inner).minBy(_.costPerHour)
  }
}

/** A14 — two-segment piecewise-linear bandwidth fit
  * (bandwidth_utilities.py:7-77): sweep source parallelism, fit both
  * segments by least squares at every breakpoint, keep the split with the
  * lowest weighted one-sided error. Predicts saturation bandwidth for the
  * LP's disk rows.
  */
object PiecewiseFit {

  final case class Fit(breakIdx: Int, slope1: Double, icept1: Double,
      slope2: Double, icept2: Double, error: Double) {
    def predict(x: Double, xs: Seq[Double]): Double =
      if (x <= xs(breakIdx)) slope1 * x + icept1 else slope2 * x + icept2
  }

  def fit(xs: Seq[Double], ys: Seq[Double]): Fit = {
    require(xs.size == ys.size && xs.size >= 4, "need ≥4 sweep points")
    val fits = (1 until xs.size - 1).map { b =>
      val (s1, i1, e1) = lsq(xs.take(b + 1), ys.take(b + 1))
      val (s2, i2, e2) = lsq(xs.drop(b), ys.drop(b))
      Fit(b, s1, i1, s2, i2, e1 + e2)
    }
    fits.minBy(_.error)
  }

  /** simple 2×2 normal equations; error = Σ over-prediction-weighted
    * residuals (one-sided, like the reference's asymmetric penalty).
    */
  private def lsq(xs: Seq[Double], ys: Seq[Double]): (Double, Double, Double) = {
    val n = xs.size.toDouble
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val det = n * sxx - sx * sx
    val (slope, icept) =
      if (math.abs(det) < 1e-12) (0.0, sy / n)
      else ((n * sxy - sx * sy) / det, (sy * sxx - sx * sxy) / det)
    val err = xs.zip(ys).map { case (x, y) =>
      val r = slope * x + icept - y
      if (r > 0) 2 * r * r else r * r // over-prediction penalized harder
    }.sum
    (slope, icept, err)
  }
}
