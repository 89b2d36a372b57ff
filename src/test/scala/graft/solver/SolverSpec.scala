package graft.solver

import org.scalatest.funsuite.AnyFunSuite

class SolverSpec extends AnyFunSuite {
  // seeded property loops (scalatestplus bridge is not in the offline cache)
  private val rnd = new scala.util.Random(42)
  import MaxMinThroughputLP._

  test("water-filling: uniform rates split cores evenly") {
    val ops = (1 to 4).map(i => OpRate(i, perCoreRate = 100.0))
    val s = solve(ops, cores = 8.0)
    ops.foreach(o => assert(math.abs(s.thetas(o.id) - 2.0) < 1e-6))
    assert(math.abs(s.rate - 200.0) < 1e-3)
  }

  test("water-filling: slower op gets proportionally more cores") {
    val ops = Seq(OpRate(1, 100.0), OpRate(2, 300.0))
    val s = solve(ops, cores = 4.0)
    // equalized: 100·θ1 = 300·θ2, θ1+θ2 = 4 → θ1 = 3, θ2 = 1
    assert(math.abs(s.thetas(1) - 3.0) < 1e-6)
    assert(math.abs(s.thetas(2) - 1.0) < 1e-6)
  }

  test("water-filling: θmax=1 clamps sequential ops (reference semantics)") {
    val ops = Seq(OpRate(1, 100.0, thetaMax = 1.0), OpRate(2, 50.0))
    val s = solve(ops, cores = 8.0)
    assert(s.thetas(1) <= 1.0 + 1e-9)
    // min rate limited by the clamped op at 100·1
    assert(math.abs(s.rate - 100.0) < 1e-3)
    // unclamped op should NOT waste cores beyond matching the min rate
    assert(math.abs(s.thetas(2) - 2.0) < 1e-6)
  }

  test("water-filling: over-subscribed θmin gets scaled (convex_solver.py:77-83)") {
    val ops = Seq(OpRate(1, 10.0, thetaMin = 3.0), OpRate(2, 10.0, thetaMin = 3.0))
    val s = solve(ops, cores = 4.0)
    assert(s.coresUsed <= 4.0 + 1e-6)
  }

  test("water-filling: maxChange bounds movement from existing θ") {
    val ops = Seq(OpRate(1, 100.0, existing = 1.0), OpRate(2, 100.0, existing = 1.0))
    val s = solve(ops, cores = 32.0, maxChange = Some(2.0))
    s.thetas.values.foreach(t => assert(t <= 3.0 + 1e-9))
  }

  test("property: Σθ ≤ cores and optimum equalizes unclamped effective rates") {
    for (_ <- 1 to 200) {
      val n = 2 + rnd.nextInt(5)
      val rates = Seq.fill(n)(1.0 + rnd.nextDouble() * 999.0)
      val cores = 1.0 + rnd.nextDouble() * 63.0
      val ops = rates.zipWithIndex.map { case (r, i) => OpRate(i, r) }
      val s = solve(ops, cores)
      assert(s.coresUsed <= cores * (1 + 1e-6))
      val eff = ops.map(o => o.perCoreRate * s.thetas(o.id))
      // no clamps here → all effective rates within 0.1 % of each other
      assert((eff.max - eff.min) / eff.max < 1e-3)
    }
  }

  test("property: matches brute-force grid search on 2 ops") {
    for (_ <- 1 to 200) {
      val r1 = 10.0 + rnd.nextDouble() * 490.0
      val r2 = 10.0 + rnd.nextDouble() * 490.0
      val cores = 2.0 + rnd.nextDouble() * 14.0
      val s = solve(Seq(OpRate(1, r1), OpRate(2, r2)), cores)
      val brute = (0 to 1000).map { i =>
        val t1 = cores * i / 1000.0
        math.min(r1 * t1, r2 * (cores - t1))
      }.max
      assert(s.rate >= brute * 0.999)
    }
  }

  test("use_existing_usage floors θ at current allocation (convex_solver.py:55-75)") {
    // op 1 is fast (would get few cores) but already holds 4 — the floor
    // mode must not plan below what's in use.
    val ops = Seq(
      OpRate(1, perCoreRate = 1000.0, thetaMax = 8.0, existing = 4.0),
      OpRate(2, perCoreRate = 50.0, thetaMax = 8.0, existing = 1.0))
    val free = solve(ops, cores = 8.0)
    val floored = solve(ops, cores = 8.0, useExistingUsage = true)
    assert(free.thetas(1) < 4.0) // unfloored: fast op needs far less
    assert(floored.thetas(1) >= 4.0 - 1e-9)
    assert(floored.thetas(2) >= 1.0 - 1e-9)
    assert(floored.coresUsed <= 8.0 + 1e-9)
    // sequential node's floor is capped at 1 even if usage reads higher
    val seq = solve(Seq(
      OpRate(1, perCoreRate = 100.0, thetaMax = 1.0, existing = 2.5),
      OpRate(2, perCoreRate = 10.0, thetaMax = 8.0, existing = 0.0)),
      cores = 8.0, useExistingUsage = true)
    assert(seq.thetas(1) <= 1.0 + 1e-9 && seq.thetas(1) >= 1.0 - 1e-9)
  }

  test("use_existing_usage: unexplained utilization shrinks the budget (modeling bias)") {
    val ops = Seq(
      OpRate(1, perCoreRate = 100.0, thetaMax = 16.0, existing = 1.0),
      OpRate(2, perCoreRate = 100.0, thetaMax = 16.0, existing = 1.0))
    val noBias = solve(ops, cores = 8.0, useExistingUsage = true, cpuUtilCores = 2.0)
    // 6 cores of measured utilization vs 2 explained by floors → 4 cores
    // of bias leave only 4 to allocate
    val biased = solve(ops, cores = 8.0, useExistingUsage = true, cpuUtilCores = 6.0)
    assert(biased.coresUsed <= 4.0 + 1e-9)
    assert(biased.rate < noBias.rate)
  }

  test("property: floor mode matches brute force with θ ≥ existing on 2 ops") {
    for (_ <- 1 to 200) {
      val r1 = 10.0 + rnd.nextDouble() * 490.0
      val r2 = 10.0 + rnd.nextDouble() * 490.0
      val cores = 4.0 + rnd.nextDouble() * 12.0
      val e1 = rnd.nextDouble() * 2.0
      val e2 = rnd.nextDouble() * 2.0
      val s = solve(
        Seq(OpRate(1, r1, thetaMax = cores, existing = e1),
          OpRate(2, r2, thetaMax = cores, existing = e2)),
        cores, useExistingUsage = true)
      val brute = (0 to 1000).map { i =>
        val t1 = e1 + (cores - e1 - e2) * i / 1000.0
        val t2 = cores - t1
        if (t2 < e2) Double.NegativeInfinity else math.min(r1 * t1, r2 * t2)
      }.max
      assert(s.rate >= brute * 0.999, s"rate=${s.rate} brute=$brute")
      assert(s.thetas(1) >= e1 - 1e-9 && s.thetas(2) >= e2 - 1e-9)
    }
  }

  test("bandwidth cap bounds the source's effective rate (convex_solver.py:104-128)") {
    // src reaches 100/core compute-wise but its device delivers only
    // 50/core up to a 150-el/s saturation ceiling (flat second segment)
    val ops = Seq(
      OpRate(1, perCoreRate = 100.0, thetaMax = 8.0),
      OpRate(2, perCoreRate = 100.0, thetaMax = 8.0))
    val unbounded = solve(ops, cores = 8.0)
    assert(math.abs(unbounded.rate - 400.0) < 1.0) // equalized 4/4 cores
    val bw = Bandwidth(opId = 1, m1 = 50.0, b1 = 0.0, m2 = 0.0, b2 = 150.0)
    val capped = solve(ops, cores = 8.0, bandwidth = Some(bw))
    assert(math.abs(capped.rate - 150.0) < 0.5) // saturation ceiling binds
    assert(math.abs(capped.thetas(1) - 3.0) < 0.05) // θ = 150/50 on segment 1
    assert(math.abs(capped.thetas(2) - 1.5) < 0.05) // θ = 150/100
    // a non-binding (generous) bandwidth leaves the solution unchanged
    val loose = solve(ops, cores = 8.0,
      bandwidth = Some(Bandwidth(1, 1000.0, 0.0, 0.0, 1e9)))
    assert(math.abs(loose.rate - unbounded.rate) < 1.0)
    // A14 fit adapter carries both segments through
    val fit = PiecewiseFit.fit(
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0), Seq(50.0, 100.0, 150.0, 150.0, 150.0, 150.0))
    val viaFit = solve(ops, cores = 8.0, bandwidth = Some(Bandwidth.fromFit(1, fit)))
    assert(viaFit.rate <= 160.0) // capped near the fitted saturation

    // a DECLINING fitted second segment (contention past saturation) must
    // cap at the plateau (segment crossing ≈ 166.7), not at the declining
    // line's extrapolated intercept (200) — nor land below the optimum
    val declining = Bandwidth(opId = 1, m1 = 50.0, b1 = 0.0, m2 = -10.0, b2 = 200.0)
    val norm = declining.normalized
    assert(norm.m2 == 0.0 && math.abs(norm.b2 - 500.0 / 3) < 0.1)
    val sol = solve(ops, cores = 8.0, bandwidth = Some(declining))
    assert(math.abs(sol.rate - 500.0 / 3) < 0.5,
      s"expected plateau-capped 166.7, got ${sol.rate}")
    assert(math.abs(sol.thetas(1) - 10.0 / 3) < 0.05)
  }

  test("min-cost LP: cache masks upstream cost when cheaper") {
    import MinCostLP._
    val ops = Seq(
      OpSpec(1, perCoreRate = 10.0, upstreamOf = Set.empty),   // expensive source
      OpSpec(2, perCoreRate = 1000.0, upstreamOf = Set(1)))    // cheap sink
    val cheap = solve(ops, minRate = 100.0, cacheCandidates = Seq(2),
      cacheBytes = Map(2 -> (1L << 20)))
    // caching node 2 masks op 1's 10 θ of CPU for ~nothing of RAM
    assert(cheap.cacheAt.contains(2))
    val noCache = solve(ops, minRate = 100.0, cacheCandidates = Nil, cacheBytes = Map.empty)
    assert(cheap.costPerHour < noCache.costPerHour)
  }

  test("piecewise fit recovers a 2-segment curve") {
    val xs = Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0)
    // bandwidth: linear ramp then flat saturation at 400
    val ys = xs.map(x => math.min(100.0 * x, 400.0))
    val f = PiecewiseFit.fit(xs, ys)
    assert(math.abs(f.predict(2.0, xs) - 200.0) < 1.0)
    assert(math.abs(f.predict(32.0, xs) - 400.0) < 25.0)
    assert(f.slope2 < f.slope1) // saturation flattens
  }

  test("LP rows from traced metrics: per-core rates, θmax clamps, no row " +
    "for an idle node, and nothing to allocate without a row") {
    def m(id: Int, produced: Long, timeNs: Long, par: Boolean, p: Int = 1) =
      graft.metrics.NodeMetrics(id, s"n$id", "MapE", p, produced, produced, timeNs,
        0.0, isParallelizable = par, isSource = false, isRandom = false)
    val ms = Seq(m(0, 1000, 2000000000L, par = true, p = 2), m(1, 1000, 0L, par = false),
      m(2, 0, 5L, par = true), m(3, 500, 1000000000L, par = false))
    // the rows perfbench's plumber workload builds for its component timings
    val perfbench = ms.filter(_.elementsProduced > 0).map { m =>
      OpRate(m.nodeId,
        graft.plans.Analysis.expectedPerCoreMaxRate(m) match {
          case x if x.isFinite => x
          case _ => 1e12
        },
        0.0, if (m.isParallelizable) 4.0 else 1.0, m.parallelism.toDouble)
    }
    assert(opRates(ms, 4) == perfbench)
    assert(opRates(ms, 4) == Seq(OpRate(0, 250.0, 0.0, 4.0, 2.0),
      OpRate(1, 1e12, 0.0, 1.0, 1.0), OpRate(3, 500.0, 0.0, 1.0, 1.0)))
    assert(opRates(ms, 4, naive = true).map(_.thetaMax) == Seq(4.0, 4.0, 4.0))
    assert(solveMetrics(ms, 4) == solve(perfbench, 4.0))
    assert(solveMetrics(ms.filter(_.elementsProduced == 0), 4) == Solution(Map.empty, 0.0, 0.0))
  }
}
