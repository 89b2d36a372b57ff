package graft.tools

import graft.SparkTestSession.{sf, spark}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the predicted-vs-observed optimizer contract (VERDICT r17 #3):
  * the committed FLAGSHIP.md states the band; this spec latches it so a
  * prediction-quality regression (unit mistake, rate inversion, broken
  * theta application — all of which read as 10-1000x gaps) fails the
  * build rather than silently shipping a model that no longer predicts.
  */
class FlagshipReportSpec extends AnyFunSuite {

  test("the LP's binding-op prediction holds on an instrumented re-run " +
    "of the rewritten pipeline: observed/predicted within [0.25, 4], " +
    "and the rewrite never regresses the wall rate below 0.7x") {
    // The bands are TIMING bands over in-test wall measurements, and a
    // shared box swinging 1.5-1.8x intra-day (r19's documented drift)
    // can push one sample to ~0.62x. So the bands are asserted on the
    // median of three gathers: a pass needs two of three samples in the
    // band, while the regressions this spec exists for (10-1000x
    // prediction gaps, real rewrite slowdowns) move every sample.
    val samples = Seq.fill(3)(FlagshipReport.gather(spark, sf, benchIterations = 2))
    def median(f: FlagshipReport.Evidence => Double): Double =
      samples.map(f).sorted.apply(1)
    for (e <- samples) {
      assert(e.predictedRate > 0, "LP must produce a positive rate")
      assert(e.bindingPredicted > 0 && e.bindingObserved > 0,
        s"degenerate binding-op rates: $e")
    }
    val ratio = median(_.ratio)
    val speedup = median(_.speedup)
    assert(ratio >= 0.25 && ratio <= 4.0,
      f"median observed/predicted $ratio%.3f left the stated band [0.25, 4] " +
        samples.map(e => f"(predicted ${e.bindingPredicted}%.0f, observed " +
          f"${e.bindingObserved}%.0f at ${e.bindingOp})").mkString(" "))
    assert(speedup >= 0.7,
      f"rewritten pipeline regressed the wall rate: median $speedup%.2fx " +
        samples.map(e => f"${e.speedup}%.2fx").mkString("(", ", ", ")"))
    // the rendered artifact carries both headline numbers
    val md = FlagshipReport.render(samples.head)
    assert(md.contains("Estimated_Max_Rate_Convex") &&
      md.contains("OBSERVED effective rate"))
  }
}
