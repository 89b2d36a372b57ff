package graft.metrics

import graft.SparkTestSession.{sf, spark, withTempDir}
import graft.api.Flagship
import org.scalatest.funsuite.AnyFunSuite

class MetricsSnapshotSpec extends AnyFunSuite {

  test("stats snapshot round-trips and supports offline analysis") {
    val snap = MetricsSnapshot.capture(spark, Flagship.graph, sf)
    withTempDir("graft-snap") { tmp =>
      val dir = tmp.toString
      MetricsSnapshot.save(spark, snap, dir)
      val back = MetricsSnapshot.load(spark, dir)
      assert(back.graph.nodes.sortBy(_.id) == snap.graph.nodes.sortBy(_.id))
      assert(back.metrics == snap.metrics.sortBy(_.nodeId))
      assert(back.global == snap.global)
      assert(back.rowCount == snap.rowCount)
      // offline recommendation from the reloaded snapshot (no re-run)
      val rec = MetricsSnapshot.recommendation(back)
      assert(rec.bottleneckNode().nonEmpty)
      assert(rec.lpUpperBounds() > 0)
    }
  }
}
