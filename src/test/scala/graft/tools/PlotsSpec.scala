package graft.tools

import graft.SparkTestSession.withTempDir
import org.scalatest.funsuite.AnyFunSuite

class PlotsSpec extends AnyFunSuite {

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p))

  test("roofline SVG carries the ramp, bounds, and markers") {
    withTempDir("graft-plots") { dir =>
      val f = dir.resolve("roofline.svg")
      Plots.rooflineSvg(f.toString, nJobs = 3.2, secPerElement = 1e-4,
        nStar = 6.0, cpuBound = 45000.0, diskBound = Some(80000.0),
        nodeRates = Seq(30000.0 -> "map_0", 55000.0 -> "source"))
      val svg = read(f)
      assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
      assert(svg.contains("LP compute bound"))
      assert(svg.contains("disk bound"))
      assert(svg.contains("N=3.20") && svg.contains("N*=6.00"))
      assert(svg.contains("map_0")) // node hline below the y-cap survives
      // the queueing ramp + hlines + vlines are all polylines
      assert(svg.sliding(9).count(_ == "<polyline") >= 6)
    }
  }

  test("bars SVG has one labeled rect per arm") {
    withTempDir("graft-plots") { dir =>
      val f = dir.resolve("bars.svg")
      val arms = Seq("naive" -> 100.0, "heuristic" -> 220.0,
        "plumber_rewrites" -> 400.0, "plumber_opt" -> 390.0)
      Plots.barsSvg(f.toString, arms)
      val svg = read(f)
      assert(svg.sliding(5).count(_ == "<rect") == arms.size + 1) // + background
      arms.foreach { case (name, _) => assert(svg.contains(name)) }
      assert(svg.contains("400")) // value label
    }
  }

  test("sweep emits the SVG alongside the CSV") {
    // covered end-to-end in SweepSpec's outDir run; here just the shape
    // of the ArmResult -> bars adapter with a degenerate single arm
    withTempDir("graft-plots") { dir =>
      val f = dir.resolve("one.svg")
      Plots.barsSvg(f.toString, Seq("only" -> 1.0))
      assert(read(f).contains("only"))
    }
  }
}
