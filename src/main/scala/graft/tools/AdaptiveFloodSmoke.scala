package graft.tools

import org.apache.spark.sql.functions._

/** Flood smoke for the adaptive hot-cell splitter (VERDICT r17 #6): the
  * Lloyd min_by splitter (SimilarityOps.semDedupCellsAdaptive) is
  * spec-tested, but nothing MEASURED showed a hot SemDeDup cell getting
  * split under a real flood with the pair stage staying ≈ Nx. This tool
  * builds a flooded fixture — the dd04/dd21 template-flood pattern,
  * applied to embeddings: a 400-vector organic corpus plus F near-copies
  * of ONE vector (tiny deterministic per-copy displacement, so the flood
  * has geometry to split on), all landing in one codebook cell — at
  * F=200 (1x) and F=2000 (10x), and measures the PLAIN pair stage
  * against the ADAPTIVE one on both legs.
  *
  * The claim under test: the plain cell-keyed self-join is quadratic in
  * the hot cell (10x flood → ~100x pair rows), while the adaptive
  * variant splits the hot cell to ≤ targetCellSize members first, so
  * its pair volume and shuffle stay ≈ Nx — the splitter turns a
  * quadratic cliff into extra linear passes. Writes its own
  * "## Adaptive hot-cell splitter under flood" section into SCALE.md
  * (replaced in place on re-run; never touches other sections).
  */
object AdaptiveFloodSmoke {

  private def fmt(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1024.0 * 1024 * 1024)}%.2f GiB"
    else if (b >= (1L << 20)) f"${b / (1024.0 * 1024)}%.1f MiB"
    else if (b >= (1L << 10)) f"${b / 1024.0}%.1f KiB"
    else s"$b B"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(8)

    val base = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 400)
      .select("vec_id", "label", "embedding")
    val cent = graft.operators.SimilarityOps.trainedCentroids(base)
      .persist()
    cent.count()

    // the flood: F near-copies of vec_id 0's vector, displaced by a
    // tiny deterministic per-(copy, dim) amount — all land in the same
    // cell, but carry enough geometry for a Lloyd pass to separate.
    // TWO coprime moduli make every copy's displacement pattern distinct
    // (a single small modulus collapses the flood to modulus-many unique
    // points and the splitter provably cannot get cells below F/modulus
    // — the first cut of this fixture did exactly that with %7)
    val seed = base.filter(col("vec_id") === 0)
      .select(col("embedding").as("be")).limit(1)
    def flooded(f: Int) = base.select("vec_id", "embedding").unionByName(
      spark.range(f).crossJoin(broadcast(seed)).selectExpr(
        "10000000 + id as vec_id",
        "transform(be, (x, i) -> cast(x " +
          "+ 0.0002 * ((id * 31 + i * 17) % 101) " +
          "+ 0.00003 * ((id * 7 + i * 29) % 89) as float)) as embedding"))

    final case class Leg(rows: Long, kept: Long, pairs: Long, shuffle: Long,
        wall: Double, cells: Long, maxCell: Long, hot: Boolean)
    def measure(f: Int, adaptive: Boolean): Leg = {
      spark.sharedState.cacheManager.clearCache()
      val corpus = flooded(f)
      val l = new graft.metrics.StageMetricsListener
      val t0 = System.nanoTime()
      var rows = 0L; var kept = 0L; var pairs = 0L
      l.collect(spark) {
        val ledger =
          if (adaptive) graft.functions.Similarity.semDedupCellsAdaptive(
            corpus, cent, targetCellSize = 64)
          else graft.functions.Similarity.semDedupCells(corpus, cent)
        val agg = ledger.agg(count(lit(1)), sum("keep_flag")).collect()(0)
        rows = agg.getLong(0); kept = agg.getLong(1)
        // the pair stage's ACTUAL volume: Σ n·(n-1)/2 over the final
        // cells — this is where a flood detonates (the explosion happens
        // inside the cell-keyed join AFTER the exchange, so shuffle
        // bytes alone understate it); the ledger's assignment is
        // persisted by both variants, so this second action is cheap
        pairs = ledger.groupBy("cell").agg(count(lit(1)).as("n"))
          .selectExpr("cast(sum(n * (n - 1) / 2) as bigint) as p")
          .collect()(0).getLong(0)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val (c, mx, _) = graft.operators.SimilarityOps.lastCellStats
        .getOrElse((0L, 0L, 0.0))
      Leg(rows, kept, pairs, l.shuffleWriteBytes, dt, c, mx,
        graft.operators.SimilarityOps.lastHotCellFlagged)
    }

    def timed(tag: String)(leg: => Leg): Leg = {
      val r = leg
      println(f"[flood] $tag: rows=${r.rows} pairs=${r.pairs} " +
        f"shuffle=${fmt(r.shuffle)} wall=${r.wall}%.1f s cells=${r.cells} " +
        f"maxCell=${r.maxCell} hot=${r.hot}")
      r
    }
    val p1 = timed("plain 1x")(measure(200, adaptive = false))
    val pN = timed("plain 10x")(measure(2000, adaptive = false))
    // the 100x plain leg is the measured CLIFF, not a linearity row: a
    // 20k-row hot cell pays ~2·10^8 within-cell cosine pairs through
    // the ledger's self-join — the run completes (bounded, spills), and
    // its wall next to the adaptive leg's is the point of the table
    val pC = timed("plain 100x")(measure(20000, adaptive = false))
    val a1 = timed("adaptive 1x")(measure(200, adaptive = true))
    val aN = timed("adaptive 10x")(measure(2000, adaptive = true))
    val aC = timed("adaptive 100x")(measure(20000, adaptive = true))

    val sb = new StringBuilder
    sb ++= "\n## Adaptive hot-cell splitter under flood (ss25's adaptive variant, measured)\n\n"
    sb ++= s"Fixture: 400 organic sf0.01 vectors + F near-copies of one vector\n"
    sb ++= "(deterministic tiny displacement), all in ONE codebook cell;\n"
    sb ++= "F=200 (1x) / 2000 (10x) / 20000 (100x), same k=10 trained codebook\n"
    sb ++= "on every leg, targetCellSize=64. The plain cell-keyed pair stage\n"
    sb ++= "is quadratic in the hot cell; the adaptive splitter (Lloyd\n"
    sb ++= "sub-assignment via min_by, commit 70994ba) must split it first\n"
    sb ++= "and keep the pair stage ≈ Nx.\n\n"
    sb ++= "| variant | candidate pairs 1x/10x/100x | pair 100x/1x | shuffle 1x/10x/100x | wall 1x/10x/100x | max cell 1x/10x/100x | hot flag |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    def row(tag: String, l1: Leg, l10: Leg, l100: Leg): String =
      f"| $tag | ${l1.pairs} / ${l10.pairs} / ${l100.pairs} | " +
        f"${l100.pairs.toDouble / math.max(l1.pairs, 1L)}%.0fx | " +
        f"${fmt(l1.shuffle)} / ${fmt(l10.shuffle)} / ${fmt(l100.shuffle)} | " +
        f"${l1.wall}%.1f / ${l10.wall}%.1f / ${l100.wall}%.1f s | " +
        f"${l1.maxCell} / ${l10.maxCell} / ${l100.maxCell} | " +
        f"${l1.hot}/${l10.hot}/${l100.hot} |\n"
    sb ++= row("plain semDedupCells", p1, pN, pC)
    sb ++= row("adaptive (target 64)", a1, aN, aC)
    sb ++= "\nCandidate pairs (Σ n·(n-1)/2 over final cells) are the quadratic\n"
    sb ++= "signal — the explosion happens inside the cell-keyed join AFTER\n"
    sb ++= "the exchange, so shuffle bytes alone understate a flood. The\n"
    sb ++= "plain variant's hot cell holds the whole flood (guard FLAGGED\n"
    sb ++= "from 10x up) and its pair volume pays the square of F — its 100x\n"
    sb ++= "leg is the measured cliff (~2·10^8 pairs through the ledger's\n"
    sb ++= "self-join). The adaptive variant splits the flood to\n"
    sb ++= "≈ target-sized sub-cells BEFORE pairing, so its pair volume\n"
    sb ++= "stays ≈ Nx — the splitter converts the quadratic cliff into\n"
    sb ++= "extra linear passes, the ss25 remedy contract at 100 TB. Fixture-\n"
    sb ++= "scale walls on the adaptive legs are dominated by per-round job\n"
    sb ++= "scheduling (dozens of small jobs per split round, constant in\n"
    sb ++= "corpus size — they amortize at production row counts); the\n"
    sb ++= "pair/shuffle columns are the corpus-size signals.\n"

    // splice: replace a previous same-header section in place; insert
    // before the first "## Derived" section so ScaleSmoke's kind-keyed
    // splice never claims it
    val path = java.nio.file.Paths.get("SCALE.md")
    val existing =
      if (java.nio.file.Files.exists(path)) java.nio.file.Files.readString(path)
      else ""
    val header = "\n## Adaptive hot-cell splitter under flood"
    val cleaned = {
      val i = existing.indexOf(header)
      if (i < 0) existing
      else {
        val rest = existing.substring(i + 1)
        val j = rest.indexOf("\n## ")
        existing.substring(0, i) + (if (j < 0) "" else rest.substring(j))
      }
    }
    val insertAt = cleaned.indexOf("\n## Derived ")
    val out =
      if (insertAt < 0) cleaned + sb.toString
      else cleaned.substring(0, insertAt) + sb.toString +
        cleaned.substring(insertAt)
    java.nio.file.Files.writeString(path, out)
    println(f"plain   1x/10x shuffle ${fmt(p1.shuffle)} -> ${fmt(pN.shuffle)} " +
      f"(${pN.shuffle.toDouble / math.max(p1.shuffle, 1L)}%.1fx), " +
      f"maxCell ${p1.maxCell} -> ${pN.maxCell}, hot ${p1.hot}/${pN.hot}")
    println(f"adaptive 1x/10x shuffle ${fmt(a1.shuffle)} -> ${fmt(aN.shuffle)} " +
      f"(${aN.shuffle.toDouble / math.max(a1.shuffle, 1L)}%.1fx), " +
      f"maxCell ${a1.maxCell} -> ${aN.maxCell}, hot ${a1.hot}/${aN.hot}")
    spark.stop()
  }
}
