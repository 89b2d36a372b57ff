package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] column):
  * brute-force cosine top-k as the exactness baseline, an IVF-bucketed
  * variant as the scale path, and embedding-cosine near-duplicate pairs.
  *
  * Determinism: the Spark side scores with the native codegen
  * expressions `cosine_similarity`, `dot_product` and `l2_distance_sq`
  * (graft.functions), which accumulate in ascending index order in
  * double, the same IEEE add sequence as the DuckDB oracle's
  * `list_reduce` left-folds; ordering ties break on vec_id.
  *
  * Evaluation: every recall query measures its arm against one ground
  * truth built the same way. [[exactTopK]] is the brute-force top-k,
  * [[rankTopK]] the per-query top-k window every arm ranks with, and
  * [[recallAt]] the recall@k rollup; their DuckDB twins are
  * [[duckExactCte]], [[duckRecallSelect]] and [[duckCellRanks]] (the
  * nearest-cell ranking behind every oracle's cell assignment).
  *
  * Scale notes (100 TB): brute force is O(Q·N) — correct but only for
  * small Q; the IVF variant broadcast-joins the (tiny) centroid table,
  * assigns each vector to a cell in one codegen'd scan, and probes only
  * the query's cell, which is the standard distributed ANN layout.
  */
object SimilarityOps {

  private val dim = 64

  /** Hot-cell telemetry from the last `semDedupCells` call on this JVM
    * (the `Dedup.lastCcRounds` convention): `(cells, maxCell, meanCell)`
    * of the cell assignment, and whether any cell tripped the skew
    * guard. ScaleSmoke publishes these next to the ss25 10× row so the
    * k∝N contract is measured, not asserted.
    */
  @volatile private[graft] var lastCellStats: Option[(Long, Long, Double)] = None
  @volatile private[graft] var lastHotCellFlagged: Boolean = false
  /** Split rounds the last [[semDedupCellsAdaptive]] call actually ran
    * (0 = no cell was hot). Diagnostic twin of [[lastCellStats]]; lets
    * specs pin multi-round behavior (the lineage-growth OOM class only
    * manifests past round 1) without guessing from cell geometry.
    */
  @volatile private[graft] var lastSplitRounds: Int = 0
  /** A cell bigger than this × the mean cell size is "hot": its share of
    * the quadratic within-cell pair work dominates the stage. 4× mean is
    * well past k-means' organic imbalance but far below the flood shapes
    * (one dominant semantic cluster) that actually hurt.
    */
  private[graft] val hotCellSkewFactor = 4.0
  /** Skew alone doesn't hurt until cells are big enough for per-cell
    * quadratic cost to matter — below this many rows even a maximally
    * skewed cell is < ~32k pairs, so the guard stays quiet instead of
    * flagging tiny fixtures.
    */
  private[graft] val hotCellFloor = 256L

  /** Left-fold dot product of two array columns, as double. The native
    * codegen expression (graft.functions.DotProduct) replaces the HOF
    * `aggregate(zip_with(...))` rendering: identical ascending-index
    * IEEE accumulation, but allocation-free and inside whole-stage
    * codegen. Queries using this must call `DotProduct.register`.
    */
  private def sparkDot(a: String, b: String): String =
    s"dot_product($a, $b)"
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dim + 1}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"

  /** Spark side uses the native codegen expression (graft.functions.
    * CosineSimilarity) — same ascending-index double accumulation as the
    * SQL fold, so results stay bit-identical to the DuckDB oracle while
    * fusing three folds into one allocation-free pass.
    */
  private def sparkCos(a: String, b: String): String =
    s"cosine_similarity($a, $b)"

  /** Squared-L2 distance, both renderings. Spark side uses the native
    * codegen expression (graft.functions.L2DistanceSq) — same
    * ascending-index double accumulation as the SQL zip_with fold, but
    * allocation-free and inside whole-stage codegen (callers register
    * it; lloydKMeans and rangeSearchL2 do). DuckDB side stays the
    * left-fold, so the two engines agree bit-for-bit.
    */
  private[graft] def sparkD2(a: String, b: String): String =
    s"l2_distance_sq($a, $b)"
  private def duckD2(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), " +
      "(acc, v) -> acc + v)"

  /** Per-cell decimal-exact mean centroids of `(cell, embedding)` rows —
    * trainedCentroids' aggregation keyed by an explicit cluster column
    * (see that method's scaladoc for the determinism contract).
    */
  private[graft] def centroidsOf(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String] = Seq("cell")): org.apache.spark.sql.DataFrame = {
    val aggs = count(lit(1)).as("n") +: (1 to dim).map(i => expr(
      s"sum(cast(cast(element_at(embedding, $i) as double) as decimal(28,8)))")
      .as(s"s$i"))
    val ce = (1 to dim)
      .map(i => s"cast(cast(s$i as double) / n as float)")
      .mkString("array(", ", ", ")")
    df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(keys :+ s"$ce as ce": _*)
  }

  /** One SQL literal holding the full codebook: `array(struct(cell,
    * ce))`. Float components are rendered with their shortest
    * round-trip decimal (Java's Float.toString contract), so
    * `cast('…' as float)` reconstructs each component bit-exactly —
    * the ss10 plan-literal-hyperplane pattern applied to a trained
    * codebook.
    */
  private def centLiteral(cent: Seq[(Long, Array[Float])]): String =
    cent.sortBy(_._1).map { case (cell, ce) =>
      ce.map(v => s"cast('$v' as float)")
        .mkString(s"named_struct('cell', ${cell}L, 'ce', array(", ", ", "))")
    }.mkString("array(", ", ", ")")

  /** Lloyd's k-means, the broadcast-codebook way: centroids live on the
    * DRIVER between iterations (k·dim floats) and enter each pass as
    * plan literals, so cluster assignment is a scan-local
    * `array_min(transform(...))` projection — ZERO shuffle over the
    * corpus. The only exchanges are the map-side-combined k-row
    * centroid re-aggregations (decimal-exact means, float-quantized:
    * the cross-engine determinism contract of trainedCentroids). Ties
    * in the argmin break toward the smaller cell id via lexicographic
    * struct ordering — the same (d2, cell) order the oracle's
    * row_number uses. Seeds are the k lowest-id vectors, renumbered
    * 0..k−1 in id order; cells that lose all members simply drop out of
    * the codebook (documented Lloyd behavior, no re-seeding).
    *
    * Input: (vec_id, embedding); output: (cluster_id, n, sse) with sse
    * the decimal-quantized exact sum of member distances. At 100 TB
    * each iteration is one corpus scan + one k-row exchange — the same
    * shape MLlib's KMeans uses, minus its RNG.
    */
  private[graft] def lloydKMeans(e: org.apache.spark.sql.DataFrame,
      k: Int, iters: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1, got k=$k iters=$iters")
    graft.functions.L2DistanceSq.register(e.sparkSession)
    def assign(centSql: String) = e.selectExpr(
      "vec_id", "embedding",
      s"array_min(transform($centSql, " +
        s"c -> struct(${sparkD2("embedding", "c.ce")} as d2, c.cell as cell))) as a")
      .selectExpr("vec_id", "embedding", "a.cell as cell", "a.d2 as d2")
    var cent: Seq[(Long, Array[Float])] =
      e.orderBy("vec_id").limit(k)
        .selectExpr("vec_id", "embedding")
        .collect().toSeq.sortBy(_.getLong(0))
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }
    for (_ <- 1 until iters)
      cent = centroidsOf(assign(centLiteral(cent)).select("cell", "embedding"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assign(centLiteral(cent))
      .groupBy(col("cell").as("cluster_id"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        expr("cast(sum(cast(d2 as decimal(28,6))) as double)").as("sse"))
  }

  /** Quartile assignment against broadcast cut points — identical text
    * on both engines (ss09's corpus-side coding step).
    */
  private val duckBucket =
    "CASE WHEN v <= c1 THEN 1 WHEN v <= c2 THEN 2 WHEN v <= c3 THEN 3 ELSE 4 END"
  private val sparkBucket =
    "case when v <= c1 then 1 when v <= c2 then 2 when v <= c3 then 3 else 4 end"

  /** Component i (1-based) of SRP hyperplane p — the md5-derived double
    * the ss10 oracle computes in SQL, reproduced at plan-build time so
    * the planes can be inlined as foldable literals.
    * `Double.toString` round-trips through Spark's literal parser
    * exactly, so the inlined value IS this value.
    */
  private[graft] def srpPlane(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble /
      576460752303423488.0 - 1.0
  }

  /** 64-bit SRP sign code of `vecCol` — 32 inlined-literal hyperplane
    * dots in one codegen'd projection (no join, no shuffle). Plane
    * components are generated at width `d` (default: the fixture's 64),
    * so any embedding dimensionality gets real hyperplanes, not
    * length-mismatch NULL dots. Callers must have run
    * `DotProduct.register` on the session. Shared by the gated ss10
    * query and the public `Similarity.srpNearDup` API so the two can
    * never diverge.
    */
  private[graft] def srpCodeExpr(vecCol: String, d: Int = dim): String =
    (0 until 32).map { p =>
      val arr = (1 to d)
        .map(i => s"${srpPlane(p, i)}d").mkString("array(", ", ", ")")
      s"(case when ${sparkDot(vecCol, arr)} > 0 then ${1L << p}L else 0L end)"
    }.mkString("", " + ", "")

  /** 32-bit words of the RAW sign-bit code of `vecCol` (ss19): word wi's
    * bit j is set iff component `wi·32 + j + 1` is strictly positive.
    * Unlike the SRP code (random projections — dim-independent
    * similarity structure), this is plain per-component binarization:
    * the standard binary-quantization layout whose Hamming distance
    * approximates angular distance for zero-centered embeddings.
    * `(d + 31) / 32` words cover dimension d (two for the fixture's 64).
    */
  private[graft] def signWords(vec: String, d: Int = dim): Seq[String] =
    (0 until (d + 31) / 32).map { wi =>
      (0 until math.min(32, d - wi * 32)).map(j =>
        s"(case when element_at($vec, ${wi * 32 + j + 1}) > cast(0 as float) " +
          s"then ${1L << j}L else 0L end)")
        .mkString("(", " + ", ")")
    }
  private def duckSignWord(vec: String, base: Int): String =
    (0 until 32).map(j =>
      s"(CASE WHEN $vec[${base + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Per-query Hamming shortlist over sign-bit codes: the `shortlist`
    * lowest-Hamming corpus rows per query (ties to the smaller id),
    * with the query/neighbor vectors carried for the rerank stage.
    * Output: (q_id, n_id, ham, qe, ne). Codes are born in the scan
    * projections; queries broadcast, so the int-only Hamming pass is
    * scan-local. Shared by the gated ss19 query and
    * `Similarity.hammingTopK` — same machinery, can't diverge.
    */
  private[graft] def hammingShortlist(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
      shortlist: Int, d: Int = dim): org.apache.spark.sql.DataFrame = {
    require(shortlist >= 1, s"shortlist must be >= 1, got $shortlist")
    val words = signWords(vecCol, d)
    val wCols = words.zipWithIndex.map { case (w, i) => s"$w as w$i" }
    val qCols = words.indices.map(i => s"w$i as qw$i")
    val ham = words.indices
      .map(i => s"bit_count(w$i ^ qw$i)").mkString(" + ")
    val c = corpus.selectExpr(Seq(s"$idCol as n_id", s"$vecCol as ne") ++ wCols: _*)
    val q = queries
      .selectExpr(Seq(s"$idCol as q_id", s"$vecCol as qe") ++ wCols: _*)
      .selectExpr(Seq("q_id", "qe") ++ qCols: _*)
    broadcast(q).crossJoin(c)
      .filter(col("n_id") =!= col("q_id"))
      .selectExpr("q_id", "n_id", s"$ham as ham", "qe", "ne")
      .selectExpr("q_id", "n_id", "ham", "qe", "ne",
        "row_number() over (partition by q_id order by ham, n_id) as rn")
      .filter(col("rn") <= shortlist)
      .drop("rn")
  }

  /** 4×8-bit band rows of a (vec_id, code) frame, each (band, key)
    * bucket capped at `cap` members by vec_id order.
    */
  private[graft] def srpCappedBands(codes: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame =
    codes
      .withColumn("b", explode(expr("sequence(0, 3)")))
      .selectExpr("vec_id", "b", "shiftright(code, 8*b) & 255 as key")
      .selectExpr(
        "vec_id", "b", "key",
        "row_number() over (partition by b, key order by vec_id) as rn")
      .filter(col("rn") <= cap)
      .select("vec_id", "b", "key")

  /** Band a (vec_id, code) frame 4×8 bits and emit distinct same-bucket
    * candidate pairs (a_id < b_id), each bucket capped at `cap` members
    * by vec_id order (dd04's flood guard: a template flood yields
    * ≤ cap·(cap−1)/2 pairs per bucket, never N²). Leaves one persisted
    * frame behind; callers follow the repo-wide contract of
    * `spark.catalog.clearCache()` between queries.
    */
  private[graft] def srpBandPairs(codes: org.apache.spark.sql.DataFrame,
      cap: Int = 64): org.apache.spark.sql.DataFrame = {
    val capped = srpCappedBands(codes, cap)
      .persist() // both sides of the band self-join
    capped.toDF("a_id", "b", "key")
      .join(capped.toDF("b_id", "b", "key"), Seq("b", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Cross-SET band candidates: (a_id from `codesA`) × (b_id from
    * `codesB`) sharing any band bucket, each side capped independently —
    * the candidate stage of the semantic contamination audit. No
    * self-join, no persist (each side is consumed once).
    */
  private[graft] def srpBandPairsBetween(
      codesA: org.apache.spark.sql.DataFrame,
      codesB: org.apache.spark.sql.DataFrame,
      cap: Int = 64): org.apache.spark.sql.DataFrame =
    srpCappedBands(codesA, cap).toDF("a_id", "b", "key")
      .join(srpCappedBands(codesB, cap).toDF("b_id", "b", "key"), Seq("b", "key"))
      .select("a_id", "b_id")
      .distinct()
  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / sqrt(${duckDot(a, a)} * ${duckDot(b, b)})"

  /** The fixture's deterministic codebook: each label's first vector
    * (by vec_id) as that cell's centroid — k-means-free so the oracle
    * is closed-form. Production swaps in trained centroids.
    */
  private[graft] def labelCentroids(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.selectExpr(
      "label as cell", "embedding as ce",
      "row_number() over (partition by label order by vec_id) as rn")
      .filter(col("rn") === 1)
      .drop("rn")

  /** TRAINED centroids: each label's decimal-exact per-dimension mean
    * vector — the real-codebook counterpart of `labelCentroids`' pick-
    * first medoid (ss04's aggregation extended to every dimension).
    * Components are quantized to FLOAT so the cosine kernel's
    * (array<float>, array<float>) signature stays exact on both
    * engines; decimal sums make the grouped mean order-insensitive
    * under any partitioning. One codegen'd scan, map-side partials —
    * the centroid table stays k-ish rows, broadcastable at any corpus
    * size.
    */
  private[graft] def trainedCentroids(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    centroidsOf(e.selectExpr("label as cell", "embedding"))

  /** DuckDB rendering of one trained-centroid component (kept beside
    * the Spark rendering above so the two can't drift).
    */
  private def duckCentDim(i: Int): String =
    s"CAST(CAST(SUM(CAST(embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS FLOAT)"

  /** IVF top-k search over a corpus with a supplied centroid table
    * `cent(cell, ce)`: ONE scored pass against the BROADCAST centroids
    * feeds both the per-vector cell assignment (rn = 1, cells disjoint
    * so candidates need no dedup) and each query's `nprobe` probe list;
    * candidates are ranked by exact cosine. Queries are the corpus rows
    * matching `queryPred` (self-matches excluded). Shared by the gated
    * ss05 query and `Similarity.ivfTopK` so the API can't diverge.
    */
  private[graft] def ivfSearch(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    // _q is evaluated on `e` BEFORE the centroid projection so the
    // predicate may reference any of e's columns (the public ivfTopK
    // passes a caller-built pred). topCells keeps only the nprobe best
    // cells per vector, computed scan-locally (r17 — no exploded-frame
    // exchange/sort), so the cache holds N×nprobe rows, not N×C.
    val scored = topCells(e.withColumn("_q", queryPred), cent,
        math.max(nprobe, 1), Seq("vec_id", "_q"))
      // consumed twice (cell assignment + query probe list); released by
      // caller clearCache — reruns reuse the entry (CacheManager dedups
      // by plan; asserted in CacheHygieneSpec)
      .persist()
    val assign = scored.filter(col("rn") === 1).select("vec_id", "cell")
    val qc = scored.filter(col("_q") && col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val cand = broadcast(q.join(qc, "q_id"))
      .join(assign.withColumnRenamed("vec_id", "n_id"), "cell")
      .join(
        e.select(col("vec_id").as("n_id"), col("embedding").as("ne")),
        Seq("n_id"))
      .filter(col("n_id") =!= col("q_id"))
    rankedTopK(cand, k, sparkCos("qe", "ne"))
  }

  /** EXACT L2 range search accelerated by triangle-inequality cell
    * pruning: every (query, corpus) pair within `radius`, with whole
    * CELLS skipped when the bound proves they can't contain a hit —
    * no recall loss, unlike IVF probing. Cells are the `cellCol`
    * grouping (the fixture's label; production plugs k-means cells in),
    * each summarized by a centroid from `cent(cell, ce)` and its
    * members' max deviation maxdev = max d(x, c). For query q, a cell
    * can hold a hit only if d(q, c) ≤ maxdev + r (triangle
    * inequality); the 1e-9 slack absorbs fp rounding in the two
    * correctly-rounded sqrts so pruning can never drop a borderline
    * true pair. Survivor cells' members get the exact left-fold d²
    * filter — the same arithmetic the brute-force oracle runs, so the
    * output is bit-identical to brute force.
    *
    * Scale notes (100 TB): the per-cell summary (centroid join + max)
    * is one map-side-combined agg; queries × cells is a broadcast
    * cross of two tiny frames; only survivor cells' members flow into
    * the final keyed join — on clustered corpora (the production case)
    * that's the pruning win, and the worst case degrades to brute
    * force, never to a wrong answer. This fixture's embeddings are
    * near-uniform (inter-point distances ~1.1-1.5), so pruning rarely
    * fires here; the spec pins brute-force equality, which is the
    * exactness claim.
    */
  private[graft] def rangeSearchL2(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      radius: Double): org.apache.spark.sql.DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    graft.functions.L2DistanceSq.register(e.sparkSession)
    val dev = e.selectExpr("vec_id", "label as cell", "embedding")
      .join(broadcast(cent), "cell")
      .selectExpr("vec_id", "cell", "embedding",
        s"sqrt(${sparkD2("embedding", "ce")}) as dx")
    val cellStats = dev.groupBy("cell").agg(max("dx").as("maxdev"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val liveCells = broadcast(q).crossJoin(broadcast(cent))
      .selectExpr("q_id", "qe", "cell", s"sqrt(${sparkD2("qe", "ce")}) as dqc")
      .join(broadcast(cellStats), "cell")
      .filter(col("dqc") <= col("maxdev") + lit(radius) + lit(1e-9))
      .select("q_id", "qe", "cell")
    liveCells
      .join(dev.select(col("vec_id").as("n_id"), col("cell"), col("embedding").as("ne")), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .selectExpr("q_id", "n_id", s"${sparkD2("qe", "ne")} as d2")
      .filter(col("d2") <= lit(radius * radius))
  }

  /** ss03's skew-proof near-dup pair builder: candidate generation joins
    * on id-BLOCKS (each left row probes its own floor(id/25) block and
    * the next, capping fan-out at ~50 candidates per row regardless of
    * the label distribution), label equality and the cosine threshold
    * stay as post-join filters. Returns distinct (a_id, b_id), a < b.
    * Shared by the gated ss03 query and dd14's clustering stage so the
    * pair semantics can't diverge from the oracle-checked plan.
    */
  private[graft] def embedNearDupPairs(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      threshold: Double = 0.3): org.apache.spark.sql.DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    // a probes block(a) and block(a)+1; b sits in block(b). Since
    // 0 < b-a <= 25 implies block(b) ∈ {block(a), block(a)+1}, each
    // qualifying pair matches on exactly one block key (no dup pairs).
    val a = e.toDF("a_id", "la", "ea")
      .withColumn("blk", explode(expr("array(a_id div 25, a_id div 25 + 1)")))
    val b = e.toDF("b_id", "lb", "eb")
      .withColumn("blk", expr("b_id div 25"))
    a.join(b, Seq("blk"))
      .filter(col("la") === col("lb"))
      .filter(col("a_id") < col("b_id") && col("b_id") - col("a_id") <= 25)
      .filter(expr(s"${sparkCos("ea", "eb")} > $threshold"))
      .select("a_id", "b_id")
  }

  /** Cluster-scoped SemDeDup ledger shared by the gated ss25 query and
    * `Similarity.semDedupCells` (the API delegates HERE so the two
    * can't diverge): assign every vector to its nearest centroid cell
    * (cosine, ties toward the smaller cell id — ivfSearch's rn=1
    * assignment), then inside each cell greedily keep the LOWEST
    * vec_id of every ε-similar pair. A vector is dropped iff some
    * lower-id vector in ITS cell clears `tau`; `keeper` records the
    * smallest such dominator (NULL on kept rows). This is the
    * paper-style cluster-scoped variant (SemDeDup: k-means cells +
    * within-cell ε-pruning) — dd14 is the transitive CC flavor over a
    * blocked global pair graph; the two answer different curation
    * questions (greedy per-cell thinning vs full near-dup clustering).
    * Callers must have run `CosineSimilarity.register`.
    *
    * Scale notes (100 TB): the codebook broadcasts (k rows); cell
    * assignment is one scored pass (the audited ivfSearch shape); the
    * within-cell self-join is quadratic PER CELL, which is exactly the
    * SemDeDup contract — k grows with N so cells stay constant-size
    * and the pair stage stays linear in the corpus (the 10× smoke row
    * scales cells with rows and measures ~1× per-cell work). A flooded
    * cell degrades like dd08's oversized bucket — and unlike dd04's
    * bucket cap, a cell cannot be silently skipped (that would skip
    * DEDUPLICATING it), so the guard below OBSERVES: one
    * map-side-combined pass over the persisted assignment records the
    * cell geometry ([[lastCellStats]]) and flags any cell past
    * [[hotCellSkewFactor]]× the mean (above [[hotCellFloor]] rows) on
    * stderr + [[lastHotCellFlagged]]. The remedy is the caller's: raise
    * k, or re-run lloydKMeans on the hot cell to pre-split it before
    * the join. The persisted assignment is N slim rows (id, cell,
    * vector), consumed by the guard, both pair sides, and the output
    * spine; released by caller clearCache (CacheHygieneSpec convention).
    */
  private[graft] def semDedupCells(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      tau: Double, keepEmbedding: Boolean = false): org.apache.spark.sql.DataFrame = {
    // The codebook is SINGLE-consumer (r19): its cardinality rides the
    // assignment rows as `_k` (topCells emitK — size of the broadcast
    // array, free at scan time), so the r18 persist + count() pair —
    // whose materialization job ss27 measured as a net loss — is gone
    // and the centroid aggregation runs exactly once, inside the
    // assignment's broadcast build.
    // Cached CELL-partitioned (r19): the guard's aggregate, both pair
    // sides, the dominator rollup and the ledger join are all (cell)-
    // or (cell, id)-keyed, so ONE hash(cell) exchange at cache build
    // replaces every downstream exchange of the corpus-scale frame
    // (guide §2.4). Skew exposure is unchanged — the pair join already
    // hashed by cell — and the hot-cell guard still observes it.
    val assign = semDedupAssign(e, cent, emitK = true)
      .repartition(col("cell")).persist()
    // Hot-cell guard (VERDICT r11 #3). Costs one k-row aggregate over
    // the assignment the pair stage reads anyway; runs eagerly so the
    // warning lands BEFORE the caller pays the quadratic pair stage.
    // The mean divides by the CODEBOOK's k, not the occupied-cell count
    // — the canonical flood (one dominant cluster absorbs the corpus)
    // leaves few occupied cells with max ≈ occupied-mean, which would
    // read as perfectly balanced; against k it reads as the k-violation
    // it is.
    recordCellGeometryK(assign, "semDedupCells",
      "raise k or re-cluster the hot cell (semDedupCellsAdaptive does " +
        "this automatically) before this call")
    semDedupLedger(assign.select("vec_id", "cell", "embedding"), tau,
      keepEmbedding)
  }

  /** Top-`n` codebook cells per vector, computed ENTIRELY inside the
    * scan projection (r17): the broadcast codebook `cent(cell, ce)`
    * collapses to one sorted struct array (the fn11 broadcast idiom);
    * each row scores it with a transform() and keeps the first `n` of
    * reverse(array_sort(struct(cos, -cell, cell))) — exactly ORDER BY
    * cos DESC, cell ASC INCLUDING the NaN-sorts-greatest rule, so the
    * emitted (keep..., cell, rn) rows are bit-identical to the old
    * row_number()-over-exploded-frame form. That form crossJoined
    * e × cent and ranked with a window, which EXCHANGED AND SORTED the
    * exploded N·k frame (embeddings aboard) — at the 100x fixture that
    * sort alone spilled 3.3 GiB on ss29, and at a production codebook
    * (k in the tens of thousands) it is the dominant stage of every IVF
    * query. This form ships nothing anywhere: no exchange, no sort, one
    * codegen'd projection whose per-row cost is the same N·k cosines
    * plus an in-row k log k sort. `keep` columns pass through; `e` must
    * carry `embedding`; `rn` is 1-based like row_number; `cell` keeps
    * cent's own dtype; an empty codebook emits zero rows (empty array →
    * posexplode drops the row), matching the old crossJoin form.
    */
  private[graft] def topCells(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, n: Int,
      keep: Seq[String], emitK: Boolean = false): org.apache.spark.sql.DataFrame = {
    // spread: the N·k cosine scoring below is the dominant per-task cost
    // of a SemDeDup/IVF assignment and the fixture embeddings scan is
    // ONE split (r18) — fan plain scan inputs out; derived inputs
    // (joins, cached frames) and production-width scans pass through
    val withCents = graft.Tables.spread(e).crossJoin(broadcast(
      cent.agg(expr("array_sort(collect_list(struct(cell, ce)))").as("_cents"))))
    // tie key -1 - cell (bitwise NOT): strictly decreasing in cell like
    // a negation, but total over the whole integral range — -cell
    // overflows at MinValue
    val scoredStruct = s"named_struct('cs', ${sparkCos("embedding", "c.ce")}, " +
      "'negc', -1 - c.cell, 'cell', c.cell)"
    // emitK rides the codebook CARDINALITY on every output row (r19):
    // `size(_cents)` against the broadcast array is free at scan time,
    // and a consumer that needs k (the hot-cell guard's mean divisor)
    // reads it off the assignment it aggregates anyway — so the
    // codebook frame stays SINGLE-consumer and needs neither a persist
    // (ss27's r18 regression: the materialization job outweighed the
    // saved k-row aggregation) nor a second corpus-scale count pass.
    val kCols = if (emitK) Seq("size(_cents) as _k") else Nil
    val kNames = if (emitK) Seq("_k") else Nil
    if (n == 1)
      // argmax specialization for the dominant path (every SemDeDup
      // assignment): max(struct) is one O(k) pass per row — same
      // (cos DESC, cell ASC, NaN-greatest) ordering as the sorted form,
      // without materializing and sorting a k-array per row. An empty
      // codebook arg-maxes to NULL; the filter keeps the zero-row
      // contract the posexplode branch gets for free.
      withCents
        .selectExpr((keep :+
          (s"array_max(transform(_cents, c -> $scoredStruct)).cell as cell")) ++
          kCols: _*)
        .filter(col("cell").isNotNull)
        .selectExpr(keep ++ Seq("cell", "cast(1 as int) as rn") ++ kNames: _*)
    else
      withCents
        .selectExpr((keep :+ (s"slice(reverse(array_sort(transform(_cents, " +
          s"c -> $scoredStruct))), 1, $n) as _top")) ++ kCols: _*)
        .selectExpr((keep :+ "posexplode(_top) as (_p0, _t)") ++ kNames: _*)
        .selectExpr(keep ++ Seq("_t.cell as cell", "cast(_p0 + 1 as int) as rn") ++
          kNames: _*)
  }

  /** The per-query top-k window every ss ranking shares: the `k` rows
    * of each `q_id` in a (q_id, n_id, …) frame with the highest
    * `scoreSql`, ties to the smaller `n_id`. Returns (q_id, n_id). An
    * arm and the truth it is measured against rank with this one window,
    * so their tie rules cannot drift apart.
    */
  private[graft] def rankTopK(cand: org.apache.spark.sql.DataFrame, k: Int,
      scoreSql: String): org.apache.spark.sql.DataFrame =
    cand.selectExpr("q_id", "n_id", s"${topKOrder(scoreSql)} as rn")
      .filter(col("rn") <= k)
      .select("q_id", "n_id")

  /** [[rankTopK]] keeping the 1-based rank as a BIGINT `rank`, and the
    * `carry` columns of `cand`: (q_id, rank, n_id, carry…), the result
    * shape of the top-k search APIs.
    */
  private[graft] def rankedTopK(cand: org.apache.spark.sql.DataFrame, k: Int,
      scoreSql: String, carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    cand.selectExpr(Seq("q_id", "n_id") ++ carry :+
        s"cast(${topKOrder(scoreSql)} as bigint) as rank": _*)
      .filter(col("rank") <= k)
      .select(("q_id" +: "rank" +: "n_id" +: carry).map(col): _*)

  private def topKOrder(scoreSql: String): String =
    s"row_number() over (partition by q_id order by $scoreSql desc, n_id)"

  /** Brute-force ground truth: each query of `q(q_id, qe)` against every
    * other row of `corpus(vec_id, embedding)`, queries broadcast over one
    * corpus scan, then [[rankTopK]] by `scoreSql` over (qe, ne).
    * Returns (q_id, n_id). O(Q·N), so for the small query sets recall is
    * measured on; a query with no other corpus row has no exact row.
    */
  private[graft] def exactTopK(q: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, k: Int,
      scoreSql: String): org.apache.spark.sql.DataFrame =
    rankTopK(broadcast(q)
      .crossJoin(corpus.select(col("vec_id").as("n_id"), col("embedding").as("ne")))
      .filter(col("n_id") =!= col("q_id")), k, scoreSql)

  /** Recall@k of an arm's `hits` against the `exact` top-k: each exact
    * row left-joins its hit, and each group of exact's columns other
    * than n_id (q_id first, then any per-query columns it carries) gets
    * `n_hit` and `recall_x100 = (n_hit · 100) div k`. `hits` has two
    * columns, the query id and the neighbor id, named apart from
    * exact's. A query with no exact row gets no recall row; one whose
    * arm found nothing gets 0.
    */
  private[graft] def recallAt(exact: org.apache.spark.sql.DataFrame,
      hits: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val Array(hq, hn) = hits.columns
    exact.join(hits, col("q_id") === col(hq) && col("n_id") === col(hn), "left")
      .groupBy(exact.columns.filter(_ != "n_id").map(col).toSeq: _*)
      .agg(count(col(hn)).as("n_hit"), expr(s"(count($hn) * 100) div $k").as("recall_x100"))
  }

  /** DuckDB twin of [[exactTopK]]: the `exact(q_id, n_id)` CTE ranking
    * every other embeddings row against each row of the query's
    * `q(q_id, qe)` CTE by `score` DESC, ties to the smaller vec_id.
    */
  private def duckExactCte(k: Int, score: (String, String) => String): String =
    s"""exact AS (SELECT q_id, n_id FROM (
       |    SELECT q.q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${score("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e
       |    WHERE e.vec_id <> q.q_id) WHERE rn <= $k)""".stripMargin

  /** DuckDB twin of [[recallAt]]: per query of the `exact` CTE, the hits
    * of the `arm(q_id, n_id)` CTE and recall_x100 at `k`.
    */
  private def duckRecallSelect(arm: String, k: Int): String =
    s"""SELECT x.q_id, count(i.n_id) AS n_hit,
       |  (count(i.n_id) * 100) // $k AS recall_x100
       |FROM exact x LEFT JOIN $arm i ON i.q_id = x.q_id AND i.n_id = x.n_id
       |GROUP BY x.q_id""".stripMargin

  /** DuckDB twin of [[topCells]]' ranking: every row of `src` (aliased
    * `e`) against every centroid of the query's `cent(cell, ce)` CTE,
    * numbered `rn` by cosine DESC, cell ASC per vec_id; rn = 1 is the
    * assignment, rn ≤ n the probe list. `extra` expressions over `e`
    * ride along between vec_id and cell.
    */
  private def duckCellRanks(src: String = "embeddings",
      extra: Seq[String] = Nil): String =
    s"""SELECT e.vec_id, ${extra.map(_ + ", ").mkString}c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.ce")} DESC, c.cell) AS rn
       |    FROM $src e CROSS JOIN cent c""".stripMargin

  /** Nearest-centroid cell assignment shared by the SemDeDup family:
    * [[topCells]] with n = 1, one scan-local argmax against the BROADCAST
    * codebook (cosine, ties toward the smaller cell id; see there for
    * the contract). Returns N slim (vec_id, cell, embedding) rows, plus
    * the codebook cardinality `_k` when `emitK`.
    */
  private def semDedupAssign(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      emitK: Boolean = false): org.apache.spark.sql.DataFrame =
    if (emitK)
      topCells(e, cent, 1, Seq("vec_id", "embedding"), emitK = true)
        .select("vec_id", "cell", "embedding", "_k")
    else
      topCells(e, cent, 1, Seq("vec_id", "embedding"))
        .select("vec_id", "cell", "embedding")

  /** The within-cell greedy pair stage over a (vec_id, cell, embedding)
    * assignment: cell-keyed self-join, keep the LOWEST id of every
    * τ-similar pair, one ledger row per vector. Callers persist the
    * assignment (both pair sides and the output spine read it).
    */
  private def semDedupLedger(assign: org.apache.spark.sql.DataFrame,
      tau: Double, keepEmbedding: Boolean = false): org.apache.spark.sql.DataFrame = {
    val a = assign.select(
      col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
    val b = assign.select(
      col("vec_id").as("b_id"), col("cell"), col("embedding").as("eb"))
    // Everything downstream of the cell-keyed pair join stays ON the
    // join's hash(cell) partitioning (r19, guide §2.4 "share one
    // exchange"): `cell` is functional on `b_id` (one assignment row
    // per vector), so grouping by (cell, b_id) groups exactly as
    // (b_id) while letting the aggregation reuse hash(cell) — no
    // exchange — and the ledger's left join keyed (cell, vec_id)
    // accepts the dom side as-is and the assign side by its own cell
    // partitioning where the caller pre-partitioned it. The old
    // b_id-keyed forms re-exchanged both frames.
    val dom = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(expr(s"${sparkCos("ea", "eb")} > $tau"))
      .groupBy("cell", "b_id")
      .agg(min("a_id").as("keeper"))
      .withColumnRenamed("b_id", "vec_id")
    // keepEmbedding: a caller that feeds survivors into a later stage
    // (ss26's incremental admission) reads the vector straight off the
    // assignment this join consumes anyway — in semDedupCells the join
    // is exchange-free on the cell-partitioned cache, so the column is
    // a free ride there; without it ss26 re-joined the corpus by vec_id
    // to fetch a column the plan already held (r19, guide §2.4).
    val cols = if (keepEmbedding) Seq("vec_id", "cell", "embedding")
      else Seq("vec_id", "cell")
    assign.select(cols.head, cols.tail: _*)
      .join(dom, Seq("cell", "vec_id"), "left")
      .selectExpr(cols ++ Seq(
        "cast(case when keeper is null then 1 else 0 end as int) as keep_flag",
        "keeper"): _*)
  }

  /** Measure an assignment's cell geometry into [[lastCellStats]] /
    * [[lastHotCellFlagged]] and warn on stderr when a cell trips the
    * skew guard. `k` is the codebook cardinality the mean divides by.
    */
  private def recordCellGeometry(assign: org.apache.spark.sql.DataFrame,
      k: Long, who: String, remedy: String): Unit = {
    val geo = assign.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), max("n"), sum("n")).collect()(0)
    val cells = geo.getLong(0)
    val (maxCell, meanCell) =
      if (cells == 0L) (0L, 0.0)
      else (geo.getLong(1), geo.getLong(2).toDouble / math.max(k, 1L))
    recordGeo(cells, maxCell, meanCell, who, remedy)
  }

  /** [[recordCellGeometry]] over an assignment carrying the codebook
    * cardinality as its `_k` column ([[topCells]] emitK) — k rides the
    * SAME one-pass aggregate the guard pays anyway, so the codebook
    * frame needs neither a persist nor a count pass of its own (r19:
    * the ss27 persist regression's fix, applied to the whole family).
    */
  private def recordCellGeometryK(assign: org.apache.spark.sql.DataFrame,
      who: String, remedy: String): Unit = {
    val geo = assign.groupBy("cell")
      .agg(count(lit(1)).as("n"), max("_k").as("k"))
      .agg(count(lit(1)), max("n"), sum("n"), max("k")).collect()(0)
    val cells = geo.getLong(0)
    val (maxCell, meanCell) =
      if (cells == 0L) (0L, 0.0)
      else (geo.getLong(1),
        geo.getLong(2).toDouble / math.max(geo.getInt(3).toLong, 1L))
    recordGeo(cells, maxCell, meanCell, who, remedy)
  }

  private def recordGeo(cells: Long, maxCell: Long, meanCell: Double,
      who: String, remedy: String): Unit = {
    lastCellStats = Some((cells, maxCell, meanCell))
    lastHotCellFlagged =
      maxCell > hotCellFloor && maxCell > hotCellSkewFactor * meanCell
    if (lastHotCellFlagged) System.err.println(
      f"[graft] $who hot cell: max=$maxCell rows vs mean=$meanCell%.1f" +
        f" over $cells cells (skew ${maxCell / meanCell}%.1fx > " +
        f"$hotCellSkewFactor%.0fx) — within-cell pair work is quadratic in" +
        s" the hot cell; $remedy")
  }

  /** [[semDedupCells]] with the hot-cell remedy applied automatically:
    * any cell past `targetCellSize` rows is re-clustered by a Lloyd
    * pass restricted to its own members (`⌈n/target⌉` sub-cells, seeds
    * = the cell's lowest-id members — lloydKMeans' determinism contract
    * per cell) and the sub-cells spliced into the codebook under fresh
    * ids; repeated up to `maxRounds` until every cell fits. The greedy
    * within-cell τ-pruning then runs on the refined assignment.
    * Output ledger is `(vec_id, cell BIGINT, keep_flag, keeper)` —
    * cell ids above the input codebook's max are synthetic sub-cells.
    *
    * Scale notes (100 TB): every round is corpus-scale DataFrame work —
    * no per-hot-cell driver loop. The hot set is detected by a k-row
    * aggregate (top 64 hottest per round, rest caught next round);
    * sub-seeding is one keyed window over HOT members only; each Lloyd
    * pass joins hot members to the (cell)-keyed sub-centroid table and
    * re-aggregates decimal-exact means map-side. Non-hot members are
    * never touched. An unsplittable flood (identical vectors — no
    * geometry to separate) exhausts `maxRounds` and leaves
    * [[lastHotCellFlagged]] set, so the caller still learns the
    * quadratic cost was paid. Dedup semantics differ from the plain
    * variant ONLY inside split cells (pairs straddling sub-cells are no
    * longer compared — the SemDeDup cluster-scoping applied one level
    * deeper); on a corpus with no hot cells the output is identical
    * row-for-row (cell ids cast to long).
    */
  private[graft] def semDedupCellsAdaptive(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, tau: Double,
      targetCellSize: Long, maxRounds: Int = 4): org.apache.spark.sql.DataFrame = {
    require(targetCellSize >= 2, s"targetCellSize must be >= 2, got $targetCellSize")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = e.sparkSession
    graft.functions.L2DistanceSq.register(spark)
    var assign = semDedupAssign(
      e, cent.selectExpr("cast(cell as bigint) as cell", "ce")).persist()
    assign.count()
    // synthetic sub-cell ids must clear the CODEBOOK's id space, not
    // just the occupied cells' — an id reused from an empty codebook
    // cell would silently merge the sub-cell with it on a later call.
    // One action carries both the max id and the cardinality (r19):
    // the old separate head() + count() each re-executed the codebook
    // plan — two extra corpus-scale aggregations when cent is trained.
    val cbRow = cent
      .agg(expr("max(cast(cell as bigint))").as("m"), count(lit(1)).as("k"))
      .head()
    val cbMax = if (cbRow.isNullAt(0)) -1L else cbRow.getLong(0)
    var codebookK = cbRow.getLong(1)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // hottest cells first; a tail past 64 is caught by a later round
      val hot = assign.groupBy("cell").agg(count(lit(1)).as("n"))
        .filter(col("n") > targetCellSize)
        .orderBy(desc("n"), col("cell")).limit(64)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (hot.isEmpty) done = true
      else {
        val maxId = math.max(cbMax, assign.agg(max("cell")).head().getLong(0))
        // fresh id block per hot cell: [base, base + kc)
        var next = maxId + 1
        val plan = hot.map { case (c, n) =>
          val kc = ((n + targetCellSize - 1) / targetCellSize).toInt
          val row = (c, kc, next); next += kc; row
        }
        import spark.implicits._
        val planDf = plan.toSeq.toDF("cell", "kc", "base")
        val hotMembers = assign
          .join(broadcast(planDf), Seq("cell")).persist()
        // seeds: the kc lowest-id members per hot cell become the
        // initial sub-centroids (float-exact — they ARE member vectors)
        var subCent = hotMembers
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("cell").orderBy("vec_id")))
          .filter(col("r") <= col("kc"))
          .selectExpr("cell", "base + r - 1 as sub", "embedding as ce")
        // argmin by (d2 ASC, sub ASC) as a map-side-combinable aggregate
        // (r17): the old row_number window exchanged AND sorted the
        // hot-member × sub-centroid frame — large exactly when the
        // splitter runs (that is what made the cell hot). min_by over
        // struct(d2, sub) is the same ordering (NaN d2 sorts greatest
        // under both forms); embedding rides in the value struct (it is
        // constant per vec_id here, one member row fanned per sub-cell).
        def assignSub(centTab: org.apache.spark.sql.DataFrame) = hotMembers
          .join(centTab.withColumnRenamed("cell", "c2"),
            col("cell") === col("c2"))
          .selectExpr("vec_id", "embedding", "sub",
            s"${sparkD2("embedding", "ce")} as d2")
          .groupBy("vec_id")
          .agg(expr("min_by(named_struct('sub', sub, 'embedding', embedding), " +
            "named_struct('d2', d2, 'sub', sub))").as("_m"))
          .selectExpr("vec_id", "_m.sub as sub", "_m.embedding as embedding")
        // one Lloyd refinement: assign → decimal-exact mean → re-assign.
        // The refined sub-centroid table is persisted before the final
        // re-assign: it is ≤ Σkc rows, but its LINEAGE contains the
        // whole seed-assign + decimal-mean chain, which the final
        // assignSub would otherwise recompute on every downstream
        // action (measured ~2x the splitter's wall at fixture scale)
        subCent = centroidsOf(
          assignSub(subCent).selectExpr("sub as cell", "embedding"))
          .join(broadcast(planDf.selectExpr("cell as oc", "base", "kc")),
            col("cell") >= col("base") && col("cell") < col("base") + col("kc"))
          .selectExpr("oc as cell", "cell as sub", "ce")
          .persist()
        subCent.count()
        val refined = assignSub(subCent)
          .selectExpr("vec_id", "sub as cell", "embedding")
        val prev = assign
        // EAGER localCheckpoint, not persist: each round's assignment
        // references the previous round's plan TWICE (the left_anti
        // branch and the hotMembers branch inside `refined`), so a
        // persist-only loop doubles the LOGICAL plan per round — with
        // the broadcast-codebook agg subtree aboard each copy, four
        // rounds of that OOMed the driver inside AQE's explainString
        // before a single task ran. The checkpoint cuts the lineage to
        // a flat scan of cached blocks (same fault-tolerance tradeoff
        // as the connected-components loop, DedupOps.scala:251-262).
        assign = assign.join(broadcast(planDf.select("cell")), Seq("cell"),
            "left_anti")
          .unionByName(refined)
          .localCheckpoint()
        prev.unpersist()
        hotMembers.unpersist()
        subCent.unpersist()
        codebookK += plan.map(_._2.toLong).sum - plan.length
        round += 1
      }
    }
    lastSplitRounds = round
    recordCellGeometry(assign, math.max(codebookK, 1L), "semDedupCellsAdaptive",
      s"the flood did not split in $maxRounds rounds (identical vectors " +
        "have no geometry to separate) — the quadratic cost was paid")
    semDedupLedger(assign, tau)
  }

  val queries: Seq[Q] = Seq(

    // Brute-force cosine top-5 neighbors for query vectors vec_id < 5.
    Q(
      "ss01_topk_cosine",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |     c AS (SELECT vec_id AS n_id, embedding AS ne FROM embeddings),
         |     s AS (SELECT q_id, n_id, ${duckCos("qe", "ne")} AS cs
         |           FROM q CROSS JOIN c WHERE q_id <> n_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id) AS rn
         |  FROM s) WHERE rn <= 5""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
      rankedTopK(broadcast(q).crossJoin(c)
        .filter(col("q_id") =!= col("n_id"))
        .selectExpr("q_id", "n_id", s"${sparkCos("qe", "ne")} as cs"), 5, "cs")
    },

    // IVF ANN: centroid per label = member with min vec_id (deterministic
    // "medoid"); assign every vector to its nearest centroid cell; probe
    // only the query's cell for top-3.
    Q(
      "ss02_ann_ivf",
      s"""WITH cent AS (
         |  SELECT label AS cell, embedding AS ce FROM (
         |    SELECT label, embedding,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  q AS (SELECT e.vec_id AS q_id, e.embedding AS qe, a.cell
         |        FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |        WHERE e.vec_id < 5),
         |  cand AS (SELECT q.q_id, q.qe, e.vec_id AS n_id, e.embedding AS ne
         |           FROM q JOIN assign a ON a.cell = q.cell
         |                  JOIN embeddings e ON e.vec_id = a.vec_id
         |           WHERE e.vec_id <> q.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${duckCos("qe", "ne")} DESC, n_id) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      // nprobe=1: each query probes only its own assigned cell
      ivfSearch(e, labelCentroids(e), col("vec_id") < 5, k = 3, nprobe = 1)
    },

    // Embedding-cosine near-duplicate pairs within a candidate window
    // (same label, id distance ≤ 25) above a similarity threshold.
    //
    // Candidate generation joins on id-BLOCKS (floor(id/25), each left row
    // probes its own block and the next — the standard band join), NOT on
    // `label`: label is low-cardinality, so a label join is per-label
    // near-cartesian under skew, while the block join caps every row at
    // ≤ ~50 candidates regardless of the label distribution. The label
    // equality stays as a cheap post-join filter, so the SEMANTICS (and
    // the oracle SQL) are unchanged — only the plan is skew-proof.
    Q(
      "ss03_embed_neardup",
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM e a JOIN e b ON a.label = b.label
         |  AND a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 25
         |WHERE ${duckCos("a.embedding", "b.embedding")} > 0.3""".stripMargin) { (s, d) =>
      embedNearDupPairs(s, T.embeddings(s, d).select("vec_id", "label", "embedding"))
    },

    // Grouped vector centroids (the IVF training step / per-class mean):
    // per label, exact decimal-summed centroid components at probe dims
    // 1/16/32/64 plus the member count. Decimal sums are order-insensitive
    // so the aggregation is hash-exact under ANY partitioning — the rule
    // every distributed float aggregation here follows. No explode: one
    // codegen'd scan, partial aggregation map-side.
    Q(
      "ss04_label_centroids", {
        def dim(i: Int) =
          s"CAST(SUM(CAST(embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS c$i"
        s"""SELECT label, count(*) AS n, ${dim(1)}, ${dim(16)}, ${dim(32)}, ${dim(64)}
           |FROM embeddings GROUP BY label""".stripMargin
      }) { (s, d) =>
      def dim(i: Int) =
        s"cast(sum(cast(cast(element_at(embedding, $i) as double) as decimal(28,8))) as double) / count(*) as c$i"
      T.embeddings(s, d)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          expr(dim(1)).as("c1"),
          expr(dim(16)).as("c16"),
          expr(dim(32)).as("c32"),
          expr(dim(64)).as("c64"))
    },

    // IVF ANN with nprobe=2: like ss02 but each query probes its TWO
    // nearest cells — the standard recall knob (nprobe) of inverted-file
    // search. Database vectors still live in exactly one cell (rn = 1),
    // so the two probed cells are disjoint and candidates need no dedup.
    // One scored cross-join with the broadcast centroids feeds BOTH the
    // cell assignment and the query probe list (persisted, consumed twice).
    Q(
      "ss05_ann_nprobe2",
      s"""WITH cent AS (
         |  SELECT label AS cell, embedding AS ce FROM (
         |    SELECT label, embedding,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  qc AS (SELECT vec_id AS q_id, cell FROM scored
         |         WHERE vec_id < 5 AND rn <= 2),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |        WHERE vec_id < 5),
         |  cand AS (SELECT q.q_id, q.qe, e.vec_id AS n_id, e.embedding AS ne
         |           FROM q JOIN qc ON qc.q_id = q.q_id
         |                  JOIN assign a ON a.cell = qc.cell
         |                  JOIN embeddings e ON e.vec_id = a.vec_id
         |           WHERE e.vec_id <> q.q_id)
         |SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${duckCos("qe", "ne")} DESC, n_id) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      ivfSearch(e, labelCentroids(e), col("vec_id") < 5, k = 3, nprobe = 2)
    },

    // Int8 scalar quantization (symmetric, per-vector absmax — the
    // embedding-compression step before an ANN index ships to serving):
    // scale = 127/max|x|, q_i = floor(x_i·scale + 0.5) (round-half-up —
    // floor of an identical double is identical on both engines, unlike
    // round() whose tie mode differs). Gated at probe dims 1/16/32/64
    // plus the scale. One codegen'd scan, no shuffle.
    Q(
      "ss06_quantize_int8", {
        def qd(i: Int) =
          s"CAST(FLOOR(embedding[$i]::DOUBLE * (127.0 / mx) + 0.5) AS BIGINT) AS q$i"
        s"""WITH m AS (SELECT vec_id,  embedding,
           |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
           |  FROM embeddings)
           |SELECT vec_id, CAST(mx AS DOUBLE) AS absmax,
           |  ${qd(1)}, ${qd(16)}, ${qd(32)}, ${qd(64)}
           |FROM m WHERE mx > 0""".stripMargin
      }) { (s, d) =>
      def qs(i: Int) =
        s"cast(floor(cast(element_at(embedding, $i) as double) * (127.0 / mx) + 0.5) as bigint) as q$i"
      T.embeddings(s, d)
        .selectExpr(
          "vec_id", "embedding",
          "array_max(transform(embedding, x -> abs(cast(x as double)))) as mx")
        .filter(col("mx") > 0)
        .selectExpr(
          "vec_id", "cast(mx as double) as absmax",
          qs(1), qs(16), qs(32), qs(64))
    },

    // Per-dimension corpus statistics (mean + variance at probe dims) —
    // the whitening/normalization pass before indexing. Decimal-exact
    // sums of x and x² make the one-pass parallel aggregation
    // order-insensitive (hash-exact under any partitioning); the final
    // var = E[x²] − E[x]² arithmetic is identical IEEE on both engines.
    Q(
      "ss07_dim_stats", {
        def m(i: Int) =
          s"CAST(SUM(CAST(embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS mean$i"
        def v(i: Int) =
          s"CAST(SUM(CAST(embedding[$i]::DOUBLE * embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*) " +
            s"- (CAST(SUM(CAST(embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*)) " +
            s"* (CAST(SUM(CAST(embedding[$i]::DOUBLE AS DECIMAL(28,8))) AS DOUBLE) / count(*)) AS var$i"
        s"""SELECT count(*) AS n, ${m(1)}, ${v(1)}, ${m(32)}, ${v(32)}, ${m(64)}, ${v(64)}
           |FROM embeddings""".stripMargin
      }) { (s, d) =>
      def x(i: Int) = s"cast(element_at(embedding, $i) as double)"
      def m(i: Int) =
        s"cast(sum(cast(${x(i)} as decimal(28,8))) as double) / count(*) as mean$i"
      def v(i: Int) =
        s"cast(sum(cast(${x(i)} * ${x(i)} as decimal(28,8))) as double) / count(*) " +
          s"- (cast(sum(cast(${x(i)} as decimal(28,8))) as double) / count(*)) " +
          s"* (cast(sum(cast(${x(i)} as decimal(28,8))) as double) / count(*)) as var$i"
      T.embeddings(s, d)
        .selectExpr("embedding")
        .agg(
          count(lit(1)).as("n"),
          expr(m(1)).as("mean1"), expr(v(1)).as("var1"),
          expr(m(32)).as("mean32"), expr(v(32)).as("var32"),
          expr(m(64)).as("mean64"), expr(v(64)).as("var64"))
    },

    // ANN quality evaluation: recall@3 of the IVF index (ss02's plan)
    // against the exact brute-force top-3, per query — the measurement
    // that decides nlist/nprobe before an index ships. Both arms are
    // deterministic, so even the recall VALUES are oracle-exact.
    Q(
      "ss08_ivf_recall",
      s"""WITH cent AS (
         |  SELECT label AS cell, embedding AS ce FROM (
         |    SELECT label, embedding,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  q AS (SELECT e.vec_id AS q_id, e.embedding AS qe, a.cell
         |        FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         |        WHERE e.vec_id < 5),
         |  ivf AS (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM q JOIN assign a ON a.cell = q.cell
         |           JOIN embeddings e ON e.vec_id = a.vec_id
         |    WHERE e.vec_id <> q.q_id) WHERE rn <= 3),
         |  ${duckExactCte(3, duckCos)}
         |${duckRecallSelect("ivf", 3)}""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val assign = topCells(e, labelCentroids(e), 1, Seq("vec_id"))
        .select("vec_id", "cell")
        .persist() // query cells + candidate cells
      val q = e.filter(col("vec_id") < 5)
        .join(assign, "vec_id")
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("cell"))
      val ivf = rankTopK(broadcast(q)
        .join(assign.withColumnRenamed("vec_id", "n_id"), "cell")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), Seq("n_id"))
        .filter(col("n_id") =!= col("q_id")), 3, sparkCos("qe", "ne"))
      recallAt(exactTopK(q.drop("cell"), e, 3, sparkCos("qe", "ne")),
        ivf.toDF("hq_id", "hit_id"), 3)
    },

    // Product-quantization ANN (deterministic grid codebook) + recall@3.
    //
    // Codebook: TRAINED ON A DETERMINISTIC 20% HASH-SAMPLE of the corpus
    // (md5(vec_id) mod 10 < 2 — the sm02 content-hash split), the scale
    // path every production PQ/IVF trainer takes: each dimension's
    // quartile cut points come from an ntile over the SAMPLE ordering
    // (v, vec_id), and the 64×4 codeword representatives are the
    // decimal-exact sample-bucket means — k-means-free, so the whole
    // training step stays closed-form and the DuckDB oracle reproduces
    // it bit-for-bit. The FULL corpus is then coded by comparing against
    // the broadcast cut points (a codegen'd CASE, no ranking), and
    // search scores candidates by ADC (asymmetric distance computation):
    // exact query · quantized reconstruction, summed as DECIMAL so the
    // grouped aggregation is order-insensitive. Output is recall@3 of
    // PQ-ADC against the exact inner-product top-3, per query — ss08's
    // evaluation row for the quantized arm.
    //
    // Scale notes (100 TB): the only ranking window runs over the
    // bounded training sample; corpus-side assignment is one broadcast
    // join (64 cut rows + 256 codeword rows) inside the scan stage, ADC
    // partial-aggregates map-side over broadcast query rows, and only
    // (q_id, n_id, partial-sum) rows cross the exchange. A codeword
    // empty on the sample (possible under heavy ties) reconstructs as
    // 0.0 on both engines (COALESCE).
    Q(
      "ss09_pq_recall",
      s"""WITH ex AS (
         |  SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS v
         |  FROM embeddings CROSS JOIN range(1, ${dim + 1}) t(i)),
         |  train AS (
         |    SELECT * FROM ex
         |    WHERE ((('0x'||substr(md5(vec_id::VARCHAR),1,15))::BIGINT) % 10) < 2),
         |  coded_t AS (
         |    SELECT dim, v,
         |      ntile(4) OVER (PARTITION BY dim ORDER BY v, vec_id) AS bucket
         |    FROM train),
         |  cuts AS (
         |    SELECT dim,
         |      MAX(CASE WHEN bucket = 1 THEN v END) AS c1,
         |      MAX(CASE WHEN bucket = 2 THEN v END) AS c2,
         |      MAX(CASE WHEN bucket = 3 THEN v END) AS c3
         |    FROM coded_t WHERE bucket < 4 GROUP BY dim),
         |  cb AS (
         |    SELECT t.dim, $duckBucket AS bucket,
         |      CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS rep
         |    FROM train t JOIN cuts USING (dim)
         |    GROUP BY t.dim, $duckBucket),
         |  recon AS (
         |    SELECT e.vec_id AS n_id, e.dim, COALESCE(cb.rep, 0.0::DOUBLE) AS rep
         |    FROM ex e JOIN cuts USING (dim)
         |    LEFT JOIN cb ON cb.dim = e.dim AND cb.bucket = ($duckBucket)),
         |  qx AS (SELECT vec_id AS q_id, dim, v AS qv FROM ex WHERE vec_id < 5),
         |  adc AS (
         |    SELECT q_id, n_id,
         |      CAST(SUM(CAST(qv * rep AS DECIMAL(28,12))) AS DOUBLE) AS score
         |    FROM qx JOIN recon USING (dim) WHERE n_id <> q_id
         |    GROUP BY q_id, n_id),
         |  pq AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn
         |    FROM adc) WHERE rn <= 3),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |        WHERE vec_id < 5),
         |  ${duckExactCte(3, duckDot)}
         |${duckRecallSelect("pq", 3)}""".stripMargin) { (s, d) =>
      graft.functions.DotProduct.register(s)
      val e = T.embeddings(s, d)
      val ex = e
        .select(col("vec_id"), posexplode(col("embedding")))
        .selectExpr("vec_id", "pos + 1 as dim", "cast(col as double) as v")
        .persist() // consumed by train (×2), recon, and the query side
      val train = ex.filter(
        expr(s"pmod(${graft.Portable.hash60("cast(vec_id as string)")}, 10) < 2"))
      val cuts = train
        .selectExpr(
          "dim", "v",
          "ntile(4) over (partition by dim order by v, vec_id) as bucket")
        .filter(col("bucket") < 4)
        .groupBy("dim")
        .agg(
          max(when(col("bucket") === 1, col("v"))).as("c1"),
          max(when(col("bucket") === 2, col("v"))).as("c2"),
          max(when(col("bucket") === 3, col("v"))).as("c3"))
      val cb = train.join(broadcast(cuts), "dim")
        .selectExpr("dim", s"$sparkBucket as bucket", "v")
        .groupBy("dim", "bucket")
        .agg(expr("cast(sum(cast(v as decimal(28,8))) as double) / count(*)").as("rep"))
      val recon = ex.join(broadcast(cuts), "dim")
        .selectExpr("vec_id as n_id", "dim", s"$sparkBucket as bucket")
        .join(broadcast(cb), Seq("dim", "bucket"), "left")
        .selectExpr("n_id", "dim", "coalesce(rep, 0.0d) as rep")
      val q = ex.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("dim"), col("v").as("qv"))
      val adc = broadcast(q)
        .join(recon, "dim")
        .filter(col("n_id") =!= col("q_id"))
        .groupBy("q_id", "n_id")
        .agg(expr("cast(sum(cast(qv * rep as decimal(28,12))) as double)").as("score"))
      val exact = exactTopK(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe")), e, 3,
        sparkDot("qe", "ne"))
      recallAt(exact, rankTopK(adc, 3, "score").toDF("pq_id", "hit_id"), 3)
    },

    // SRP-LSH near-duplicates: signed-random-projection (Charikar cosine
    // LSH) bucketing — the SIMILARITY-AWARE blocking scheme that replaces
    // ss03's id-window blocking at scale (id blocks only catch near-dups
    // that happen to sit close in ingestion order; SRP buckets catch them
    // anywhere in the corpus).
    //
    // 32 deterministic hyperplanes (components derived from md5(p|i),
    // scaled to [-1,1) — engine-portable, no RNG), sign bits packed into
    // a 64-bit code, banded 4×8 bits; same-bucket pairs (bucket capped at
    // 64 by vec_id order, dd04's flood guard) are verified with the exact
    // codegen cosine at the ss03 threshold.
    //
    // Scale notes (100 TB): the 32 planes are FOLDABLE LITERALS in the
    // Spark plan (md5 is deterministic, so plan-build Scala computes the
    // identical doubles the oracle's SQL derives — asserted in
    // SimilarityPlanesSpec), which collapses sign-bit computation into
    // ONE codegen'd projection on the scan: no plane crossJoin, no
    // N×32-row groupBy exchange — the whole code is born in the same
    // stage that reads the vector. Only (vec_id, band, key) longs
    // shuffle into the band join; the cap bounds every bucket's pair
    // fan-out regardless of embedding-space skew (a flood of identical
    // vectors yields ≤64·63/2 pairs/bucket, not N²); exact verification
    // touches only surviving candidates.
    Q(
      "ss10_srp_neardup",
      s"""WITH planes AS (
         |  SELECT p, list_transform(range(1, ${dim + 1}),
         |    i -> ('0x'||substr(md5(p::VARCHAR||'|'||i::VARCHAR),1,15))::BIGINT::DOUBLE
         |           / 576460752303423488.0::DOUBLE - 1.0::DOUBLE) AS h
         |  FROM range(0, 32) t(p)),
         |  bits AS (
         |    SELECT e.vec_id, pl.p,
         |      CASE WHEN ${duckDot("e.embedding", "pl.h")} > 0
         |           THEN (1::BIGINT << pl.p) ELSE 0 END AS bit
         |    FROM embeddings e CROSS JOIN planes pl),
         |  codes AS (SELECT vec_id, SUM(bit)::BIGINT AS code FROM bits GROUP BY vec_id),
         |  bands AS (
         |    SELECT vec_id, b, (code >> (8*b)) & 255 AS key
         |    FROM codes CROSS JOIN range(0, 4) t(b)),
         |  capped AS (
         |    SELECT vec_id, b, key,
         |      row_number() OVER (PARTITION BY b, key ORDER BY vec_id) AS rn
         |    FROM bands),
         |  cand AS (
         |    SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
         |    FROM capped a JOIN capped c ON a.b = c.b AND a.key = c.key
         |      AND a.vec_id < c.vec_id
         |    WHERE a.rn <= 64 AND c.rn <= 64)
         |SELECT cand.a_id, cand.b_id
         |FROM cand JOIN embeddings ea ON ea.vec_id = cand.a_id
         |          JOIN embeddings eb ON eb.vec_id = cand.b_id
         |WHERE ${duckCos("ea.embedding", "eb.embedding")} > 0.3""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      graft.functions.DotProduct.register(s)
      val e = T.embeddings(s, d)
      val codes = e.selectExpr("vec_id", s"${srpCodeExpr("embedding")} as code")
      val cand = srpBandPairs(codes, cap = 64)
      cand
        .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
        .filter(expr(s"${sparkCos("ea", "eb")} > 0.3"))
        .select("a_id", "b_id")
    },

    // Semantic dedup (the embedding-space analogue of dd08): cosine
    // near-dup pairs — ss03's skew-proof block-join plan, shared via
    // embedNearDupPairs — feed star-contraction connected components, and each
    // cluster keeps its minimum vec_id as the representative. Output is
    // the deduplicated keep set with merged-member counts: the corpus a
    // training run would actually read after semantic dedup.
    //
    // Scale notes (100 TB): pair fan-out is capped by the block join
    // (~50 candidates/row); CC shuffles only (id, label) longs per round
    // over edge ENDPOINTS (singletons — the vast majority — re-join once
    // after convergence, inside connectedComponents); the keep-set agg
    // is map-side combinable on cluster_id. Swap embedNearDupPairs for
    // Similarity.srpNearDup to avoid the exact-cosine pass when no
    // blocking key exists.
    Q(
      "dd14_semantic_dedup",
      s"""WITH RECURSIVE
         | e AS (SELECT vec_id, label, embedding FROM embeddings),
         | link AS (
         |   SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |   FROM e a JOIN e b ON a.label = b.label
         |     AND a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 25
         |   WHERE ${duckCos("a.embedding", "b.embedding")} > 0.3),
         | edges AS (SELECT a_id AS src, b_id AS dst FROM link
         |           UNION ALL SELECT b_id, a_id FROM link),
         | reach(src, dst) AS (
         |   SELECT vec_id, vec_id FROM e
         |   UNION
         |   SELECT r.src, ed.dst FROM reach r JOIN edges ed ON ed.src = r.dst),
         | comp AS (SELECT src AS vec_id, min(dst) AS cluster_id
         |          FROM reach GROUP BY src)
         |SELECT cluster_id AS keep_id, count(*) AS n_merged
         |FROM comp GROUP BY keep_id""".stripMargin) { (s, d) =>
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      graft.functions.Similarity
        .semanticDedup(e, "vec_id", embedNearDupPairs(s, e))
    },

    // IVF with a TRAINED codebook + recall@3: ss04's decimal-exact
    // per-label means (extended to all 64 dims, float-quantized) feed
    // the shared `ivfSearch` as the centroid table — the "real codebook"
    // path end-to-end, where ss02/ss05/ss08 use the deterministic
    // pick-first medoid. nprobe=2 exercises the probe-list arm against
    // trained cells; output is recall@3 vs the exact cosine top-3 per
    // query, ss08's evaluation row for the trained arm.
    //
    // Scale notes (100 TB): training is ONE map-side-combined grouped
    // aggregation over the corpus (no window, no sample needed — means
    // are closed-form); the centroid table stays k rows and broadcasts;
    // everything downstream is the audited ivfSearch plan (scored pass
    // persisted at N×nprobe rows, candidates only from probed cells).
    Q(
      "ss11_ivf_trained_recall",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  qc AS (SELECT vec_id AS q_id, cell FROM scored
         |         WHERE vec_id < 5 AND rn <= 2),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |        WHERE vec_id < 5),
         |  ivf AS (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM q JOIN qc ON qc.q_id = q.q_id
         |           JOIN assign a ON a.cell = qc.cell
         |           JOIN embeddings e ON e.vec_id = a.vec_id
         |    WHERE e.vec_id <> q.q_id) WHERE rn <= 3),
         |  ${duckExactCte(3, duckCos)}
         |${duckRecallSelect("ivf", 3)}""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      val ivf = ivfSearch(e, trainedCentroids(e), col("vec_id") < 5,
        k = 3, nprobe = 2)
        .select(col("q_id").as("hq_id"), col("n_id").as("hit_id"))
      val exact = exactTopK(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe")), e, 3,
        sparkCos("qe", "ne"))
      recallAt(exact, ivf, 3)
    },

    // Semantic contamination audit (Similarity.semanticContamination):
    // the embedding-space analogue of dd12 — benchmark vectors
    // (vec_id < 100 as the held-out eval stand-in) vs the train corpus,
    // cross-set SRP banding with per-side caps, exact-cosine confirm.
    // The hit list is what a training run quarantines.
    Q(
      "ss12_semantic_contamination",
      s"""WITH planes AS (
         |  SELECT p, list_transform(range(1, ${dim + 1}),
         |    i -> ('0x'||substr(md5(p::VARCHAR||'|'||i::VARCHAR),1,15))::BIGINT::DOUBLE
         |           / 576460752303423488.0::DOUBLE - 1.0::DOUBLE) AS h
         |  FROM range(0, 32) t(p)),
         |  bits AS (
         |    SELECT e.vec_id, pl.p,
         |      CASE WHEN ${duckDot("e.embedding", "pl.h")} > 0
         |           THEN (1::BIGINT << pl.p) ELSE 0 END AS bit
         |    FROM embeddings e CROSS JOIN planes pl),
         |  codes AS (SELECT vec_id, SUM(bit)::BIGINT AS code FROM bits GROUP BY vec_id),
         |  bands AS (
         |    SELECT vec_id, b, (code >> (8*b)) & 255 AS key
         |    FROM codes CROSS JOIN range(0, 4) t(b)),
         |  bb AS (
         |    SELECT vec_id, b, key,
         |      row_number() OVER (PARTITION BY b, key ORDER BY vec_id) AS rn
         |    FROM bands WHERE vec_id < 100),
         |  tb AS (
         |    SELECT vec_id, b, key,
         |      row_number() OVER (PARTITION BY b, key ORDER BY vec_id) AS rn
         |    FROM bands WHERE vec_id >= 100),
         |  cand AS (
         |    SELECT DISTINCT a.vec_id AS bench_id, c.vec_id AS train_id
         |    FROM bb a JOIN tb c ON a.b = c.b AND a.key = c.key
         |    WHERE a.rn <= 64 AND c.rn <= 64)
         |SELECT cand.bench_id, cand.train_id
         |FROM cand JOIN embeddings ea ON ea.vec_id = cand.bench_id
         |          JOIN embeddings eb ON eb.vec_id = cand.train_id
         |WHERE ${duckCos("ea.embedding", "eb.embedding")} > 0.3""".stripMargin) { (s, d) =>
      val e = T.embeddings(s, d)
      graft.functions.Similarity.semanticContamination(
        e.filter(col("vec_id") < 100), e.filter(col("vec_id") >= 100),
        "vec_id", "embedding")
    },

    // IVF-PQ (the FAISS-style composite): coarse trained-centroid cells
    // (ss11's codebook) + product quantization on the RESIDUALS
    // (vector − its cell centroid, ss09's pipeline) + ADC ranking over
    // only the probed cells' candidates, evaluated as recall@3 against
    // exact search. Residual PQ is what makes PQ codes short at scale:
    // residuals concentrate near zero, so per-dim quartiles spend their
    // resolution where the mass is.
    //
    // Scale notes (100 TB): centroids/cuts/codebook all broadcast
    // (k·dim-sized tables); the corpus-side work is two linear passes
    // (assignment, residual coding) with map-side-combined decimal
    // aggregations; ADC touches only probe-cell candidates — never the
    // full corpus per query; decimal sums keep every ranking
    // order-insensitive. The PQ TRAINING ntile runs over the 20%
    // hash-sample only (the one ranking window, bounded by design).
    Q(
      "ss13_ivfpq_recall",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  qc AS (SELECT vec_id AS q_id, cell FROM scored
         |         WHERE vec_id < 5 AND rn <= 2),
         |  ex AS (
         |    SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS v
         |    FROM embeddings CROSS JOIN range(1, ${dim + 1}) t(i)),
         |  resid AS (
         |    SELECT x.vec_id, x.dim, c.ce[x.dim]::DOUBLE AS cv,
         |      x.v - c.ce[x.dim]::DOUBLE AS rv
         |    FROM ex x JOIN assign a USING (vec_id) JOIN cent c ON c.cell = a.cell),
         |  train AS (
         |    SELECT * FROM resid
         |    WHERE ((('0x'||substr(md5(vec_id::VARCHAR),1,15))::BIGINT) % 10) < 2),
         |  coded_t AS (
         |    SELECT dim, rv AS v,
         |      ntile(4) OVER (PARTITION BY dim ORDER BY rv, vec_id) AS bucket
         |    FROM train),
         |  cuts AS (
         |    SELECT dim,
         |      MAX(CASE WHEN bucket = 1 THEN v END) AS c1,
         |      MAX(CASE WHEN bucket = 2 THEN v END) AS c2,
         |      MAX(CASE WHEN bucket = 3 THEN v END) AS c3
         |    FROM coded_t WHERE bucket < 4 GROUP BY dim),
         |  cb AS (
         |    SELECT t.dim, $duckBucket AS bucket,
         |      CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS rrep
         |    FROM (SELECT dim, rv AS v FROM train) t JOIN cuts USING (dim)
         |    GROUP BY t.dim, $duckBucket),
         |  recon AS (
         |    SELECT r.vec_id AS n_id, r.dim,
         |      r.cv + COALESCE(cb.rrep, 0.0::DOUBLE) AS recon
         |    FROM (SELECT vec_id, dim, cv, rv AS v FROM resid) r
         |    JOIN cuts USING (dim)
         |    LEFT JOIN cb ON cb.dim = r.dim AND cb.bucket = ($duckBucket)),
         |  qx AS (SELECT vec_id AS q_id, dim, v AS qv FROM ex WHERE vec_id < 5),
         |  cand AS (
         |    SELECT qc.q_id, a.vec_id AS n_id
         |    FROM qc JOIN assign a ON a.cell = qc.cell
         |    WHERE a.vec_id <> qc.q_id),
         |  adc AS (
         |    SELECT c.q_id, c.n_id,
         |      CAST(SUM(CAST(q.qv * r.recon AS DECIMAL(28,12))) AS DOUBLE) AS score
         |    FROM cand c JOIN qx q ON q.q_id = c.q_id
         |      JOIN recon r ON r.n_id = c.n_id AND r.dim = q.dim
         |    GROUP BY c.q_id, c.n_id),
         |  pq AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn
         |    FROM adc) WHERE rn <= 3),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |        WHERE vec_id < 5),
         |  ${duckExactCte(3, duckDot)}
         |${duckRecallSelect("pq", 3)}""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      graft.functions.DotProduct.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      // lazily persisted: genuinely TWO consumers here (the topCells
      // broadcast and the exploded cd table), and with no eager count
      // job the cache materializes inside the first consumer's own job
      // — one corpus-scale centroid pass instead of two (r19; unlike
      // ss27's reverted persist, which paid a separate count action)
      val cent = trainedCentroids(e).persist()
      // one scored pass vs broadcast centroids → assignment + probe
      // lists (ivfSearch's head, scan-local topCells since r17);
      // persisted for its two consumers, released by the
      // caller-clearCache contract (CacheHygieneSpec). Only ranks ≤ 2
      // are ever consumed (rn = 1 assignment, rn ≤ 2 probes).
      // `embedding` RIDES the scored cache (r19): the residual pass
      // used to re-join the N×64 exploded frame back to the assignment
      // on vec_id — two corpus-scale exchanges for a column the scoring
      // pass already held. Caching it costs ≤ 2 embedding copies per
      // vector and makes the residual derivation exchange-free.
      val scored = topCells(e, cent, 2, Seq("vec_id", "embedding"))
        .persist()
      val assign = scored.filter(col("rn") === 1).select("vec_id", "cell")
      val qc = scored.filter(col("vec_id") < 5 && col("rn") <= 2)
        .select(col("vec_id").as("q_id"), col("cell"))
      val cd = cent.select(col("cell"), posexplode(col("ce")))
        .selectExpr("cell", "pos + 1 as dim", "cast(col as double) as cv")
      // residuals vs the assigned cell's centroid; consumed by PQ train
      // and the full-corpus coding pass (same release contract).
      // Explode AFTER the (cached) assignment and join the k×64-row
      // centroid table broadcast: zero exchanges anywhere in the
      // residual derivation (guide §2.4).
      val resid = scored.filter(col("rn") === 1)
        .select(col("vec_id"), col("cell"), posexplode(col("embedding")))
        .selectExpr("vec_id", "cell", "pos + 1 as dim", "cast(col as double) as v")
        .join(broadcast(cd), Seq("cell", "dim"))
        .selectExpr("vec_id", "dim", "cv", "v - cv as rv")
        .persist()
      val train = resid.filter(
        expr(s"pmod(${graft.Portable.hash60("cast(vec_id as string)")}, 10) < 2"))
      val cuts = train
        .selectExpr("dim", "rv as v", "vec_id")
        .selectExpr("dim", "v",
          "ntile(4) over (partition by dim order by v, vec_id) as bucket")
        .filter(col("bucket") < 4)
        .groupBy("dim")
        .agg(
          max(when(col("bucket") === 1, col("v"))).as("c1"),
          max(when(col("bucket") === 2, col("v"))).as("c2"),
          max(when(col("bucket") === 3, col("v"))).as("c3"))
      val cb = train.selectExpr("dim", "rv as v")
        .join(broadcast(cuts), "dim")
        .selectExpr("dim", s"$sparkBucket as bucket", "v")
        .groupBy("dim", "bucket")
        .agg(expr("cast(sum(cast(v as decimal(28,8))) as double) / count(*)").as("rrep"))
      val recon = resid.selectExpr("vec_id", "dim", "cv", "rv as v")
        .join(broadcast(cuts), "dim")
        .selectExpr("vec_id as n_id", "dim", "cv", s"$sparkBucket as bucket")
        .join(broadcast(cb), Seq("dim", "bucket"), "left")
        .selectExpr("n_id", "dim", "cv + coalesce(rrep, 0.0d) as recon")
      val qx = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), posexplode(col("embedding")))
        .selectExpr("q_id", "pos + 1 as dim", "cast(col as double) as qv")
      // qc is at most 5 queries × 2 probes: broadcast it, or AQE builds
      // on whichever side's stage finishes first and the join's output
      // order (and the next shuffle's bytes) moves between runs
      val cand = broadcast(qc).join(assign.toDF("n_id", "cell"), "cell")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id")
      // ADC: the candidate×query side (probe-cell members of the 5
      // queries × 64 dims) is broadcast, so the corpus-wide recon frame
      // is FILTERED by the broadcast hash join instead of shuffled by
      // (n_id, dim) — the old sort-merge join exchanged all N×64 recon
      // rows to score a candidate set bounded by nprobe·|cell|·|Q|
      // (guide §3.1: broadcast the side that fits; §2.3: prune the big
      // side before it moves).
      val adc = recon.join(broadcast(cand.join(qx, "q_id")), Seq("n_id", "dim"))
        .groupBy("q_id", "n_id")
        .agg(expr("cast(sum(cast(qv * recon as decimal(28,12))) as double)").as("score"))
      val exact = exactTopK(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe")), e, 3,
        sparkDot("qe", "ne"))
      recallAt(exact, rankTopK(adc, 3, "score").toDF("pq_id", "hit_id"), 3)
    },

    // Johnson-Lindenstrauss projection + shortlist-rerank recall:
    // project the 64-dim embeddings to 16 dims through a deterministic
    // ±1 sign matrix (md5-derived, inlined as plan literals on BOTH
    // engines — ss10's hyperplane trick), shortlist each query's top-25
    // by PROJECTED cosine, re-rank the shortlist by TRUE cosine, and
    // measure top-3 recall against the exact full-space top-3 — the
    // production project→shortlist→rerank shape, where the 4×-narrower
    // vectors do the expensive all-pairs pass and the full vectors only
    // touch 25 candidates/query. (Top-3 straight from 16-dim cosine
    // gets ~13% recall on this fixture — near-tie neighbor ranking is
    // exactly what a 4× cut loses, which is why nobody ranks in
    // projected space; measured here, shape documented.) Scale: the
    // projection is 16 inlined-literal dots in ONE codegen'd scan
    // projection (no join, no shuffle — projected vectors are born in
    // the scan); ranking reuses ss01's broadcast-query + window shape.
    Q(
      "ss14_jl_recall",
      s"""WITH p AS (SELECT vec_id, embedding, ${duckJlProj("embedding")} AS pe
         |           FROM embeddings),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe, pe AS qp FROM p
         |        WHERE vec_id < 5),
         |  short AS (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, p.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCosN("q.qp", "p.pe", 16)} DESC, p.vec_id) AS rn
         |    FROM q CROSS JOIN p WHERE p.vec_id <> q.q_id) WHERE rn <= 25),
         |  jl AS (SELECT q_id, n_id FROM (
         |    SELECT t.q_id, t.n_id,
         |      row_number() OVER (PARTITION BY t.q_id
         |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, t.n_id) AS rn
         |    FROM short t JOIN q ON q.q_id = t.q_id
         |                 JOIN embeddings e ON e.vec_id = t.n_id) WHERE rn <= 3),
         |  ${duckExactCte(3, duckCos)}
         |${duckRecallSelect("jl", 3)}""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      graft.functions.DotProduct.register(s)
      val e = T.embeddings(s, d)
      val p = e.selectExpr("vec_id", "embedding",
        s"${jlProjExpr("embedding")} as pe")
      val q = p.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("pe").as("qp"))
      val short = rankTopK(broadcast(q.drop("qe"))
        .crossJoin(p.select(col("vec_id").as("n_id"), col("pe")))
        .filter(col("n_id") =!= col("q_id")), 25, sparkCosN("qp", "pe"))
      val jl = rankTopK(short
        .join(broadcast(q.drop("qp")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")),
          Seq("n_id")), 3, sparkCos("qe", "ne"))
      recallAt(exactTopK(q.drop("qp"), e, 3, sparkCos("qe", "ne")),
        jl.toDF("jq_id", "hit_id"), 3)
    },

    // Lloyd's k-means (Similarity.kmeans; k=8, 2 iterations): the
    // clustering step behind semantic dedup sharding, IVF codebook
    // training, and topic-balanced sampling, run the broadcast-codebook
    // way — centroids are plan literals each pass, so assignment is a
    // scan-local projection and the corpus NEVER shuffles (see
    // lloydKMeans's scaladoc). Seeds are the 8 lowest vec_ids; the gate
    // pins final cluster sizes and the decimal-exact SSE — the oracle
    // unrolls both iterations relationally (cross join + row_number),
    // a deliberately different plan shape computing the identical
    // arithmetic.
    Q(
      "ss15_kmeans_lloyd",
      s"""WITH c0 AS (
         |  SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 8),
         |a1 AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckD2("e.embedding", "c.ce")}, c.cell) AS rn
         |  FROM embeddings e CROSS JOIN c0 c),
         |m1 AS (SELECT vec_id, embedding, cell FROM a1 WHERE rn = 1),
         |c1 AS (
         |  SELECT cell, ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM m1 GROUP BY cell),
         |a2 AS (
         |  SELECT e.vec_id, c.cell, ${duckD2("e.embedding", "c.ce")} AS d2,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckD2("e.embedding", "c.ce")}, c.cell) AS rn
         |  FROM embeddings e CROSS JOIN c1 c)
         |SELECT cell AS cluster_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) AS sse
         |FROM a2 WHERE rn = 1 GROUP BY cell""".stripMargin) { (s, d) =>
      graft.functions.Similarity.kmeans(T.embeddings(s, d))
    },

    // EXACT L2 range search (Similarity.rangeSearch; radius 1.25,
    // queries vec_id % 20 = 0): all pairs within the radius, cells
    // pruned by the triangle inequality with zero recall loss — the
    // oracle is the UNPRUNED brute force, so the gate proves pruning
    // exactness, not just plausibility. radius and radius² (1.5625)
    // are exact binary doubles, and d² is the shared left-fold, so the
    // survivor set and the output column are bit-identical on both
    // engines. See rangeSearchL2's scaladoc for why pruning rarely
    // fires on THIS near-uniform fixture but pays on clustered data.
    Q(
      "ss16_range_search",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
         |           FROM embeddings WHERE vec_id % 20 = 0)
         |SELECT q_id, vec_id AS n_id, ${duckD2("qe", "embedding")} AS d2
         |FROM q CROSS JOIN embeddings
         |WHERE vec_id <> q_id AND ${duckD2("qe", "embedding")} <= 1.5625""".stripMargin) {
      (s, d) =>
        graft.functions.Similarity.rangeSearch(
          T.embeddings(s, d), expr("vec_id % 20 = 0"), 1.25)
    },

    // HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al. 2009;
    // Similarity.hybridTopK): fuse the sparse arm (tx19's BM25 over the
    // shared term set — the EXACT bm25Scores machinery tx19 gates) with
    // the dense arm (exact cosine against query doc 0's embedding,
    // ss01's kernel) by rank, not score: rrf = Σ 1e6 div (60 + rank),
    // the standard k=60 fusion that needs no score normalization across
    // arms — which is the point: BM25 and cosine live on incomparable
    // scales. All-integer fusion arithmetic, so engines agree
    // bit-for-bit given the rank orders, and both rank orders are
    // deterministic (score bits identical cross-engine per the
    // tx19/ss01 contracts, doc_id tiebreak). Docs matching no query
    // term contribute only their dense rank (rank_lex surfaces as 0).
    //
    // Scale notes (100 TB): each arm reduces the corpus to (id, score)
    // longs before ranking — text and vectors never shuffle past their
    // scans. The global row_number window is the single-query case; a
    // query BATCH partitions both windows by q_id (ss01's shape) and
    // nothing else changes. The fusion join keys on doc_id and the
    // top-k is one k-row sort.
    Q(
      "ss17_rrf_hybrid",
      s"""WITH ${graft.functions.TextOps.duckBm25Ctes()},
         |  lex AS (SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_lex
         |    FROM bm WHERE doc_id <> 0),
         |  q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |  dense AS (SELECT vec_id AS doc_id,
         |      CAST(row_number() OVER (ORDER BY ${duckCos("embedding", "qe")} DESC, vec_id) AS BIGINT) AS rank_dense
         |    FROM embeddings CROSS JOIN q WHERE vec_id <> 0)
         |SELECT d.doc_id,
         |  CAST(coalesce(l.rank_lex, 0) AS BIGINT) AS rank_lex,
         |  d.rank_dense,
         |  CAST((CASE WHEN l.rank_lex IS NOT NULL THEN 1000000 // (60 + l.rank_lex) ELSE 0 END)
         |    + 1000000 // (60 + d.rank_dense) AS BIGINT) AS rrf_x1e6
         |FROM dense d LEFT JOIN lex l ON l.doc_id = d.doc_id
         |ORDER BY rrf_x1e6 DESC, d.doc_id LIMIT 20""".stripMargin) { (s, d) =>
      graft.functions.Similarity.hybridTopK(
        T.documents(s, d), T.embeddings(s, d))
    },

    // IVF nprobe TUNING SWEEP: recall@3 and probe cost for
    // nprobe ∈ {1,2,3} from ONE scored pass — the recall-vs-cost curve
    // an ANN deployment reads before fixing nprobe (ss08/ss05 pin
    // single points; this is the table they come from). The shared
    // scored frame (vector × broadcast centroids, ranked per vector)
    // feeds the cell assignment AND all three probe lists, so widening
    // the sweep costs rank-filters, not rescans. n_cand is the number
    // of exact-cosine candidates each query pays at that nprobe — the
    // cost axis. Scale: the ONE persisted scored frame holds N×3 rows;
    // each arm's candidate join keys on cell; recall joins are
    // per-query 3-row sets.
    Q(
      "ss18_nprobe_sweep", {
        val armCtes = (1 to 3).map { k =>
          s"""ivf$k AS (SELECT q_id, n_id, rn, cnt FROM (
             |    SELECT q.q_id, e.vec_id AS n_id,
             |      row_number() OVER (PARTITION BY q.q_id
             |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn,
             |      count(*) OVER (PARTITION BY q.q_id) AS cnt
             |    FROM q JOIN probes p ON p.q_id = q.q_id AND p.rn <= $k
             |           JOIN assign a ON a.cell = p.cell
             |           JOIN embeddings e ON e.vec_id = a.vec_id
             |    WHERE e.vec_id <> q.q_id)),""".stripMargin
        }.mkString("\n")
        val armSelects = (1 to 3).map { k =>
          s"""SELECT $k::BIGINT AS nprobe, x.q_id,
             |  (SELECT max(cnt) FROM ivf$k i2 WHERE i2.q_id = x.q_id)::BIGINT AS n_cand,
             |  count(CASE WHEN i.rn <= 3 THEN i.n_id END)::BIGINT AS n_hit,
             |  (count(CASE WHEN i.rn <= 3 THEN i.n_id END) * 100) // 3 AS recall_x100
             |FROM exact x LEFT JOIN ivf$k i ON i.q_id = x.q_id AND i.n_id = x.n_id
             |GROUP BY x.q_id""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH cent AS (
           |  SELECT label AS cell, embedding AS ce FROM (
           |    SELECT label, embedding,
           |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
           |    FROM embeddings) WHERE rn = 1),
           |  scored AS (
           |    ${duckCellRanks()}),
           |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
           |  q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           |        WHERE vec_id < 5),
           |  probes AS (SELECT s.vec_id AS q_id, s.cell, s.rn FROM scored s
           |             WHERE s.vec_id < 5 AND s.rn <= 3),
           |$armCtes
           |  ${duckExactCte(3, duckCos)}
           |$armSelects""".stripMargin
      }) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val scored = topCells(e, labelCentroids(e), 3, Seq("vec_id"))
        .persist() // feeds assignment + all three probe lists; caller clearCache releases
      val assign = scored.filter(col("rn") === 1).select("vec_id", "cell")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val exact = exactTopK(q, e, 3, sparkCos("qe", "ne"))
      // ONE stacked pass for all three arms (r19): a candidate reached
      // through the probe ranked `prank` belongs to every arm k ≥ prank
      // (a vector has exactly one assigned cell, so each (q, n) pair
      // arrives through one probe rank) — explode(sequence(prank, 3))
      // stacks nprobe as a COLUMN, one window over (nprobe, q_id) ranks
      // all arms in one exchange, and the tiny exact top-3 broadcasts a
      // hit flag so a single aggregation yields n_cand AND n_hit. The
      // old per-arm form built the candidate join + window three times
      // and consumed each twice (hit join + n_cand rollup): six
      // executions of the same pipeline (46 jobs at sf0.1 — guide §2.4).
      val probes = scored.filter(col("vec_id") < 5 && col("rn") <= 3)
        .select(col("vec_id").as("q_id"), col("cell"), col("rn").as("prank"))
      val cand = broadcast(q.join(probes, "q_id"))
        .join(assign.withColumnRenamed("vec_id", "n_id"), "cell")
        .filter(col("n_id") =!= col("q_id"))
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      val ranked = cand
        .selectExpr("explode(sequence(cast(prank as int), 3)) as nprobe",
          "q_id", "n_id", "qe", "ne")
        .selectExpr("nprobe", "q_id", "n_id",
          s"row_number() over (partition by nprobe, q_id order by ${sparkCos("qe", "ne")} desc, n_id) as rn",
          "count(1) over (partition by nprobe, q_id) as cnt")
      // not recallAt: the three arms share one ranked frame, so the hit
      // flag joins the ranking instead of the truth left-joining each arm
      ranked
        .join(broadcast(exact.withColumn("hit", lit(1))),
          Seq("q_id", "n_id"), "left")
        .groupBy("nprobe", "q_id")
        .agg(
          max("cnt").cast("long").as("n_cand"),
          count(when(col("rn") <= 3 && col("hit") === 1, 1))
            .cast("long").as("n_hit"))
        .selectExpr("cast(nprobe as bigint) as nprobe", "q_id", "n_cand",
          "n_hit", "(n_hit * 100) div 3 as recall_x100")
    },

    // Binary (sign-bit) quantization ANN + Hamming-shortlist rerank: each
    // 64-float embedding compresses to TWO BIGINT words of sign bits
    // (8 B/vector — a 32x memory cut vs float32, the layout that lets a
    // 100 TB corpus's code table sit in executor RAM); the per-query
    // shortlist is the 50 lowest-Hamming codes, found by a scan that
    // touches ONLY integer words (bit_count of two XORs, fully codegen'd
    // — no float math until rerank), and exact cosine runs over just
    // those 50. Output: per-query recall of the reranked top-3 vs the
    // exact top-3 plus the shortlist's Hamming spread — the
    // shortlist-size-vs-recall trade a production BQ deployment tunes.
    // Sign codes are born in the scan projection (the ss10 pattern), so
    // the only corpus-wide exchange ships (id, 2 longs).
    Q(
      "ss19_hamming_rerank",
      s"""WITH c AS (SELECT vec_id, ${duckSignWord("embedding", 0)} AS w0,
         |             ${duckSignWord("embedding", 32)} AS w1, embedding FROM embeddings),
         |  q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1, embedding AS qe
         |        FROM c WHERE vec_id < 5),
         |  sl AS (SELECT q_id, n_id, ham, qe, ne FROM (
         |    SELECT q_id, n_id, ham, qe, ne,
         |      row_number() OVER (PARTITION BY q_id ORDER BY ham, n_id) AS rn
         |    FROM (SELECT q.q_id, c.vec_id AS n_id,
         |            bit_count(xor(c.w0, q.qw0)) + bit_count(xor(c.w1, q.qw1)) AS ham,
         |            q.qe AS qe, c.embedding AS ne
         |          FROM q CROSS JOIN c WHERE c.vec_id <> q.q_id)) WHERE rn <= 50),
         |  rr AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${duckCos("qe", "ne")} DESC, n_id) AS rn
         |    FROM sl) WHERE rn <= 3),
         |  ${duckExactCte(3, duckCos)},
         |  hs AS (SELECT q_id, CAST(min(ham) AS BIGINT) AS ham_min,
         |           CAST(max(ham) AS BIGINT) AS ham_max,
         |           CAST(count(*) AS BIGINT) AS n_cand FROM sl GROUP BY q_id),
         |  rc AS (${duckRecallSelect("rr", 3)})
         |SELECT r.q_id, h.n_cand, h.ham_min, h.ham_max, r.n_hit, r.recall_x100
         |FROM rc r JOIN hs h ON h.q_id = r.q_id""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val sl = hammingShortlist(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", shortlist = 50)
        .persist() // feeds rerank + spread; caller clearCache releases
      val rr = rankTopK(sl, 3, sparkCos("qe", "ne"))
      val exact = exactTopK(e.filter(col("vec_id") < 5)
        .selectExpr("vec_id as q_id", "embedding as qe"), e, 3, sparkCos("qe", "ne"))
      val hs = sl.groupBy("q_id").agg(
        min("ham").cast("long").as("ham_min"),
        max("ham").cast("long").as("ham_max"),
        count(lit(1)).cast("long").as("n_cand"))
      // the shortlist spread rides recallAt's per-query group
      recallAt(exact.join(hs, "q_id")
          .select("q_id", "n_id", "n_cand", "ham_min", "ham_max"),
        rr.toDF("rq_id", "rn_id"), 3)
    },

    // Shortlist-size tuning curve for binary-quantization ANN (the dd22/
    // ss18/st10 pattern applied to ss19): recall@3 per query at Hamming
    // shortlists of 10, 25, and 50 candidates, all three arms carved from
    // ONE 50-deep shortlist pass (a smaller shortlist is a rank prefix of
    // a larger one — the corpus is scanned once, not per arm). You read
    // this table to pick the smallest shortlist with acceptable recall;
    // rerank cost scales linearly with the knob.
    Q(
      "ss20_shortlist_sweep", {
        val armCtes = Seq(10, 25, 50).map { c =>
          s"""rr$c AS (SELECT q_id, n_id FROM (
             |    SELECT q_id, n_id,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY ${duckCos("qe", "ne")} DESC, n_id) AS rn
             |    FROM sl WHERE hrn <= $c) WHERE rn <= 3),""".stripMargin
        }.mkString("\n")
        val armSelects = Seq(10, 25, 50).map { c =>
          s"""SELECT $c::BIGINT AS shortlist, q_id, n_hit, recall_x100 FROM (
             |${duckRecallSelect(s"rr$c", 3)})""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH c AS (SELECT vec_id, ${duckSignWord("embedding", 0)} AS w0,
           |             ${duckSignWord("embedding", 32)} AS w1, embedding FROM embeddings),
           |  q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1, embedding AS qe
           |        FROM c WHERE vec_id < 5),
           |  sl AS (SELECT q_id, n_id, qe, ne, hrn FROM (
           |    SELECT q_id, n_id, qe, ne,
           |      row_number() OVER (PARTITION BY q_id ORDER BY ham, n_id) AS hrn
           |    FROM (SELECT q.q_id, c.vec_id AS n_id,
           |            bit_count(xor(c.w0, q.qw0)) + bit_count(xor(c.w1, q.qw1)) AS ham,
           |            q.qe AS qe, c.embedding AS ne
           |          FROM q CROSS JOIN c WHERE c.vec_id <> q.q_id)) WHERE hrn <= 50),
           |$armCtes
           |  ${duckExactCte(3, duckCos)}
           |$armSelects""".stripMargin
      }) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val sl = hammingShortlist(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", shortlist = 50)
        .selectExpr("q_id", "n_id", "qe", "ne",
          "row_number() over (partition by q_id order by ham, n_id) as hrn")
        .persist() // three arms share the one shortlist pass
      val exact = exactTopK(e.filter(col("vec_id") < 5)
        .selectExpr("vec_id as q_id", "embedding as qe"), e, 3, sparkCos("qe", "ne"))
      val arms = Seq(10, 25, 50).map { c =>
        val rr = rankTopK(sl.filter(col("hrn") <= c), 3, sparkCos("qe", "ne"))
        recallAt(exact, rr.toDF("rq_id", "rn_id"), 3)
          .selectExpr(s"cast($c as bigint) as shortlist", "q_id", "n_hit", "recall_x100")
      }
      arms.reduce(_ unionAll _)
    },

    // Matryoshka (MRL) truncated-dimension recall sweep: rank neighbors
    // by cosine over only the FIRST d dims (d = 8, 16, 32, 64) and
    // measure top-3 recall against the full-width exact top-3 — the
    // accuracy-vs-cost curve behind Matryoshka-style embeddings, where
    // serving reads a prefix of each stored vector (¼ the bytes at
    // d=16) and the index answers from truncated vectors. Same
    // prefix-fold arithmetic on both engines (ascending left fold,
    // per-element double cast — the fn05/ss14-proven rendering).
    // Scale: ONE corpus scan; the 4 truncation arms ride a single
    // exploded (d, cosine) pass against the broadcast 5-query table,
    // so adding arms adds projection work, not scans; per-(d, query)
    // rank windows shuffle (d, q_id, n_id, cos) rows only. A real MRL
    // deployment stores the prefix contiguously so the d=16 arm also
    // cuts scan bytes 4× — parquet's array layout can't, noted.
    Q(
      "ss21_mrl_recall", {
        val ds = Seq(8, 16, 32, 64)
        val armCase = ds.init.map(n =>
          s"WHEN ${n} THEN ${duckCosN("q.qe", "e.embedding", n)}")
          .mkString(" ")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           |           WHERE vec_id < 5),
           |  dt AS (SELECT unnest([${ds.mkString(", ")}]) AS d),
           |  pr AS (SELECT dt.d, q.q_id, e.vec_id AS n_id,
           |      CASE dt.d $armCase
           |           ELSE ${duckCosN("q.qe", "e.embedding", 64)} END AS cs
           |    FROM q CROSS JOIN embeddings e CROSS JOIN dt
           |    WHERE e.vec_id <> q.q_id),
           |  top AS (SELECT d, q_id, n_id FROM (
           |    SELECT d, q_id, n_id,
           |      row_number() OVER (PARTITION BY d, q_id ORDER BY cs DESC, n_id) AS rn
           |    FROM pr) WHERE rn <= 3),
           |  truth AS (SELECT q_id, n_id FROM top WHERE d = 64)
           |SELECT CAST(t.d AS BIGINT) AS d,
           |  CAST(count(x.n_id) AS BIGINT) AS n_hit,
           |  (100 * count(x.n_id)) // 15 AS recall_x100
           |FROM top t LEFT JOIN truth x ON x.q_id = t.q_id AND x.n_id = t.n_id
           |GROUP BY t.d""".stripMargin
      }) { (s, d) =>
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val ds = Seq(8, 16, 32, 64)
      val structArr = ds.map(n =>
        s"struct(cast($n as bigint) as d, " +
          s"${sparkCosN(s"slice(qe, 1, $n)", s"slice(ne, 1, $n)")} as cs)")
        .mkString("array(", ", ", ")")
      val top = broadcast(q)
        .crossJoin(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")))
        .filter(col("n_id") =!= col("q_id"))
        .selectExpr("q_id", "n_id", s"explode($structArr) as dc")
        .selectExpr("dc.d as d", "q_id", "n_id", "dc.cs as cs")
        .selectExpr("d", "q_id", "n_id",
          "row_number() over (partition by d, q_id order by cs desc, n_id) as rn")
        .filter(col("rn") <= 3)
        .select("d", "q_id", "n_id")
        .persist() // truth arm re-reads it; caller clearCache releases
      val truth = top.filter(col("d") === 64)
        .select(col("q_id").as("tq_id"), col("n_id").as("tn_id"))
      // not recallAt: recall is per truncation width over all 5 queries'
      // 15 truth rows, not per query
      top.join(truth,
          col("q_id") === col("tq_id") && col("n_id") === col("tn_id"), "left")
        .groupBy("d")
        .agg(
          count(col("tn_id")).cast("long").as("n_hit"),
          expr("(100 * count(tn_id)) div 15").as("recall_x100"))
    },

    // ANN index staleness audit (the when-to-rebuild signal): freeze a
    // codebook trained on the FIRST data era (even vec_ids — the
    // decimal-exact per-label means ss11 gates), assign BOTH eras to
    // it, and compare per-cell occupancy shares across eras. A cell
    // whose share shifts > 2% (cross-multiplied integer ppm — no IEEE
    // share subtraction) is flagged stale: new data has drifted away
    // from the frozen centroids, probe lists are going unbalanced, and
    // recall decays silently until retrain — this query is the
    // scheduled audit that catches it. Scale: centroids broadcast, the
    // one scored pass is scan-local per vector, the per-cell rollup
    // combines map-side to codebook cardinality; era totals broadcast
    // back.
    Q(
      "ss22_index_staleness",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings WHERE vec_id % 2 = 0 GROUP BY label),
         |  a AS (
         |    ${duckCellRanks(extra = Seq("e.vec_id % 2 AS era"))}),
         |  cnt AS (SELECT cell,
         |      CAST(count(CASE WHEN era = 0 THEN 1 END) AS BIGINT) AS n0,
         |      CAST(count(CASE WHEN era = 1 THEN 1 END) AS BIGINT) AS n1
         |    FROM a WHERE rn = 1 GROUP BY cell),
         |  t AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0,
         |          CAST(SUM(n1) AS BIGINT) AS t1 FROM cnt)
         |SELECT CAST(cell AS BIGINT) AS cell, n0, n1,
         |  CAST(1000000::HUGEINT * abs(CAST(n1 AS HUGEINT) * t0 - CAST(n0 AS HUGEINT) * t1)
         |    // (CAST(t0 AS HUGEINT) * t1) AS BIGINT) AS shift_ppm,
         |  1000000::HUGEINT * abs(CAST(n1 AS HUGEINT) * t0 - CAST(n0 AS HUGEINT) * t1)
         |    // (CAST(t0 AS HUGEINT) * t1) > 20000 AS stale
         |FROM cnt CROSS JOIN t""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      val cent = centroidsOf(e.filter(col("vec_id") % 2 === 0)
        .selectExpr("label as cell", "embedding"))
      val counts = topCells(
          e.withColumn("era", col("vec_id") % 2), cent, 1, Seq("vec_id", "era"))
        .groupBy("cell")
        .agg(
          count(when(col("era") === 0, 1)).cast("long").as("n0"),
          count(when(col("era") === 1, 1)).cast("long").as("n1"))
        // codebook-cardinality rows, consumed by the totals agg AND the
        // final projection — persist so the scored pass runs once;
        // caller clearCache releases
        .persist()
      val tots = counts.agg(sum("n0").cast("long").as("t0"),
        sum("n1").cast("long").as("t1"))
      // cross-products in DECIMAL(38,0)/HUGEINT: cell-count × corpus
      // total clears BIGINT at vector-corpus scale (the an18 lesson)
      counts.crossJoin(broadcast(tots))
        .selectExpr("cast(cell as bigint) as cell", "n0", "n1",
          "cast(cast(1000000 as decimal(38,0)) " +
            "* abs(cast(n1 as decimal(38,0)) * t0 - cast(n0 as decimal(38,0)) * t1) " +
            "div (cast(t0 as decimal(38,0)) * t1) as bigint) as shift_ppm",
          "cast(1000000 as decimal(38,0)) " +
            "* abs(cast(n1 as decimal(38,0)) * t0 - cast(n0 as decimal(38,0)) * t1) " +
            "div (cast(t0 as decimal(38,0)) * t1) > 20000 as stale")
    },

    // FILTERED vector search (the where-clause-on-ANN shape every
    // retrieval stack hits: "nearest neighbors WHERE label = X"):
    // ground truth is the exact cosine top-3 restricted to the query's
    // label; the engine arm probes nprobe=2 IVF cells (the 8 lowest
    // vec_ids as seed centroids — cells deliberately uncorrelated with
    // labels) and POST-filters candidates by label before ranking.
    // Post-filtering is the cheap strategy and its failure mode is the
    // point: when the filter is selective, probed cells may hold few
    // or no matching candidates, so recall decays with selectivity —
    // this query MEASURES that (per query: matching corpus size,
    // surviving filtered candidates, hits, recall), the number that
    // decides when to switch to label-partitioned indexes. Scale:
    // centroids broadcast; ONE scored pass feeds assignment + probe
    // lists (the ivfSearch discipline); the label filter drops
    // candidates before any exact-cosine work.
    Q(
      "ss24_filtered_ann",
      s"""WITH cent AS (SELECT vec_id AS cell, embedding AS ce
         |              FROM embeddings WHERE vec_id < 8),
         |  scored AS (
         |    ${duckCellRanks(extra = Seq("e.label"))}),
         |  assign AS (SELECT vec_id, label, cell FROM scored WHERE rn = 1),
         |  q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
         |        FROM embeddings WHERE vec_id < 5),
         |  qc AS (SELECT vec_id AS q_id, cell FROM scored
         |         WHERE vec_id < 5 AND rn <= 2),
         |  cand AS (SELECT DISTINCT q.q_id, a.vec_id AS n_id
         |           FROM q JOIN qc ON qc.q_id = q.q_id
         |                  JOIN assign a ON a.cell = qc.cell AND a.label = q.ql
         |           WHERE a.vec_id <> q.q_id),
         |  ivf AS (SELECT q_id, n_id FROM (
         |    SELECT c.q_id, c.n_id,
         |      row_number() OVER (PARTITION BY c.q_id
         |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, c.n_id) AS rn
         |    FROM cand c JOIN q ON q.q_id = c.q_id
         |                JOIN embeddings e ON e.vec_id = c.n_id) WHERE rn <= 3),
         |  truth AS (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM q JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.q_id)
         |    WHERE rn <= 3),
         |  nrel AS (SELECT q.q_id, CAST(count(*) AS BIGINT) AS n_rel
         |           FROM q JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.q_id
         |           GROUP BY q.q_id),
         |  ncand AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
         |            FROM cand GROUP BY q_id)
         |SELECT t.q_id, r.n_rel, coalesce(c.n_cand, 0) AS n_cand,
         |  CAST(count(i.n_id) AS BIGINT) AS n_hit,
         |  (100 * count(i.n_id)) // count(*) AS recall_x100
         |FROM truth t
         |LEFT JOIN ivf i ON i.q_id = t.q_id AND i.n_id = t.n_id
         |JOIN nrel r ON r.q_id = t.q_id
         |LEFT JOIN ncand c ON c.q_id = t.q_id
         |GROUP BY t.q_id, r.n_rel, c.n_cand""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell"), col("embedding").as("ce"))
      val scored = topCells(e, cent, 2, Seq("vec_id", "label", "embedding"))
        .persist() // assignment + probe lists; caller clearCache releases
      val assign = scored.filter(col("rn") === 1)
        .select(col("vec_id").as("n_id"), col("label").as("nl"), col("cell"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("ql"))
      val qc = scored.filter(col("vec_id") < 5 && col("rn") <= 2)
        .select(col("vec_id").as("q_id"), col("cell"))
      val cand = broadcast(q.join(qc, "q_id"))
        .join(assign, Seq("cell"))
        .filter(col("nl") === col("ql") && col("n_id") =!= col("q_id"))
        .select("q_id", "qe", "n_id").distinct()
      val ivf = rankTopK(cand
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")),
          Seq("n_id")), 3, sparkCos("qe", "ne"))
        .toDF("iq_id", "hit_id")
      val rel = broadcast(q)
        .join(e.select(col("vec_id").as("n_id"), col("label").as("nl"),
          col("embedding").as("ne")),
          col("nl") === col("ql") && col("n_id") =!= col("q_id"))
        .persist() // truth ranking + n_rel share it
      val truth = rankTopK(rel, 3, sparkCos("qe", "ne"))
      val nrel = rel.groupBy("q_id").agg(count(lit(1)).cast("long").as("n_rel"))
      val ncand = cand.groupBy("q_id").agg(count(lit(1)).cast("long").as("n_cand"))
      // not recallAt: a label-filtered truth can hold fewer than 3 rows,
      // so recall divides by the query's own truth count
      truth
        .join(ivf, col("q_id") === col("iq_id") && col("n_id") === col("hit_id"),
          "left")
        .groupBy("q_id")
        .agg(count(col("hit_id")).cast("long").as("n_hit"),
          expr("(100 * count(hit_id)) div count(1)").as("recall_x100"))
        .join(nrel, "q_id")
        .join(ncand, Seq("q_id"), "left")
        .selectExpr("q_id", "n_rel", "coalesce(n_cand, 0L) as n_cand",
          "n_hit", "recall_x100")
    },

    // Retrieval-quality metrics (the eval layer over the whole ss
    // family): per query, precision@5, recall@5 and MRR against
    // label-relevance (a neighbor is relevant iff it shares the
    // query's label — the standard proxy ground truth when no human
    // judgments exist), ranking by exact cosine. All metrics are
    // integer-exact (×100 / ×10⁶ with integer div — MRR's 1/rank never
    // touches IEEE), so the gate pins the metric arithmetic itself,
    // not just the ranking. Scale: queries broadcast; the one scored
    // pass reduces to (q_id, rank, relevant) rows before the rollup;
    // metrics are per-query conditional aggs over ≤ corpus-rank rows.
    Q(
      "ss23_ranking_metrics",
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
         |           FROM embeddings WHERE vec_id < 5),
         |  r AS (SELECT q.q_id, q.ql, e.label AS nl,
         |          row_number() OVER (PARTITION BY q.q_id
         |            ORDER BY ${duckCos("q.qe", "e.embedding")} DESC, e.vec_id) AS rnk
         |        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
         |SELECT q_id,
         |  CAST(count(CASE WHEN nl = ql THEN 1 END) AS BIGINT) AS n_rel,
         |  CAST(count(CASE WHEN nl = ql AND rnk <= 5 THEN 1 END) AS BIGINT) AS hits5,
         |  (100 * count(CASE WHEN nl = ql AND rnk <= 5 THEN 1 END)) // 5 AS prec5_x100,
         |  CAST(CASE WHEN count(CASE WHEN nl = ql THEN 1 END) = 0 THEN 0
         |       ELSE (100 * count(CASE WHEN nl = ql AND rnk <= 5 THEN 1 END))
         |            // count(CASE WHEN nl = ql THEN 1 END) END AS BIGINT) AS recall5_x100,
         |  CAST(CASE WHEN min(CASE WHEN nl = ql THEN rnk END) IS NULL THEN 0
         |       ELSE 1000000 // min(CASE WHEN nl = ql THEN rnk END) END AS BIGINT) AS mrr_x1e6
         |FROM r GROUP BY q_id""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("ql"))
      broadcast(q)
        .crossJoin(e.select(col("vec_id").as("n_id"),
          col("embedding").as("ne"), col("label").as("nl")))
        .filter(col("n_id") =!= col("q_id"))
        .selectExpr("q_id", "ql", "nl",
          s"row_number() over (partition by q_id order by " +
            s"${sparkCos("qe", "ne")} desc, n_id) as rnk")
        .groupBy("q_id")
        .agg(
          count(when(col("nl") === col("ql"), 1)).cast("long").as("n_rel"),
          count(when(col("nl") === col("ql") && col("rnk") <= 5, 1))
            .cast("long").as("hits5"),
          expr("(100 * count(case when nl = ql and rnk <= 5 then 1 end)) div 5")
            .as("prec5_x100"),
          expr("cast(case when count(case when nl = ql then 1 end) = 0 then 0 " +
            "else (100 * count(case when nl = ql and rnk <= 5 then 1 end)) " +
            "div count(case when nl = ql then 1 end) end as bigint)")
            .as("recall5_x100"),
          expr("cast(case when min(case when nl = ql then rnk end) is null then 0 " +
            "else 1000000 div min(case when nl = ql then rnk end) end as bigint)")
            .as("mrr_x1e6"))
    },

    // Cluster-scoped SemDeDup: trained-centroid cells (ss11's codebook)
    // + within-cell greedy ε-pruning at τ=0.3 (ss03's near-dup
    // threshold). One ledger row per vector: its cell, whether it
    // survives, and the lowest-id dominator that killed it. dd14 is the
    // transitive-CC flavor; this is the SemDeDup-paper shape a curation
    // run uses to thin semantically redundant regions cell-by-cell.
    // Semantics + scale contract live on `semDedupCells` above.
    Q(
      "ss25_semdedup_cells",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks(extra = Seq("e.embedding"))}),
         |  assign AS (SELECT vec_id, embedding, cell FROM scored WHERE rn = 1),
         |  dom AS (
         |    SELECT b.vec_id AS vec_id, min(a.vec_id) AS keeper
         |    FROM assign a JOIN assign b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    WHERE ${duckCos("a.embedding", "b.embedding")} > 0.3
         |    GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cell,
         |  CASE WHEN d.keeper IS NULL THEN 1 ELSE 0 END AS keep_flag,
         |  d.keeper
         |FROM assign s LEFT JOIN dom d ON d.vec_id = s.vec_id""".stripMargin) {
      (s, d) =>
        graft.functions.CosineSimilarity.register(s)
        val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
        semDedupCells(e, trainedCentroids(e), tau = 0.3)
    },

    // Incremental SemDeDup ingest (dd15/dd27's lifecycle applied to
    // ss25): the corpus is ALREADY deduplicated — only its kept
    // representatives (with their cells) survive — and a new batch is
    // admitted against them: a batch vector is dropped iff a kept
    // corpus vector in its cell clears τ, or a lower-id batch vector
    // in its cell does. The corpus is never re-deduplicated and
    // dropped corpus rows never dominate (they no longer exist — the
    // standard incremental approximation, exactly dd15's anti-join
    // contract). Corpus = vec_id < 400, batch = the rest; codebook
    // trained on the corpus only (a production ingest must not let the
    // batch move the cells it is judged against).
    Q(
      "ss26_semdedup_increment",
      s"""WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
         |  bat AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
         |  cent AS (
         |    SELECT label AS cell,
         |      ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |    FROM embeddings WHERE vec_id < 400 GROUP BY label),
         |  cscored AS (
         |    ${duckCellRanks("corp", Seq("e.embedding"))}),
         |  cassign AS (SELECT vec_id, embedding, cell FROM cscored WHERE rn = 1),
         |  cdom AS (
         |    SELECT b.vec_id AS vec_id, min(a.vec_id) AS keeper
         |    FROM cassign a JOIN cassign b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    WHERE ${duckCos("a.embedding", "b.embedding")} > 0.3
         |    GROUP BY b.vec_id),
         |  ckept AS (
         |    SELECT s.vec_id, s.cell, s.embedding FROM cassign s
         |    LEFT JOIN cdom d ON d.vec_id = s.vec_id WHERE d.keeper IS NULL),
         |  bscored AS (
         |    ${duckCellRanks("bat", Seq("e.embedding"))}),
         |  bassign AS (SELECT vec_id, embedding, cell FROM bscored WHERE rn = 1),
         |  dom AS (
         |    SELECT x.vec_id, min(x.a) AS keeper FROM (
         |      SELECT b.vec_id AS vec_id, k.vec_id AS a
         |      FROM ckept k JOIN bassign b ON k.cell = b.cell
         |      WHERE ${duckCos("k.embedding", "b.embedding")} > 0.3
         |      UNION ALL
         |      SELECT b.vec_id AS vec_id, a.vec_id AS a
         |      FROM bassign a JOIN bassign b
         |        ON a.cell = b.cell AND a.vec_id < b.vec_id
         |      WHERE ${duckCos("a.embedding", "b.embedding")} > 0.3) x
         |    GROUP BY x.vec_id)
         |SELECT s.vec_id, s.cell,
         |  CASE WHEN d.keeper IS NULL THEN 1 ELSE 0 END AS keep_flag,
         |  d.keeper
         |FROM bassign s LEFT JOIN dom d ON d.vec_id = s.vec_id""".stripMargin) {
      (s, d) =>
        graft.functions.CosineSimilarity.register(s)
        val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
        val corpus = e.filter(col("vec_id") < 400)
        val batch = e.filter(col("vec_id") >= 400)
        // lazily persisted: TWO genuine broadcast consumers (the corpus
        // ledger's assignment and the batch assignment) — one centroid
        // pass instead of two, with no eager action (the ss13/r19
        // persist discipline)
        val cent = trainedCentroids(corpus).persist()
        // production reads the SAVED kept ledger (cluster-once, dd26's
        // convention); the gated query derives it in-plan so the oracle
        // can replay the whole chain. keepEmbedding: the survivor
        // vectors ride the ledger join (exchange-free on the cell-
        // partitioned cache) instead of a corpus re-join by vec_id (r19)
        val kept = semDedupCells(
            corpus.select("vec_id", "embedding"), cent, tau = 0.3,
            keepEmbedding = true)
          .filter(col("keep_flag") === 1)
          .select("vec_id", "cell", "embedding")
        semDedupIncrement(kept, batch.select("vec_id", "embedding"),
          cent, tau = 0.3)
    },

    // SemDeDup τ tuning curve (the paper's ε knob): how much of the
    // corpus does each threshold delete? ONE assignment + ONE within-cell
    // pair pass computes every vector's max cosine against its lower-id
    // cell-mates (`dom`); each τ row then classifies the SAME per-vector
    // dom — all arms share the quadratic stage (ss18's sweep convention),
    // so sweeping 5 thresholds costs one threshold's pair work plus a
    // 5-row broadcast rollup. dropped(τ) ≡ ss25's keep_flag=0 count at
    // that τ by construction (dom > τ ⟺ ∃ lower-id τ-similar cell-mate).
    Q(
      "ss27_semdedup_tau_sweep",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks(extra = Seq("e.embedding"))}),
         |  assign AS (SELECT vec_id, embedding, cell FROM scored WHERE rn = 1),
         |  dom AS (
         |    SELECT b.vec_id AS vec_id,
         |      max(${duckCos("a.embedding", "b.embedding")}) AS dom
         |    FROM assign a JOIN assign b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    WHERE ${duckCos("a.embedding", "b.embedding")} > 0.2
         |    GROUP BY b.vec_id),
         |  v AS (
         |    SELECT s.vec_id, d.dom FROM assign s
         |    LEFT JOIN dom d ON d.vec_id = s.vec_id),
         |  t AS (SELECT unnest([20, 30, 50, 70, 90]) AS tau_pct)
         |SELECT t.tau_pct,
         |  count(*) FILTER (WHERE v.dom IS NOT NULL
         |    AND v.dom > t.tau_pct / 100.0) AS dropped,
         |  count(*) FILTER (WHERE v.dom IS NULL
         |    OR v.dom <= t.tau_pct / 100.0) AS kept
         |FROM t CROSS JOIN v GROUP BY t.tau_pct""".stripMargin) {
      (s, d) =>
        graft.functions.CosineSimilarity.register(s)
        val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
        semDedupTauSweep(e, trainedCentroids(e), Seq(20, 30, 50, 70, 90))
    },

    // Cell-geometry audit: the hot-cell guard's rule as a gated query —
    // per occupied cell, its population and whether it trips the skew
    // rail (n > floor AND n > skewFactor × total/k, evaluated by exact
    // integer cross-multiplication so the oracle needs no float mean).
    // The sf fixture's label-balanced cells keep every flag 0 here; the
    // hot arm is exercised by SimilarityApiSpec's flood fixtures. At
    // 100 TB this is the pre-flight a SemDeDup run consults BEFORE
    // paying the pair stage: one scored pass + a k-row rollup.
    Q(
      "ss28_cell_geometry",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks()}),
         |  assign AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
         |  sizes AS (SELECT cell, count(*) AS n FROM assign GROUP BY cell),
         |  t AS (SELECT cast(sum(n) AS BIGINT) AS total FROM sizes),
         |  kk AS (SELECT count(*) AS k FROM cent)
         |SELECT s.cell, s.n,
         |  CASE WHEN s.n > 256 AND s.n * kk.k > 4 * t.total
         |    THEN 1 ELSE 0 END AS hot
         |FROM sizes s CROSS JOIN t CROSS JOIN kk""".stripMargin) {
      (s, d) =>
        graft.functions.CosineSimilarity.register(s)
        val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
        cellGeometry(e, trainedCentroids(e))
    },

    // Margin-based bitext mining (Artetxe & Schwenk's ratio-margin
    // criterion, the CCMatrix/WikiMatrix shape): for every side-A
    // vector, its best side-B candidate scored by cos relative to BOTH
    // vectors' local similarity neighborhoods — margin = 2·cos(x,y) /
    // (avgk(x) + avgk(y)) — so a pair only scores high when the two are
    // mutually exceptional, not just in a dense region. Candidates and
    // k-NN averages are scoped to codebook cells (the ss25 machinery:
    // mining stays linear under the k∝N contract instead of A×B
    // quadratic). Fixture sides = even/odd vec_id; the API takes two
    // corpora. Cosines quantize to x1e6 integer units and averages use
    // integer division, so the oracle never hashes float sums (ss23's
    // x1e6 convention; all quantities positive, div ≡ floor on both
    // engines).
    Q(
      "ss29_bitext_margin",
      s"""WITH cent AS (
         |  SELECT label AS cell,
         |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
         |  FROM embeddings GROUP BY label),
         |  scored AS (
         |    ${duckCellRanks(extra = Seq("e.embedding"))}),
         |  asg AS (SELECT vec_id, embedding, cell FROM scored WHERE rn = 1),
         |  pr AS (
         |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |      CAST(floor(${duckCos("a.embedding", "b.embedding")} * 1000000) AS BIGINT) AS cq
         |    FROM asg a JOIN asg b
         |      ON a.cell = b.cell AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
         |    WHERE floor(${duckCos("a.embedding", "b.embedding")} * 1000000) > 0),
         |  ar AS (SELECT a_id, cq,
         |           row_number() OVER (PARTITION BY a_id ORDER BY cq DESC, b_id) AS rk
         |         FROM pr),
         |  ax AS (SELECT a_id, CAST(sum(cq) // count(*) AS BIGINT) AS ak
         |         FROM ar WHERE rk <= 4 GROUP BY a_id),
         |  br AS (SELECT b_id, cq,
         |           row_number() OVER (PARTITION BY b_id ORDER BY cq DESC, a_id) AS rk
         |         FROM pr),
         |  bx AS (SELECT b_id, CAST(sum(cq) // count(*) AS BIGINT) AS bk
         |         FROM br WHERE rk <= 4 GROUP BY b_id),
         |  best AS (SELECT a_id, b_id, cq FROM (
         |      SELECT a_id, b_id, cq,
         |        row_number() OVER (PARTITION BY a_id ORDER BY cq DESC, b_id) AS rk
         |      FROM pr) WHERE rk = 1)
         |SELECT t.a_id, t.b_id, t.cq AS cos_x1e6,
         |  CAST((2 * t.cq * 1000000) // (ax.ak + bx.bk) AS BIGINT) AS margin_x1e6
         |FROM best t JOIN ax ON ax.a_id = t.a_id
         |  JOIN bx ON bx.b_id = t.b_id""".stripMargin) { (s, d) =>
      graft.functions.CosineSimilarity.register(s)
      val e = T.embeddings(s, d).select("vec_id", "label", "embedding")
      bitextMarginMine(
        e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding"),
        e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding"),
        trainedCentroids(e), 4)
    }
  )

  /** Incremental SemDeDup core shared by the gated ss26 query and
    * `Similarity.semDedupIncrement` (the API delegates HERE so the two
    * can't diverge): assign `batch` to the broadcast codebook's cells,
    * then drop a batch vector iff a kept corpus representative in its
    * cell clears `tau` (cell-keyed join against `kept`'s distinct reps
    * — the corpus text of dd15's anti-join shape) or a lower-id batch
    * vector in its cell does (ss25's within-cell greedy, batch-only).
    * `kept` must carry (vec_id, cell, embedding) of the SURVIVING
    * corpus rows — the saved ledger joined back to its vectors.
    *
    * Scale notes (100 TB): the corpus NEVER rescans — only its kept
    * reps (the post-dedup minority) enter the cell-keyed join; the
    * batch pays one scored assignment pass + one self-join bounded by
    * the k∝N cell contract (the hot-cell guard on the ss25 side owns
    * that telemetry). Admitting a daily batch costs work proportional
    * to the batch, not the corpus.
    */
  private[graft] def semDedupIncrement(kept: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame = {
    val bAssign = semDedupAssign(batch, cent).persist()
    val corpDom = kept
      .select(col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
      .join(bAssign.select(col("vec_id").as("b_id"), col("cell"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(expr(s"${sparkCos("ea", "eb")} > $tau"))
      .select("b_id", "a_id")
    val batchDom = bAssign
      .select(col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
      .join(bAssign.select(col("vec_id").as("b_id"), col("cell"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(expr(s"${sparkCos("ea", "eb")} > $tau"))
      .select("b_id", "a_id")
    val dom = corpDom.unionByName(batchDom)
      .groupBy("b_id").agg(min("a_id").as("keeper"))
      .withColumnRenamed("b_id", "vec_id")
    bAssign.select("vec_id", "cell")
      .join(dom, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cell",
        "cast(case when keeper is null then 1 else 0 end as int) as keep_flag",
        "keeper")
  }

  /** Sequential (arrival-ordered) SemDeDup over `parts` ingest batches
    * — the batch rendering of the st16 streaming twin
    * (StreamRunner.semDedupStream): vectors arrive in `parts`
    * micro-batches (batch = vec_id mod parts, lower batch first,
    * ascending id inside a batch) and every batch is admitted with
    * [[semDedupIncrement]]'s rule against the state accumulated so far
    * — a vector is dropped iff a KEPT vector from an earlier batch
    * shares its cell and clears `tau`, or ANY lower-id vector of its
    * own batch does. One ledger row per vector: (vec_id, batch, cell,
    * keep_flag, keeper), keeper the lowest-id dominator across both
    * arms. Unlike ss25's order-free any-lower-id rule, dropped vectors
    * from EARLIER batches never dominate — streaming state carries
    * survivors only, so the batch boundary is semantically visible
    * (exactly what a stateful stream can afford to remember).
    *
    * Scale notes (100 TB): the fold unrolls into ONE plan over a single
    * persisted assignment — per level one cell-keyed join against the
    * kept side and one within-batch self-join, both bounded by the k∝N
    * cell contract (the hot-cell guard's telemetry applies here too).
    * `parts` is the micro-batch count of the streaming twin — a small
    * constant — so plan depth is fixed; inter-level state is a filter
    * over the persisted assignment, never a driver collect.
    */
  private[graft] def semDedupSequential(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      tau: Double, parts: Int): org.apache.spark.sql.DataFrame = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    // Codebook cardinality rides the assignment as `_k` (r19 — see
    // semDedupCells): no codebook persist, no count pass; the centroid
    // aggregation runs once, inside the assignment's broadcast build.
    // NOT pre-partitioned by cell (unlike semDedupCells): the fold's
    // per-level work runs on cell-keyed partitions wherever it is
    // cell-keyed anyway (the self-joins), and at fixture k (10 cells)
    // pinning the CACHE itself to hash(cell) collapsed every downstream
    // stage to ~k tasks — measured st16 8.5 → 10.9 s. The (cell, id)
    // keyed rollup + ledger join below still reuse the self-join's own
    // exchange (guide §2.4) without touching the cache's parallelism.
    val assign = semDedupAssign(e, cent, emitK = true)
      .withColumn("batch", expr(s"cast(vec_id % $parts as int)"))
      .persist()
    recordCellGeometryK(assign, "semDedupSequential",
      "raise k or re-cluster the hot cell before streaming ingest")
    var kept: org.apache.spark.sql.DataFrame = null
    val ledgers = (0 until parts).map { b =>
      val cur = assign.filter(col("batch") === b)
      val curB = cur.select(
        col("vec_id").as("b_id"), col("cell"), col("embedding").as("eb"))
      val batchDom = cur.select(
        col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
        .join(curB, Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(expr(s"${sparkCos("ea", "eb")} > $tau"))
        .select("b_id", "a_id")
      val allDom =
        if (kept == null) batchDom
        else kept.select(
          col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
          .join(curB, Seq("cell"))
          .filter(expr(s"${sparkCos("ea", "eb")} > $tau"))
          .select("b_id", "a_id")
          .unionByName(batchDom)
      // NOTE (r19): keying this rollup and the ledger join by
      // (cell, b_id)/(cell, vec_id) — the semDedupLedger trick — was
      // tried here and REVERTED: the union over the kept arm erases the
      // partitioning the reuse needs, so the planner re-exchanged with
      // MISMATCHED specs (hash(cell) vs hash(cell, id)) and both bytes
      // and wall went up (2.4 MB vs 1.9 MB, ~+15% wall).
      val dom = allDom.groupBy("b_id").agg(min("a_id").as("keeper"))
        .withColumnRenamed("b_id", "vec_id")
      // ONE left join serves both the ledger row and the survivor set
      // (r18): `keeper` is a grouped min over a nonempty group, so it is
      // NULL exactly on unmatched rows — filtering the join output on
      // keeper IS NULL is the old left_anti, without the second join.
      // LAZY localCheckpoint per level (r19, replacing the r18 persist):
      // the ledger (final union) and the next level's kept arm both read
      // the materialized blocks ONCE like the persist, but the
      // checkpoint also TRUNCATES the logical lineage — with persist the
      // driver re-optimized a plan embedding every earlier level per
      // action (measured: a ~1.9 s zero-job driver stall inside st16,
      // guide §7.3 "very large plans"). Same executor-local
      // fault-tolerance trade as the CC loop's checkpoints
      // (Dedup.connectedComponents note); blocks release when the
      // frame's RDD is GC'd after the action.
      val led = cur.select("vec_id", "batch", "cell", "embedding")
        .join(dom, Seq("vec_id"), "left")
        .localCheckpoint(false)
      val ledger = led.selectExpr("vec_id", "batch", "cell",
        "cast(case when keeper is null then 1 else 0 end as int) as keep_flag",
        "keeper")
      val survivors = led.filter(col("keeper").isNull)
        .select("vec_id", "cell", "embedding")
      kept = if (kept == null) survivors else kept.unionByName(survivors)
      ledger
    }
    ledgers.reduce(_ unionByName _)
  }

  /** DuckDB rendering of [[semDedupSequential]] (the st16 oracle). The
    * kept-only cross-batch rule is recursive in the batch index, so at
    * a fixed `parts` it unrolls into one (domᵦ, dᵦ, kᵦ) CTE triple per
    * batch: domᵦ collects dominators (kept reps k₍ᵦ₋₁₎ cell-joined to
    * batch b, plus batch b's own lower-id pairs), dᵦ takes the lowest
    * per victim, kᵦ appends batch b's survivors to the kept set.
    * Generated HERE beside the Spark fold so the two renderings can't
    * drift.
    */
  private[graft] def sequentialOracleSql(parts: Int, tau: Double): String = {
    val cos = duckCos("x.embedding", "y.embedding")
    val levels = (0 until parts).map { b =>
      val keptArm =
        if (b == 0) ""
        else s"""    SELECT y.vec_id AS vec_id, x.vec_id AS a_id
                 |    FROM k${b - 1} x JOIN asg y ON x.cell = y.cell AND y.batch = $b
                 |    WHERE $cos > $tau
                 |    UNION ALL
                 |""".stripMargin
      val keptBase =
        if (b == 0) ""
        else s"    SELECT vec_id, embedding, cell FROM k${b - 1}\n    UNION ALL\n"
      s"""  dom$b AS (
         |$keptArm    SELECT y.vec_id AS vec_id, x.vec_id AS a_id
         |    FROM asg x JOIN asg y
         |      ON x.cell = y.cell AND x.batch = $b AND y.batch = $b AND x.vec_id < y.vec_id
         |    WHERE $cos > $tau),
         |  d$b AS (SELECT vec_id, min(a_id) AS keeper FROM dom$b GROUP BY vec_id),
         |  k$b AS (
         |$keptBase    SELECT a.vec_id, a.embedding, a.cell
         |    FROM asg a LEFT JOIN d$b ON d$b.vec_id = a.vec_id
         |    WHERE a.batch = $b AND d$b.vec_id IS NULL)""".stripMargin
    }
    val doms = (0 until parts).map(b => s"SELECT * FROM d$b").mkString("\n    UNION ALL ")
    s"""WITH cent AS (
       |  SELECT label AS cell,
       |    ${(1 to dim).map(duckCentDim).mkString("[", ", ", "]")} AS ce
       |  FROM embeddings GROUP BY label),
       |  scored AS (
       |    ${duckCellRanks(extra = Seq("e.embedding"))}),
       |  asg AS (SELECT vec_id, embedding, cell, CAST(vec_id % $parts AS INT) AS batch
       |          FROM scored WHERE rn = 1),
       |${levels.mkString(",\n")},
       |  doms AS (
       |    $doms)
       |SELECT a.vec_id, a.batch, a.cell,
       |  CASE WHEN d.keeper IS NULL THEN 1 ELSE 0 END AS keep_flag, d.keeper
       |FROM asg a LEFT JOIN doms d ON d.vec_id = a.vec_id""".stripMargin
  }

  /** The trained codebook rendered as one SQL plan literal —
    * [[centLiteral]] over a collected (cell, ce) table, cells cast to
    * BIGINT. Streaming twins use it for scan-local cell assignment
    * (streams can't run the assignment window); k·dim floats, driver-
    * and broadcast-safe at any corpus size.
    */
  private[graft] def centLiteralSql(cent: org.apache.spark.sql.DataFrame): String =
    centLiteral(cent.selectExpr("cast(cell as bigint) as cell", "ce").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq)

  /** SemDeDup τ-sweep core shared by the gated ss27 query and
    * `Similarity.semDedupTauSweep` (the API delegates HERE so the two
    * can't diverge): one assignment + one within-cell pair pass compute
    * each vector's max cosine against its lower-id cell-mates (`dom`,
    * cut at min(τ)/100 — a pair below every threshold classifies
    * identically to no pair at all), then every τ row classifies the
    * same per-vector dom: dropped(τ) = #{dom > τ}. Returns one row per
    * τ: (tau_pct, dropped, kept).
    *
    * Scale notes (100 TB): the pair join is cell-keyed and bounded by
    * the same k∝N contract as [[semDedupCells]] (the hot-cell guard's
    * telemetry applies — the sweep runs [[recordCellGeometry]] too);
    * `max(cs)` partial-aggregates map-side, so the post-pair exchange is
    * ≤ N slim (id, double) rows no matter how many pairs the cells
    * hold; the τ grid joins as a broadcast literal and the final rollup
    * is |τ| rows. Sweeping the knob costs ONE pair stage, not |τ|.
    */
  private[graft] def semDedupTauSweep(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      tauPcts: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(tauPcts.nonEmpty, "tauPcts must be non-empty")
    val spark = e.sparkSession
    // Codebook cardinality rides the assignment as `_k` (r19 — see
    // semDedupCells). This query is WHY: the r18 codebook persist was
    // ss27's only change and it regressed 1.64x beyond the drift floor
    // (VERDICT r18 #1) — the persist's materialization job cost more
    // than the k-row aggregation it saved. emitK keeps the one-pass
    // property with no persist and no count job at all.
    val assign = semDedupAssign(e, cent, emitK = true).persist()
    recordCellGeometryK(assign, "semDedupTauSweep",
      "raise k or re-cluster the hot cell before sweeping")
    val a = assign.select(
      col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
    val b = assign.select(
      col("vec_id").as("b_id"), col("cell"), col("embedding").as("eb"))
    val dom = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .selectExpr("b_id as vec_id", s"${sparkCos("ea", "eb")} as cs")
      .filter(col("cs") > lit(tauPcts.min / 100.0))
      .groupBy("vec_id").agg(max("cs").as("dom"))
    import spark.implicits._
    val taus = tauPcts.toDF("tau_pct")
    assign.select("vec_id")
      .join(dom, Seq("vec_id"), "left")
      .crossJoin(broadcast(taus))
      .groupBy("tau_pct")
      .agg(
        count(when(col("dom").isNotNull &&
          col("dom") > col("tau_pct") / 100.0, 1)).as("dropped"),
        count(when(col("dom").isNull ||
          col("dom") <= col("tau_pct") / 100.0, 1)).as("kept"))
  }

  /** Cell-geometry audit core shared by the gated ss28 query and
    * `Similarity.cellGeometry` (the API delegates HERE so the two can't
    * diverge): per occupied cell of the assignment, (cell, n, hot) where
    * `hot` applies the hot-cell guard's rule — n > [[hotCellFloor]] and
    * n > [[hotCellSkewFactor]] × total/k — by integer cross-multiply
    * (n·k > factor·total), so the gated oracle pins the guard's exact
    * arithmetic with no float mean. This is the pre-flight to run
    * BEFORE paying [[semDedupCells]]' pair stage on an unknown corpus:
    * one broadcast-scored pass + a k-row rollup, no quadratic anywhere.
    */
  private[graft] def cellGeometry(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Codebook cardinality rides the assignment as `_k` (r19 — the
    // semDedupCells/recordCellGeometryK convention): the old
    // `cent.groupBy().count()` arm was a structurally DIFFERENT plan
    // over the same codebook subtree, so when cent is a trained
    // aggregation (ss28 passes trainedCentroids) AQE's stage reuse
    // cannot dedup it and the whole corpus-scale centroid aggregation
    // ran a second time just to count k. size(_cents) counts the same
    // collected rows the assignment broadcasts anyway — one corpus
    // pass fewer at any scale, and `max(_k)` rides the k-row sizes
    // rollup this audit already pays.
    val sizes = semDedupAssign(e, cent, emitK = true)
      .groupBy("cell").agg(count(lit(1)).as("n"), max("_k").as("k"))
      .persist() // k-ish rows; feeds the total AND the output spine
    val tot = sizes.agg(sum("n").as("total"))
    val f = hotCellSkewFactor.toLong
    sizes.crossJoin(broadcast(tot))
      .selectExpr("cell", "n",
        s"cast(case when n > $hotCellFloor and n * k > $f * total " +
          "then 1 else 0 end as int) as hot")
  }

  /** Margin-based bitext mining core shared by the gated ss29 query and
    * `Similarity.bitextMarginMine` (the API delegates HERE so the two
    * can't diverge): both corpora assign to the broadcast codebook's
    * cells, cross-side pairs form ONLY within a cell, and each side-A
    * vector's best side-B candidate is scored by the ratio margin —
    * margin = 2·cos(x,y) / (avgₖ(x) + avgₖ(y)), with avgₖ a vector's
    * mean cosine over its k best opposite-side cell-mates — so a pair
    * scores high only when exceptional AGAINST BOTH NEIGHBORHOODS, the
    * criterion that separates true translation pairs from dense-region
    * noise. Cosines quantize to x1e6 integer units before any
    * aggregation (sums/divisions are integer end-to-end — no float-sum
    * hashing; everything positive, so div ≡ floor on both engines).
    * Returns (a_id, b_id, cos_x1e6, margin_x1e6), one row per side-A
    * vector with ≥1 positive-cosine opposite cell-mate.
    *
    * Scale notes (100 TB): A×B never forms — pairs are cell-keyed, so
    * pair volume is Σ |A∩cell|·|B∩cell|, linear under the k∝N contract
    * (pre-flight with [[cellGeometry]]); the k-NN averages are windows
    * over per-VECTOR frames (never global); the margin stage is
    * row-local arithmetic on a three-way id join. The persisted pair
    * frame feeds all three consumers (both averages + the best-pick)
    * in one plan.
    */
  private[graft] def bitextMarginMine(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val pairs = semDedupAssign(a, cent)
      .select(col("vec_id").as("a_id"), col("cell"), col("embedding").as("ea"))
      .join(semDedupAssign(b, cent)
        .select(col("vec_id").as("b_id"), col("cell"), col("embedding").as("eb")),
        Seq("cell"))
      .selectExpr("a_id", "b_id",
        s"cast(floor(${sparkCos("ea", "eb")} * 1000000) as bigint) as cq")
      .filter(col("cq") > 0)
      .persist() // three consumers: both k-NN averages + the best-pick
    val aRank = row_number().over(
      Window.partitionBy("a_id").orderBy(desc("cq"), col("b_id")))
    // ONE a-side window serves both the k-NN average AND the best pick
    // (r19): rk = 1 is the minimum rk of the ≤ k group, so min_by over
    // rk recovers the best candidate inside the SAME aggregation that
    // averages the top-k — the old form ran the a_id window twice (ax
    // arm + best-pick arm) and joined them back on a_id (guide §2.4).
    val aSide = pairs.withColumn("rk", aRank).filter(col("rk") <= k)
      .groupBy("a_id").agg(
        expr("cast(sum(cq) div count(1) as bigint)").as("ak"),
        expr("min_by(named_struct('b_id', b_id, 'cq', cq), rk)").as("_best"))
      .selectExpr("a_id", "ak", "_best.b_id as b_id", "_best.cq as cq")
    val bx = pairs.withColumn("rk", row_number().over(
      Window.partitionBy("b_id").orderBy(desc("cq"), col("a_id"))))
      .filter(col("rk") <= k)
      .groupBy("b_id").agg(expr("cast(sum(cq) div count(1) as bigint)").as("bk"))
    aSide.join(bx, "b_id")
      .selectExpr("a_id", "b_id", "cq as cos_x1e6",
        "cast((2 * cq * 1000000) div (ak + bk) as bigint) as margin_x1e6")
  }

  /** RRF hybrid fusion machinery shared by the gated ss17 query and
    * `Similarity.hybridTopK` (the API delegates HERE so the two can't
    * diverge). Callers must have run `CosineSimilarity.register`.
    */
  private[graft] def rrfHybrid(docs: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame, terms: Seq[String],
      qId: Long, k: Int): org.apache.spark.sql.DataFrame = {
    // Each arm's global rank runs on the distributed quantile-bucketed
    // ordinal (op18's machinery), NOT a single-partition window,
    // bucketed by negated score (double negation is order-reversing and
    // exact, so ASC ordinal ≡ score DESC) with the id as the in-bucket
    // tiebreak. The only global window is the ordinal's tiny
    // bucket-offset table — the plan survives a corpus where one
    // ranking partition won't.
    //
    // r19: the two arms STACK as an `_arm` column through ONE ordinal
    // pass (partitionCols resets the rank per arm) instead of running
    // the persist + quantile probe + offsets + rank window machinery
    // twice — one persisted (arm, id, key) frame, one probe, one window
    // exchange. Per-arm ranks are identical by construction: within an
    // arm the frame is exactly the old per-arm frame, and the ordinal's
    // value is split-independent (mixed-arm boundaries only shift
    // bucket sizes). The fusion then PIVOTS the single rank frame by
    // arm — groupBy(doc_id) with max(when) — instead of left-joining
    // the dense arm to the lex arm: one exchange of (arm, id, rank)
    // longs, and `rank_dense IS NOT NULL` ≡ the old join's dense-side
    // universe (lex-only docs drop, exactly as the left join dropped
    // them).
    val lexScored = graft.functions.TextOps.bm25Scores(docs, terms)
      .filter(col("doc_id") =!= qId)
      .select(lit(0).as("_arm"), col("doc_id"), (-col("bm25")).as("_neg"))
    val qe = e.filter(col("vec_id") === qId).select(col("embedding").as("qe"))
    // nanvl: a zero-norm embedding yields NaN cosine, and NaN sorts
    // GREATEST under both ASC and DESC in Spark — so the negation trick
    // would silently move such rows from rank 1 (old ORDER BY cs DESC)
    // to last. Pin the semantics explicitly instead: undefined
    // similarity ranks last, via a sentinel strictly below the cosine
    // range (ADVICE r9).
    val denseScored = e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(qe))
      .selectExpr("vec_id",
        s"nanvl(${sparkCos("embedding", "qe")}, cast(-2.0 as double)) as cs")
      .select(lit(1).as("_arm"), col("vec_id").as("doc_id"),
        (-col("cs")).as("_neg"))
    // persisted: the ordinal's quantile probe would otherwise recompute
    // BM25 + cosine; clearCache releases (the r1Bands convention)
    val stacked = lexScored.unionAll(denseScored).persist()
    val ranked = Ordinal.withGlobalOrdinal(stacked, "_neg", "rank",
      tieCols = Seq("doc_id"), partitionCols = Seq("_arm"))
    ranked.groupBy("doc_id")
      .agg(
        max(when(col("_arm") === 0, col("rank"))).as("rank_lex"),
        max(when(col("_arm") === 1, col("rank"))).as("rank_dense"))
      .filter(col("rank_dense").isNotNull)
      .selectExpr("doc_id",
        "cast(coalesce(rank_lex, 0) as bigint) as rank_lex",
        "rank_dense",
        "cast((case when rank_lex is not null then 1000000 div (60 + rank_lex) else 0 end) " +
          "+ 1000000 div (60 + rank_dense) as bigint) as rrf_x1e6")
      .orderBy(col("rrf_x1e6").desc, col("doc_id"))
      .limit(k)
  }

  /** JL sign (±1.0) for projected component j, input dimension i —
    * md5-derived like srpPlane but sign-only under a 'jl|' salt. The
    * signs inline as plan literals on both engines, so the projection
    * matrix is part of the plan text, never a join.
    */
  private[graft] def jlSign(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl|$j|$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 0L) 1.0
    else -1.0
  }

  /** Spark SQL: the `pd`-dim JL projection of `vecCol` as an array of
    * native `dot_product` calls against inlined ±1 literal rows — one
    * codegen'd scan projection, zero shuffle. Callers must have run
    * `DotProduct.register`. Shared by the gated ss14 query and
    * `Similarity.jlProject`.
    */
  private[graft] def jlProjExpr(vecCol: String, d: Int = dim,
      pd: Int = 16): String =
    (0 until pd).map { j =>
      val arr = (1 to d).map(i => s"${jlSign(j, i)}d")
        .mkString("array(", ", ", ")")
      sparkDot(vecCol, arr)
    }.mkString("array(", ", ", ")")

  /** DuckDB: the 16-dim JL projection as a list_value of literal-list
    * left-fold dots — the exact fold `dot_product` runs.
    */
  private def duckJlProj(a: String, d: Int = dim, pd: Int = 16): String =
    (0 until pd).map { j =>
      val lits = (1 to d).map(i => jlSign(j, i).toString).mkString(", ")
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${d + 1}), " +
        s"i -> $a[i]::DOUBLE * ([$lits])[i]::DOUBLE)), (acc, v) -> acc + v)"
    }.mkString("list_value(", ", ", ")")

  /** n-dim cosine over DOUBLE arrays via explicit HOF folds (the
    * projected vectors are doubles, not the fixture's floats) — same
    * ascending-index accumulation as `duckCosN`, the fn05-proven
    * rendering pair.
    */
  private def sparkDotN(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0 as double), (acc, v) -> acc + v)"
  private def sparkCosN(a: String, b: String): String =
    s"(${sparkDotN(a, b)}) / sqrt((${sparkDotN(a, a)}) * (${sparkDotN(b, b)}))"
  private def duckDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${n + 1}), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, v) -> acc + v)"
  private def duckCosN(a: String, b: String, n: Int): String =
    s"(${duckDotN(a, b, n)}) / sqrt((${duckDotN(a, a, n)}) * (${duckDotN(b, b, n)}))"
}
