package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity-search driver APIs — function-shaped entry points over the
  * plans the ss* queries pin (users call these; the queries carry the
  * oracles). Mirrors the `Dedup` object's contract: every function
  * delegates to the SAME `private[graft]` machinery its gated query
  * runs, so the public API can never diverge from the oracle-checked
  * semantics (the round-4 `nearDupCandidates` lesson).
  */
object Similarity {

  /** Johnson-Lindenstrauss random projection: adds `outCol` — the
    * `outDim`-dim projection of `vecCol` through the deterministic
    * md5-derived ±1 sign matrix the gated ss14 query inlines (plan
    * literals, so a rerun anywhere reproduces the same projection
    * bit-for-bit). One codegen'd scan projection, zero shuffle; pair
    * with `cosineTopK`-style reranking over the full vectors (ss14
    * measures the shortlist-rerank recall — ranking in projected space
    * alone loses near-tie neighbors). `inDim` must match the vector
    * width (mismatched rows get NULL components from `dot_product`'s
    * length guard).
    */
  def jlProject(df: DataFrame, vecCol: String, inDim: Int = 64,
      outDim: Int = 16, outCol: String = "projected"): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      s"need 1 <= outDim <= inDim, got inDim=$inDim outDim=$outDim")
    VectorFold.register(df.sparkSession)
    df.withColumn(outCol,
      org.apache.spark.sql.functions.expr(
        graft.operators.SimilarityOps.jlProjExpr(vecCol, inDim, outDim)))
  }

  /** Exact cosine top-k: for every row of `queries`, the `k` highest-
    * cosine rows of `corpus` (self-matches by id excluded), ranked.
    * The ss01 plan as a function: queries broadcast, one codegen'd
    * cosine scan of the corpus, per-query window for the top-k.
    * O(Q·N) — the correctness baseline; use the IVF/SRP paths when Q
    * is large.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qe"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("ne"))
    graft.operators.SimilarityOps.rankedTopK(broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .selectExpr("q_id", "n_id", "cosine_similarity(qe, ne) as cs"),
      k, "cs", carry = Seq("cs"))
  }

  /** Binary-quantization top-k: sign-bit codes ((dim+31)/32 longs per
    * vector — 8 B at dim 64, a 32× cut vs float32), a per-query
    * `shortlist` of lowest-Hamming candidates found by an int-only
    * codegen'd scan, then exact cosine over just the shortlist.
    * Returns (q_id, rank, n_id, ham) with rank by (cosine desc, id).
    * `dim` must match the embedding width (the srpNearDup contract).
    * Delegates to SimilarityOps.hammingShortlist — the exact machinery
    * the gated ss19 query runs.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int = 50, dim: Int = 64): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    VectorFold.register(corpus.sparkSession)
    import graft.operators.SimilarityOps
    SimilarityOps.rankedTopK(
      SimilarityOps.hammingShortlist(corpus, queries, idCol, vecCol, shortlist, dim),
      k, "cosine_similarity(qe, ne)", carry = Seq("ham"))
  }

  /** SRP-LSH (Charikar cosine LSH) near-duplicate pairs over an
    * embedding column — the ss10 plan as a function: 64-bit sign code
    * from 32 inlined deterministic hyperplanes (one codegen'd
    * projection, zero shuffle), 4×8-bit banding with `bucketCap`-capped
    * buckets, exact cosine verification at `minCosine`. Returns
    * distinct (a_id, b_id) with a_id < b_id.
    *
    * `dim` sets the hyperplane width and must match the embedding
    * dimensionality (default 64, the fixture's width; pass dim=384 for
    * 384-dim embeddings, etc.). Rows whose vector is NULL or of any
    * other length FAIL THE JOB with an actionable error — without the
    * guard every sign bit of a mismatched vector falls to its ELSE arm
    * and the whole corpus collapses into one over-cap bucket, silently
    * returning an arbitrary id-capped subset (the round-5 weak spot).
    *
    * Delegates to SimilarityOps.srpCodeExpr / srpBandPairs — the exact
    * machinery the gated ss10 query runs.
    */
  def srpNearDup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.3, bucketCap: Int = 64, dim: Int = 64): DataFrame = {
    import graft.operators.SimilarityOps
    val spark = df.sparkSession
    VectorFold.register(spark)
    // in-plan guard: stays in the row path (unlike a droppable
    // assert_true column, which the optimizer would prune away)
    val guarded = when(col(vecCol).isNotNull && size(col(vecCol)) === dim,
      col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"srpNearDup: expected $dim-dim vectors (pass dim= to match " +
          "your embeddings), got "),
        coalesce(size(col(vecCol)).cast("string"), lit("NULL")))))
    val e = df.select(col(idCol).as("vec_id"), guarded.as("embedding"))
    val codes = e.selectExpr(
      "vec_id", s"${SimilarityOps.srpCodeExpr("embedding", dim)} as code")
    SimilarityOps.srpBandPairs(codes, bucketCap)
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
      .filter(expr(s"cosine_similarity(ea, eb) > $minCosine"))
      .select("a_id", "b_id")
  }

  /** Semantic contamination audit — the embedding-space analogue of
    * dd12's shingle audit: which TRAIN vectors are near-duplicates of a
    * BENCHMARK/eval vector? Cross-set SRP banding (each side's buckets
    * capped independently, no self-join) proposes candidates; exact
    * cosine above `minCosine` confirms. Returns (bench_id, train_id)
    * hit pairs — the rows to quarantine before training. Delegates to
    * the exact machinery the gated ss12 query runs.
    *
    * Scale: sign codes are born in each side's scan projection (planes
    * are foldable literals — no plane join); only (id, band, key) longs
    * shuffle; the verify join reads the two embedding columns for
    * candidate pairs only.
    */
  def semanticContamination(bench: DataFrame, train: DataFrame,
      idCol: String, vecCol: String, minCosine: Double = 0.3,
      bucketCap: Int = 64, dim: Int = 64): DataFrame = {
    import graft.operators.SimilarityOps
    VectorFold.register(bench.sparkSession)
    def codesOf(df: DataFrame) = df
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .selectExpr("vec_id",
        s"${SimilarityOps.srpCodeExpr("embedding", dim)} as code")
    SimilarityOps.srpBandPairsBetween(codesOf(bench), codesOf(train), bucketCap)
      .join(bench.select(col(idCol).as("a_id"), col(vecCol).as("ea")), "a_id")
      .join(train.select(col(idCol).as("b_id"), col(vecCol).as("eb")), "b_id")
      .filter(expr(s"cosine_similarity(ea, eb) > $minCosine"))
      .select(col("a_id").as("bench_id"), col("b_id").as("train_id"))
  }

  /** IVF (inverted-file) top-k ANN — the ss05 plan as a function: one
    * scored pass against the BROADCAST `centroids(cell, ce)` table
    * feeds both the corpus cell assignment and each query's `nprobe`
    * probe list; candidates rank by exact cosine. Queries are corpus
    * rows matching `queryPred` (self-matches excluded). Centroid
    * training is the caller's concern (ss04's per-label means, a
    * k-means run, or SimilarityOps.labelCentroids' deterministic pick).
    * Delegates to the exact machinery the gated ss05 query runs.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryPred: org.apache.spark.sql.Column,
      k: Int, nprobe: Int = 1): DataFrame = {
    import graft.operators.SimilarityOps
    VectorFold.register(corpus.sparkSession)
    // evaluate the caller's predicate against THEIR column names, then
    // normalize — a pred like col("id") < 5 must resolve on the input
    // frame, not on the internally renamed one
    val e = corpus.withColumn("_pred", queryPred)
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        col("_pred"))
    SimilarityOps.ivfSearch(e, centroids, col("_pred"), k, nprobe)
  }

  /** Semantic dedup: cluster `corpus` rows over a near-dup `pairs` graph
    * (any candidate generator — `srpNearDup` is the no-blocking-key scale
    * path) and keep each cluster's minimum id as the representative.
    * Returns (keep_id, n_merged): the deduplicated corpus a training run
    * would read, with merged-member counts. The dd14 plan as a function —
    * the gated query calls THIS, so API and oracle can't diverge.
    *
    * Scale: CC shuffles only (id, label) longs per round over edge
    * endpoints; the keep-set aggregation combines map-side on cluster_id.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    Dedup.connectedComponents(corpus.select(idCol), pairs, idCol, aCol, bCol)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_merged"))
      .withColumnRenamed("cluster_id", "keep_id")
  }

  /** Cluster-scoped SemDeDup: assign each vector to its nearest
    * centroid cell (cosine, ties toward the smaller cell id) and
    * greedily keep the lowest-id vector of every within-cell pair
    * whose cosine clears `tau`. Returns one ledger row per vector:
    * (vec_id, cell, keep_flag, keeper) — `keeper` is the smallest
    * dominating id, NULL on survivors. `cent` is a (cell, ce) codebook,
    * e.g. `kmeans` output centroids or any trained table.
    * `semanticDedup` is the transitive-CC alternative when full
    * near-dup clusters are wanted rather than greedy per-cell thinning.
    * The gated ss25 query calls the same plan, so API and oracle can't
    * diverge.
    *
    * ==k-growth rule (scale contract)==
    * The within-cell pair stage is quadratic PER CELL, so total work is
    * linear in the corpus only while cells stay constant-size: grow the
    * codebook as `k ≈ N / targetCellSize` (SemDeDup trains k-means at
    * corpus scale for exactly this reason) — a fixed k at growing N
    * degrades quadratically. A skewed corpus can flood one cell even at
    * the right k; the call measures cell geometry up front
    * (`SimilarityOps.lastCellStats`) and warns on stderr when any cell
    * exceeds 4× the mean (`lastHotCellFlagged`) — on that signal,
    * re-run `kmeans` restricted to the hot cell's members and splice
    * the sub-cells into the codebook before re-calling.
    */
  def semDedupCells(corpus: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.3): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    graft.operators.SimilarityOps.semDedupCells(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, tau)
  }

  /** `semDedupCells` with the hot-cell remedy applied automatically:
    * cells past `targetCellSize` are re-clustered over their own
    * members (⌈n/target⌉ sub-cells, deterministic lowest-id seeds) and
    * the sub-cells spliced into the codebook, up to `maxRounds` times,
    * BEFORE the quadratic within-cell pair stage runs — so a skewed
    * corpus at a too-small k degrades into extra linear passes instead
    * of a quadratic cell. `cell` in the output ledger is BIGINT; ids
    * above the input codebook's max denote synthetic sub-cells. On a
    * corpus with no hot cells the ledger is identical to
    * `semDedupCells`. An unsplittable flood (identical vectors) leaves
    * `SimilarityOps.lastHotCellFlagged` set after `maxRounds`.
    * Spec-gated (SimilarityApiSpec): the adaptive scope change has no
    * closed-form SQL oracle; its invariants — equivalence on balanced
    * corpora, post-split geometry, per-cell greedy recount — are pinned
    * there instead.
    */
  def semDedupCellsAdaptive(corpus: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.3, targetCellSize: Long = 1 << 14,
      maxRounds: Int = 4): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    graft.operators.SimilarityOps.semDedupCellsAdaptive(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, tau, targetCellSize, maxRounds)
  }

  /** Incremental SemDeDup ingest: admit `batch` against an
    * already-deduplicated corpus without ever rescanning it. `kept` is
    * the corpus's SURVIVING representatives with their cells — the
    * saved `semDedupCells` ledger (keep_flag = 1 rows) joined back to
    * its vectors. A batch vector is dropped iff a kept rep in its cell
    * clears `tau`, or a lower-id batch vector in its cell does;
    * dropped corpus rows never dominate (they no longer exist — the
    * dd15 incremental contract). Returns the batch's ledger
    * (vec_id, cell, keep_flag, keeper). Train `cent` on the corpus
    * only: the batch must not move the cells it is judged against.
    * Daily-ingest cost is proportional to the BATCH, not the corpus.
    * The gated ss26 query calls the same plan, so API and oracle can't
    * diverge.
    */
  def semDedupIncrement(kept: DataFrame, batch: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell", tau: Double = 0.3): DataFrame = {
    VectorFold.register(batch.sparkSession)
    graft.operators.SimilarityOps.semDedupIncrement(
      kept.select(col(idCol).as("vec_id"), col(cellCol).as("cell"),
        col(vecCol).as("embedding")),
      batch.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, tau)
  }

  /** SemDeDup τ tuning curve (the paper's ε knob): per threshold in
    * `tauPcts` (integer percents), how many vectors a `semDedupCells`
    * run at that τ would keep and drop. All thresholds share ONE
    * assignment and ONE within-cell pair pass — sweeping the knob costs
    * one threshold's pair work plus a |τ|-row rollup, so tuning τ on a
    * 100 TB corpus is one extra pass, not |τ| dedup runs. Returns
    * (tau_pct, dropped, kept). The gated ss27 query calls the same
    * plan, so API and oracle can't diverge.
    */
  def semDedupTauSweep(corpus: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tauPcts: Seq[Int] = Seq(20, 30, 50, 70, 90)): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    graft.operators.SimilarityOps.semDedupTauSweep(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, tauPcts)
  }

  /** Cell-geometry pre-flight for `semDedupCells`: per occupied cell of
    * the nearest-centroid assignment, (cell, n, hot) where `hot` is the
    * hot-cell guard's rule (n past the floor AND past skewFactor × the
    * codebook-mean cell size, integer-exact). Run this BEFORE paying
    * the quadratic pair stage on an unknown corpus — one broadcast-
    * scored pass and a k-row rollup; a hot row means raise k or call
    * `semDedupCellsAdaptive`. The gated ss28 query calls the same plan,
    * so API and oracle can't diverge.
    */
  def cellGeometry(corpus: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    graft.operators.SimilarityOps.cellGeometry(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent)
  }

  /** Sequential (arrival-ordered) SemDeDup over `parts` ingest batches
    * — the batch rendering of the streaming twin
    * (StreamRunner.semDedupStream): batch = id mod `parts`, lower batch
    * first; a vector is dropped iff a KEPT vector from an earlier batch
    * shares its cell and clears `tau`, or any lower-id vector of its
    * own batch does (survivors only — dropped vectors never dominate,
    * which is exactly what stateful streaming can afford to remember).
    * Returns (vec_id, batch, cell, keep_flag, keeper). The gated st16
    * query calls the same plan, so API and oracle can't diverge; the
    * hot-cell guard's telemetry applies (`SimilarityOps.lastCellStats`).
    */
  def semDedupSequential(corpus: DataFrame, cent: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.3, parts: Int = 4): DataFrame = {
    VectorFold.register(corpus.sparkSession)
    graft.operators.SimilarityOps.semDedupSequential(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, tau, parts)
  }

  /** Margin-based bitext mining (the ratio-margin criterion used by
    * large-scale parallel-corpus mining): for every `corpusA` vector,
    * its best `corpusB` candidate within its codebook cell, scored by
    * margin = 2·cos(x,y) / (avgₖ(x) + avgₖ(y)) — high only when the
    * pair is exceptional against BOTH vectors' opposite-side
    * neighborhoods, which is what separates translation pairs from
    * dense-region noise. Returns (a_id, b_id, cos_x1e6, margin_x1e6),
    * one row per corpusA vector with a positive-cosine cell-mate;
    * callers keep pairs above a margin threshold (≈1.06e6 in the
    * published recipe). Candidates are cell-scoped, so mining is linear
    * under the k∝N contract — pre-flight hot cells with
    * `cellGeometry`. The gated ss29 query calls the same plan, so API
    * and oracle can't diverge.
    */
  def bitextMarginMine(corpusA: DataFrame, corpusB: DataFrame,
      cent: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 4): DataFrame = {
    VectorFold.register(corpusA.sparkSession)
    graft.operators.SimilarityOps.bitextMarginMine(
      corpusA.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      corpusB.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cent, k)
  }

  /** Lloyd's k-means over an embedding column — the clustering behind
    * semantic-dedup sharding, IVF codebook training, and topic-balanced
    * sampling. Deterministic end-to-end: seeds are the `k` lowest-id
    * vectors (cells renumbered 0..k−1 in id order), assignment
    * tie-breaks toward the smaller cell, and centroid means are
    * decimal-exact then float-quantized, so any rerun at any
    * partitioning reproduces the same clustering. Returns
    * (cluster_id, n, sse); cells that lose all members drop out rather
    * than re-seed.
    *
    * Scale: centroids live on the driver between passes and enter each
    * pass as plan literals — assignment never shuffles the corpus; each
    * iteration costs one scan plus one map-side-combined k-row
    * exchange (see SimilarityOps.lloydKMeans). The gated ss15 query
    * calls THIS, so API and oracle can't diverge.
    */
  def kmeans(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 8, iters: Int = 2): DataFrame =
    graft.operators.SimilarityOps.lloydKMeans(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      k, iters)

  /** EXACT L2 range search — every (query, neighbor) pair within
    * `radius`, accelerated by triangle-inequality cell pruning with NO
    * recall loss (see SimilarityOps.rangeSearchL2's scaladoc for the
    * bound and the scale story). `corpus` needs (vec_id, label,
    * embedding) columns; cells are the label grouping with the
    * per-label first vector as centroid (the ss02 fixture codebook —
    * production swaps in `kmeans` cells). The gated ss16 query calls
    * THIS, so API and oracle can't diverge. Returns (q_id, n_id, d2).
    */
  def rangeSearch(corpus: DataFrame, queryPred: org.apache.spark.sql.Column,
      radius: Double): DataFrame = {
    import graft.operators.SimilarityOps
    SimilarityOps.rangeSearchL2(
      corpus, SimilarityOps.labelCentroids(corpus), queryPred, radius)
  }

  /** HYBRID sparse+dense retrieval fused by Reciprocal Rank Fusion:
    * rank the corpus by BM25 over `terms` (tx19's machinery) and by
    * exact cosine against document `qId`'s embedding (ss01's kernel),
    * then fuse rrf = Σ 10⁶ div (60 + rank) — rank-based, so the
    * incomparable score scales never need normalizing. Returns the
    * top-`k` (doc_id, rank_lex, rank_dense, rrf_x1e6); rank_lex is 0
    * for docs matching no query term. `docs` needs (doc_id, text),
    * `embeddings` (vec_id, embedding) aligned on id. The gated ss17
    * query calls THIS, so API and oracle can't diverge.
    */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String] = TextOps.bm25DefaultTerms,
      qId: Long = 0L, k: Int = 20): DataFrame = {
    VectorFold.register(docs.sparkSession)
    graft.operators.SimilarityOps.rrfHybrid(docs, embeddings, terms, qId, k)
  }
}
