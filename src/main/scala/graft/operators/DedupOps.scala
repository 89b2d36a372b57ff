package graft.operators

import graft.{Portable => P, Q, Tables => T}
import graft.functions.{MinHashSig, ShingleHashes}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family over the `documents` table: exact (hash-groupBy),
  * MinHash signatures + LSH banding, SimHash, and n-gram Jaccard.
  *
  * All hashes are the portable 60-bit md5 hash (Portable.hash60) so every
  * stage is oracle-checkable in DuckDB — the *algorithms* are the real
  * thing, only the hash primitive is pinned for cross-engine determinism.
  *
  * Scale notes (100 TB): exact dedup is a single hash-shuffle on the text
  * hash (never on the full text — group by a 60-bit digest, not the
  * payload). MinHash/LSH shuffles only (band_key, doc_id) pairs — a few
  * dozen bytes/doc regardless of document size; candidate verification
  * (Jaccard) touches only within-bucket pairs. This is the standard
  * shingle→minhash→band→bucket-join plan and it parallelizes freely.
  *
  * Every MinHash/LSH decision has ONE definition per engine here, and
  * every dedup query and `graft.functions.Dedup` API builds through them:
  *   - the signature builder — Spark [[shingleHashSets]] (`hs`, the
  *     native `ShingleHashes` kernel: one md5 per 3-token shingle) →
  *     [[minhashSig]] (the native `MinHashSig` kernel, one evaluation per
  *     row, projected to `mh0..`) → [[r1BandRows]]; DuckDB
  *     [[duckSigCtes]] (`t → sh → hh → sig`: the same hash and
  *     permutations written in SQL) and [[duckR1Bands]];
  *   - the bucket cap — Spark [[cappedSelfJoin]]; DuckDB `duckCapPairs`;
  *   - the overlap verify — Spark [[shingleOverlap]]; DuckDB
  *     `duckOverlapCtes` (and the SimHash majority vote, `sparkSimBits` /
  *     `duckSimBits`, for dd05/dd10).
  * Callers decide whether the input goes through `T.spread` and what to
  * persist; the builders branch on nothing.
  */
object DedupOps {

  /** Spark SQL fragment: token array of `text`. */
  private val sparkToks = "split(text, '\\\\s+')"
  private val duckToks = "regexp_split_to_array(text, '\\s+')"

  /** Spark SQL: 3-token shingles from a `toks` column (tx06 counts the
    * strings; the MinHash builders hash them natively, see
    * [[shingleHashSets]]).
    */
  private val sparkShingles =
    "case when size(toks) < 3 then array() else " +
      "transform(sequence(1, size(toks) - 2), i -> " +
      "concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))) end"
  private val duckShingles =
    "list_transform(range(1, greatest(1, len(toks) - 1)), i -> " +
      "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"

  /** Each shingle hashed ONCE to a 60-bit int — the only md5 in the whole
    * MinHash pipeline (Spark: the `ShingleHashes` kernel, bit-identical to
    * this fragment's Portable.hash60 per shingle). Every permutation below
    * is a cheap integer hash over these, so adding signature width (dd13's
    * 8 components) costs integer ops, not extra md5 passes over the text.
    */
  private val duckHs = s"list_transform(shingles, s -> ${P.duckHash60("s")})"

  /** MinHash permutation k: a Broder universal-hash pair composed into a
    * 62-bit value, h_k(x) = h1_k(x)·2³¹ + h2_k(x) with
    * h1_k(x) = (a1_k·x + b1_k) mod p1, p1 = 2³¹−1 (Mersenne) and
    * h2_k(x) = (a2_k·x + b2_k) mod p2, p2 = 2³¹−19 (distinct prime).
    * x is reduced mod p before each multiply so every intermediate stays
    * < 2⁶² — exact in 64-bit integer arithmetic, hence bit-identical
    * across engines. One md5/shingle total (vs one per seed per shingle):
    * the permutations are arithmetic, which is both the textbook
    * construction and ~k× less hashing work on the scan. On Spark the
    * native `MinHashSig` kernel computes all k minima in one pass over
    * the `ShingleHashes` array.
    *
    * Why a PAIR of 31-bit hashes instead of one: a single mod-p1 hash
    * puts band keys in a 31-bit space, and two distinct shingle hashes
    * that are equal mod p1 collide under EVERY permutation (a correlated
    * family) — at billions of docs each r=1 band gains ~N²/2³² spurious
    * candidate pairs. The composition collides only when x ≡ y mod p1
    * AND mod p2, i.e. x ≡ y mod p1·p2 ≈ 2⁶², impossible for distinct
    * 60-bit base hashes — so band-key collisions for distinct shingle
    * sets are driven by the ~2⁻⁶² combined space, not 2⁻³¹. Ordering is
    * h1-major with h2 as an exact tie-break, so the min-wise statistics
    * match the plain Broder family. (A 61-bit Mersenne-prime hash needs
    * 128-bit products — not expressible as exact BIGINT SQL on both
    * engines; the two-prime CRT composition is.) The constants live in
    * `MinHashSig`'s companion.
    */
  private def duckMh(k: Int): String = {
    import MinHashSig.{a1, a2, b1, b2, p1, p2}
    s"list_min(list_transform(hs, x -> " +
      s"((${a1(k)}::BIGINT * (x % $p1) + ${b1(k)}) % $p1) * 2147483648 + " +
      s"((${a2(k)}::BIGINT * (x % $p2) + ${b2(k)}) % $p2))) AS mh$k"
  }

  /** Fixed 24-token boilerplate tail appended (deterministically, on both
    * engines) to doc_id % 4 == 0 rows by the gated dd18 query, so the
    * exact-substring detector runs against known-positive spans — the
    * word-salad fixture's only organic 16-token duplicates are the exact
    * duplicate documents dd01 exists for. MUST be declared above
    * `queries` (Scala object init order: later vals interpolate as null).
    */
  private val esTail =
    "this agreement is provided as is without warranty of any kind " +
      "either express or implied including without limitation any " +
      "warranty of merchantability or fitness"

  /** Spark: (doc_id, shingles), the 3-token shingle strings of `text`
    * (tx06 counts them).
    */
  private[graft] def shingleSets(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", s"$sparkToks as toks")
      .selectExpr("doc_id", s"$sparkShingles as shingles")

  /** Spark: (doc_id, hs), each 3-token shingle hashed once by the native
    * `ShingleHashes` kernel.
    */
  private def shingleHashSets(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(expr(idCol).as("doc_id"), ShingleHashes.shingleHashes(expr(textCol)).as("hs"))

  /** Spark: (doc_id, mh0..mh{k-1}) over a (doc_id, hs) frame. The native
    * `MinHashSig` kernel runs once per row into `sig`; the element
    * projection reads `sig` k times, so CollapseProject keeps the kernel
    * in its own projection instead of inlining it k times.
    */
  private def minhashSig(hh: DataFrame, k: Int): DataFrame =
    hh.select(col("doc_id"), MinHashSig.minHashSig(col("hs"), k).as("sig"))
      .select(col("doc_id") +: (0 until k).map(j => col("sig").getItem(j).as(s"mh$j")): _*)

  /** Spark: r=1 band rows (doc_id, carry..., band, h) over mh0..mh3 —
    * band b's key is mh_b. `carry` expressions ride every band row.
    */
  private def r1BandRows(sig: DataFrame, carry: String*): DataFrame =
    sig.selectExpr(("doc_id" +: carry) :+
      "stack(4, 0, mh0, 1, mh1, 2, mh2, 3, mh3) as (band, h)": _*)

  /** DuckDB twin of [[shingleSets]]/[[shingleHashSets]]: the `t → sh → hh`
    * CTEs over relation `src`, which must have (doc_id, text).
    */
  private def duckShingleCtes(src: String): String =
    s"""t AS (SELECT doc_id, $duckToks AS toks FROM $src),
       |     sh AS (SELECT doc_id, $duckShingles AS shingles FROM t)""".stripMargin
  private def duckHashCtes(src: String): String =
    s"""${duckShingleCtes(src)},
       |     hh AS (SELECT doc_id, $duckHs AS hs FROM sh)""".stripMargin

  /** DuckDB twin of [[minhashSig]]: the `mh0..mh{k-1}` select list. */
  private def duckMhList(k: Int): String = (0 until k).map(duckMh).mkString(", ")

  /** DuckDB: `t → sh → hh → sig(doc_id, mh0..mh{k-1})` over `src`. */
  private def duckSigCtes(k: Int, src: String = "documents"): String =
    s"""${duckHashCtes(src)},
       |     sig AS (SELECT doc_id, ${duckMhList(k)} FROM hh)""".stripMargin

  /** DuckDB twin of [[r1BandRows]]: a `name(doc_id, band, h)` CTE over `sig`. */
  private def duckR1Bands(name: String = "bands"): String =
    s"""$name AS (
       |       SELECT doc_id, 0 AS band, mh0 AS h FROM sig
       |       UNION ALL SELECT doc_id, 1, mh1 FROM sig
       |       UNION ALL SELECT doc_id, 2, mh2 FROM sig
       |       UNION ALL SELECT doc_id, 3, mh3 FROM sig)""".stripMargin

  /** SimHash bits 0..n-1 as a sum of per-bit majority votes over the
    * token hashes `hs` (dd05 at 16 bits, dd10 at 48): bit b is set when
    * at least half the hashes have it.
    */
  private def sparkSimBits(n: Int): String = (0 until n).map { b =>
    s"(case when 2 * size(filter(hs, h -> (shiftright(h, $b) & 1) = 1)) >= size(hs) " +
      s"then ${1L << b}L else 0L end)"
  }.mkString(" + ")
  private def duckSimBits(n: Int): String = (0 until n).map { b =>
    s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $b) & 1 = 1)) >= len(hs) " +
      s"THEN ${1L << b} ELSE 0 END)"
  }.mkString(" + ")

  private val nBits = 16

  /** Max docs per (band, bucket) admitted to pairwise enumeration.
    *
    * Pair output is quadratic in bucket size, so one boilerplate template
    * flooding a bucket turns the candidate join into the scale-killer. A
    * bucket past the cap means near-identical mass-produced docs — those
    * belong to the linear clustering path (dd08-style components), not
    * pairwise verification. Same contract as dd10's simhash cap; mirrored
    * verbatim in every oracle so the gate exercises the capped semantics.
    */
  private[graft] val bucketCap = 64

  /** DuckDB CTE chain: bands → sized → small → pairs, with the bucket cap.
    * Expects a `bands(doc_id, band, h)` CTE already in scope.
    */
  private def duckCapPairs: String =
    s"""sized AS (SELECT band, h, count(*) AS n, min(doc_id) AS root
       |               FROM bands GROUP BY band, h),
       |     small AS (SELECT b.doc_id, b.band, b.h FROM bands b
       |               JOIN sized z ON z.band = b.band AND z.h = b.h AND z.n <= $bucketCap),
       |     pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |               FROM small a JOIN small b
       |                 ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB CTE (after [[duckCapPairs]]): star edges for OVERSIZED buckets
    * — every doc connects to the bucket's min doc_id. Same connected
    * components as the full clique (a star spans the bucket), linear cost.
    */
  private def duckStarEdges: String =
    s"""stars AS (SELECT DISTINCT z.root AS a_id, b.doc_id AS b_id
       |               FROM bands b JOIN sized z
       |                 ON z.band = b.band AND z.h = b.h AND z.n > $bucketCap
       |               WHERE b.doc_id <> z.root)""".stripMargin

  /** DuckDB twin of the overlap half of [[shingleOverlap]]: `ex → sizes →
    * inter` over `hh` and a `pairs(a_id, b_id)` CTE already in scope.
    */
  private def duckOverlapCtes: String =
    """ex AS (SELECT doc_id, unnest(list_distinct(hs)) AS sng FROM hh),
      |     sizes AS (SELECT doc_id, count(*) AS c FROM ex GROUP BY doc_id),
      |     inter AS (SELECT p.a_id, p.b_id, count(*) AS i
      |               FROM pairs p JOIN ex ea ON ea.doc_id = p.a_id
      |                            JOIN ex eb ON eb.doc_id = p.b_id AND eb.sng = ea.sng
      |               GROUP BY p.a_id, p.b_id)""".stripMargin

  /** The bucket-capped band self-join: a window count over (band, `key`),
    * buckets of more than [[bucketCap]] rows dropped, then the self-join
    * on (band, `key`) with a_id < b_id. Output: band, `key`, a_id,
    * a_<c>..., b_id, b_<c>... for each `carry` column c.
    *
    * The count rides an unordered window instead of a groupBy + join back
    * (r18): the banded frame crosses the wire ONCE (the window exchange)
    * and the self-join is already co-partitioned on (band, key) by it.
    * Callers project (and verify) before their own `distinct`: carried
    * columns must be FUNCTIONAL on doc_id, so a pair's projection is the
    * same in every band it collides in.
    */
  private def cappedSelfJoin(bands: DataFrame, key: String,
      carry: Seq[String] = Nil): DataFrame = {
    val cols = (("doc_id" +: carry) ++ Seq("band", key)).map(col)
    val small = bands
      .select(cols :+ count(lit(1)).over(Window.partitionBy("band", key)).as("n"): _*)
      .filter(col("n") <= bucketCap)
      .select(cols: _*)
    def side(p: String) = small.select(col("doc_id").as(s"${p}_id") +:
      carry.map(c => col(c).as(s"${p}_$c")) ++: Seq(col("band"), col(key)): _*)
    side("a").join(side("b"), Seq("band", key)).filter(col("a_id") < col("b_id"))
  }

  /** Candidate pairs from a banded-signature frame `(doc_id, band, h)`,
    * skipping buckets larger than [[bucketCap]] before the self-join.
    * Shuffles only (band, h, doc_id) tuples; output is linear in corpus
    * size because every admitted bucket contributes ≤ cap² pairs.
    * `carry` columns come out on both sides as `a_<c>`/`b_<c>` (dd09
    * carries its 4 minhash components so the verify needs no join back
    * to the signature frame); empty emits (a_id, b_id).
    */
  private[graft] def cappedBandPairs(bands: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    cappedSelfJoin(bands, "h", carry)
      .select(("a_id" +: "b_id" +:
        (carry.map(c => s"a_$c") ++ carry.map(c => s"b_$c"))).map(col): _*)
      .distinct()

  /** Shingle-overlap counts of the capped r=1 candidate pairs of
    * `(doc_id, text)` rows — dd06's Jaccard and dd21's containment both
    * verify on these: (a_id, b_id, i, ca, cb) with i = |A∩B| and
    * ca/cb = |A|/|B| over distinct shingle hashes. The overlap join runs
    * on 60-bit hashes, so text never crosses an exchange. Persists the
    * hash sets (bands and three overlap consumers) and the bands (both
    * pair sides); caller clearCache releases.
    */
  private def shingleOverlap(docs: DataFrame): DataFrame = {
    val hh = shingleHashSets(T.spread(docs)).persist()
    val pairs = cappedBandPairs(r1BandRows(minhashSig(hh, 4)).persist())
    // per-doc array_distinct ≡ row-level DISTINCT without the re-run of
    // the pipeline through the exchange (tx06 lesson)
    val ex = hh.selectExpr("doc_id", "explode(array_distinct(hs)) as sng")
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("c"))
    pairs
      .join(ex.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
      .join(ex.withColumnRenamed("doc_id", "b_id"), Seq("b_id", "sng"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("c", "ca"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("c", "cb"), Seq("b_id"))
  }

  /** DISTINCT per-document 60-bit shingle hashes over arbitrary id/text
    * columns — dd12's audit primitive (per-doc `array_distinct` before
    * the explode ≡ row-level DISTINCT, minus the re-run of the shingle
    * pipeline through the exchange; the tx06 lesson). Shared by the
    * gated dd12 query and the `Dedup.contamination` driver API.
    */
  private[graft] def shingleHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    T.spread(df).select(expr(idCol).as("doc_id"),
      explode(array_distinct(ShingleHashes.shingleHashes(expr(textCol)))).as("sng"))

  /** r=1 banded MinHash frame `(doc_id, band, h)` over arbitrary id/text
    * columns — the shingle→hash→minhash→band stage shared by the gated
    * dd04 query and the `Dedup.nearDupCandidates` driver API, so the
    * public API and the oracle-checked pipeline can never diverge.
    *
    * Returned unpersisted. A caller that reads it MORE THAN ONCE (the
    * pair self-join, dd27's edges + rollup) persists it: otherwise both
    * sides recompute the minhash AND the shingle pipeline gets inlined
    * into an isnotnull(h) pushdown filter (observed 13 s → <1 s).
    * Single-reader callers (the clustering star path, dd27's batch
    * probe, dd15's corpus key side) must not: a persist there is a pure
    * extra columnar cache write of the ~4-rows/doc banded frame (r19).
    */
  private[graft] def r1Bands(df: DataFrame, idCol: String, textCol: String): DataFrame =
    r1BandRows(minhashSig(shingleHashSets(T.spread(df), idCol, textCol), 4))

  /** dd08's full oracle CTE chain — shingle → minhash → r=1 bands →
    * capped pairs + star edges → recursive min-id closure, ending in
    * `comp(doc_id, cluster_id)`. Caller supplies `WITH RECURSIVE` and
    * selects from `comp`. Shared with the curation-ledger oracle so the
    * clustering SQL can't drift between queries.
    */
  private[graft] def duckClusterCtes: String =
    s"""${duckSigCtes(4)},
       |     ${duckR1Bands()},
       |     $duckCapPairs,
       |     $duckStarEdges,
       |     link AS (SELECT a_id, b_id FROM pairs
       |              UNION SELECT a_id, b_id FROM stars),
       |     edges AS (SELECT a_id AS src, b_id AS dst FROM link
       |               UNION ALL SELECT b_id, a_id FROM link),
       |     reach(src, dst) AS (
       |       SELECT doc_id, doc_id FROM documents
       |       UNION
       |       SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
       |     comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
       |              FROM reach GROUP BY src)""".stripMargin

  /** dd08's clustering stage as a helper: minhash r=1 bands → capped
    * pair + star edges → large-star/small-star connected components.
    * Returns
    * (doc_id, cluster_id) for every document (singletons label
    * themselves). Shared by the gated dd08 query and the curation
    * ledger so the keep/drop grouping can't diverge from the oracle.
    */
  private[graft] def clusterLabels(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // unpersisted: the star path reads the banded frame exactly once
    // (bandStarEdges' single window pass)
    val edges = bandStarEdges(r1Bands(docs, idCol, textCol))
    graft.functions.Dedup.connectedComponents(
      docs.select(idCol), edges, idCol, "a_id", "b_id")
  }

  /** Edges for CLUSTERING: a linear STAR per bucket — every doc → the
    * bucket's min doc_id. A star has the same connected components as
    * the full clique (it spans the bucket), so the clustering result is
    * EXACTLY the pairs+stars closure the oracle computes, at O(bucket)
    * edges for EVERY bucket — flooded or organic. Until r19 organic
    * (≤ cap) buckets emitted full pairwise edges through a (band, h)
    * self-join; components only need connectivity, so that join shipped
    * and deduped up to cap²/2 rows per bucket for nothing (guide §2.4:
    * remove shuffles outright — sf0.1 edge count 42k → 15k, and the
    * near-star initial graph also converges in fewer star rounds).
    * Pairwise-verify queries (dd04/dd06/dd09) keep cappedBandPairs:
    * their OUTPUT is the pair list.
    *
    * The edges may repeat — a (root, doc) pair sharing several bands
    * comes out once per band — and are not checkpointed:
    * `Dedup.connectedComponents` dedups and checkpoints its input on
    * entry.
    *
    * NULL band keys (docs below the shingle width) are excluded
    * explicitly: the old pair self-join dropped them by join equality,
    * and the oracle's stars CTE joins on h equality too — a NULL bucket
    * must yield singletons, never a cluster. (Pre-r19 the star branch
    * would have connected an over-cap NULL bucket — latent, never hit
    * at fixture scale; the filter closes it.)
    */
  private[graft] def bandStarEdges(bands: DataFrame): DataFrame =
    // bucket root from ONE unordered (band, h) window pass; stars need
    // no cap (they are linear in the bucket) and no join: root rides
    // every row out of the window exchange
    bands
      .filter(col("h").isNotNull)
      .select(col("doc_id"), min("doc_id").over(Window.partitionBy("band", "h")).as("root"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("a_id"), col("doc_id").as("b_id"))

  val queries: Seq[Q] = Seq(

    // Exact dedup: group by content digest, keep min doc_id per group.
    // (Grouping key is the 60-bit digest; at scale the text never shuffles.)
    Q(
      "dd01_exact_dedup",
      s"""SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
         |FROM documents GROUP BY ${P.duckHash60("text")}""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .groupBy(expr(P.hash60("text")).as("h"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_cnt"))
        .select("doc_id", "dup_cnt")
    },

    // Exact dedup on a column subset (dropDuplicates analogue).
    Q(
      "dd02_dedup_subset",
      """SELECT lang, source, min(doc_id) AS keeper, count(*) AS n
        |FROM documents GROUP BY lang, source""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .groupBy("lang", "source")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
    },

    // MinHash signatures: 4 independent permutation-hashes over 3-token
    // shingles (shingle→minhash stage of the LSH pipeline).
    Q(
      "dd03_minhash_signatures",
      s"""WITH ${duckHashCtes("documents")}
         |SELECT doc_id, ${duckMhList(4)}
         |FROM hh""".stripMargin) { (s, d) =>
      minhashSig(shingleHashSets(T.spread(T.documents(s, d))), 4)
    },

    // LSH banding: candidate pairs sharing ANY of the b=4 band buckets
    // (bands mh0..mh3, r=1 row each), unioned and dedup'd — the standard
    // b×r banding contract: multi-band raises recall (P[candidate] =
    // 1-(1-s^r)^b), the final DISTINCT collapses pairs that collide in
    // several bands. Shuffles only (band, bucket, doc_id) — never text —
    // and buckets past `bucketCap` are skipped before the self-join so a
    // template flood can't make the pair output quadratic.
    Q(
      "dd04_lsh_candidate_pairs",
      s"""WITH ${duckSigCtes(4)},
         |     ${duckR1Bands()},
         |     $duckCapPairs
         |SELECT a_id, b_id FROM pairs""".stripMargin) {
      (s, d) =>
        // persisted: both pair-join sides read it
        cappedBandPairs(r1Bands(T.documents(s, d), "doc_id", "text").persist())
    },

    // SimHash: 16-bit signature — per bit b, majority vote over token
    // hashes' bit b. Near-dup docs land at small Hamming distance.
    Q(
      "dd05_simhash",
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |     h AS (SELECT doc_id,
         |       list_transform(toks, w -> ${P.duckHash60("w")}) AS hs FROM t)
         |SELECT doc_id, CAST(${duckSimBits(nBits)} AS BIGINT) AS simhash
         |FROM h""".stripMargin) { (s, d) =>
      T.spread(T.documents(s, d))
        .selectExpr("doc_id", s"$sparkToks as toks")
        .selectExpr("doc_id", s"transform(toks, w -> ${P.hash60("w")}) as hs")
        .selectExpr("doc_id", s"cast(${sparkSimBits(nBits)} as bigint) as simhash")
    },

    // n-gram Jaccard verification of LSH candidates: exact set overlap of
    // distinct 3-shingle hashes, scaled to an integer (×10000, floored).
    // Candidates come from the SAME multi-band (b=4, r=1) LSH as dd04.
    // The overlap join runs on the 60-bit shingle hashes, not the shingle
    // strings — at 100 TB the verify stage shuffles 8-byte ints and the
    // text never crosses an exchange.
    Q(
      "dd06_ngram_jaccard",
      s"""WITH ${duckSigCtes(4)},
         |     ${duckR1Bands()},
         |     $duckCapPairs,
         |     $duckOverlapCtes
         |SELECT i.a_id, i.b_id,
         |  CAST(FLOOR(CAST(10000 AS DOUBLE) * i.i / (sa.c + sb.c - i.i)) AS BIGINT) AS jacc_x10000
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
         |             JOIN sizes sb ON sb.doc_id = i.b_id""".stripMargin) { (s, d) =>
      shingleOverlap(T.documents(s, d))
        .selectExpr(
          "a_id", "b_id",
          "cast(floor(cast(10000 as double) * i / (ca + cb - i)) as bigint) as jacc_x10000")
    },

    // Dedup CLUSTERS: connected components over the multi-band LSH
    // candidate graph — the step that turns near-dup pairs into keep/drop
    // groups (cluster_id = min doc_id in the component; singletons label
    // themselves). Spark side: Dedup.connectedComponents — when the
    // (long, long) edge set fits spark.sql.autoBroadcastJoinThreshold
    // (16 B/edge) the driver finishes it with union-find in one collect;
    // larger edge sets, or a threshold of -1, run alternating
    // large-star/small-star rounds — O(log² n) rounds independent of graph
    // diameter, each shuffling only (long, long) edge pairs. Oracle:
    // recursive-CTE transitive closure with the same min-id reduction.
    //
    // Flood behavior: normal buckets contribute capped pairwise edges;
    // OVERSIZED buckets contribute a linear star (doc → bucket min), so a
    // boilerplate template still clusters as one component — same
    // components as the uncapped clique, O(bucket) instead of O(bucket²).
    Q(
      "dd08_dedup_clusters",
      s"""WITH RECURSIVE
         |     $duckClusterCtes
         |SELECT doc_id, cluster_id FROM comp""".stripMargin) { (s, d) =>
      clusterLabels(T.documents(s, d))
    },

    // MinHash similarity ESTIMATE from signature agreement alone: for each
    // multi-band LSH candidate pair, est(J) = (#agreeing components)/4
    // (E[mh_a = mh_b] = J is the MinHash identity). The estimator never
    // touches document text — at 100 TB the verify stage reads 4 longs per
    // doc instead of re-shingling both sides, which is the point of
    // carrying signatures through the pipeline.
    Q(
      "dd09_signature_jaccard", {
        val matches = (0 until 4)
          .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${duckSigCtes(4)},
           |     ${duckR1Bands()},
           |     $duckCapPairs
           |SELECT p.a_id, p.b_id,
           |  CAST($matches AS BIGINT) AS match_cnt,
           |  CAST(($matches) * 2500 AS BIGINT) AS est_x10000
           |FROM pairs p JOIN sig sa ON sa.doc_id = p.a_id
           |             JOIN sig sb ON sb.doc_id = p.b_id""".stripMargin
      }) { (s, d) =>
      // The 4 minhash components RIDE the band rows (r19 — the dd23/dd10
      // sh-carry via cappedBandPairs' carry columns): the old form
      // persisted sig and joined the distinct pairs BACK to it twice —
      // two corpus-scale joins to move 4 longs per side. +32 B per band
      // row through the window exchange the cap pays anyway; one persist
      // (bands) instead of sig, and the minhash pipeline runs exactly
      // once inside its materialization.
      val matches = (0 until 4)
        .map(k => s"(case when a_mh$k = b_mh$k then 1 else 0 end)")
        .mkString(" + ")
      val mhs = Seq("mh0", "mh1", "mh2", "mh3")
      val bands = r1BandRows(
        minhashSig(shingleHashSets(T.spread(T.documents(s, d))), 4), mhs: _*)
        .persist() // both pair-join sides; caller clearCache releases
      cappedBandPairs(bands, carry = mhs)
        .selectExpr(
          "a_id", "b_id",
          s"cast($matches as bigint) as match_cnt",
          s"cast(($matches) * 2500 as bigint) as est_x10000")
    },

    // SimHash near-dup pairing — the step dd05 feeds, at production width:
    // a 48-bit signature (dd05's 16 bits collide too much for pairing)
    // banded into 4×12-bit keys. Hamming ≤ 3 pairs agree on SOME band by
    // pigeonhole (3 flips touch ≤ 3 of the 4 bands), so the per-band
    // bucket-join + union catches every near-dup; exact verification is
    // bit_count of the XOR. Only (band, key, doc_id) tuples shuffle; the
    // verify reads one long per side.
    //
    // Buckets larger than `bucketCap` docs are SKIPPED before pairing:
    // pair output is quadratic in bucket size, and a giant bucket means
    // boilerplate near-identical docs — the clustering path (dd08-style
    // components, linear per bucket) owns those, pairwise verify
    // doesn't. The cap is what keeps this query linear when a template
    // floods the corpus (measured: 5× candidate cut at sf0.1, zero
    // effect at sf0.01 where no bucket exceeds the cap).
    Q(
      "dd10_simhash_neardup", {
        val bandSel = (0 until 4)
          .map(k => s"SELECT doc_id, $k AS band, (sh >> ${k * 12}) & 4095 AS v FROM s")
          .mkString("\n           UNION ALL ")
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |     h AS (SELECT doc_id,
           |       list_transform(toks, w -> ${P.duckHash60("w")}) AS hs FROM t),
           |     s AS (SELECT doc_id, CAST(${duckSimBits(48)} AS BIGINT) AS sh FROM h),
           |     bands AS (
           |       $bandSel),
           |     sized AS (SELECT band, v, count(*) AS n FROM bands GROUP BY band, v),
           |     small AS (SELECT b.doc_id, b.band, b.v FROM bands b
           |               JOIN sized z ON z.band = b.band AND z.v = b.v AND z.n <= $bucketCap),
           |     pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |               FROM small a JOIN small b
           |                 ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
           |SELECT p.a_id, p.b_id,
           |  CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
           |FROM pairs p JOIN s sa ON sa.doc_id = p.a_id
           |             JOIN s sb ON sb.doc_id = p.b_id
           |WHERE bit_count(xor(sa.sh, sb.sh)) <= 3""".stripMargin
      }) { (s, d) =>
      // The signature RIDES the band rows and the bucket cap rides a
      // (band, v) window (r19 — dd23's sh-carry through the shared
      // one-exchange cappedSelfJoin): the old form persisted sig AND
      // bands, sized buckets with a groupBy + join back, and joined the
      // surviving pairs BACK to sig twice to fetch sha/shb — two
      // corpus-scale joins to move one long. Now the +8-byte sh column
      // crosses the band exchange the cap pays anyway, the self-join
      // hands both signatures over for free, and the Hamming verify
      // runs BEFORE the distinct (hamming is a pure function of the
      // pair key, so verify-then-distinct ≡ distinct-then-verify) —
      // the distinct dedups only verified pairs. One persist instead
      // of two: bands is sig's only consumer, so the simhash
      // majority-vote runs exactly once inside the persisted band
      // frame's own materialization.
      val bandVals = (0 until 4)
        .map(k => s"$k, shiftright(sh, ${k * 12}) & 4095")
        .mkString(", ")
      val bands = T.spread(T.documents(s, d))
        .selectExpr("doc_id", s"$sparkToks as toks")
        .selectExpr("doc_id", s"transform(toks, w -> ${P.hash60("w")}) as hs")
        .selectExpr("doc_id", s"cast(${sparkSimBits(48)} as bigint) as sh")
        .selectExpr("doc_id", "sh", s"stack(4, $bandVals) as (band, v)")
        .persist() // both pair-join sides; caller clearCache releases
      cappedSelfJoin(bands, "v", Seq("sh"))
        .selectExpr("a_id", "b_id",
          "cast(bit_count(a_sh ^ b_sh) as bigint) as hamming")
        .filter(col("hamming") <= 3)
        .distinct()
    },

    // Incremental-ingest dedup: a new batch (doc_id ≥ 400) arrives and
    // must drop exact duplicates of the EXISTING corpus (doc_id < 400) —
    // the continual-pretraining ingest step. LEFT ANTI join on the 60-bit
    // content digest: only digests shuffle, the corpus text is never
    // read past hashing, and at 100 TB the corpus side is a pre-built
    // digest index (or a Bloom pre-filter) rather than a rescan.
    Q(
      "dd11_incremental_dedup",
      s"""WITH corpus AS (SELECT ${P.duckHash60("text")} AS h FROM documents WHERE doc_id < 400),
         |     batch AS (SELECT doc_id, ${P.duckHash60("text")} AS h FROM documents WHERE doc_id >= 400)
         |SELECT b.doc_id FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)""".stripMargin) {
      (s, d) =>
        val docs = T.documents(s, d)
        val corpus = docs.filter(col("doc_id") < 400)
          .selectExpr(s"${P.hash60("text")} as h")
        val batch = docs.filter(col("doc_id") >= 400)
          .selectExpr("doc_id", s"${P.hash60("text")} as h")
        batch.join(corpus, Seq("h"), "left_anti").select("doc_id")
    },

    // Train/test contamination detection: train docs sharing ANY 3-token
    // shingle with the held-out set (every 50th doc) — the benchmark-leak
    // audit run before training. Distinct per-side (doc, shingle-hash)
    // pairs semi-join on the shingle hash: only 60-bit hashes shuffle,
    // and the distinct count per train doc bounds the output.
    Q(
      "dd12_contamination",
      s"""WITH ${duckShingleCtes("documents")},
         |     ex AS (SELECT DISTINCT doc_id, ${P.duckHash60("unnest(shingles)")} AS sng
         |            FROM sh),
         |     test AS (SELECT DISTINCT sng FROM ex WHERE doc_id % 50 = 0),
         |     train AS (SELECT doc_id, sng FROM ex WHERE doc_id % 50 <> 0)
         |SELECT tr.doc_id, count(*) AS n_shared
         |FROM train tr JOIN test te ON te.sng = tr.sng
         |GROUP BY tr.doc_id""".stripMargin) { (s, d) =>
      val ex = shingleHashes(T.documents(s, d), "doc_id", "text")
        .persist() // consumed by both sides of the contamination join
      val test = ex.filter(col("doc_id") % 50 === 0).select("sng").distinct()
      val train = ex.filter(col("doc_id") % 50 =!= 0)
      train.join(test, "sng")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
    },

    // LSH banding at r=2 — the precision knob of the b×r contract: 8
    // minhash components grouped into b=4 bands of r=2 rows each, band
    // key = hash of the concatenated pair. P[candidate] = 1-(1-s²)⁴, so
    // moderately-similar docs that flood dd04's r=1 buckets (any shared
    // frequent shingle-minimum) only collide here when BOTH minhashes of
    // some band agree — the candidate set shrinks toward true near-dups
    // while the shuffle stays (band, key, doc_id) tuples. Same bucket cap
    // as dd04 guards the residual boilerplate-clique case.
    Q(
      "dd13_lsh_r2", {
        val duckBand = (k: Int) =>
          s"SELECT doc_id, $k AS band, " +
            s"${P.duckHash60(s"mh${2 * k}::VARCHAR || '|' || mh${2 * k + 1}::VARCHAR")} AS h FROM sig"
        s"""WITH ${duckSigCtes(8)},
           |     bands AS (
           |       ${(0 until 4).map(duckBand).mkString("\n           UNION ALL ")}),
           |     $duckCapPairs
           |SELECT a_id, b_id FROM pairs""".stripMargin
      }) { (s, d) =>
      val bandKey = (k: Int) =>
        P.hash60(s"concat(cast(mh${2 * k} as string), '|', cast(mh${2 * k + 1} as string))")
      val stackArgs = (0 until 4).map(k => s"$k, ${bandKey(k)}").mkString(", ")
      val bands = minhashSig(shingleHashSets(T.spread(T.documents(s, d))), 8)
        .selectExpr("doc_id", s"stack(4, $stackArgs) as (band, h)")
        .persist() // sized + both pair sides (dd04 pushdown lesson)
      cappedBandPairs(bands)
    },

    // Incremental NEAR-dup admission (Dedup.incrementalNearDup): dd11's
    // incremental exact dedup lifted to MinHash — admit only batch docs
    // (doc_id ≥ 400, dd11's split) sharing NO r=1 band bucket with the
    // existing corpus. Anti-join shaped, not pair shaped: the corpus
    // reduces to DISTINCT band keys, so there is no pair enumeration
    // and no bucket cap needed — a boilerplate bucket of any size is
    // one key row. Only band keys shuffle.
    Q(
      "dd15_incremental_neardup",
      s"""WITH ${duckSigCtes(4)},
         |     ${duckR1Bands()},
         |     ck AS (SELECT DISTINCT band, h FROM bands WHERE doc_id < 400),
         |     rej AS (SELECT DISTINCT b.doc_id FROM bands b
         |             JOIN ck c ON c.band = b.band AND c.h = b.h
         |             WHERE b.doc_id >= 400)
         |SELECT DISTINCT doc_id FROM bands
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT doc_id FROM rej)""".stripMargin) {
      (s, d) =>
        val docs = T.documents(s, d)
        graft.functions.Dedup.incrementalNearDup(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "doc_id", "text")
    },

    // Dedup REPORTING: the cluster-size histogram a dedup run publishes
    // — how many clusters of each size, i.e. how much of the corpus is
    // singleton vs duplicated mass. Rides dd08's exact clustering
    // machinery; the histogram itself is two tiny aggregations of
    // (id, label) longs.
    Q(
      "dd16_cluster_stats",
      s"""WITH RECURSIVE
         |     $duckClusterCtes,
         |     cs AS (SELECT cluster_id, count(*) AS cluster_size
         |            FROM comp GROUP BY cluster_id)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size""".stripMargin) { (s, d) =>
      clusterLabels(T.documents(s, d))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(
          count(lit(1)).as("n_clusters"),
          expr("cast(cluster_size * count(1) as bigint) as n_docs"))
    },

    // Passage-level boilerplate pruning (CCNet/RefinedWeb line-dedup,
    // adapted to the newline-free fixture): chunk each document into
    // consecutive 8-token passages, hash each passage, and flag any
    // passage whose hash appears in MORE than 2 distinct documents as
    // boilerplate — the shared-header/footer scrub that document-level
    // dedup can't see. Gate: per-doc passage/boilerplate/kept-token
    // counts. Scale: only (doc_id, i, ntok, hash) longs ever shuffle —
    // passage text is hashed inside the scan projection and dropped;
    // the frequency rollup and the flag join both key on the 60-bit
    // hash. `Dedup.prunePassages` reconstructs the cleaned corpus from
    // the same flags.
    Q(
      "dd17_passage_boilerplate",
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
         |           FROM documents),
         |     p AS (SELECT doc_id, i,
         |             len(toks[i*8+1 : i*8+8]) AS ntok_p,
         |             ${P.duckHash60("'pp|' || array_to_string(toks[i*8+1 : i*8+8], ' ')")} AS ph
         |           FROM t CROSS JOIN unnest(range(0, (len(toks) + 7) // 8)) r(i)),
         |     b AS (SELECT ph FROM p GROUP BY ph HAVING count(DISTINCT doc_id) > 2)
         |SELECT p.doc_id, count(*) AS n_passages,
         |  count(b.ph) AS n_boiler,
         |  CAST(coalesce(sum(CASE WHEN b.ph IS NULL THEN ntok_p END), 0) AS BIGINT) AS n_toks_kept
         |FROM p LEFT JOIN b ON b.ph = p.ph
         |GROUP BY p.doc_id""".stripMargin) { (s, d) =>
      passageFlags(T.documents(s, d))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_passages"),
          count(when(!col("keep"), 1)).as("n_boiler"),
          coalesce(sum(when(col("keep"), col("ntok_p"))), lit(0L))
            .cast("long").as("n_toks_kept"))
    },

    // Exact duplicated-span removal (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // pass, re-expressed Spark-native): hash EVERY 16-token window
    // (stride 1) of the lowercased text, flag windows whose hash occurs
    // more than once corpus-wide (cross-doc boilerplate AND within-doc
    // repetition alike), and merge each doc's flagged windows into
    // maximal removal spans (gaps-and-islands over the window starts).
    // The reference algorithm uses a corpus suffix array; stride-1
    // window hashing is the shuffle-friendly distributed equivalent,
    // trading suffix-array exactness for k-token span resolution. The
    // fixture text is word salad whose only organic 16-token repeats
    // are dd01's exact-duplicate documents, so the query AUGMENTS
    // doc_id % 4 == 0 rows with a fixed 24-token tail on BOTH engines —
    // known-positive spans (the tail merges to exactly one 24-token
    // span) alongside the organic whole-doc duplicates. Scale: window
    // rows are (doc_id, i, hash) longs — text is hashed in the scan
    // projection and dropped; the frequency rollup and flag join key on
    // the 60-bit hash; span merging is one doc-sharded window exchange
    // of int pairs. `Dedup.duplicatedSpans`/`removeSpans` expose the
    // same machinery (the real-corpus path, no augmentation).
    Q(
      "dd18_dup_spans",
      s"""WITH aug AS (SELECT doc_id, lower(text) ||
         |    CASE WHEN doc_id % 4 = 0 THEN ' $esTail' ELSE '' END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM aug),
         |w AS (SELECT doc_id, i,
         |        ${P.duckHash60("'es|' || array_to_string(toks[i+1 : i+16], ' ')")} AS wh
         |      FROM t CROSS JOIN unnest(range(0, greatest(len(toks) - 15, 0))) r(i)),
         |d AS (SELECT wh FROM w GROUP BY wh HAVING count(*) > 1),
         |f AS (SELECT w.doc_id, w.i FROM w JOIN d USING (wh)),
         |m AS (SELECT doc_id, i,
         |        CASE WHEN i > coalesce(max(i + 16) OVER (
         |               PARTITION BY doc_id ORDER BY i
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |             THEN 1 ELSE 0 END AS ns
         |      FROM f),
         |s AS (SELECT doc_id, i, sum(ns) OVER (
         |        PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM m),
         |sp AS (SELECT doc_id, sid, min(i) AS s0, max(i) + 16 AS e0, count(*) AS nw
         |       FROM s GROUP BY doc_id, sid)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(nw) AS BIGINT) AS n_dup_windows,
         |  CAST(sum(e0 - s0) AS BIGINT) AS n_toks_dup
         |FROM sp GROUP BY doc_id""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id",
        s"concat(lower(text), case when doc_id % 4 = 0 then ' $esTail' " +
          "else '' end) as text")
      dupWindowSpans(aug)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("long").as("n_spans"),
          sum("n_windows").cast("long").as("n_dup_windows"),
          sum(col("span_end") - col("span_start")).cast("long")
            .as("n_toks_dup"))
    },

    // URL-keyed dedup under canonicalization (Dedup.canonicalizeUrls):
    // the same page crawled as http/https, with/without `www.`, with a
    // trailing slash, a `#fragment`, or `utm_*` tracking params must
    // dedup to ONE keeper — the crawl-frontier dedup every web corpus
    // runs before any content hash is computed. The corpus has no URL
    // column, so the query derives a deterministic messy URL per doc
    // on BOTH engines — page identity is (source, (doc_id div 20) % 5)
    // and the corruption arm is (doc_id div 20) % 4 (clean / www+slash
    // / uppercase+utm query / fragment), chosen so every canonical
    // group holds several docs spanning several raw spellings (the
    // corpus's source column is doc_id-mod-20-aligned, so doc_id-mod
    // formulas would make every group a singleton) — then canonicalizes
    // with the shared fragment and groups: (canon_url, keeper, n_docs,
    // n_variants). Scale: URL synthesis + canonicalization are one
    // codegen'd scan projection; only short canonical-URL strings and
    // ids reach the exchange (text never shuffles), and the distinct-
    // variant count partial-aggregates on (canon_url, url) pairs.
    Q(
      "dd19_url_dedup",
      s"""WITH u AS (SELECT doc_id,
         |    CASE (doc_id // 20) % 4
         |      WHEN 0 THEN 'https://' || source || '.example.com/p/' || CAST((doc_id // 20) % 5 AS VARCHAR)
         |      WHEN 1 THEN 'https://www.' || source || '.example.com/p/' || CAST((doc_id // 20) % 5 AS VARCHAR) || '/'
         |      WHEN 2 THEN upper('https://' || source || '.example.com/p/' || CAST((doc_id // 20) % 5 AS VARCHAR)) || '?utm_source=feed&utm_medium=rss'
         |      ELSE 'https://' || source || '.example.com/p/' || CAST((doc_id // 20) % 5 AS VARCHAR) || '#sec-' || CAST(doc_id % 7 AS VARCHAR)
         |    END AS url FROM documents),
         |c AS (SELECT doc_id, url,
         |        ${graft.functions.Dedup.duckCanonUrlFrag("url")} AS canon_url
         |      FROM u)
         |SELECT canon_url, min(doc_id) AS keeper,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
         |FROM c GROUP BY canon_url""".stripMargin) { (s, d) =>
      val urls = T.documents(s, d).selectExpr("doc_id",
        """case cast((doc_id div 20) % 4 as int)
          |  when 0 then 'https://' || source || '.example.com/p/' || cast((doc_id div 20) % 5 as string)
          |  when 1 then 'https://www.' || source || '.example.com/p/' || cast((doc_id div 20) % 5 as string) || '/'
          |  when 2 then upper('https://' || source || '.example.com/p/' || cast((doc_id div 20) % 5 as string)) || '?utm_source=feed&utm_medium=rss'
          |  else 'https://' || source || '.example.com/p/' || cast((doc_id div 20) % 5 as string) || '#sec-' || cast(doc_id % 7 as string)
          |end as url""".stripMargin)
      graft.functions.Dedup.canonicalizeUrls(urls, "url")
        .groupBy("canon_url")
        .agg(min("doc_id").as("keeper"),
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct("url").cast("long").as("n_variants"))
    },

    // Asymmetric CONTAINMENT verification (Dedup.containment): for each
    // LSH candidate pair, the DIRECTIONAL overlap c(A→B) = |A∩B|/|A| —
    // Jaccard is symmetric and misses quote/subset duplication (a short
    // doc fully contained in a long one has low Jaccard but c = 1), the
    // forum-quote / excerpt case document dedup actually meets. Output
    // adds a verdict: 'a_in_b' / 'b_in_a' when one side is ≥ 80%
    // contained and leads the other by ≥ 20 points, else 'mutual'. The
    // corpus has no organic subset docs (word salad), so the query
    // AUGMENTS on BOTH engines: docs with doc_id % 50 = 1 become the
    // 40-token PREFIX of their predecessor — true containments whose
    // pairs still band-collide (shared prefix dominates the minhash).
    // All-integer ppm-style arithmetic ((10000·i) div |A|). Scale: same
    // shape as dd06 — the overlap join runs on 60-bit shingle hashes,
    // text never crosses an exchange, candidates stay capped.
    Q(
      "dd21_containment",
      s"""WITH aug AS (SELECT d.doc_id,
         |        CASE WHEN d.doc_id % 50 = 1 AND p.text IS NOT NULL
         |             THEN array_to_string((regexp_split_to_array(p.text, '\\s+'))[1:40], ' ')
         |             ELSE d.text END AS text
         |      FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
         |     ${duckSigCtes(4, "aug")},
         |     ${duckR1Bands()},
         |     $duckCapPairs,
         |     $duckOverlapCtes,
         |     ct AS (SELECT i.a_id, i.b_id,
         |              (10000 * i.i) // sa.c AS c_ab_x10000,
         |              (10000 * i.i) // sb.c AS c_ba_x10000
         |            FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
         |                         JOIN sizes sb ON sb.doc_id = i.b_id)
         |SELECT a_id, b_id, c_ab_x10000, c_ba_x10000,
         |  CASE WHEN c_ab_x10000 >= 8000 AND c_ab_x10000 >= c_ba_x10000 + 2000 THEN 'a_in_b'
         |       WHEN c_ba_x10000 >= 8000 AND c_ba_x10000 >= c_ab_x10000 + 2000 THEN 'b_in_a'
         |       ELSE 'mutual' END AS verdict
         |FROM ct""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      val prev = docs.selectExpr("doc_id + 1 as doc_id", "text as ptext")
      val aug = docs.join(prev, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "case when doc_id % 50 = 1 and ptext is not null " +
            "then array_join(slice(split(ptext, '\\\\s+'), 1, 40), ' ') " +
            "else text end as text")
      graft.functions.Dedup.containment(aug, "doc_id", "text")
    },

    // LSH banding S-CURVE tuning table: for the observed candidate
    // pairs, the retention probability each alternative banding config
    // would give them — p(b, r | J) = 1 − (1 − Jʳ)ᵇ evaluated at the
    // signature-estimated J = m/8 (m = agreeing components of the
    // 8-component dd13 signature), for (b,r) ∈ {(8,1), (4,2), (2,4)}
    // (all with b·r = 8, so the comparison is at EQUAL signature cost).
    // This is the table you read before choosing a banding: r=1 keeps
    // everything J ≥ ~0.1 (recall-heavy), r=4 suppresses everything
    // below J ≈ 0.6 (precision-heavy) — the S-curve knee per config,
    // weighted by how many observed pairs sit at each agreement level.
    // All-integer arithmetic: with J = m/8 and b·r = 8, p_ppm =
    // (10⁶·(8⁸ − (8ʳ − mʳ)ᵇ)) div 8⁸ — exact rationals, no floats.
    // Scale: rides dd04's capped candidates; the m-histogram reads 8
    // longs per pair side and rolls up to ≤ 9 rows before the 3-config
    // expansion.
    Q(
      "dd22_lsh_scurve", {
        val duckBandRows = (0 until 4)
          .map(k => s"SELECT doc_id, $k AS band, mh$k AS h FROM sig")
          .mkString("\n           UNION ALL ")
        val m8 = (0 until 8)
          .map(k => s"(CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val arms = scurveConfigs.map { case (b, r) =>
          s"""SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r, m,
             |  (1000 * m) // 8 AS est_j_x1000,
             |  (1000000 * (16777216 - ${scurveComplement(b, r)})) // 16777216 AS p_ppm,
             |  n_pairs FROM hist""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH ${duckSigCtes(8)},
           |     bands AS (
           |       $duckBandRows),
           |     $duckCapPairs,
           |     hist AS (SELECT CAST($m8 AS BIGINT) AS m, count(*)::BIGINT AS n_pairs
           |              FROM pairs p JOIN sig sa ON sa.doc_id = p.a_id
           |                           JOIN sig sb ON sb.doc_id = p.b_id
           |              GROUP BY 1)
           |$arms""".stripMargin
      }) { (s, d) =>
      // The full 8-component signature RIDES the band rows (r19): the
      // old form banded (doc_id, band, h) and joined the distinct pairs
      // BACK to the persisted sig frame twice to fetch both sides'
      // components — two more corpus-scale shuffles (sig crossed the
      // wire once per join side) and two sort-merge joins. Packing the
      // signature as ONE array<bigint> column costs 64 bytes/band-row
      // through the (band, h) window exchange the bucket cap pays
      // anyway, hands the pair self-join both sides' signatures for
      // free, and m computes inline before the distinct (m is a pure
      // function of the pair, so distinct-(a,b,m) ≡ distinct-(a,b) then
      // join — guide §2.4 remove shuffles outright). The sig persist is
      // gone: the banding is now the hashing's only consumer.
      val sigArr = (0 until 8).map(k => s"mh$k").mkString("array(", ", ", ")")
      val bands = r1BandRows(
        minhashSig(shingleHashSets(T.spread(T.documents(s, d))), 8), s"$sigArr as sig")
      val m8 = (0 until 8)
        .map(k => s"(case when element_at(a_sig, ${k + 1}) = " +
          s"element_at(b_sig, ${k + 1}) then 1 else 0 end)")
        .mkString(" + ")
      // persist the ≤9-row m-histogram: each of the three (b, r) arms
      // below re-executed the WHOLE pair pipeline without it (r18)
      val hist = cappedSelfJoin(bands, "h", Seq("sig"))
        .selectExpr("a_id", "b_id", s"cast($m8 as bigint) as m")
        .distinct()
        .groupBy("m").agg(count(lit(1)).cast("long").as("n_pairs"))
        .persist()
      scurveConfigs.map { case (b, r) =>
        hist.selectExpr(s"cast($b as bigint) as b", s"cast($r as bigint) as r",
          "m", "(1000 * m) div 8 as est_j_x1000",
          s"(1000000 * (16777216 - ${scurveComplement(b, r)})) div 16777216 as p_ppm",
          "n_pairs")
      }.reduce(_ unionAll _)
    },

    // SOFT dedup (Dedup.softWeights): instead of dropping near-dup
    // cluster members, weight each document by 10⁶ div cluster_size so
    // every cluster contributes ~one document of sampling mass — the
    // "reweight, don't delete" dedup policy (keeps benign variation a
    // min-id keeper discards; the sampler sees a deduplicated
    // distribution either way). Rides dd08's exact clustering machinery
    // — same shingle → minhash → per-bucket star edges → CC chain the
    // dd08 oracle pins — plus ONE per-cluster count window over
    // (id, label) longs. At 100 TB the weights join back to the corpus
    // on doc_id (co-partitioned with any downstream sampling pass);
    // text never shuffles.
    Q(
      "dd20_soft_weights",
      s"""WITH RECURSIVE
         |     $duckClusterCtes,
         |     cs AS (SELECT doc_id, cluster_id,
         |              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |            FROM comp)
         |SELECT doc_id, cluster_id,
         |  CAST(cluster_size AS BIGINT) AS cluster_size,
         |  1000000 // cluster_size AS weight_ppm
         |FROM cs""".stripMargin) { (s, d) =>
      graft.functions.Dedup.softWeights(T.documents(s, d))
    },

    // Passage-level NEAR-dup detection: dd17 finds passages repeated
    // EXACTLY; this catches lightly-edited boilerplate (one token
    // swapped per instance — dates, names, version strings) by running
    // dd10's SimHash machinery at passage granularity. Each aligned
    // 8-token passage gets a 60-bit tie-broken token-majority SimHash,
    // banded 4×15 bits (pigeonhole: Hamming ≤ 3 agrees on some band —
    // sizing rationale in passageNearDupPairs' scaladoc), capped
    // buckets, exact Hamming verify on one long/side. The fixture's word
    // salad has no organic near-dup passages, so the query AUGMENTS on
    // BOTH engines: doc_id % 5 == 0 docs are padded to the 8-token
    // passage grid and gain a boilerplate passage whose LAST token
    // varies by doc_id % 7 — same-variant docs pair at Hamming 0,
    // cross-variant at small distances, organic whole-doc duplicates
    // pair passage-by-passage. Scale: passage text is hashed in the
    // scan projection and dropped; only (doc_id, idx, band, key) longs
    // and two sig longs per verify shuffle — dd10's discipline one
    // level down the granularity ladder.
    Q(
      "dd23_passage_neardup", {
        val simBits = (0 until 60).map { b =>
          val cnt = s"len(list_filter(hs, h -> (h >> $b) & 1 = 1))"
          s"(CASE WHEN 2 * $cnt > len(hs) THEN ${1L << b} " +
            s"WHEN 2 * $cnt = len(hs) AND (hx >> $b) & 1 = 1 THEN ${1L << b} " +
            s"ELSE 0 END)"
        }.mkString(" + ")
        val bandSel = (0 until 4)
          .map(k => s"SELECT doc_id, idx, $k AS band, (sh >> ${k * 15}) & 32767 AS v FROM s")
          .mkString("\n           UNION ALL ")
        s"""WITH aug AS (SELECT doc_id, lower(text)
           |      || repeat(' pad', (8 - len(regexp_split_to_array(lower(text), '\\s+')) % 8) % 8)
           |      || ' shared boilerplate sentence about usual terms conditions v'
           |      || (doc_id % 7)::VARCHAR AS text
           |    FROM documents WHERE doc_id % 5 = 0
           |    UNION ALL
           |    SELECT doc_id, lower(text) FROM documents WHERE doc_id % 5 <> 0),
           |  t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM aug),
           |  p AS (SELECT doc_id, i AS idx,
           |          list_transform(toks[i*8+1 : i*8+8], w -> ${P.duckHash60("w")}) AS hs
           |        FROM t CROSS JOIN unnest(range(0, (len(toks) + 7) // 8)) r(i)),
           |  px AS (SELECT doc_id, idx, hs,
           |          list_reduce(list_prepend(0::BIGINT, hs), (a, h) -> xor(a, h)) AS hx
           |        FROM p),
           |  s AS (SELECT doc_id, idx, CAST($simBits AS BIGINT) AS sh FROM px),
           |  bands AS (
           |       $bandSel),
           |  sized AS (SELECT band, v, count(*) AS n FROM bands GROUP BY band, v),
           |  small AS (SELECT b.doc_id, b.idx, b.band, b.v FROM bands b
           |            JOIN sized z ON z.band = b.band AND z.v = b.v AND z.n <= $bucketCap),
           |  pairs AS (SELECT DISTINCT a.doc_id AS a_id, a.idx AS a_idx,
           |                   b.doc_id AS b_id, b.idx AS b_idx
           |            FROM small a JOIN small b
           |              ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
           |SELECT p.a_id, p.a_idx, p.b_id, p.b_idx,
           |  CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
           |FROM pairs p
           |JOIN s sa ON sa.doc_id = p.a_id AND sa.idx = p.a_idx
           |JOIN s sb ON sb.doc_id = p.b_id AND sb.idx = p.b_idx
           |WHERE bit_count(xor(sa.sh, sb.sh)) <= 3""".stripMargin
      }) { (s, d) =>
      val docs = T.documents(s, d)
      val aug = docs.filter(col("doc_id") % 5 === 0)
        .selectExpr("doc_id",
          "concat(lower(text), " +
            "repeat(' pad', (8 - size(split(lower(text), '\\\\s+')) % 8) % 8), " +
            "' shared boilerplate sentence about usual terms conditions v', " +
            "cast(doc_id % 7 as string)) as text")
        .unionAll(docs.filter(col("doc_id") % 5 =!= 0)
          .selectExpr("doc_id", "lower(text) as text"))
      passageNearDupPairs(aug)
    },

    // Content-defined chunking (the rsync/LBFS/restic boundary rule,
    // applied to corpus storage dedup): a chunk boundary falls after
    // every position whose 8-char window hash ≡ 0 (mod 64) — expected
    // ~64-char chunks whose cut points depend only on CONTENT, so an
    // insertion shifts one chunk instead of re-slicing the whole
    // document the way fixed-width blocks (tx08) do. Emitted per chunk:
    // ordinal, offset, length, and the 60-bit chunk hash — the unit of
    // a dedup store or an incremental dataset diff. Fixed-window edge:
    // docs shorter than the window produce one whole-doc chunk;
    // boundaries at the last char drop their empty tail. Scale: the
    // entire boundary scan + chunk slicing is HOFs inside ONE codegen'd
    // scan projection — per-char hash work, zero shuffle; only the
    // emitted (doc_id, idx, pos, len, hash) rows leave the scan.
    Q(
      "dd24_cdc_chunks",
      s"""WITH $duckCdcChunkCtes
         |SELECT doc_id, chunk_idx, pos, clen, chunk_hash
         |FROM chunks""".stripMargin) { (s, d) =>
      cdcChunkRows(T.documents(s, d))
    },

    // Chunk-store dedup accounting over dd24's content-defined chunks:
    // total vs distinct chunk count, raw vs deduplicated byte volume,
    // and the storage savings a chunk-addressed store (restic/borg
    // shape) realizes on this corpus — the ROI report that justifies
    // (or kills) a CDC dedup layer. Identical hashes carry identical
    // content (60-bit, collision odds documented with the hash), so
    // the unique byte volume is one representative length per hash.
    // Scale: chunks reduce to (hash, len) longs before the rollup;
    // the per-hash aggregate combines map-side; output is ONE row.
    Q(
      "dd25_chunk_dedup",
      s"""WITH $duckCdcChunkCtes,
         |  per AS (SELECT chunk_hash, count(*) AS cnt, min(clen) AS clen1
         |          FROM chunks GROUP BY chunk_hash),
         |  a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         |          CAST(count(*) AS BIGINT) AS n_distinct,
         |          CAST(SUM(cnt * clen1) AS BIGINT) AS bytes_total,
         |          CAST(SUM(clen1) AS BIGINT) AS bytes_unique
         |        FROM per)
         |SELECT n_chunks, n_distinct, bytes_total, bytes_unique,
         |  CAST(1000000::HUGEINT * (bytes_total - bytes_unique) // bytes_total AS BIGINT) AS savings_ppm
         |FROM a""".stripMargin) { (s, d) =>
      cdcChunkRows(T.documents(s, d))
        .groupBy("chunk_hash")
        .agg(count(lit(1)).as("cnt"), min("clen").as("clen1"))
        .agg(
          sum("cnt").cast("long").as("n_chunks"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(expr("cnt * clen1")).cast("long").as("bytes_total"),
          sum("clen1").cast("long").as("bytes_unique"))
        // ppm in DECIMAL(38,0)/HUGEINT: 1e6 × a corpus byte total clears
        // BIGINT at 100 TB (the an17 convention)
        .selectExpr("n_chunks", "n_distinct", "bytes_total", "bytes_unique",
          "cast(cast(1000000 as decimal(38,0)) * (bytes_total - bytes_unique) " +
            "div bytes_total as bigint) as savings_ppm")
    },

    // Cluster-once / audit-many: the 100 TB operating shape for every
    // cluster-riding audit (dd16/dd20/cu08/cu09 each re-run LSH+CC
    // inline, fine for a gate, wrong for a corpus). Here the expensive
    // clustering runs ONCE, labels persist as a (doc_id, cluster_id)
    // parquet table, and the audit reads the SAVED table — so a second,
    // third, nth audit never touches the corpus again. The audit is a
    // one-row cluster census (docs, clusters, multi-member clusters,
    // dropped docs, max cluster size); its result is byte-identical to
    // the inline recompute (pinned in QuerySpec) because parquet
    // round-trips the (long, long) label rows exactly. Scale: the write
    // pays dd08's documented (id, label)-longs cost once; every audit
    // after it scans ~16 B/doc of labels — SCALE.md's cluster-once
    // section measures the audit alone at label-table scan bytes.
    Q(
      "dd26_saved_labels_audit",
      s"""WITH RECURSIVE
         |     $duckClusterCtes,
         |     cs AS (SELECT cluster_id, count(*) AS n
         |            FROM comp GROUP BY cluster_id)
         |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
         |  CAST(SUM(n) - count(*) AS BIGINT) AS n_dropped,
         |  CAST(max(n) AS BIGINT) AS max_cluster_size
         |FROM cs""".stripMargin) { (s, d) =>
      val path = Scratch.dir("graft-dd26-labels")
      clusterLabels(T.documents(s, d))
        .write.mode("overwrite").parquet(path)
      labelAudit(s.read.parquet(path))
    },

    // Incremental label maintenance (see [[incrementalLabels]]): corpus
    // = doc_id < 400, batch = the rest (dd11/dd15's split). The oracle
    // builds bands for ALL docs, names the corpus subset `bands` so the
    // shared duckCapPairs/duckStarEdges fragments cluster the corpus
    // verbatim, then replays the bucket-label rollup + adoption join.
    // Docs with < 3 tokens band to NULL keys on both engines and fall
    // through equality joins identically → new singletons.
    Q(
      "dd27_incremental_labels",
      s"""WITH RECURSIVE
         |     ${duckSigCtes(4)},
         |     ${duckR1Bands("allbands")},
         |     bands AS (SELECT * FROM allbands WHERE doc_id < 400),
         |     $duckCapPairs,
         |     $duckStarEdges,
         |     link AS (SELECT a_id, b_id FROM pairs
         |              UNION SELECT a_id, b_id FROM stars),
         |     edges AS (SELECT a_id AS src, b_id AS dst FROM link
         |               UNION ALL SELECT b_id, a_id FROM link),
         |     reach(src, dst) AS (
         |       SELECT doc_id, doc_id FROM documents WHERE doc_id < 400
         |       UNION
         |       SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         |     comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |              FROM reach GROUP BY src),
         |     bl AS (SELECT b.band, b.h, min(c.cluster_id) AS cl
         |            FROM bands b JOIN comp c ON c.doc_id = b.doc_id
         |            GROUP BY b.band, b.h),
         |     m AS (SELECT ab.doc_id, min(bl.cl) AS adopted,
         |             count(DISTINCT bl.cl) AS n_matched
         |           FROM allbands ab JOIN bl ON bl.band = ab.band AND bl.h = ab.h
         |           WHERE ab.doc_id >= 400 GROUP BY ab.doc_id)
         |SELECT d.doc_id,
         |  coalesce(m.adopted, d.doc_id) AS label,
         |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched_clusters,
         |  CAST(CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
         |LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      incrementalLabels(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400))
    }
  )

  /** Incremental LABEL MAINTENANCE — the third leg of the cluster-once
    * story (cluster once → audit many → maintain incrementally): assign
    * each batch document to an EXISTING corpus cluster without
    * re-clustering the corpus. Per corpus (band, bucket) the members all
    * share one cluster label by construction (capped pairs or star edges
    * fully connect every bucket), so the corpus reduces to a
    * (band, h, label) rollup; a batch doc adopts the minimum label over
    * its matched buckets, and `n_matched_clusters` counts the DISTINCT
    * labels it touched — ≥ 2 flags a WOULD-MERGE (a full re-cluster
    * would join those clusters; incremental systems assign the min and
    * queue the merge for compaction, which is exactly what this
    * reports). Unmatched docs label themselves as new singletons — the
    * same no-shared-bucket condition as dd15's admission, so
    * `is_new = 1` here IS dd15's admitted set (pinned in spec).
    * Scale: corpus text scans once (bands + CC); adoption ships only
    * (band, h, label) longs against 4 band keys per batch doc — no pair
    * stage, no corpus re-scan, and n_matched is bounded by the band
    * count. Returns (idCol, label, n_matched_clusters, is_new).
    */
  private[graft] def incrementalLabels(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // NOTE (r18): a tagged-union single-pass banding of corpus+batch was
    // tried and REVERTED — it halves the banding passes but prepends the
    // (large) batch's tokenize+minhash to the CC rounds' critical chain,
    // which is what actually bounds this query's wall clock (measured
    // ~+25% at sf0.1). Two passes keep the CC path fed by the small
    // corpus frame only.
    val cb = r1Bands(corpus, idCol, textCol).persist() // edges + rollup
    val edges = bandStarEdges(cb)
    val labels = graft.functions.Dedup.connectedComponents(
        corpus.select(idCol), edges, idCol, "a_id", "b_id")
      .withColumnRenamed(idCol, "doc_id")
    val bucketLabel = cb.join(labels, "doc_id")
      .groupBy("band", "h")
      .agg(min("cluster_id").as("cl")) // min ≡ the bucket's one label
    val matched = r1Bands(batch, idCol, textCol) // one join pass
      .join(bucketLabel, Seq("band", "h"))
      .groupBy("doc_id")
      .agg(min("cl").as("adopted"),
        countDistinct("cl").cast("long").as("n_matched"))
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(adopted, doc_id) as label",
        "cast(coalesce(n_matched, 0) as bigint) as n_matched_clusters",
        "cast(case when adopted is null then 1 else 0 end as bigint) as is_new")
      .withColumnRenamed("doc_id", idCol)
  }

  /** The audit-many half of cluster-once/audit-many: a one-row cluster
    * census over any (doc_id, cluster_id) label frame — saved table or
    * inline recompute, same answer. Two nested map-side-combining aggs:
    * per-cluster sizes (cluster-key exchange of longs), then a single
    * global rollup — at any corpus size the second agg reads
    * cluster-cardinality rows.
    */
  private[graft] def labelAudit(labels: DataFrame): DataFrame =
    labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"))
      .agg(
        sum("n").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_clusters"),
        sum(expr("case when n > 1 then 1 else 0 end")).cast("long").as("n_multi"),
        (sum("n") - count(lit(1))).cast("long").as("n_dropped"),
        max("n").cast("long").as("max_cluster_size"))

  /** dd24/dd25's shared chunk CTEs — the content-defined chunking SQL
    * ending in a `chunks(doc_id, chunk_idx, pos, clen, chunk_hash)`
    * relation, ONE definition for both oracles (mirroring the Scala
    * side's shared `cdcChunkRows`). A `def`: interpolates during
    * `queries` init.
    */
  private def duckCdcChunkCtes: String =
    s"""t AS (SELECT doc_id, lower(text) AS t, length(lower(text)) AS n
       |           FROM documents),
       |  b AS (SELECT doc_id, t, n,
       |          list_filter(list_transform(range(8, n + 1),
       |            p -> CASE WHEN ${P.duckHash60("substr(t, p - 7, 8)")} % 64 = 0
       |                 THEN p END), x -> x IS NOT NULL) AS bnd
       |        FROM t),
       |  c AS (SELECT doc_id, t,
       |          list_prepend(1::BIGINT, list_transform(bnd, b -> b + 1)) AS starts,
       |          list_append(bnd, n) AS ends
       |        FROM b),
       |  e AS (SELECT doc_id, t, i AS chunk_idx,
       |          starts[i + 1] AS pos, ends[i + 1] - starts[i + 1] + 1 AS clen
       |        FROM c CROSS JOIN unnest(range(0, len(starts))) r(i)),
       |  chunks AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |      CAST(pos AS BIGINT) AS pos, CAST(clen AS BIGINT) AS clen,
       |      ${P.duckHash60("substr(t, pos, clen)")} AS chunk_hash
       |    FROM e WHERE clen >= 1)""".stripMargin

  /** Passage-level SimHash near-dup pairs over `(doc_id, text)` rows —
    * the dd23 machinery as a function (the gated query calls THIS on
    * augmented text; the real-corpus path takes raw docs via
    * `Dedup.passageNearDup`). Aligned 8-token passages → 60-bit
    * token-majority SimHash → 4×15-bit pigeonhole bands, buckets
    * capped at [[bucketCap]], exact Hamming ≤ 3 verify. Returns (a_id, a_idx,
    * b_id, b_idx, hamming), a_id < b_id.
    *
    * Two sizing decisions carry the scale story (learned from the 10×
    * smoke, where a first cut with 24-bit sigs and 6-bit bands
    * flooded EVERY bucket past the cap and recall collapsed to zero):
    *   - UNBIASED bits. An 8-way majority vote ties at 4-4 with
    *     probability C(8,4)/2⁸ ≈ 0.27; sending ties to 1 biases every
    *     bit to p≈0.64 and packs random signatures into a fraction of
    *     the key space (per-bit agreement p²+(1−p)² ≈ 0.54 ≫ 0.5).
    *     Ties break on the XOR-fold of the token hashes instead —
    *     content-deterministic and exactly unbiased, so random
    *     band keys are uniform.
    *   - BAND WIDTH sized to the corpus. Expected random bucket load
    *     is N·2^−r; r = 15 keeps load ≪ the [[bucketCap]] through ~10⁶
    *     passages per shard. Beyond that, widen r (two salted token
    *     hashes give 120 signature bits — r = 20 covers ~10⁸) the
    *     same way dd22 sizes (b, r) for document MinHash.
    * Persists the band frame (both pair sides); caller clearCache
    * releases.
    */
  private[graft] def passageNearDupPairs(docs0: DataFrame): DataFrame = {
    val docs = T.spread(docs0)
    val simBits = (0 until 60).map { b =>
      val cnt = s"size(filter(hs, h -> (shiftright(h, $b) & 1) = 1))"
      s"(case when 2 * $cnt > size(hs) then ${1L << b}L " +
        s"when 2 * $cnt = size(hs) and (shiftright(hx, $b) & 1) = 1 then ${1L << b}L " +
        s"else 0L end)"
    }.mkString(" + ")
    val sig = docs
      .selectExpr("doc_id", "split(text, '\\\\s+') as toks")
      .selectExpr("doc_id",
        "explode(transform(sequence(0, cast((size(toks) + 7) div 8 as int) - 1), " +
          "i -> struct(i as idx, slice(toks, i*8 + 1, 8) as pt))) as ps")
      .selectExpr("doc_id", "ps.idx as idx",
        s"transform(ps.pt, w -> ${P.hash60("w")}) as hs")
      .selectExpr("doc_id", "idx", "hs",
        "aggregate(hs, cast(0 as bigint), (a, h) -> a ^ h) as hx")
      .selectExpr("doc_id", "idx", s"cast($simBits as bigint) as sh")
    val bandVals = (0 until 4)
      .map(k => s"$k, shiftright(sh, ${k * 15}) & 32767")
      .mkString(", ")
    // The signature RIDES the band rows (r19): the old form banded
    // (doc_id, idx, band, v) and joined the surviving pairs BACK to the
    // persisted sig frame twice to fetch sha/shb — two corpus-scale
    // sort-merge joins whose sort buffers were dd23's only nonzero spill
    // at the 100x subset (601 MiB, SCALE.md). Carrying the one sh long
    // on each band row costs +8 bytes through the band exchange the
    // pipeline pays anyway, hands the pair self-join BOTH sides'
    // signatures for free (guide §2.3 "shuffle keys and metadata instead
    // of payloads" — here the metadata IS the payload, one long), and
    // lets the Hamming verify run BEFORE the distinct, so the distinct
    // dedups only verified pairs. hamming is a pure function of the pair
    // key, so distinct-then-verify and verify-then-distinct emit the
    // same rows. The sig persist is gone too — bands is now sig's only
    // consumer, so the hashing runs exactly once inside the persisted
    // band frame's own materialization.
    val bands = sig
      .selectExpr("doc_id", "idx", "sh", s"stack(4, $bandVals) as (band, v)")
      .persist() // both pair-join sides; caller clearCache releases
    // bucket cap via one unordered (band, v) window (r19): at scale a
    // groupBy-sized table is bucket-cardinality (corpus-sized), so a
    // join-back could never stay a broadcast — the window has no cliff
    cappedSelfJoin(bands, "v", Seq("idx", "sh"))
      .selectExpr("a_id", "cast(a_idx as bigint) as a_idx",
        "b_id", "cast(b_idx as bigint) as b_idx",
        "cast(bit_count(a_sh ^ b_sh) as bigint) as hamming")
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Content-defined chunks over `(doc_id, text)` rows — the dd24
    * machinery as a function (the gated query calls THIS; the public
    * path is `Dedup.cdcChunks`). Boundary after every position whose
    * 8-char window hash ≡ 0 (mod `mask`); returns (doc_id, chunk_idx,
    * pos, clen, chunk_hash) tiling each lowercased document
    * contiguously. Entirely HOFs inside one codegen'd scan projection.
    */
  private[graft] def cdcChunkRows(docs: DataFrame, mask: Int = 64): DataFrame = {
    require(mask >= 2, s"mask must be >= 2, got $mask")
    T.spread(docs)
      .selectExpr("doc_id", "lower(text) as t")
      .selectExpr("doc_id", "t", "length(t) as n")
      // n >= 8 guard: Spark's sequence(8, n) DESCENDS for n < 8
      // instead of returning empty (the mm04 gotcha)
      .selectExpr("doc_id", "t", "n",
        s"filter(transform(case when n >= 8 then sequence(8, n) else array() end, " +
          s"p -> case when ${P.hash60("substring(t, p - 7, 8)")} % $mask = 0 then p end), " +
          "x -> x is not null) as bnd")
      .selectExpr("doc_id", "t",
        "concat(array(1), transform(bnd, b -> b + 1)) as starts",
        "concat(bnd, array(n)) as ends")
      .selectExpr("doc_id", "t",
        "explode(transform(sequence(0, size(starts) - 1), " +
          "i -> struct(i as ci, element_at(starts, i + 1) as st, " +
          "element_at(ends, i + 1) as en))) as ch")
      .selectExpr("doc_id",
        "cast(ch.ci as bigint) as chunk_idx",
        "cast(ch.st as bigint) as pos",
        "cast(ch.en - ch.st + 1 as bigint) as clen",
        s"${P.hash60("substring(t, ch.st, ch.en - ch.st + 1)")} as chunk_hash")
      .filter(col("clen") >= 1)
  }

  /** dd22's banding configs — all at signature cost b·r = 8. (A `def`,
    * not a `val`: the oracle string interpolates it during `queries`
    * init, which runs before any val declared below it.)
    */
  private def scurveConfigs = Seq((8, 1), (4, 2), (2, 4))

  /** SQL for (8ʳ − mʳ)ᵇ over an integer column `m` using only `*` and
    * `-` — identical text on both engines (no pow(), which is float).
    */
  private def scurveComplement(b: Int, r: Int): String = {
    val mr = Seq.fill(r)("m").mkString(" * ")
    val base = s"(${math.pow(8, r).toLong} - ($mr))"
    Seq.fill(b)(base).mkString(" * ")
  }

  /** Directional containment over LSH candidate pairs: (a_id, b_id,
    * c_ab_x10000, c_ba_x10000, verdict) where c(A→B) = |A∩B|/|A| over
    * distinct shingle hashes and the verdict labels ≥80%-contained
    * sides leading by ≥20 points ('a_in_b'/'b_in_a', else 'mutual').
    * Same plan shape as dd06's Jaccard verify — candidates from the
    * shared capped banding, overlap join on 60-bit hashes, text never
    * shuffles. Shared by the gated dd21 query and `Dedup.containment`.
    */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame =
    shingleOverlap(docs)
      .selectExpr("a_id", "b_id",
        "(10000 * i) div ca as c_ab_x10000",
        "(10000 * i) div cb as c_ba_x10000")
      .selectExpr("a_id", "b_id", "c_ab_x10000", "c_ba_x10000",
        "case when c_ab_x10000 >= 8000 and c_ab_x10000 >= c_ba_x10000 + 2000 then 'a_in_b' " +
          "when c_ba_x10000 >= 8000 and c_ba_x10000 >= c_ab_x10000 + 2000 then 'b_in_a' " +
          "else 'mutual' end as verdict")

  /** Per-passage boilerplate flags: (doc_id, i, ntok_p, ph, keep) for
    * consecutive `chunk`-token passages of lowercased text; `keep` is
    * false when the passage hash occurs in more than `maxDocs` distinct
    * documents. Chunking, joining, and hashing all happen inside the
    * scan projection; only long columns cross the two exchanges (the
    * frequency rollup and the flag join, both keyed on the hash).
    * Shared by the gated dd17 query and `Dedup.prunePassages`.
    */
  private[graft] def passageFlags(docs: DataFrame, chunk: Int = 8,
      maxDocs: Int = 2): DataFrame = {
    val hashFrag = P.hash60(
      s"concat('pp|', array_join(slice(toks, i * $chunk + 1, $chunk), ' '))")
    val passages = docs
      .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks")
      .selectExpr("doc_id",
        s"explode(transform(sequence(0, (size(toks) + ${chunk - 1}) div $chunk - 1), " +
          s"i -> struct(i as i, size(slice(toks, i * $chunk + 1, $chunk)) as ntok_p, " +
          s"$hashFrag as ph))) as p")
      .selectExpr("doc_id", "p.i as i", "p.ntok_p as ntok_p", "p.ph as ph")
    val boiler = passages.groupBy("ph")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > maxDocs)
      .select(col("ph"), lit(true).as("_boiler"))
    passages.join(boiler, Seq("ph"), "left")
      .select(col("doc_id"), col("i"), col("ntok_p"), col("ph"),
        col("_boiler").isNull.as("keep"))
  }

  /** Maximal duplicated spans per document: (doc_id, span_start,
    * span_end, n_windows) where [span_start, span_end) is a token
    * interval (0-based, end-exclusive) covered by merged `k`-token
    * windows whose hash occurs at least `minCount` times corpus-wide.
    * Windows are stride-1 over the lowercased whitespace tokens; docs
    * shorter than `k` tokens produce no windows. Overlapping AND
    * contiguous flagged windows merge into one span (gaps-and-islands:
    * a window opens a new span iff its start exceeds the running max
    * end of every earlier flagged window in the doc).
    *
    * Scale: window text is hashed inside the scan projection and
    * dropped — only (doc_id, i, hash) longs reach the frequency rollup
    * (map-side combined) and the flag join (keyed on the hash); span
    * merging is one doc-sharded window exchange of int pairs. Shared by
    * the gated dd18 query and `Dedup.duplicatedSpans`/`removeSpans`.
    */
  private[graft] def dupWindowSpans(docs: DataFrame, k: Int = 16,
      minCount: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashFrag = P.hash60(
      s"concat('es|', array_join(slice(toks, i + 1, $k), ' '))")
    // spread: the stride-1 window hashing is the dominant per-task cost
    // and the fixture scan is one split (r18). persist: BOTH consumers
    // (the frequency rollup and the flag join) otherwise re-run the
    // whole hash pipeline — their exchanges differ (partial-agg vs
    // plain), so ReusedExchange never applies. Caller clearCache frees.
    val windows = T.spread(docs)
      .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks")
      .selectExpr("doc_id",
        s"explode(case when size(toks) < $k then array() else " +
          s"transform(sequence(0, size(toks) - $k), " +
          s"i -> struct(i as i, $hashFrag as wh)) end) as p")
      .selectExpr("doc_id", "p.i as i", "p.wh as wh")
      .persist()
    val dups = windows.groupBy("wh")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select("wh")
    val flagged = windows.join(dups, "wh").select("doc_id", "i")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val prevEnd = max(col("i") + k)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("ns",
        when(col("i") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("sid",
        sum("ns").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "sid")
      .agg(min("i").as("span_start"), (max("i") + k).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }
}
