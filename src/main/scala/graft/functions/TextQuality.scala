package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C4-style text-quality filtering: keep documents inside configurable
  * bands of token count, mean token length, punctuation density, and
  * stopword ratio — the composition of the tx01–tx03 signals as a single
  * codegen'd predicate (no UDF, no shuffle).
  */
object TextQuality {

  final case class Thresholds(
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      minAvgTokenLen: Double = 2.0,
      maxAvgTokenLen: Double = 12.0,
      maxPunctRatio: Double = 0.2,
      minStopwordRatio: Double = 0.0)

  private val stopwords = "'the','a','of','and','to'"

  /** Boolean quality predicate over the named text column. */
  def isQuality(textCol: String, t: Thresholds = Thresholds()): Column = {
    val toks = split(lower(col(textCol)), "\\s+")
    val ntok = size(toks)
    val len = length(col(textCol))
    val punct = len - length(regexp_replace(col(textCol), "[.,;:!?]", ""))
    val stops = expr(
      s"size(filter(split(lower($textCol), '\\\\s+'), w -> w in ($stopwords)))")
    ntok.between(t.minTokens, t.maxTokens) &&
      (len.cast("double") / ntok)
        .between(t.minAvgTokenLen, t.maxAvgTokenLen) &&
      (punct.cast("double") / len) <= t.maxPunctRatio &&
      (stops.cast("double") / ntok) >= t.minStopwordRatio
  }

  /** Filter a documents frame on the quality predicate. */
  def filterQuality(df: DataFrame, textCol: String = "text",
      t: Thresholds = Thresholds()): DataFrame =
    df.filter(isQuality(textCol, t))

  /** Gopher-style composite quality rules (Rae et al. 2021, adapted to
    * the signals the corpus carries): per document, one boolean flag per
    * rule plus the conjunction. All-INTEGER arithmetic (ratio bounds are
    * multiplied out) so the verdicts are bit-identical across engines,
    * and the whole thing is one codegen'd scan projection — no shuffle,
    * no UDF. Rules:
    *   r_wc    30 ≤ ntok ≤ 100000          (word-count band)
    *   r_len   3·ntok ≤ nchar ≤ 10·ntok    (mean token length band)
    *   r_stop  20·nstop ≥ ntok             (stopword ratio ≥ 5%)
    *   r_dist  10·ndistinct ≥ 3·ntok       (type/token ratio ≥ 0.3)
    *   r_rep   4·maxfreq ≤ ntok            (no token above 25% of doc)
    * Shared by the gated tx13 query (which carries the DuckDB oracle).
    */
  /** The gopher signal/rule expression lists, shared between
    * `gopherFlags` and `Curation.fullLedger` so the rules can't drift.
    * Signals project over `_text`/`_toks` columns; rules over the
    * signal columns.
    */
  private[graft] val gopherSignalExprs: Seq[String] = Seq(
    "size(_toks) as _ntok",
    "length(_text) as _nchar",
    "size(array_distinct(_toks)) as _ndist",
    "array_max(transform(array_distinct(_toks), " +
      "w -> size(filter(_toks, t -> t = w)))) as _maxfreq",
    s"size(filter(_toks, w -> w in ($stopwords))) as _nstop")
  private[graft] val gopherRules: Seq[(String, String)] = Seq(
    "_ntok between 30 and 100000" -> "r_wc",
    "3 * _ntok <= _nchar and _nchar <= 10 * _ntok" -> "r_len",
    "20 * _nstop >= _ntok" -> "r_stop",
    "10 * _ndist >= 3 * _ntok" -> "r_dist",
    "4 * _maxfreq <= _ntok" -> "r_rep")
  /** The conjunction of all rules, usable inline (no aliases). */
  private[graft] val gopherConjExpr: String =
    gopherRules.map(_._1).mkString("(", ") and (", ")")

  def gopherFlags(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.Tables.spread(df).selectExpr(idCol,
        s"$textCol as _text", s"split(lower($textCol), '\\\\s+') as _toks")
      .selectExpr(idCol +: gopherSignalExprs: _*)
      .selectExpr(idCol +: gopherRules.map { case (e, a) => s"$e as $a" }: _*)
      .selectExpr(idCol, "r_wc", "r_len", "r_stop", "r_dist", "r_rep",
        "r_wc and r_len and r_stop and r_dist and r_rep as pass")

  /** Integer-logit quality classifier features (per-mille normalized)
    * and the linear score — the classifier-based filtering shape
    * (fastText/DCLM-style) with plan-literal weights standing in for
    * imported learned ones: the production path swaps the constants for
    * trained weights, the plan (feature projection + linear score in
    * one codegen'd scan, zero shuffle) is identical. Shared by the
    * gated cu06 query and `classifierScore`.
    */
  private[graft] val classifierFeatureExprs: Seq[String] = Seq(
    "least(_ntok, 1000) as f_wc",
    "(100 * _nchar) div _ntok as f_len",
    "(1000 * _nstop) div _ntok as f_stop",
    "(1000 * _ndist) div _ntok as f_dist",
    "(1000 * _maxfreq) div _ntok as f_rep")
  private[graft] val classifierLogitExpr: String =
    "f_wc + 2 * f_stop + 3 * f_dist - 4 * f_rep - 2 * abs(f_len - 550) - 1000"

  /** Classifier-based quality filtering: one integer logit per document
    * (f_wc + 2·f_stop + 3·f_dist − 4·f_rep − 2·|f_len − 550| − 1000
    * over per-mille-normalized gopher signals), `keep` = logit > 0.
    * Returns (idCol, logit_x1000, keep). Soft additive scoring where
    * tx13's gopher rules are hard conjunctions — a doc slightly off on
    * one signal can buy it back on another.
    */
  def classifierScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.selectExpr(idCol,
        s"$textCol as _text", s"split(lower($textCol), '\\\\s+') as _toks")
      .selectExpr(idCol +: gopherSignalExprs: _*)
      .selectExpr(idCol +: classifierFeatureExprs: _*)
      .selectExpr(idCol,
        s"cast($classifierLogitExpr as bigint) as logit_x1000")
      .selectExpr(idCol, "logit_x1000", "logit_x1000 > 0 as keep")

  /** PII patterns (Java + RE2 compatible — both engines agree): emails,
    * dotted-quad IPv4, and NANP-style 555-prefixed phone numbers. The
    * pattern set is deliberately conservative/high-precision (the shape
    * a compliance scrub wants): each is anchored on `\b` word
    * boundaries so partial tokens don't match. Shared by the gated
    * tx17 query and `redactPii` so detection and redaction can't drift.
    */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b555-\\d{4}\\b", "<PHONE>"))

  /** PII detection + redaction over a text column: adds one match-count
    * column per pattern (`n_emails`, `n_ipv4`, `n_phones`), a `has_pii`
    * flag, and a `redacted` column with every match replaced by its
    * placeholder (email → ip → phone order, fixed so engines agree).
    * Pure codegen'd scan projection — no shuffle, no UDF; at 100 TB
    * this is a map-only pass the scrub step fuses into the scan.
    */
  /** Code-vs-prose signals: `{}();=` symbol count (translate-delta, no
    * regex engine in the loop), `//` comment-marker count, symbol
    * density in ppm, and the `is_code` verdict (sym_ppm > `thresholdPpm`
    * — 1.5% symbol mass by default; prose sits near zero, real code
    * 3-10%). The mixture-routing signal that sends code to a code
    * pipeline and prose to dedup/quality scoring. All-integer
    * arithmetic; one codegen'd scan projection, zero shuffle. The gated
    * tx21 query IS this function over augmented text.
    */
  def codeSignals(df: DataFrame, textCol: String = "text",
      thresholdPpm: Long = 15000L): DataFrame =
    df
      .withColumn("n_sym", expr(
        s"cast(length($textCol) - length(translate($textCol, '{}();=', '')) as bigint)"))
      .withColumn("n_comment", expr(
        s"cast((length($textCol) - length(replace($textCol, '//', ''))) div 2 as bigint)"))
      .withColumn("sym_ppm",
        expr(s"(1000000 * n_sym) div length($textCol)"))
      .withColumn("is_code", col("sym_ppm") > thresholdPpm)

  /** Integer-exact Flesch-reading-ease proxy: whitespace word count,
    * sentence count (`.!?` translate-delta, floored at 1 so fragments
    * still score), and a syllable proxy — maximal vowel runs
    * (`[aeiou]+`), with the DOCUMENT total floored at the word count
    * (an aggregate floor — cheaper than Flesch's per-word floor and
    * identical unless vowel-less tokens and polysyllables mix, where
    * this scores slightly easier).
    * score_x1000 carries the Flesch constants ×1000 with integer `div`
    * only, so the score is bit-identical on any engine (the standard
    * formula's IEEE divisions are not). Bands at the conventional 60/30
    * cut-points. The gated tx23 query IS this function over augmented
    * text. Scale: one codegen'd scan projection, zero shuffle.
    */
  def readability(df: DataFrame, textCol: String = "text"): DataFrame = {
    val score = "206835 - (1015 * n_words) div n_sents" +
      " - (84600 * greatest(n_syll, n_words)) div n_words"
    df
      .withColumn("n_words", expr(
        s"cast(size(split(lower($textCol), '\\\\s+')) as bigint)"))
      .withColumn("n_sents", expr(
        s"cast(greatest(1, length($textCol) - length(translate($textCol, '.!?', ''))) as bigint)"))
      .withColumn("n_syll", expr(
        s"cast(size(regexp_extract_all(lower($textCol), '[aeiou]+', 0)) as bigint)"))
      .withColumn("score_x1000", expr(score))
      .withColumn("band", expr(
        s"case when score_x1000 >= 60000 then 'easy' " +
          "when score_x1000 >= 30000 then 'standard' " +
          "else 'difficult' end"))
  }

  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (acc, (name, pat, _)) =>
      acc.withColumn(countColFor(name), regexp_count(col(textCol), lit(pat)))
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
    }
    counted
      .withColumn("has_pii",
        piiPatterns.map(p => col(countColFor(p._1)) > 0).reduce(_ || _))
      .withColumn("redacted", redacted)
  }

  /** Mojibake sequences: UTF-8 bytes of a non-ASCII char mis-decoded as
    * cp1252/latin-1 (the classic double-encoding corruption in scraped
    * corpora). Each entry maps the corrupted literal back to the
    * intended char. LITERAL string pairs, not regexes — `replace` is a
    * plain codegen'd string scan on both engines. Ordered longest-first
    * so 3-byte sequences ('â€™') repair before any 2-byte prefix could.
    * Shared by the gated tx20 query and `fixMojibake` so detection and
    * repair can't drift.
    */
  private[graft] val mojibakePairs: Seq[(String, String)] = Seq(
    ("â€™", "’"), // â€™ -> ’ (right single quote)
    ("â€”", "—"), // â€” -> — (em dash)
    ("Ã©", "é"), // Ã© -> é
    ("Ã¯", "ï")) // Ã¯ -> ï

  /** Mojibake detection + repair over a text column: adds `n_moji`
    * (total corrupted-sequence occurrences, counted via the
    * length-delta of a literal replace — no regex), `has_moji`, and a
    * `repaired` column with every sequence mapped back to its intended
    * character (longest-first order, fixed so engines agree). Pure
    * codegen'd scan projection — no shuffle, no UDF; at 100 TB this
    * fuses into the ingest scan like `redactPii`.
    */
  def fixMojibake(df: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = mojibakePairs.map { case (bad, _) =>
      (length(col(textCol)) - length(
        org.apache.spark.sql.functions.replace(
          col(textCol), lit(bad), lit("")))) / lit(bad.length)
    }
    val repaired = mojibakePairs.foldLeft(col(textCol)) {
      case (c, (bad, good)) =>
        org.apache.spark.sql.functions.replace(c, lit(bad), lit(good))
    }
    df.withColumn("n_moji", counts.reduce(_ + _).cast("long"))
      .withColumn("has_moji", col("n_moji") > 0)
      .withColumn("repaired", repaired)
  }

  /** Trigram stupid-backoff scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation", adapted to the
    * integer-exact gate): score every `eval` document against an LM
    * trained on `train` — per trigram occurrence,
    * floor(1e6·C₃/C₂) when the trigram was seen in training, else
    * floor(0.4·1e6·C₂/C₁) over the trailing bigram, else
    * floor(0.4²·1e6·C₁/N) over the last unigram, else 0 — summed per
    * document (log-free, all-integer, so engines agree bit-for-bit).
    * Unlike tx16's self-trained bigram LM, this is the HELD-OUT shape:
    * score incoming data against a trusted corpus, where the backoff
    * chain actually fires. Returns (idCol, n_trigrams, backoff_x1e6)
    * for eval docs with ≥ 3 tokens.
    *
    * Scale: n-gram count tables are map-side-combined aggs bounded by
    * the training vocabulary; the per-occurrence joins hash-partition
    * on token keys (broadcast when the LM fits); the per-doc sum
    * partial-aggregates before its exchange — text never shuffles.
    * Deliberately no persist: the three count aggs re-run the tokenize
    * scan, a map-only codegen'd pass cheaper than pinning a
    * corpus-sized cache (same trade as `Sampling.importanceWeights`).
    */
  def backoffScore(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, n: Int, cols: Seq[String]): DataFrame = {
      val struct = cols.zipWithIndex
        .map { case (c, j) => s"element_at(toks, i + $j) as $c" }
        .mkString("struct(", ", ", ")")
      graft.Tables.spread(df).selectExpr(s"$idCol as doc_id",
          s"split(lower($textCol), '\\\\s+') as toks")
        .selectExpr("doc_id",
          s"explode(case when size(toks) >= $n then " +
            s"transform(sequence(1, size(toks) - ${n - 1}), i -> $struct) " +
            "else array() end) as g")
        .selectExpr("doc_id" +: cols.map(c => s"g.$c as $c"): _*)
    }
    val tr3 = grams(train, 3, Seq("w1", "w2", "w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val tr2 = grams(train, 2, Seq("w1", "w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val tr1 = grams(train, 1, Seq("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val tot = tr1.agg(sum("c1").cast("long").as("n"))
    val ev = grams(eval, 3, Seq("w1", "w2", "w3"))
    ev.join(tr3, Seq("w1", "w2", "w3"), "left")
      .join(tr2.select(col("w1").as("f1"), col("w2").as("f2"),
        col("c2").as("c2f")),
        col("w1") === col("f1") && col("w2") === col("f2"), "left")
      .join(tr2.select(col("w1").as("b1"), col("w2").as("b2"),
        col("c2").as("c2b")),
        col("w2") === col("b1") && col("w3") === col("b2"), "left")
      .join(tr1.select(col("w1").as("u1"), col("c1").as("c1b")),
        col("w2") === col("u1"), "left")
      .join(tr1.select(col("w1").as("v1"), col("c1").as("c1c")),
        col("w3") === col("v1"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr("doc_id",
        "case when c3 is not null then (1000000 * c3) div c2f " +
          "when c2b is not null then (400000 * c2b) div c1b " +
          "when c1c is not null then (160000 * c1c) div n " +
          "else 0L end as s")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        sum("s").cast("long").as("backoff_x1e6"))
      .withColumnRenamed("doc_id", idCol)
  }

  private[graft] def countColFor(name: String): String = name match {
    case "email" => "n_emails"
    case "ipv4" => "n_ipv4"
    case "phone" => "n_phones"
    case other => s"n_$other"
  }
}

/** Dedup driver APIs — function-shaped entry points over the plans the
  * dd* queries pin (users call these; the queries carry the oracles).
  */
object Dedup {
  import graft.{Portable => P}

  /** Star-round count of the MOST RECENT connectedComponents call in
    * this JVM — a diagnostic for the scale smoke's round-flatness
    * evidence (CC rounds must stay ~log n, independent of data volume).
    * 0 when no star round ran: either the input edge set was already a
    * star forest, or it fit the broadcast budget and the driver finished
    * it with union-find. A value ≥ 1 means the star-round path ran.
    * Last-writer-wins under concurrency; never consumed by query logic.
    */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** Exact dedup on a content digest: first row (min of `keep`) per
    * distinct value of `col`. The payload never shuffles — only the
    * 60-bit digest and the keep-key move.
    */
  def exact(df: DataFrame, textCol: String, keepCol: String): DataFrame = {
    val keyed = df.withColumn("_h", expr(P.hash60(textCol)))
    val keepers = keyed.groupBy("_h")
      .agg(min(col(keepCol)).as(keepCol))
      .withColumnRenamed(keepCol, "_keep")
    keyed.join(keepers, keyed("_h") === keepers("_h") && col(keepCol) === col("_keep"))
      .drop("_h", "_keep")
  }

  /** URL canonicalization for URL-keyed dedup: adds `canon_url` — the
    * aggressive normal form corpus dedup keys on. Policy, applied in
    * this fixed order on both engines: (1) lowercase (scheme and host
    * are case-insensitive; the aggressive variant folds the whole URL),
    * (2) strip the `#fragment`, (3) strip a tracking-only query string
    * (one starting `?utm`), (4) fold `www.` into the bare host,
    * (5) strip a trailing slash. Literal/anchored string ops only —
    * a pure codegen'd scan projection, no regex backtracking risk, no
    * shuffle. Shared by the gated dd19 query so API and oracle agree.
    */
  def canonicalizeUrls(df: DataFrame, urlCol: String = "url"): DataFrame =
    df.withColumn("canon_url", expr(canonUrlFrag(urlCol)))

  /** Spark-side SQL fragment computing the canonical form of `c`
    * (DuckDB twin: [[duckCanonUrlFrag]] — same ops, same order).
    */
  private[graft] def canonUrlFrag(c: String): String =
    s"""regexp_replace(replace(regexp_replace(regexp_replace(
       |  lower($c),
       |  '#.*$$', ''),
       |  '\\\\?utm[_a-z0-9=&-]*$$', ''),
       |  '://www.', '://'),
       |  '/$$', '')""".stripMargin

  private[graft] def duckCanonUrlFrag(c: String): String =
    s"""regexp_replace(replace(regexp_replace(regexp_replace(
       |  lower($c),
       |  '#.*$$', ''),
       |  '\\?utm[_a-z0-9=&-]*$$', ''),
       |  '://www.', '://'),
       |  '/$$', '')""".stripMargin

  /** MinHash-LSH near-dup candidate pairs over a text column (the
    * dd03/dd04 plan as a function): returns distinct (a_id, b_id) pairs
    * that collide in ANY of the b=4 (r=1) band buckets — multi-band
    * banding, P[candidate] = 1-(1-s^r)^b, the standard recall knob.
    *
    * Delegates to the exact machinery the gated dd04 query runs
    * (DedupOps.r1Bands + cappedBandPairs): same single-md5 Broder hash
    * family and the same bucket cap, so the API result equals dd04's and
    * a template flood can't make the pair output quadratic.
    */
  def nearDupCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.operators.DedupOps
    DedupOps.cappedBandPairs(DedupOps.r1Bands(df, idCol, textCol).persist())
  }

  /** Contamination audit — per TRAIN document, how many of its distinct
    * 3-token shingles also appear anywhere in the `heldout` set (dd12's
    * benchmark-leak audit as a function). Only 60-bit shingle hashes
    * shuffle; the held-out side reduces to a distinct hash set.
    * Delegates to the machinery the gated dd12 query runs.
    */
  def contamination(train: DataFrame, heldout: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import graft.operators.DedupOps
    val te = DedupOps.shingleHashes(heldout, idCol, textCol)
      .select("sng").distinct()
    DedupOps.shingleHashes(train, idCol, textCol)
      .join(te, "sng")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Incremental NEAR-dup admission — dd11's incremental exact dedup
    * lifted to MinHash: admit only the `batch` rows sharing NO r=1 band
    * bucket with the existing `corpus` (candidate-level near-dup, the
    * dd04 sensitivity). Returns the admitted batch ids.
    *
    * Scale: this is anti-join shaped, not pair shaped — the corpus side
    * reduces to DISTINCT (band, key) longs, so there is no pair
    * enumeration and no bucket cap needed: a boilerplate bucket of any
    * size is one key row. Only band keys shuffle; text never does.
    * Delegates to the machinery the gated dd15 query runs.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import graft.operators.DedupOps
    val cKeys = DedupOps.r1Bands(corpus, idCol, textCol)
      .select("band", "h").distinct() // one pass into the distinct

    val bBands = DedupOps.r1Bands(batch, idCol, textCol).persist() // read twice
    val rejected = bBands.join(cKeys, Seq("band", "h"), "left_semi")
      .select("doc_id").distinct()
    bBands.select("doc_id").distinct()
      .join(rejected, Seq("doc_id"), "left_anti")
      .withColumnRenamed("doc_id", idCol)
  }

  /** Near-dup dedup CLUSTERS over a text column — the dd08 plan as a
    * function: minhash r=1 bands → capped pair edges + linear STAR edges
    * for oversized buckets (template floods cluster exactly at O(bucket)
    * cost) → min-label connected components. Returns (idCol, cluster_id);
    * keep `cluster_id = id` rows for the deduplicated corpus. Delegates
    * to the exact machinery the gated dd08 query runs.
    */
  def clusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.DedupOps.clusterLabels(df, idCol, textCol)

  /** Incremental cluster-label maintenance — assign batch docs to
    * existing corpus clusters via the corpus (band, bucket) → label
    * rollup, flagging would-merges (`n_matched_clusters ≥ 2`) and new
    * singletons (`is_new = 1`, exactly [[incrementalNearDup]]'s admitted
    * set). Returns (idCol, label, n_matched_clusters, is_new); delegates
    * to the machinery the gated dd27 query runs.
    */
  def incrementalLabels(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.DedupOps.incrementalLabels(corpus, batch, idCol, textCol)

  /** Asymmetric containment verification of LSH candidate pairs —
    * c(A→B) = |A∩B|/|A| over distinct 3-shingle hashes, both directions
    * plus a verdict ('a_in_b'/'b_in_a' for ≥80%-contained sides leading
    * by ≥20 points, else 'mutual'). Catches quote/subset duplication
    * that symmetric Jaccard misses (a doc fully contained in a longer
    * one has low Jaccard but containment 1). Returns (a_id, b_id,
    * c_ab_x10000, c_ba_x10000, verdict). Delegates to the exact
    * machinery the gated dd21 query runs; caller clearCache releases
    * the shingle persists (bench/verify contract).
    */
  def containment(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.DedupOps.containmentPairs(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Passage-level near-dup pairs — dd10's SimHash machinery one level
    * down the granularity ladder: aligned 8-token passages get 60-bit
    * tie-broken token-majority signatures (4-4 majority ties break on
    * the XOR-fold of the token hashes, keeping bits exactly unbiased),
    * 4×15-bit pigeonhole bands (Hamming ≤ 3
    * agrees on some band), capped buckets, exact Hamming verify on two
    * longs. Catches lightly-edited boilerplate (a date or name swapped
    * per instance) that exact passage hashing (`prunePassages`) misses.
    * Returns (a_id, a_idx, b_id, b_idx, hamming), a_id < b_id.
    * Delegates to the exact machinery the gated dd23 query runs; caller
    * clearCache releases the signature/band persists.
    */
  def passageNearDup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.DedupOps.passageNearDupPairs(
      df.selectExpr(s"$idCol as doc_id", s"lower($textCol) as text"))

  /** Content-defined chunking (the rsync/LBFS boundary rule): a chunk
    * boundary after every position whose 8-char window hash ≡ 0
    * (mod `mask`, default 64 → ~64-char expected chunks). Cut points
    * depend only on content, so an insertion shifts one chunk instead
    * of re-slicing the document — the unit of a dedup store or an
    * incremental dataset diff. Returns (idCol, chunk_idx, pos, clen,
    * chunk_hash) tiling each lowercased document contiguously.
    * Delegates to the exact machinery the gated dd24 query runs; the
    * whole pass is one codegen'd scan projection, zero shuffle.
    */
  def cdcChunks(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", mask: Int = 64): DataFrame =
    graft.operators.DedupOps.cdcChunkRows(
      df.selectExpr(s"$idCol as doc_id", s"$textCol as text"), mask)
      .withColumnRenamed("doc_id", idCol)

  /** SOFT dedup: per-document sampling weights that down-weight
    * near-duplicate clusters instead of dropping members — weight_ppm =
    * 10⁶ div cluster_size, so each cluster contributes ~one document's
    * worth of sampling mass however many copies exist (the "keep
    * everything, reweight the sampler" alternative to hard keeper
    * selection; preserves benign variation that min-id dropping loses).
    * Returns (idCol, cluster_id, cluster_size, weight_ppm). Rides dd08's
    * exact clustering machinery; the only added exchange is the
    * per-cluster count window over (id, label) longs.
    */
  def softWeights(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.DedupOps.clusterLabels(df, idCol, textCol)
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")))
      .selectExpr(idCol, "cluster_id",
        "cast(cluster_size as bigint) as cluster_size",
        "1000000 div cluster_size as weight_ppm")

  /** Winnowing-overlap contamination candidates over a text column —
    * the tx12 plan as a function: native `winnow_fps` selection (MOSS
    * rolling-hash fingerprints, zero shuffle), then pairs sharing
    * ≥ `minShared` fingerprints with boilerplate buckets capped.
    * Returns (a_id, b_id, n_shared), a < b. Delegates to the exact
    * machinery the gated tx12 query runs.
    */
  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
      minShared: Int = 5): DataFrame =
    TextOps.winnowOverlap(
      TextOps.winnowFps(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text"))),
      minShared)

  /** Passage-level boilerplate pruning — the dd17 plan as a function:
    * chunk each document into consecutive `chunk`-token passages of the
    * LOWERCASED text, drop every passage whose hash occurs in more than
    * `maxDocs` distinct documents, and rebuild the surviving text.
    * Returns (idCol, pruned, n_toks_kept); `pruned` is the lowercased
    * concatenation of kept passages in document order (empty string when
    * everything was boilerplate). Delegates to the flag machinery the
    * gated dd17 query aggregates.
    *
    * Scale: the flag pass shuffles only long columns; reconstruction
    * joins the per-doc kept-index ARRAY (ints) back to the documents and
    * re-slices the token array locally — the text crosses exactly one
    * co-partitioned exchange, which any full-corpus rewrite pays anyway.
    */
  def prunePassages(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunk: Int = 8, maxDocs: Int = 2): DataFrame = {
    import graft.operators.DedupOps
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val kept = DedupOps.passageFlags(docs, chunk, maxDocs)
      .filter(col("keep"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list("i")).as("_kept_idx"),
        sum("ntok_p").cast("long").as("n_toks_kept"))
    docs.join(kept, Seq("doc_id"), "left")
      .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks",
        "coalesce(_kept_idx, array()) as ki",
        "coalesce(n_toks_kept, 0L) as n_toks_kept")
      .selectExpr("doc_id",
        s"array_join(flatten(transform(ki, i -> slice(toks, i * $chunk + 1, $chunk))), ' ') as pruned",
        "n_toks_kept")
      .withColumnRenamed("doc_id", idCol)
  }

  /** Exact duplicated-span detection (Lee et al. 2021 ExactSubstr,
    * Spark-native): maximal token intervals [span_start, span_end)
    * covered by `k`-token stride-1 windows whose hash occurs at least
    * `minCount` times corpus-wide — cross-document boilerplate and
    * within-document repetition alike. Returns one row per span
    * (idCol, span_start, span_end, n_windows). Resolution is k tokens:
    * a shared substring shorter than k is never flagged, one of length
    * L ≥ k is caught with its full extent (L − k + 1 flagged windows
    * merge back to the L-token interval). Delegates to the machinery
    * the gated dd18 query aggregates.
    */
  def duplicatedSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, minCount: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    graft.operators.DedupOps
      .dupWindowSpans(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")), k, minCount)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Rewrite the corpus with every duplicated span removed: returns
    * (idCol, pruned, n_toks_kept) where `pruned` is the lowercased
    * text minus all `duplicatedSpans` intervals (document order kept,
    * empty string when the whole doc was duplicated). The span list per
    * doc is a small int-pair array carried through one co-partitioned
    * join; token filtering happens locally in an array HOF.
    */
  def removeSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, minCount: Int = 2): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val spans = graft.operators.DedupOps.dupWindowSpans(docs, k, minCount)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    docs.join(spans, Seq("doc_id"), "left")
      .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks",
        "coalesce(sp, array()) as sp")
      .selectExpr("doc_id",
        "filter(transform(toks, (t, j) -> struct(t as t, j as j)), " +
          "p -> !exists(sp, q -> p.j >= q.s and p.j < q.e)) as kept")
      .selectExpr("doc_id",
        "array_join(transform(kept, p -> p.t), ' ') as pruned",
        "cast(size(kept) as bigint) as n_toks_kept")
      .withColumnRenamed("doc_id", idCol)
  }

  /** Per-document n-gram novelty (the data-pruning selection signal):
    * (idCol, d_hashes, d_novel, novelty_ppm) — the share of the doc's
    * distinct `k`-gram hashes that first appear in it (first = lowest
    * id, the deterministic ingestion-order stand-in). Delegates to the
    * gated tx22 machinery so the API and the oracle-checked query can
    * never diverge.
    */
  def novelty(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.TextOps.noveltyScores(df, idCol, textCol, k)
      .withColumnRenamed("doc_id", idCol)
  }

  /** Connected components over an undirected pair graph: every node gets
    * `cluster_id` = min node id in its component (nodes absent from
    * `pairs` are singletons labeling themselves; `pairs` endpoints are
    * expected to reference `nodes` ids). Alternating large-star /
    * small-star (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    * "Connected Components in MapReduce and Beyond", SoCC '14): the edge
    * set converges to per-component STARS centered at the minimum id in
    * O(log² n) rounds INDEPENDENT OF GRAPH DIAMETER. Min-label
    * propagation (the previous implementation) needed diameter rounds —
    * unbounded for chain-shaped near-dup graphs (doc A ~ B ~ C under
    * gradual drift), the one remaining scale cliff at 100 TB. Each round
    * shuffles only (long, long) edge pairs, exactly ONCE per star step:
    * the neighborhood minimum rides an ascending-v window (running
    * first(v) ≡ partition min) instead of a groupBy + join that crossed
    * the wire twice, and a hub's neighborhood is only ever a sorted
    * spill-safe run inside its window partition — the sort the old
    * sort-merge join paid anyway — never an in-memory neighbor list.
    * Convergence is tested DIRECTLY (star-forest check on the new edge
    * set: out-degree 1 and leaf/center disjointness — one map-side-
    * combinable aggregation) rather than by comparing fingerprints
    * across rounds, which always paid one full extra confirming round.
    *
    *   large-star: ∀u, connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    *   small-star: ∀u (edges directed big→small), connect every smaller
    *               neighbor and u itself to m = min(Γ⁻(u) ∪ {u})
    *
    * Both steps preserve components and never move an edge's small end
    * below the component minimum; an edge set fixed under BOTH is exactly
    * a star forest, whose centers are the component minima.
    *
    * Path selection: the first star-forest check also sums the edge
    * count E (no extra job). An input that is already a star forest
    * needs no work. Otherwise, when the (long, long) edge set fits the
    * broadcast budget — E × 16 B ≤ `spark.sql.autoBroadcastJoinThreshold`
    * — the edges are collected and the DRIVER finishes the components
    * with union-find, whose (node, min id) rows join back like the
    * rounds' star edges. Only larger edge sets pay the star rounds, so a
    * threshold of -1 ("never ship a relation to every executor") always
    * selects them. `lastCcRounds` tells the paths apart (0 vs ≥ 1).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    // fail FAST on non-integral ids: cast("long") on e.g. a string id
    // column yields NULL for every node, the NULL labels "converge"
    // immediately, and every downstream keep/drop decision silently
    // corrupts. String/UUID ids should be hashed to long first
    // (graft.Portable.hash60). Match on DataType, not simpleString —
    // Spark renders ByteType as "tinyint", never "byte".
    nodes.schema(nodes.schema.fieldIndex(idCol)).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"connectedComponents needs an integral id column; '$idCol' is " +
          s"${t.simpleString} — hash non-numeric ids to long first " +
          "(e.g. Portable.hash60)")
    }
    // Direct star-forest convergence test (r18): a distinct big→small
    // edge set is a star forest ⟺ (a) every leaf u has out-degree 1 and
    // (b) no node is both a leaf (u side) and a center (v side). Both
    // star steps are provably no-ops exactly on star forests (the
    // fixpoint characterization in the scaladoc), so testing the NEW
    // edge set directly saves the full confirming round the previous
    // fingerprint-comparison convergence always paid — and an input
    // that is ALREADY a star forest (e.g. saved min-id labels) now
    // converges in zero rounds. One map-side-combinable aggregation,
    // whose collect also materializes the lazily-checkpointed frame.
    // Returns (violating nodes, edges): Σ od over the groups is the edge
    // count, which sizes the driver finish below at no extra job.
    def starForestViolations(e: DataFrame): (Long, Long) = {
      val r = e.select(explode(array(
          struct(col("u").as("n"), lit(1L).as("od"), lit(0).as("ctr")),
          struct(col("v").as("n"), lit(0L).as("od"), lit(1).as("ctr")))).as("x"))
        .select(col("x.n").as("n"), col("x.od").as("od"), col("x.ctr").as("ctr"))
        .groupBy("n")
        .agg(sum("od").as("od"), max("ctr").as("ctr"))
        .agg(
          count(when(col("od") > 1 || (col("od") >= 1 && col("ctr") === 1), 1)),
          coalesce(sum("od"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // direct every edge big→small (the small-star orientation; large-star
    // symmetrizes internally). localCheckpoint TRUNCATES lineage each
    // round — without it round k's plan embeds round k−1's several times
    // over, i.e. exponential plan growth that OOMs the driver. LAZY
    // (eager=false) everywhere: under AQE the exchanges still execute at
    // build time (toRdd materializes intermediate stages), but the final
    // stage of each frame is deferred into the convergence-test collect —
    // one fewer result pass per frame and no standalone count jobs.
    // Executor-local blocks are fine for iterative temp state on one
    // host, but a lost executor (preemption, dynamic allocation) makes
    // them unrecoverable and fails the job; a cluster deployment that
    // must survive executor loss should set spark.checkpoint.dir and use
    // reliable Dataset.checkpoint() instead — same lineage cut.
    var edges = pairs
      .select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false) // the star test below forces it; cuts pair-derivation lineage
    val (violations, edgeCount) = starForestViolations(edges)
    // Driver finish: an edge set that fits the broadcast budget (two
    // longs per edge, the same bytes a broadcast would ship) is collected
    // once and finished with union-find — one collect job in place of
    // ~log n rounds of a few jobs each. The array-index bound keeps the
    // 2E-slot id array addressable under an outsized threshold.
    val spark = nodes.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val onDriver = violations > 0 && edgeCount * 16 <= threshold && edgeCount < (1L << 30)
    var converged = violations == 0L
    var rounds = 0
    // Empirical safety margin, not the O(log² n) worst-case bound (which
    // is ~4096 for a 2⁶⁴-node graph): alternating star rounds converge in
    // ~log n rounds in practice, and non-convergence past the cap fails
    // loudly below rather than looping forever.
    val maxRounds = 64
    // Both star steps compute per-u-neighborhood minima. An ASCENDING-v
    // window per u gives that minimum as first("v") (running first ≡
    // partition min under the sort) and a row_number in the SAME spec —
    // ONE exchange + ONE sort per step, where the previous groupBy+join
    // form shipped the frame across the wire twice (agg exchange + join
    // exchange) and sorted it anyway inside the sort-merge join (r18;
    // guide §2.3/§2.4 — same keyed work, one exchange instead of two).
    val wuv = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("v")
    while (!onDriver && !converged && rounds < maxRounds) {
      rounds += 1
      // large-star: attach each strictly-larger neighbor v of u to
      // m = min(Γ(u) ∪ {u}). The window runs over the FULL symmetrized
      // neighborhood (filter after, so m sees every neighbor). Output
      // stays directed big→small (m ≤ u < v). Duplicates are NOT
      // scrubbed here — each sym row emits at most one edge, so the
      // frame stays ≤ |sym| rows and the next step's distinct collapses
      // them; consumed exactly once, so no checkpoint either.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val large = sym
        .select(col("u"), col("v"), least(col("u"), first("v").over(wuv)).as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: attach every smaller neighbor AND u itself to the
      // smallest neighbor (all of Γ(u) is < u here, so min(Γ(u)) = m).
      // The rn=1 row additionally emits (u, m) — the row_number rides
      // the same window spec, so the whole step is one sort.
      val small = large
        .select(col("u"), col("v"), first("v").over(wuv).as("m"),
          row_number().over(wuv).as("rn"))
        .select(explode(when(col("rn") === 1,
            array(struct(col("v").as("eu"), col("m").as("ev")),
              struct(col("u").as("eu"), col("m").as("ev"))))
          .otherwise(array(struct(col("v").as("eu"), col("m").as("ev"))))).as("e"))
        .select(col("e.eu").as("u"), col("e.ev").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val smallCp = small.localCheckpoint(false)
      // converged ⟺ the new edge set is a star forest — the exact
      // fixpoint of both steps — tested directly on `small` (one
      // aggregation job per round, which also truncates the lineage).
      converged = starForestViolations(smallCp)._1 == 0L
      edges = smallCp
    }
    // an edge set still changing past maxRounds would yield labels above
    // the true component minimum. Fail loudly: silently wrong keep/drop
    // groups are worse than a crashed dedup job.
    require(onDriver || converged,
      s"connectedComponents did not converge in $maxRounds star rounds " +
        "(edge set still changing)")
    lastCcRounds = rounds
    // star forest: leaves point at their component minimum, EXACTLY once
    // each (the verified convergence invariant is out-degree 1 with
    // leaf/center disjointness), so the label frame is just the edge set
    // itself — no center rows, no union, no distinct exchange (r18):
    // centers never appear as a leaf and label themselves through the
    // same coalesce that handles singletons below. The driver finish
    // yields the same rows: (node, component min) for every non-minimum.
    val labels =
      if (onDriver) {
        import spark.implicits._
        unionFindLabels(edges.select("u", "v").as[(Long, Long)].collect())
          .toSeq.toDF("_node", "cluster_id")
      } else edges.select(col("u").as("_node"), col("v").as("cluster_id"))
    // join labels back on the long form of the caller's id (output keeps
    // the original id column type); singletons AND star centers miss the
    // join and label themselves via coalesce — ONE left join instead of
    // inner + anti + union, i.e. one pass over the node keys at any scale.
    val keyed = nodes.select(
      col(idCol).as("_orig"), col(idCol).cast("long").as("_node"))
    keyed.join(labels, Seq("_node"), "left")
      .select(col("_orig"),
        coalesce(col("cluster_id"), col("_node")).as("cluster_id"))
      .withColumnRenamed("_orig", idCol).select(idCol, "cluster_id")
  }

  /** Union-find over a collected (u, v) edge list: one (node, component
    * min id) pair per node that is not its component's minimum — the
    * rows a converged star forest holds. The distinct ids sort into a
    * long[] so the parent array is an int[] over their indices, and a
    * union keeps the SMALLER index as root: every root is then its
    * component's minimum id.
    */
  private def unionFindLabels(uv: Array[(Long, Long)]): Array[(Long, Long)] = {
    val all = new Array[Long](2 * uv.length)
    var i = 0
    while (i < uv.length) { all(2 * i) = uv(i)._1; all(2 * i + 1) = uv(i)._2; i += 1 }
    java.util.Arrays.sort(all)
    var m = 0
    i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(all, 0, m, id)
    uv.foreach { case (u, v) =>
      val (a, b) = (find(index(u)), find(index(v)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    (0 until m).iterator.flatMap { k =>
      val r = find(k)
      if (r == k) None else Some((all(k), all(r)))
    }.toArray
  }
}
