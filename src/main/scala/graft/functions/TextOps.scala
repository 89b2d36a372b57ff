package graft.functions

import graft.{Portable => P, Q, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID (marker n-gram heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting. All pure
  * built-in expressions — at 100 TB these run as a single codegen'd scan
  * projection with no shuffle.
  */
object TextOps {

  /** Default BM25 query-term set shared by the gated tx19/ss17 queries.
    * Declared BEFORE `queries` — the oracle strings interpolate it at
    * object init, so a later declaration would still be null then.
    */
  private[graft] val bm25DefaultTerms = Seq("the", "data", "model", "quick")

  private[graft] val enWords = "'the','a','of','and','to'"
  private[graft] val deWords = "'der','die','das','und','ist'"
  private[graft] val frWords = "'le','la','les','et','est'"

  /** tx01's marker-token score projections (over a lowercased-token
    * array column named `ltoks`) and its argmax CASE — shared with
    * Curation.ledger so the language heuristic can't drift between the
    * standalone query and the ledger's `pred_lang` column.
    */
  private[graft] val sparkLangScores: Seq[String] = Seq(
    s"size(filter(ltoks, w -> w in ($enWords))) as s_en0",
    s"size(filter(ltoks, w -> w in ($deWords))) as s_de0",
    s"size(filter(ltoks, w -> w in ($frWords))) as s_fr0")
  private[graft] val sparkLangCase: String =
    "case when s_de0 > s_en0 and s_de0 > s_fr0 then 'de' " +
      "when s_fr0 > s_en0 and s_fr0 >= s_de0 then 'fr' else 'en' end"

  // winnowing parameters: k-gram length, window width, Rabin base/prime.
  // k=12/w=8 ⇒ any shared span ≥ w+k-1 = 19 normalized chars yields a
  // shared fingerprint; at k below ~10, common English character grams
  // connect most of the corpus (measured: k=5 → 50k candidate pairs at
  // sf0.01 vs ~1k at k=12 against dd04's 474 LSH pairs).
  private val winnowK = 12
  private val winnowW = 8
  private val winnowP = 2147483647L // 2^31 - 1

  /** DuckDB CTEs for the corpus bigram LM (tx16): defines `bg` (one row
    * per bigram occurrence), `c2`/`c1` (bigram/unigram counts), and `fl`
    * (per-doc n_bigrams + integer-ppm fluency sum). Shared by the tx16
    * oracle and sm06's fluency-bucketed sampling oracle. MUST stay above
    * `queries` (object init order).
    */
  private[graft] val duckFluencyCtes: String =
    """t AS (SELECT doc_id,
      |      regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |     bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |            FROM t CROSS JOIN unnest(range(1, len(toks))) r(i)),
      |     c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
      |     c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
      |     fl AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(sum((1000000 * c2.n2) // c1.n1) AS BIGINT) AS fluency_x1e6
      |       FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |       GROUP BY b.doc_id)""".stripMargin

  /** Per-document bigram-LM fluency (tx16's machinery as a helper):
    * (doc_id, n_bigrams, fluency_x1e6) for every doc with ≥ 2 tokens.
    * The LM is trained on the input corpus itself; scores are the
    * integer-exact per-occurrence floor(1e6·C₂/C₁) sums (see the tx16
    * query comment). Persists the bigram stream — three consumers cross
    * shuffles — released by the caller's clearCache.
    */
  private[graft] def bigramFluency(docs: DataFrame): DataFrame = {
    val bg = graft.Tables.spread(docs)
      .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks")
      .selectExpr("doc_id",
        "explode(case when size(toks) >= 2 then " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2)) " +
          "else array() end) as b")
      .selectExpr("doc_id", "b.w1 as w1", "b.w2 as w2")
      .persist()
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        sum(expr("(1000000 * n2) div n1")).cast("long").as("fluency_x1e6"))
  }
  private def winnowCoef(j: Int): Long = {
    var c = 1L
    (0 until (winnowK - 1 - j)).foreach(_ => c = c * 256L % winnowP)
    c
  }

  /** DuckDB k-gram Rabin hash at position `pos` of `norm` — the BIGINT
    * cast is load-bearing: ord×coef overflows INT32 for any codepoint
    * past ASCII.
    */
  private def winnowDuckHash: String = (0 until winnowK)
    .map(j => s"ord(substr(norm, pos+$j, 1))::BIGINT * ${winnowCoef(j)}")
    .mkString(" + ")

  /** Winnowed fingerprint set (doc_id, fp) — tx11's plan as a helper,
    * shared with tx12's overlap join.
    *
    * The whole selection runs INSIDE the scan projection as one native
    * `WinnowFingerprints` call, so no per-position row ever crosses an
    * exchange. The first cut used explode + a doc-partitioned window
    * min; ShuffleAudit measured it shuffling 18.8 MiB of positions
    * against a 0.6 MiB scan at sf0.1 (ratio 33) — the sort-by-doc the
    * window needs IS a full shuffle of every k-gram. This formulation
    * shuffles nothing; only the final (doc_id, fp) rows exist.
    */
  private[graft] def winnowFps(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the selection runs in the native WinnowFingerprints expression —
    // a true O(1)-rolling hash + robust-winnowing window min, one static call
    // inside whole-stage codegen. The journey here is instructive:
    // explode + doc-partitioned window min shuffled every position
    // (18.8 MiB vs a 0.6 MiB scan); array HOFs with substring(norm, i)
    // were O(|doc|²·k) (UTF8 substring walks from the start; 23.9 s at
    // sf0.1); HOFs over a pre-split codepoint array ran 3.0 s in
    // interpreted lambdas; the native expression is 0-shuffle AND
    // loop-fused (sub-second).
    graft.Tables.spread(docs)
      .selectExpr("doc_id",
        "trim(regexp_replace(lower(text), '\\\\s+', ' ')) as norm")
      .select(col("doc_id"),
        explode(WinnowFingerprints.winnowFps(col("norm"), winnowK, winnowW)).as("fp"))
  }

  val queries: Seq[Q] = Seq(

    // Language-ID: count language-marker tokens, argmax with a fixed
    // tie order (en < de < fr). N-gram-heuristic stand-in for fastText-style
    // classifiers; the marker lists are the deterministic model.
    Q(
      "tx01_langid",
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
         |           FROM documents),
         |     sc AS (SELECT doc_id,
         |       len(list_filter(toks, w -> w IN ($enWords))) AS s_en,
         |       len(list_filter(toks, w -> w IN ($deWords))) AS s_de,
         |       len(list_filter(toks, w -> w IN ($frWords))) AS s_fr
         |       FROM t)
         |SELECT doc_id,
         |  CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
         |       WHEN s_fr > s_en AND s_fr >= s_de THEN 'fr'
         |       ELSE 'en' END AS pred_lang,
         |  CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
         |  CAST(s_fr AS BIGINT) AS s_fr
         |FROM sc""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .selectExpr("doc_id", "split(lower(text), '\\\\s+') as ltoks")
        .selectExpr("doc_id" +: sparkLangScores: _*)
        .selectExpr(
          "doc_id",
          s"$sparkLangCase as pred_lang",
          "cast(s_en0 as bigint) as s_en",
          "cast(s_de0 as bigint) as s_de",
          "cast(s_fr0 as bigint) as s_fr")
    },

    // Quality scoring: token count, punctuation count, mean token length
    // ×100, stopword ratio ×1000 — all integer-exact across engines.
    Q(
      "tx02_quality_score",
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS ntok,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS npunct,
         |  CAST(FLOOR(CAST(100 AS DOUBLE) * length(text) / len(toks)) AS BIGINT) AS avglen_x100,
         |  CAST(FLOOR(CAST(1000 AS DOUBLE) * len(list_filter(toks, w -> w IN ($enWords)))
         |       / len(toks)) AS BIGINT) AS stop_x1000
         |FROM t""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .selectExpr("doc_id", "text", "split(lower(text), '\\\\s+') as toks")
        .selectExpr(
          "doc_id",
          "cast(size(toks) as bigint) as ntok",
          "cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) as bigint) as npunct",
          "cast(floor(cast(100 as double) * length(text) / size(toks)) as bigint) as avglen_x100",
          s"cast(floor(cast(1000 as double) * size(filter(toks, w -> w in ($enWords))) / size(toks)) as bigint) as stop_x1000")
    },

    // Token counting: whitespace tokens + BPE-ish regex pieces (letter runs,
    // digit runs, single punctuation marks).
    Q(
      "tx03_token_stats",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_pieces
        |FROM documents""".stripMargin) { (s, d) =>
      T.documents(s, d).selectExpr(
        "doc_id",
        "cast(size(split(text, '\\\\s+')) as bigint) as ws_tokens",
        "cast(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)) as bigint) as bpe_pieces")
    },

    // C4-style quality filter (TextQuality.filterQuality with defaults):
    // token count, mean token length, punct density bands. Doc ids only —
    // the predicate arithmetic is double-deterministic in both engines.
    Q(
      "tx05_quality_filter",
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents)
         |SELECT doc_id FROM t
         |WHERE len(toks) BETWEEN 10 AND 100000
         |  AND (length(text)::DOUBLE / len(toks)) BETWEEN 2.0 AND 12.0
         |  AND ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
         |       / length(text)) <= 0.2
         |  AND (len(list_filter(toks, w -> w IN ($enWords)))::DOUBLE / len(toks)) >= 0.0
         |""".stripMargin) { (s, d) =>
      TextQuality.filterQuality(T.documents(s, d)).select("doc_id")
    },

    // Document fingerprint: whitespace-normalized lowercase md5 prefix.
    // (Content-defined fingerprint; duplicates share fp.)
    Q(
      "tx04_fingerprint",
      """SELECT doc_id,
        |  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents""".stripMargin) { (s, d) =>
      T.documents(s, d).selectExpr(
        "doc_id",
        "substr(md5(trim(regexp_replace(lower(text), '\\\\s+', ' '))), 1, 16) as fp")
    },

    // Corpus heavy-hitters: top-20 3-gram shingles by DOCUMENT frequency
    // (how many distinct docs contain the shingle), ties broken on the
    // shingle. groupBy shuffles (shingle, doc_id) pairs with map-side
    // partial aggregation; the top-k is TakeOrderedAndProject (per-
    // partition heaps merged on the driver), never a global sort.
    Q(
      "tx06_top_ngrams",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
        |     sh AS (SELECT DISTINCT doc_id,
        |       unnest(list_transform(range(1, greatest(1, len(toks) - 1)),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sng
        |     FROM t)
        |SELECT sng, n_docs FROM (
        |  SELECT sng, count(*) AS n_docs FROM sh GROUP BY sng)
        |ORDER BY n_docs DESC, sng LIMIT 20""".stripMargin) { (s, d) =>
      graft.operators.DedupOps.shingleSets(T.documents(s, d))
        // per-doc array_distinct ≡ DISTINCT (doc_id, sng) but dedups
        // locally inside the row — measured 17× faster than the
        // row-level distinct (which re-evaluates the shingle pipeline
        // through the exchange) at sf0.1
        .selectExpr("doc_id", "explode(array_distinct(shingles)) as sng")
        .groupBy("sng")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("sng"))
        .limit(20)
    },

    // TF-IDF top-3 terms per document, with a LINEAR idf (tf·N/df instead
    // of tf·log(N/df)): log is transcendental and not guaranteed
    // bit-identical across engines, while tf·N and df are exact integers
    // and one IEEE division is — same ranking family, hash-exact gate.
    // Plan shape at 100 TB: doc-term counts and doc frequencies are two
    // map-side-combined aggregations; the score join shuffles on term;
    // the top-3 window re-shuffles on doc_id. df uses per-doc
    // array_distinct BEFORE explode (the tx06 lesson — a row-level
    // distinct after explode re-runs the tokenizer through the exchange).
    Q(
      "tx07_tfidf",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |           FROM documents),
        |     tf AS (SELECT doc_id, w, count(*) AS tf
        |            FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
        |     df AS (SELECT w, count(*) AS df
        |            FROM (SELECT DISTINCT doc_id, unnest(toks) AS w FROM t) GROUP BY w),
        |     n AS (SELECT count(*) AS n FROM documents),
        |     sc AS (SELECT tf.doc_id, tf.w,
        |              CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
        |            FROM tf JOIN df ON df.w = tf.w CROSS JOIN n)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rank, w AS term, score FROM (
        |  SELECT doc_id, w, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rn
        |  FROM sc) WHERE rn <= 3""".stripMargin) { (s, d) =>
      val t = T.documents(s, d)
        .selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks")
      val tf = t.selectExpr("doc_id", "explode(toks) as w")
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("tf"))
      val df = t.selectExpr("doc_id", "explode(array_distinct(toks)) as w")
        .groupBy("w")
        .agg(count(lit(1)).as("df"))
      val n = T.documents(s, d).agg(count(lit(1)).as("n"))
      tf.join(df, "w")
        .crossJoin(broadcast(n))
        .selectExpr("doc_id", "w", "cast(tf * n as double) / df as score")
        .selectExpr(
          "doc_id", "w", "score",
          "cast(row_number() over (partition by doc_id order by score desc, w) as bigint) as rank")
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"), col("score"))
    },

    // Sequence packing: split each document's token stream into fixed
    // 32-token training windows (chunk_id, length, boundary tokens, and a
    // content hash instead of the raw array — gate outputs stay scalar).
    // The LLM-pretraining "pack to max_len" operator: explode is linear in
    // tokens, chunks inherit the document's partition, nothing shuffles.
    Q(
      "tx08_chunk_pack",
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
         |           FROM documents),
         |     c AS (SELECT doc_id, toks,
         |             unnest(range(0, greatest(1, (len(toks) + 31) // 32))) AS chunk_id
         |           FROM t),
         |     w AS (SELECT doc_id, chunk_id,
         |             toks[(chunk_id*32 + 1):(chunk_id*32 + 32)] AS chunk
         |           FROM c)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(chunk) AS BIGINT) AS n_toks,
         |  chunk[1] AS first_tok, chunk[len(chunk)] AS last_tok,
         |  ${graft.Portable.duckHash60("array_to_string(chunk, ' ')")} AS tok_hash
         |FROM w""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .selectExpr("doc_id", "split(text, '\\\\s+') as toks")
        .selectExpr(
          "doc_id", "toks",
          "explode(sequence(0, greatest(1, (size(toks) + 31) div 32) - 1)) as chunk_id")
        .selectExpr(
          "doc_id", "chunk_id",
          "slice(toks, chunk_id*32 + 1, 32) as chunk")
        .selectExpr(
          "doc_id", "cast(chunk_id as bigint) as chunk_id",
          "cast(size(chunk) as bigint) as n_toks",
          "element_at(chunk, 1) as first_tok",
          "element_at(chunk, size(chunk)) as last_tok",
          s"${graft.Portable.hash60("concat_ws(' ', chunk)")} as tok_hash")
    },

    // Vocabulary build + coverage eval: the top-20 corpus tokens become
    // the vocab (rank = token id, ties broken lexically); the gate reports
    // each entry's corpus frequency plus its share of ALL token
    // occurrences in basis points — whose sum is the vocab's coverage,
    // the number that decides vocab size in a tokenizer build. Two
    // map-side-combined aggregations; the total rides in as a broadcast
    // scalar, nothing but (token, count) pairs shuffle.
    Q(
      "tx09_vocab_coverage",
      """WITH tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |            FROM documents),
        |     cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
        |     tot AS (SELECT sum(n) AS total FROM cnt),
        |     top AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS vocab_id
        |             FROM cnt ORDER BY n DESC, w LIMIT 20)
        |SELECT CAST(vocab_id AS BIGINT) AS vocab_id, w AS token, n,
        |  CAST(FLOOR(CAST(10000 AS DOUBLE) * n / total) AS BIGINT) AS share_bp
        |FROM top CROSS JOIN tot""".stripMargin) { (s, d) =>
      val tok = T.documents(s, d)
        .selectExpr("explode(split(lower(text), '\\\\s+')) as w")
      // released by caller clearCache; reruns dedup via CacheManager
      val cnt = tok.groupBy("w").agg(count(lit(1)).as("n")).persist()
      // total token occurrences = sum over the grouped counts — derived
      // from cnt instead of a second full tokenize+explode of the corpus
      val tot = cnt.agg(sum("n").as("total"))
      // top-20 via orderBy+limit = TakeOrdered (no global sort); the rank
      // window then runs over those 20 rows only
      cnt.orderBy(col("n").desc, col("w")).limit(20)
        .selectExpr(
          "cast(row_number() over (order by n desc, w) as bigint) as vocab_id",
          "w as token", "n")
        .crossJoin(broadcast(tot))
        .selectExpr(
          "vocab_id", "token", "n",
          "cast(floor(cast(10000 as double) * n / total) as bigint) as share_bp")
    },

    // Repetition ratios (the Gopher-rules quality signals): per doc, the
    // share of duplicate words (1 - distinct/total) and the share of the
    // single most frequent word — high values flag machine-generated or
    // boilerplate text before it poisons training. Word counts group by
    // (doc_id, word): only (doc-id, word-hash-sized) rows shuffle, and
    // the second aggregation is on doc_id, already the shuffle key's
    // prefix — at 100 TB this is one shuffle of token counts, never text.
    Q(
      "tx10_repetition",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |           FROM documents),
        |     ex AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |     wc AS (SELECT doc_id, w, count(*) AS c FROM ex GROUP BY doc_id, w),
        |     ag AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |                   COUNT(*) AS n_distinct, MAX(c) AS top_cnt
        |            FROM wc GROUP BY doc_id)
        |SELECT doc_id, n_words,
        |  CAST(FLOOR(CAST(10000 AS DOUBLE) * (n_words - n_distinct) / n_words) AS BIGINT)
        |    AS dup_ratio_bp,
        |  CAST(FLOOR(CAST(10000 AS DOUBLE) * top_cnt / n_words) AS BIGINT)
        |    AS top_share_bp
        |FROM ag""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .selectExpr("doc_id", "explode(split(lower(text), '\\\\s+')) as w")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").cast("bigint").as("n_words"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_cnt"))
        .selectExpr(
          "doc_id", "n_words",
          "cast(floor(cast(10000 as double) * (n_words - n_distinct) / n_words) as bigint) as dup_ratio_bp",
          "cast(floor(cast(10000 as double) * top_cnt / n_words) as bigint) as top_share_bp")
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    // algorithm): Rabin-style rolling hash over character k-grams of the
    // whitespace-normalized text, then the minimum hash of every
    // w-window of consecutive positions — the guarantee is that any
    // match of length ≥ w+k-1 between two documents shares a selected
    // fingerprint, at ~1/w the storage of the full k-gram set. The
    // per-position hash is the closed form of the rolling recurrence
    // (sum of codepoint × B^j mod P, k terms inlined); the window
    // minimum is an array_min over each w-slice of the hash array.
    //
    // Scale notes (100 TB): the ENTIRE selection — k-gram hashes,
    // window minima, per-doc dedup — runs inside the scan projection as
    // array higher-order functions, so tx11 shuffles NOTHING (the
    // oracle renders the same set with an explode + window min, which
    // is fine single-node; the Spark plan must not, because the
    // doc-partitioned sort the window needs is a full shuffle of every
    // position — ShuffleAudit measured 18.8 MiB vs a 0.6 MiB scan).
    // The winnowed output is ~|text|/w rows per doc.
    Q(
      "tx11_winnow_fingerprints", {
        val hashSql = winnowDuckHash
        s"""WITH n AS (SELECT doc_id,
           |       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           |     FROM documents),
           |     kg AS (SELECT doc_id, pos, ($hashSql) % $winnowP AS h
           |       FROM n CROSS JOIN unnest(range(1, greatest(1, length(norm) - $winnowK + 2))) AS t(pos)),
           |     wm AS (SELECT doc_id, pos,
           |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
           |                      ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS fp,
           |         count(*) OVER (PARTITION BY doc_id) AS nk
           |       FROM kg)
           |SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= nk - $winnowW + 1""".stripMargin
      }) { (s, d) => winnowFps(T.documents(s, d)) },

    // Winnowing-overlap near-dup candidates: pairs of documents sharing
    // ≥ 5 selected fingerprints — the plagiarism/contamination detector
    // winnowing exists for. Same flood discipline as the LSH family:
    // fingerprints held by more than 64 docs are boilerplate (a shared
    // header selects the same minimum everywhere) and are skipped before
    // the self-join, so pair volume stays linear in the corpus.
    Q(
      "tx12_winnow_overlap", {
        val hashSql = winnowDuckHash
        s"""WITH n AS (SELECT doc_id,
           |       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           |     FROM documents),
           |     kg AS (SELECT doc_id, pos, ($hashSql) % $winnowP AS h
           |       FROM n CROSS JOIN unnest(range(1, greatest(1, length(norm) - $winnowK + 2))) AS t(pos)),
           |     wm AS (SELECT doc_id, pos,
           |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
           |                      ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS fp,
           |         count(*) OVER (PARTITION BY doc_id) AS nk
           |       FROM kg),
           |     fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= nk - $winnowW + 1),
           |     sized AS (SELECT fp, count(*) AS nd FROM fps GROUP BY fp),
           |     small AS (SELECT f.doc_id, f.fp FROM fps f
           |               JOIN sized z ON z.fp = f.fp AND z.nd <= 64)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
           |FROM small a JOIN small b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY a_id, b_id HAVING count(*) >= 5""".stripMargin
      }) { (s, d) => winnowOverlap(winnowFps(T.documents(s, d))) },

    // Gopher-style composite quality rules (TextQuality.gopherFlags):
    // five integer-exact rule flags + the conjunction, one codegen'd
    // scan projection. The per-rule flags are the audit artifact — a
    // corpus report says WHICH rule dropped each document, not just
    // how many were dropped.
    Q(
      "tx13_gopher_rules",
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
         |    s AS (SELECT doc_id,
         |      len(toks) AS ntok, length(text) AS nchar,
         |      len(list_distinct(toks)) AS ndist,
         |      list_max(list_transform(list_distinct(toks),
         |        w -> len(list_filter(toks, t -> t = w)))) AS maxfreq,
         |      len(list_filter(toks, w -> w IN ($enWords))) AS nstop
         |      FROM t),
         |    r AS (SELECT doc_id,
         |      ntok BETWEEN 30 AND 100000 AS r_wc,
         |      3 * ntok <= nchar AND nchar <= 10 * ntok AS r_len,
         |      20 * nstop >= ntok AS r_stop,
         |      10 * ndist >= 3 * ntok AS r_dist,
         |      4 * maxfreq <= ntok AS r_rep
         |      FROM s)
         |SELECT doc_id, r_wc, r_len, r_stop, r_dist, r_rep,
         |  r_wc AND r_len AND r_stop AND r_dist AND r_rep AS pass
         |FROM r""".stripMargin) { (s, d) =>
      TextQuality.gopherFlags(T.documents(s, d))
    },

    // Cross-lingual label audit: per (source, declared lang), how many
    // documents does the tx01 heuristic FAIL to confirm? High mismatch
    // in a (source, lang) stratum flags mislabeled crawl metadata — the
    // signal deciding whether to trust a corpus's own language tags.
    // Shares tx01's exact scoring snippets; the rollup keeps output
    // tiny at any SF (one row per stratum, map-side combined).
    Q(
      "tx14_lang_mismatch",
      s"""WITH t AS (SELECT doc_id, source, lang,
         |      regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
         |     sc AS (SELECT doc_id, source, lang,
         |       len(list_filter(toks, w -> w IN ($enWords))) AS s_en,
         |       len(list_filter(toks, w -> w IN ($deWords))) AS s_de,
         |       len(list_filter(toks, w -> w IN ($frWords))) AS s_fr
         |       FROM t),
         |     p AS (SELECT source, lang,
         |       CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
         |            WHEN s_fr > s_en AND s_fr >= s_de THEN 'fr'
         |            ELSE 'en' END AS pred_lang FROM sc)
         |SELECT source, lang, count(*) AS n,
         |  count(CASE WHEN pred_lang <> lang THEN 1 END) AS n_mismatch
         |FROM p GROUP BY source, lang""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .selectExpr("doc_id", "source", "lang",
          "split(lower(text), '\\\\s+') as ltoks")
        .selectExpr("source" +: "lang" +: sparkLangScores: _*)
        .withColumn("pred_lang", expr(sparkLangCase))
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("pred_lang") =!= col("lang"), 1)).as("n_mismatch"))
    },

    // Cross-document packing: greedily fill 256-token context bins per
    // source in doc_id order (running token sum; bin = prefix div
    // capacity, offset = prefix mod capacity) — the batch-construction
    // step between curation and training. Pure window arithmetic, all
    // integers: one exchange on source, documents never leave their
    // partition after it.
    Q(
      "tx15_doc_packing",
      """WITH t AS (SELECT doc_id, source,
        |      len(regexp_split_to_array(text, '\s+')) AS ntok FROM documents),
        |     w AS (SELECT doc_id, source, ntok,
        |      sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
        |                      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, source, CAST(ntok AS BIGINT) AS ntok,
        |  CAST((cum - ntok) // 256 AS BIGINT) AS bin,
        |  CAST((cum - ntok) % 256 AS BIGINT) AS off
        |FROM w""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      T.documents(s, d)
        .selectExpr("doc_id", "source",
          "size(split(text, '\\\\s+')) as ntok")
        .withColumn("cum", sum(col("ntok")).over(
          Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .selectExpr("doc_id", "source", "cast(ntok as bigint) as ntok",
          "cast((cum - ntok) div 256 as bigint) as bin",
          "cast((cum - ntok) % 256 as bigint) as off")
    },

    // Corpus-statistical fluency scoring: a bigram LM trained on the
    // corpus itself scores each document by the summed conditional
    // probability of its bigrams — the perplexity-proxy quality signal
    // (log-free and integer-exact: per-occurrence floor(1e6·C₂/C₁),
    // summed as BIGINTs, so both engines agree bit-for-bit where a
    // floating log-sum would drift). Low scores flag token salads and
    // boilerplate that n-gram-frequency filters miss.
    // Scale: counts are map-side-combined aggs over (w1[,w2]) tokens;
    // the per-occurrence joins hash-partition on the same keys — token
    // rows shuffle (like tx06/tx07), text never does.
    Q(
      "tx16_bigram_fluency",
      s"""WITH $duckFluencyCtes
         |SELECT doc_id, n_bigrams, fluency_x1e6 FROM fl""".stripMargin) {
      (s, d) => bigramFluency(T.documents(s, d))
    },

    // Trigram stupid-backoff scoring (TextQuality.backoffScore): score
    // the held-out test split against an LM trained on the train split
    // (sm02's content-hash split machinery on both engines) — the
    // "score incoming data against a trusted corpus" shape where the
    // backoff chain actually fires, unlike tx16's self-trained LM.
    // Scale: vocab-bounded count tables, token-key joins, text never
    // shuffles (see the API scaladoc).
    Q(
      "tx18_trigram_backoff",
      s"""WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks,
         |    CASE WHEN ${graft.Portable.duckHash60("'split|' || source")} % 10 < 8 THEN 'train'
         |         WHEN ${graft.Portable.duckHash60("'split|' || source")} % 10 = 8 THEN 'valid'
         |         ELSE 'test' END AS split FROM documents),
         |tr3 AS (SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3, count(*) AS c3
         |        FROM d CROSS JOIN unnest(range(1, len(toks)-1)) r(i) WHERE split = 'train'
         |        GROUP BY 1,2,3),
         |tr2 AS (SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS c2
         |        FROM d CROSS JOIN unnest(range(1, len(toks))) r(i) WHERE split = 'train'
         |        GROUP BY 1,2),
         |tr1 AS (SELECT toks[i] AS w1, count(*) AS c1
         |        FROM d CROSS JOIN unnest(range(1, len(toks)+1)) r(i) WHERE split = 'train'
         |        GROUP BY 1),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM tr1),
         |ev AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
         |       FROM d CROSS JOIN unnest(range(1, len(toks)-1)) r(i) WHERE split = 'test'),
         |sc AS (SELECT e.doc_id,
         |         CASE WHEN t3.c3 IS NOT NULL THEN (1000000 * t3.c3) // t2f.c2
         |              WHEN t2b.c2 IS NOT NULL THEN (400000 * t2b.c2) // t1b.c1
         |              WHEN t1c.c1 IS NOT NULL THEN (160000 * t1c.c1) // tot.n
         |              ELSE 0 END AS s
         |       FROM ev e
         |       LEFT JOIN tr3 t3 ON t3.w1 = e.w1 AND t3.w2 = e.w2 AND t3.w3 = e.w3
         |       LEFT JOIN tr2 t2f ON t2f.w1 = e.w1 AND t2f.w2 = e.w2
         |       LEFT JOIN tr2 t2b ON t2b.w1 = e.w2 AND t2b.w2 = e.w3
         |       LEFT JOIN tr1 t1b ON t1b.w1 = e.w2
         |       LEFT JOIN tr1 t1c ON t1c.w1 = e.w3
         |       CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(s) AS BIGINT) AS backoff_x1e6
         |FROM sc GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d).selectExpr("doc_id", "text",
        s"${graft.operators.SamplingOps.sparkSplitCase} as split")
      TextQuality.backoffScore(
        docs.filter("split = 'train'"), docs.filter("split = 'test'"))
    },

    // PII detection + redaction (TextQuality.redactPii): per-document
    // match counts for emails / IPv4 / 555-phones plus the redacted
    // length — the compliance-scrub pass every released corpus needs.
    // The synthetic fixture contains no PII (no '@', '.', or digits in
    // the word-salad text — probed), so the query first AUGMENTS the
    // text with deterministic doc_id-derived PII on BOTH engines (docs
    // divisible by 3/5/7 gain an email/IP/phone respectively): the
    // detector and redactor are then exercised against known-positive
    // and known-negative rows instead of vacuously matching nothing.
    // Scale: one codegen'd scan projection, no shuffle — the real-corpus
    // path is `TextQuality.redactPii(docs)` with no augmentation.
    Q(
      "tx17_pii_redact",
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' host 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7 port' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today' ELSE '' END
        |    AS text FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\b555-\d{4}\b')) AS n_phones,
        |  len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(text, '\b555-\d{4}\b')) > 0 AS has_pii,
        |  length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b555-\d{4}\b', '<PHONE>', 'g')) AS n_chars_out
        |FROM aug""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id",
        "concat(text, " +
          "case when doc_id % 3 = 0 then concat(' contact user', cast(doc_id as string), '@example.com now') else '' end, " +
          "case when doc_id % 5 = 0 then concat(' host 10.2.', cast(doc_id % 256 as string), '.7 port') else '' end, " +
          "case when doc_id % 7 = 0 then concat(' call 555-01', lpad(cast(doc_id % 100 as string), 2, '0'), ' today') else '' end" +
          ") as text")
      TextQuality.redactPii(aug, "text")
        .selectExpr("doc_id", "cast(n_emails as bigint) as n_emails",
          "cast(n_ipv4 as bigint) as n_ipv4",
          "cast(n_phones as bigint) as n_phones", "has_pii",
          "cast(length(redacted) as bigint) as n_chars_out")
    },

    // BM25 retrieval (k1=1.2, b=0.75) for a fixed 4-term query, top-20
    // docs — the sparse-retrieval side of a RAG/dedup stack next to
    // ss01's dense side. Transcendental-free portability: the classic
    // ln-idf is replaced by the rational idf N/df (monotone in the same
    // df), and the tf-saturation term is cleared of fractions —
    //   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))  with avgdl = L/N
    //   = 22·L·tf / (10·L·tf + 3·L + 9·dl·N)    (×10L, k1=6/5, b=3/4)
    // so each per-term score is ONE IEEE division of two exact integers
    // times the exact rational N/df — identical bit patterns on both
    // engines — then quantized to DECIMAL(28,8) so the per-doc SUM is
    // order-insensitive (the P.dsum contract).
    //
    // Scale notes (100 TB): tf rows exist only for the query's terms
    // (the IN-filter pushes into the tokenize scan); df and (L, N) are
    // map-side-combined aggs; both broadcast back. The corpus text never
    // shuffles, and the top-k is one 20-row sort of per-doc scores.
    Q(
      "tx19_bm25",
      s"""WITH ${duckBm25Ctes()}
        |SELECT doc_id, bm25, n_terms FROM bm
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      bm25Scores(T.documents(s, d))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },

    // Mojibake detection + repair (TextQuality.fixMojibake): UTF-8
    // sequences mis-decoded as cp1252 ('â€™' for ’, 'Ã©' for é, …)
    // mapped back to the intended characters — the encoding-repair
    // scrub every web-scrape corpus needs. The corpus is clean ASCII
    // (probed), so like tx17 the query first AUGMENTS the text with
    // deterministic doc_id-derived mojibake on BOTH engines (docs
    // divisible by 3/5 gain corrupted accents/punctuation) so the
    // detector and repairer hit known positives and negatives.
    // Counting is a literal-replace length delta and repair a literal
    // replace chain (longest-first) — no regex engine in the loop, so
    // Spark and DuckDB agree byte-for-byte. Scale: one codegen'd scan
    // projection, no shuffle; the real-corpus path is
    // `TextQuality.fixMojibake(docs)` with no augmentation.
    Q(
      "tx20_mojibake_repair",
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' cafÃ© rÃ©sumÃ©' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' donâ€™t â€” naÃ¯ve' ELSE '' END
        |    AS text FROM documents)
        |SELECT doc_id,
        |  (length(text) - length(replace(text, 'â€™', ''))) // 3
        |    + (length(text) - length(replace(text, 'â€”', ''))) // 3
        |    + (length(text) - length(replace(text, 'Ã©', ''))) // 2
        |    + (length(text) - length(replace(text, 'Ã¯', ''))) // 2 AS n_moji,
        |  ((length(text) - length(replace(text, 'â€™', ''))) // 3
        |    + (length(text) - length(replace(text, 'â€”', ''))) // 3
        |    + (length(text) - length(replace(text, 'Ã©', ''))) // 2
        |    + (length(text) - length(replace(text, 'Ã¯', ''))) // 2) > 0 AS has_moji,
        |  length(replace(replace(replace(replace(text,
        |    'â€™', '’'), 'â€”', '—'), 'Ã©', 'é'), 'Ã¯', 'ï')) AS n_chars_out
        |FROM aug""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id",
        "concat(text, " +
          "case when doc_id % 3 = 0 then ' cafÃ© rÃ©sumÃ©' else '' end, " +
          "case when doc_id % 5 = 0 then ' donâ€™t â€” naÃ¯ve' else '' end" +
          ") as text")
      graft.functions.TextQuality.fixMojibake(aug, "text")
        .selectExpr("doc_id", "n_moji", "has_moji",
          "cast(length(repaired) as bigint) as n_chars_out")
    },

    // Code-vs-prose detection (TextQuality.codeSignals): symbol-density
    // signals — `{}();=` count via translate-delta, comment-marker
    // count, symbol ppm — and the is_code verdict, the mixture-routing
    // signal a pre-training corpus needs (code routed to a code
    // pipeline, prose to dedup/quality). The fixture is symbol-free
    // word salad (probed), so like tx17/tx20 the query AUGMENTS docs on
    // BOTH engines: doc_id % 4 == 0 gains a code snippet (known
    // positives whose sym_ppm varies with doc length — near-threshold
    // diversity for free), % 4 != 0 stays prose (known negatives).
    // All-integer arithmetic; translate and length agree byte-for-byte
    // on ASCII. The real-corpus path is `TextQuality.codeSignals(docs)`
    // with no augmentation. Scale: one codegen'd scan projection, zero
    // shuffle.
    Q(
      "tx21_code_detect",
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' if (x > 0) { return f(x); } int y = g(x); // fast path'
        |      ELSE '' END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) - length(translate(text, '{}();=', '')) AS BIGINT) AS n_sym,
        |  CAST((length(text) - length(replace(text, '//', ''))) // 2 AS BIGINT) AS n_comment,
        |  CAST((1000000 * (length(text) - length(translate(text, '{}();=', ''))))
        |    // length(text) AS BIGINT) AS sym_ppm,
        |  ((1000000 * (length(text) - length(translate(text, '{}();=', ''))))
        |    // length(text)) > 15000 AS is_code
        |FROM aug""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id",
        "concat(text, case when doc_id % 4 = 0 " +
          "then ' if (x > 0) { return f(x); } int y = g(x); // fast path' " +
          "else '' end) as text")
      TextQuality.codeSignals(aug, "text")
        .select("doc_id", "n_sym", "n_comment", "sym_ppm", "is_code")
    },

    // Per-document n-gram novelty (data-pruning/curriculum signal): the
    // fraction of a doc's distinct 8-gram window hashes that FIRST appear
    // in this doc (first = lowest doc_id containing the hash — the
    // deterministic stand-in for ingestion order). Docs that mostly
    // re-state earlier corpus content score near 0 and are the first cut
    // for novelty-weighted selection; docs shorter than 8 tokens have no
    // windows and drop out. Scale: window text is hashed inside the scan
    // projection and dropped — the first-seen rollup (min(doc_id) per
    // hash, map-side combined) and the flag join ship ONLY (hash, id)
    // longs; text never crosses an exchange (the dd18 discipline).
    Q(
      "tx22_ngram_novelty",
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
         |           FROM documents),
         |  w AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(range(0, greatest(0, len(toks) - 7)),
         |            i -> ${P.duckHash60("'nv|' || list_aggregate(list_slice(toks, i + 1, i + 8), 'string_agg', ' ')")})) AS wh
         |        FROM t),
         |  f AS (SELECT wh, min(doc_id) AS first_doc FROM w GROUP BY wh)
         |SELECT w.doc_id,
         |  CAST(count(*) AS BIGINT) AS d_hashes,
         |  CAST(count(CASE WHEN f.first_doc = w.doc_id THEN 1 END) AS BIGINT) AS d_novel,
         |  (1000000 * count(CASE WHEN f.first_doc = w.doc_id THEN 1 END)) // count(*) AS novelty_ppm
         |FROM w JOIN f ON f.wh = w.wh
         |GROUP BY w.doc_id""".stripMargin) { (s, d) =>
      noveltyScores(T.documents(s, d))
    },

    // Readability scoring (TextQuality.readability): integer-exact
    // Flesch-reading-ease proxy — words (whitespace tokens), sentences
    // (`.!?` via translate-delta, floored at 1), syllables approximated
    // as maximal vowel runs (regexp_extract_all('[aeiou]+') — greedy
    // non-overlapping matches count identically in Java and RE2), the
    // DOCUMENT syllable total floored at the word count (an aggregate
    // floor, see TextQuality.readability). score_x1000 = 206835 −
    // (1015·words) div sentences − (84600·syllables) div words, the
    // Flesch constants ×1000 with integer div so both engines agree
    // bit-for-bit (no IEEE division anywhere). The fixture is
    // punctuation-light word salad, so the query AUGMENTS on BOTH
    // engines: doc_id % 3 == 0 gains short easy sentences, % 7 == 0 a
    // polysyllabic one — known spread across the easy/standard/
    // difficult bands. Real-corpus path: TextQuality.readability(docs).
    // Scale: one codegen'd scan projection, zero shuffle.
    Q(
      "tx23_readability",
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' It is short. It reads well. We like it.' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' Nevertheless, comprehensive organizational deliberation persevered unconditionally.'
        |      ELSE '' END AS text FROM documents),
        |  m AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_words,
        |    CAST(greatest(1, length(text) - length(translate(text, '.!?', ''))) AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syll
        |  FROM aug)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  206835 - (1015 * n_words) // n_sents
        |         - (84600 * greatest(n_syll, n_words)) // n_words AS score_x1000,
        |  CASE WHEN 206835 - (1015 * n_words) // n_sents
        |         - (84600 * greatest(n_syll, n_words)) // n_words >= 60000 THEN 'easy'
        |       WHEN 206835 - (1015 * n_words) // n_sents
        |         - (84600 * greatest(n_syll, n_words)) // n_words >= 30000 THEN 'standard'
        |       ELSE 'difficult' END AS band
        |FROM m""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id",
        "concat(text, " +
          "case when doc_id % 3 = 0 then ' It is short. It reads well. We like it.' else '' end, " +
          "case when doc_id % 7 = 0 then ' Nevertheless, comprehensive organizational deliberation persevered unconditionally.' else '' end" +
          ") as text")
      TextQuality.readability(aug)
        .select("doc_id", "n_words", "n_sents", "n_syll", "score_x1000", "band")
    },

    // Unicode NFC normalization (native `nfc_normalize` Expression —
    // graft.functions.NfcNormalize): canonical composition before any
    // hash/dedup touches the text. A decomposed 'e'+U+0301 and a
    // precomposed 'é' are the same text to a reader but different
    // bytes to every digest, so an un-normalized corpus silently
    // under-deduplicates — this pass is why dd01's digests can be
    // trusted. Spark has no normalization builtin and a UDF would
    // leave codegen; the Expression stays in the codegen'd stage and
    // fast-paths already-normalized text (isNormalized, no
    // allocation). The fixture is ASCII (always normalized), so the
    // query AUGMENTS on BOTH engines: doc_id % 4 == 0 gains decomposed
    // 'cafe'+COMBINING ACUTE and 'nai'+COMBINING DIAERESIS+'ve' —
    // known positives whose composed forms shorten by exactly 2 code
    // points. The gate hashes the NORMALIZED text, pinning byte-exact
    // agreement between java.text.Normalizer and DuckDB's
    // nfc_normalize (both implement UAX #15). Scale: pure scan
    // projection, zero shuffle.
    Q(
      "tx25_nfc_normalize",
      s"""WITH aug AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0
         |      THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
         |      ELSE '' END AS text FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_in,
         |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_out,
         |  nfc_normalize(text) <> text AS changed,
         |  ${P.duckHash60("nfc_normalize(text)")} AS norm_hash
         |FROM aug""".stripMargin) { (s, d) =>
      graft.functions.NfcNormalize.register(s)
      T.documents(s, d)
        .selectExpr("doc_id",
          // explicit combining-mark escapes (U+0301, U+0308): raw NFD
          // bytes in source would be silently destroyed by any tool
          // that NFC-normalizes files, breaking the cross-engine gate
          "concat(text, case when doc_id % 4 = 0 " +
            "then ' cafe\u0301 nai\u0308ve' else '' end) as text")
        .selectExpr("doc_id",
          "cast(length(text) as bigint) as n_in",
          "cast(length(nfc_normalize(text)) as bigint) as n_out",
          "nfc_normalize(text) <> text as changed",
          s"${P.hash60("nfc_normalize(text)")} as norm_hash")
    }
  )

  /** Per-document n-gram novelty scores: (id, d_hashes, d_novel,
    * novelty_ppm) over distinct `k`-gram window hashes, where a hash is
    * novel to the document with the lowest id containing it. Shared by
    * the gated tx22 query and `Dedup.novelty` (same machinery, can't
    * diverge). Docs with fewer than `k` tokens produce no row.
    */
  private[graft] def noveltyScores(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8): org.apache.spark.sql.DataFrame = {
    val wh = P.hash60(s"concat('nv|', array_join(slice(toks, i + 1, $k), ' '))")
    // spread: stride-1 k-gram md5 hashing dominates and the fixture scan
    // is one split (r18). persist: both consumers (first-doc rollup and
    // the novelty join) otherwise re-run the whole hash pipeline — their
    // exchanges differ (partial-agg vs plain), so ReusedExchange never
    // applies. Caller clearCache frees.
    val w = graft.Tables.spread(docs)
      .selectExpr(s"$idCol as doc_id", s"split(lower($textCol), '\\\\s+') as toks")
      .selectExpr("doc_id",
        s"explode(case when size(toks) < $k then array() else " +
          s"array_distinct(transform(sequence(0, size(toks) - $k), i -> $wh)) end) as wh")
      .persist()
    val f = w.groupBy("wh").agg(min("doc_id").as("first_doc"))
    w.join(f, "wh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("d_hashes"),
        count(when(col("first_doc") === col("doc_id"), 1)).cast("long").as("d_novel"))
      .selectExpr("doc_id", "d_hashes", "d_novel",
        "(1000000 * d_novel) div d_hashes as novelty_ppm")
  }

  /** Per-document BM25 scores (k1=1.2, b=0.75) for a fixed query-term
    * set: (doc_id, bm25, n_terms), one row per document matching ≥ 1
    * term. Transcendental-free portability — rational idf N/df and a
    * fraction-cleared tf-saturation term (see the gated tx19 query's
    * derivation comment), each per-term score ONE IEEE division of
    * exact integers quantized to DECIMAL(28,8) so the per-doc sum is
    * order-insensitive. Shared by the gated tx19 query, the ss17 hybrid
    * fusion, and `Similarity.hybridTopK`.
    *
    * Scale: tf rows exist only for the query's terms (the IN-filter
    * pushes into the tokenize scan); df and (L, N) are map-side-combined
    * aggs broadcast back; corpus text never shuffles.
    */
  private[graft] def bm25Scores(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String] = bm25DefaultTerms): org.apache.spark.sql.DataFrame = {
    val t = docs.selectExpr("doc_id", "split(lower(text), '\\\\s+') as toks")
    val dl = t.selectExpr("doc_id", "cast(size(toks) as bigint) as dl")
    val tot = dl.agg(
      sum("dl").cast("long").as("l"), count(lit(1)).cast("long").as("n"))
    val inList = terms.map(w => s"'$w'").mkString("(", ", ", ")")
    val tf = t.selectExpr("doc_id", "explode(toks) as w")
      .filter(s"w in $inList")
      .groupBy("doc_id", "w").agg(count(lit(1)).cast("long").as("tf"))
    val df = t
      .selectExpr("doc_id",
        s"explode(filter(array_distinct(toks), w -> w in $inList)) as w")
      .groupBy("w").agg(count(lit(1)).cast("long").as("df"))
    tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .selectExpr("doc_id",
        "cast(cast(22 * l * tf as double) " +
          "/ (10 * l * tf + 3 * l + 9 * dl * n) " +
          "* n / df as decimal(28,8)) as s")
      .groupBy("doc_id")
      .agg(expr("cast(sum(s) as double)").as("bm25"),
        count(lit(1)).cast("long").as("n_terms"))
  }

  /** DuckDB rendering of the same BM25 chain, ending in
    * `bm(doc_id, bm25, n_terms)` — kept beside the Spark rendering so
    * the two can't drift. Caller supplies `WITH `.
    */
  private[graft] def duckBm25Ctes(terms: Seq[String] = bm25DefaultTerms): String = {
    val inList = terms.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
       |           FROM documents),
       |     dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
       |     tot AS (SELECT SUM(dl)::BIGINT AS l, COUNT(*)::BIGINT AS n FROM dl),
       |     tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf
       |            FROM (SELECT doc_id, unnest(toks) AS w FROM t)
       |            WHERE w IN $inList GROUP BY doc_id, w),
       |     df AS (SELECT w, count(*)::BIGINT AS df
       |            FROM (SELECT DISTINCT doc_id, w
       |                  FROM (SELECT doc_id, unnest(toks) AS w FROM t)
       |                  WHERE w IN $inList)
       |            GROUP BY w),
       |     sc AS (SELECT tf.doc_id,
       |              CAST(CAST(22 * tot.l * tf.tf AS DOUBLE)
       |                     / (10 * tot.l * tf.tf + 3 * tot.l + 9 * dl.dl * tot.n)
       |                     * tot.n / df.df AS DECIMAL(28,8)) AS s
       |            FROM tf JOIN df ON df.w = tf.w
       |                    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot),
       |     bm AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25,
       |              CAST(count(*) AS BIGINT) AS n_terms FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** Overlap pairs from a winnowed (doc_id, fp) set: pairs sharing
    * ≥ `minShared` fingerprints, buckets past `cap` docs skipped as
    * boilerplate. ONE shuffle of the fp set (groupBy fp), then pairs
    * are emitted from each capped doc list with array functions — the
    * self-join formulation shuffles the same rows on both join sides
    * plus a sizing pre-pass (measured 3× the bytes, identical output).
    * Shared by the gated tx12 query and `Dedup.winnowCandidates`.
    */
  private[graft] def winnowOverlap(fps: org.apache.spark.sql.DataFrame,
      minShared: Int = 5, cap: Int = 64): org.apache.spark.sql.DataFrame =
    fps
      .groupBy("fp").agg(collect_list("doc_id").as("ds"))
      .filter(size(col("ds")) <= cap) // boilerplate cap, as in the LSH family
      .selectExpr("array_sort(ds) as ds2")
      .selectExpr(
        "explode(case when size(ds2) >= 2 then " +
          "flatten(transform(sequence(1, size(ds2) - 1), " +
          "i -> transform(slice(ds2, i + 1, size(ds2) - i), " +
          "b -> struct(element_at(ds2, i) as a_id, b as b_id)))) " +
          "else array() end) as pr")
      .selectExpr("pr.a_id as a_id", "pr.b_id as b_id")
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
}
