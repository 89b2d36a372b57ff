package graft.operators

import graft.{Portable => P, Q, Tables => T}
import graft.functions.TextOps
import graft.sources.{TfRecords => TR}
import org.apache.spark.sql.functions._

/** The corpus-curation LEDGER: the whole pre-training data-curation pass
  * as ONE Spark plan. Per document it records every keep/drop signal a
  * production pipeline computes before training — predicted language
  * (tx01's heuristic), quality verdict (tx05's thresholds), exact-dup
  * keeper flag (dd01's digest grouping), near-dup cluster + keeper flag
  * (dd08's capped LSH + connected components), the content-hash split
  * (sm02), and the final `kept` verdict. Materialize the ledger once,
  * then `WHERE kept` is the training corpus and the dropped rows carry
  * their reason — the audit artifact data-governance reviews ask for.
  *
  * Reference behavior composed here: mkuchnik/PlumberApp treats the
  * input pipeline as one analyzable graph end-to-end (plumber_analysis/
  * src/plumber_analysis/graphdef_util.py); this query is that idea
  * applied to corpus curation — one declarative plan, one scan, every
  * signal.
  *
  * Scale notes (100 TB): ONE documents scan feeds the lang/quality/
  * digest/split projections (a single codegen stage — no per-signal
  * rescan); the shuffles are the digest window (60-bit longs, never
  * text), the banding stage, and the CC label rounds (id/label longs
  * over edge endpoints only); the final assembly joins on doc_id. Every
  * stage reuses the exact machinery its standalone gated query pins
  * (clusterLabels = dd08, isQuality = tx05), so the ledger can't drift
  * from the per-signal oracles.
  */
object CurationOps {

  /** cu01's oracle, split into CTE block + final SELECT so cu12's funnel
    * oracle can wrap the IDENTICAL ledger SQL (one definition, two
    * gates — the same no-drift rule the Scala side gets from both
    * queries calling `Curation.ledger`). Defined before `queries` —
    * object init order: later vals interpolate as null.
    */
  private val ledgerCtes: String =
    s"""${DedupOps.duckClusterCtes},
       |     lt AS (SELECT doc_id, text,
       |            regexp_split_to_array(lower(text), '\\s+') AS ltoks FROM documents),
       |     sc AS (SELECT doc_id,
       |       len(list_filter(ltoks, w -> w IN (${TextOps.enWords}))) AS s_en,
       |       len(list_filter(ltoks, w -> w IN (${TextOps.deWords}))) AS s_de,
       |       len(list_filter(ltoks, w -> w IN (${TextOps.frWords}))) AS s_fr
       |       FROM lt),
       |     lang AS (SELECT doc_id,
       |       CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
       |            WHEN s_fr > s_en AND s_fr >= s_de THEN 'fr'
       |            ELSE 'en' END AS pred_lang FROM sc),
       |     qual AS (SELECT doc_id,
       |       (len(ltoks) BETWEEN 10 AND 100000
       |        AND (length(text)::DOUBLE / len(ltoks)) BETWEEN 2.0 AND 12.0
       |        AND ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
       |             / length(text)) <= 0.2
       |        AND (len(list_filter(ltoks, w -> w IN (${TextOps.enWords})))::DOUBLE
       |             / len(ltoks)) >= 0.0) AS is_quality
       |       FROM lt),
       |     ek AS (SELECT doc_id,
       |       doc_id = min(doc_id) OVER (PARTITION BY ${P.duckHash60("text")}) AS exact_keep
       |       FROM documents),
       |     sp AS (SELECT doc_id,
       |       CASE WHEN ${P.duckHash60("'split|' || source")} % 10 < 8 THEN 'train'
       |            WHEN ${P.duckHash60("'split|' || source")} % 10 = 8 THEN 'valid'
       |            ELSE 'test' END AS split FROM documents)""".stripMargin

  private val ledgerSelect: String =
    """SELECT l.doc_id, l.pred_lang, q.is_quality, e.exact_keep, c.cluster_id,
      |  c.cluster_id = l.doc_id AS near_keep, s.split,
      |  (q.is_quality AND e.exact_keep AND c.cluster_id = l.doc_id) AS kept
      |FROM lang l JOIN qual q USING (doc_id) JOIN ek e USING (doc_id)
      |  JOIN comp c USING (doc_id) JOIN sp s USING (doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q(
      "cu01_curation_ledger",
      s"""WITH RECURSIVE
         |     $ledgerCtes
         |$ledgerSelect""".stripMargin) { (s, d) =>
      graft.functions.Curation.ledger(T.documents(s, d))
    },

    // Adaptive per-source quality thresholding (Curation
    // .adaptiveQualityKeep): keep documents strictly above their own
    // source's median score. The lower median at row (n+1)÷2 under
    // (score, doc_id) order is deterministic in both engines — never
    // percentile interpolation, which Spark and DuckDB round
    // differently.
    Q(
      "cu02_adaptive_quality",
      """WITH s AS (SELECT doc_id, source,
        |      CAST(FLOOR(CAST(100 AS DOUBLE) * length(text)
        |           / len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS score
        |      FROM documents),
        |     r AS (SELECT doc_id, source, score,
        |      row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY source) AS n FROM s),
        |     w AS (SELECT doc_id, source, score,
        |      max(CASE WHEN rn = (n + 1) // 2 THEN score END)
        |        OVER (PARTITION BY source) AS med FROM r)
        |SELECT doc_id, source, score, med FROM w
        |WHERE score > med""".stripMargin) { (s, d) =>
      graft.functions.Curation.adaptiveQualityKeep(T.documents(s, d))
    },

    // The FULL ledger (Curation.fullLedger): cu01 plus every round-6
    // signal — gopher verdict, adaptive per-source median quality,
    // mixture-rebalance membership, language-label agreement — still
    // ONE plan. `kept` conjoins all drop-worthy signals; `lang_ok` is
    // informational (the heuristic only knows en/de/fr).
    Q(
      "cu03_full_ledger",
      s"""WITH RECURSIVE
         |     ${DedupOps.duckClusterCtes},
         |     lt AS (SELECT doc_id, text,
         |            regexp_split_to_array(lower(text), '\\s+') AS ltoks FROM documents),
         |     sc AS (SELECT doc_id,
         |       len(list_filter(ltoks, w -> w IN (${TextOps.enWords}))) AS s_en,
         |       len(list_filter(ltoks, w -> w IN (${TextOps.deWords}))) AS s_de,
         |       len(list_filter(ltoks, w -> w IN (${TextOps.frWords}))) AS s_fr
         |       FROM lt),
         |     lang AS (SELECT doc_id,
         |       CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
         |            WHEN s_fr > s_en AND s_fr >= s_de THEN 'fr'
         |            ELSE 'en' END AS pred_lang FROM sc),
         |     qual AS (SELECT doc_id,
         |       (len(ltoks) BETWEEN 10 AND 100000
         |        AND (length(text)::DOUBLE / len(ltoks)) BETWEEN 2.0 AND 12.0
         |        AND ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
         |             / length(text)) <= 0.2
         |        AND (len(list_filter(ltoks, w -> w IN (${TextOps.enWords})))::DOUBLE
         |             / len(ltoks)) >= 0.0) AS is_quality
         |       FROM lt),
         |     gsig AS (SELECT doc_id,
         |       len(ltoks) AS ntok, length(text) AS nchar,
         |       len(list_distinct(ltoks)) AS ndist,
         |       list_max(list_transform(list_distinct(ltoks),
         |         w -> len(list_filter(ltoks, x -> x = w)))) AS maxfreq,
         |       len(list_filter(ltoks, w -> w IN (${TextOps.enWords}))) AS nstop
         |       FROM lt),
         |     gr AS (SELECT doc_id,
         |       (ntok BETWEEN 30 AND 100000
         |        AND 3 * ntok <= nchar AND nchar <= 10 * ntok
         |        AND 20 * nstop >= ntok
         |        AND 10 * ndist >= 3 * ntok
         |        AND 4 * maxfreq <= ntok) AS gopher_pass
         |       FROM gsig),
         |     ek AS (SELECT doc_id,
         |       doc_id = min(doc_id) OVER (PARTITION BY ${P.duckHash60("text")}) AS exact_keep
         |       FROM documents),
         |     sp AS (SELECT doc_id,
         |       CASE WHEN ${P.duckHash60("'split|' || source")} % 10 < 8 THEN 'train'
         |            WHEN ${P.duckHash60("'split|' || source")} % 10 = 8 THEN 'valid'
         |            ELSE 'test' END AS split FROM documents),
         |     qs AS (SELECT doc_id, source,
         |       CAST(FLOOR(CAST(100 AS DOUBLE) * length(text)
         |            / len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS score
         |       FROM documents),
         |     qr AS (SELECT doc_id, source, score,
         |       row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
         |       count(*) OVER (PARTITION BY source) AS n FROM qs),
         |     qw AS (SELECT doc_id, score,
         |       max(CASE WHEN rn = (n + 1) // 2 THEN score END)
         |         OVER (PARTITION BY source) AS med FROM qr),
         |     mn AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
         |     mt AS (SELECT CAST(sum(n_src) AS BIGINT) AS total,
         |                   count(*) AS nsrc FROM mn),
         |     mp AS (SELECT source,
         |            least(1000000, (1000000 * (total // (2 * nsrc))) // n_src) AS keep_ppm
         |            FROM mn CROSS JOIN mt),
         |     mk AS (SELECT d.doc_id,
         |            (${P.duckHash60("'mix|' || CAST(d.doc_id AS VARCHAR)")} % 1000000
         |              < p.keep_ppm) AS mix_keep
         |            FROM documents d JOIN mp p USING (source))
         |SELECT l.doc_id, l.pred_lang, l.pred_lang = d.lang AS lang_ok,
         |  q.is_quality, g.gopher_pass, e.exact_keep,
         |  c.cluster_id = l.doc_id AS near_keep,
         |  w.score > w.med AS above_med, m.mix_keep, s.split,
         |  (q.is_quality AND g.gopher_pass AND e.exact_keep
         |   AND c.cluster_id = l.doc_id AND w.score > w.med AND m.mix_keep) AS kept
         |FROM lang l JOIN documents d USING (doc_id) JOIN qual q USING (doc_id)
         |  JOIN gr g USING (doc_id) JOIN ek e USING (doc_id)
         |  JOIN comp c USING (doc_id) JOIN qw w USING (doc_id)
         |  JOIN mk m USING (doc_id) JOIN sp s USING (doc_id)""".stripMargin) { (s, d) =>
      graft.functions.Curation.fullLedger(T.documents(s, d))
    },

    // Quality-aware cluster keeper (Curation.qualityKeeper): cu01 keeps
    // each near-dup cluster's MIN-id doc (the CC label); a production
    // curation pass keeps the BEST doc. Per dd08 cluster, rank members
    // by tx02's integer-exact quality score (desc, doc_id tiebreak) and
    // keep rank 1 — same clustering machinery, quality-first selection.
    // Scale: one (doc_id, cluster_id, score) window exchange on top of
    // the clustering rounds; text never shuffles.
    Q(
      "cu04_quality_keeper",
      s"""WITH RECURSIVE
         |     ${DedupOps.duckClusterCtes},
         |     s AS (SELECT doc_id,
         |       CAST(FLOOR(CAST(100 AS DOUBLE) * length(text)
         |            / len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS score
         |       FROM documents),
         |     r AS (SELECT c.doc_id, c.cluster_id, s.score,
         |       row_number() OVER (PARTITION BY c.cluster_id
         |                          ORDER BY s.score DESC, c.doc_id) AS rn
         |       FROM comp c JOIN s USING (doc_id))
         |SELECT doc_id, cluster_id, score, rn = 1 AS keep FROM r""".stripMargin) {
      (s, d) => graft.functions.Curation.qualityKeeper(T.documents(s, d))
    },

    // URL domain blocklist filtering (Curation.domainFilter): the C4/
    // RefinedWeb source-hygiene pass — extract each document's host and
    // registered domain from its URL and flag rows whose registered
    // domain is blocklisted (subdomains of a blocked domain are blocked
    // too, which host-equality filters miss). The fixture has no URL
    // column, so the query synthesizes one per doc_id on BOTH engines
    // (7 deterministic hosts, 2 of them under blocked registered
    // domains). Scale: pure codegen'd scan projection (two regex
    // extracts + a literal IN) — zero shuffle; a list too large to
    // inline becomes a broadcast semi-join on reg_domain.
    Q(
      "cu05_domain_filter",
      s"""WITH aug AS (SELECT doc_id, 'https://' ||
         |    CASE doc_id % 7
         |      WHEN 0 THEN 'www.example.com' WHEN 1 THEN 'news.example.org'
         |      WHEN 2 THEN 'blog.example.net' WHEN 3 THEN 'spam.bad-site.com'
         |      WHEN 4 THEN 'tracker.adsite.io' WHEN 5 THEN 'docs.example.edu'
         |      ELSE 'cdn.bad-site.com' END ||
         |    '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         |  e AS (SELECT doc_id, url,
         |    regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM aug),
         |  r AS (SELECT doc_id, host,
         |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS reg_domain FROM e)
         |SELECT doc_id, host, reg_domain,
         |  reg_domain IN ('bad-site.com', 'adsite.io') AS blocked
         |FROM r""".stripMargin) { (s, d) =>
      val augUrls = T.documents(s, d).selectExpr("doc_id",
        "concat('https://', case doc_id % 7 " +
          "when 0 then 'www.example.com' when 1 then 'news.example.org' " +
          "when 2 then 'blog.example.net' when 3 then 'spam.bad-site.com' " +
          "when 4 then 'tracker.adsite.io' when 5 then 'docs.example.edu' " +
          "else 'cdn.bad-site.com' end, '/p/', cast(doc_id as string)) as url")
      graft.functions.Curation
        .domainFilter(augUrls, blocklist = Seq("bad-site.com", "adsite.io"))
        .select("doc_id", "host", "reg_domain", "blocked")
    },

    // Classifier-based quality filtering (TextQuality.classifierScore):
    // an integer logit over per-mille-normalized gopher signals with
    // plan-literal weights — the fastText/DCLM-style SOFT filter next
    // to tx13's hard rule conjunction. Swap the literal weights for
    // trained ones and the plan is the production classifier pass: one
    // codegen'd scan projection, zero shuffle.
    Q(
      "cu06_classifier_filter",
      s"""WITH t AS (SELECT doc_id, text AS _text,
         |        regexp_split_to_array(lower(text), '\\s+') AS _toks FROM documents),
         |s AS (SELECT doc_id,
         |        len(_toks) AS ntok, length(_text) AS nchar,
         |        len(list_distinct(_toks)) AS ndist,
         |        list_max(list_transform(list_distinct(_toks),
         |          w -> len(list_filter(_toks, x -> x = w)))) AS maxfreq,
         |        len(list_filter(_toks, w -> w IN (${TextOps.enWords}))) AS nstop
         |      FROM t),
         |f AS (SELECT doc_id,
         |        least(ntok, 1000) AS f_wc,
         |        (100 * nchar) // ntok AS f_len,
         |        (1000 * nstop) // ntok AS f_stop,
         |        (1000 * ndist) // ntok AS f_dist,
         |        (1000 * maxfreq) // ntok AS f_rep
         |      FROM s)
         |SELECT doc_id,
         |  CAST(f_wc + 2 * f_stop + 3 * f_dist - 4 * f_rep
         |       - 2 * abs(f_len - 550) - 1000 AS BIGINT) AS logit_x1000,
         |  (f_wc + 2 * f_stop + 3 * f_dist - 4 * f_rep
         |   - 2 * abs(f_len - 550) - 1000) > 0 AS keep
         |FROM f""".stripMargin) { (s, d) =>
      graft.functions.TextQuality.classifierScore(T.documents(s, d))
    },

    // Dedup-aware mixture rebalance: the temperature-sampling mixture
    // (sm07's sqrt weighting, Sampling.temperatureWeights) recomputed
    // over the mass that SURVIVES exact dedup — the weighting a real
    // pre-training mix uses, since a source that is 40% duplicates
    // should be weighted by its unique mass, not its raw crawl size.
    // The corpus has no exact dups (probed), so like tx17/dd18 the
    // query first AUGMENTS on BOTH engines: docs with
    // (doc_id div 20) % 5 <= doc_id % 4 have their text replaced by a
    // per-source boilerplate template, giving each source a different
    // dup rate (20%..80%, since source is doc_id-mod-20-aligned).
    // Per source: raw/kept doc and char counts (one conditional agg
    // over the dd01-style digest-window keeper flag), the temperature
    // weight w_ppm over kept chars, and shift_ppm = w_ppm minus the
    // source's natural (proportional) share of kept chars — positive
    // shift means temperature up-weights the small-after-dedup source.
    // All-integer arithmetic (floor-div ppm), so engines agree
    // bit-for-bit. The real-corpus path is `Dedup.exact` then
    // `Sampling.temperatureWeights`, no augmentation.
    //
    // Scale notes (100 TB): ONE documents scan; the digest window
    // shuffles 60-bit longs (text never moves); the per-source rollup
    // partial-aggregates to |sources| rows, and everything after
    // (weights, totals, shift) runs on that tiny aggregate via
    // broadcast — reusing Sampling.temperatureWeights unchanged with
    // the aggregate as its input (its groupBy-sum re-agg is a no-op).
    Q(
      "cu07_mixture_rebalance",
      s"""WITH aug AS (SELECT doc_id, source,
         |      CASE WHEN (doc_id // 20) % 5 <= doc_id % 4
         |           THEN 'standard license boilerplate for ' || source
         |           ELSE text END AS text
         |    FROM documents),
         |k AS (SELECT source, length(text)::BIGINT AS n_chars,
         |      doc_id = min(doc_id) OVER (PARTITION BY ${P.duckHash60("text")}) AS keep
         |    FROM aug),
         |a AS (SELECT source,
         |        CAST(count(*) AS BIGINT) AS raw_docs,
         |        CAST(sum(n_chars) AS BIGINT) AS raw_chars,
         |        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
         |        CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |      FROM k GROUP BY source),
         |w AS (SELECT source,
         |        CAST(floor(1000 * sqrt(CAST(kept_chars AS DOUBLE))) AS BIGINT) AS wgt
         |      FROM a),
         |t AS (SELECT CAST(sum(wgt) AS BIGINT) AS tw FROM w),
         |tk AS (SELECT CAST(sum(kept_chars) AS BIGINT) AS tc FROM a)
         |SELECT a.source, raw_docs, raw_chars, kept_docs, kept_chars,
         |  (1000000 * wgt) // (SELECT tw FROM t) AS w_ppm,
         |  (1000000 * wgt) // (SELECT tw FROM t)
         |    - (1000000 * kept_chars) // (SELECT tc FROM tk) AS shift_ppm
         |FROM a JOIN w ON w.source = a.source""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).selectExpr("doc_id", "source",
        "case when (doc_id div 20) % 5 <= doc_id % 4 " +
          "then 'standard license boilerplate for ' || source " +
          "else text end as text")
      graft.functions.Curation.mixtureRebalance(aug)
    },

    // Leakage-safe train/valid/test split (Curation.leakageSafeSplit):
    // assign each near-dup CLUSTER — not each document — to a split by
    // hashing its dd08 cluster label, so near-duplicate documents can
    // never straddle a train/eval boundary. A per-document hash split
    // (sm02) leaves exactly that contamination path open: two 95%-
    // identical documents hash independently and land in train AND
    // test. Buckets hash60('csplit|' || cluster_id) mod 10 → 0-7 train,
    // 8 valid, 9 test. Rides dd08's exact clustering machinery (the
    // oracle reuses the SAME recursive CTE chain); the split itself is
    // a scan-local projection of the label — beyond the CC rounds'
    // (id, label) longs nothing new shuffles, and at 100 TB the split
    // column joins back to the corpus co-partitioned on doc_id.
    Q(
      "cu08_cluster_split",
      s"""WITH RECURSIVE
         |     ${graft.operators.DedupOps.duckClusterCtes}
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${P.duckHash60("'csplit|' || CAST(cluster_id AS VARCHAR)")} % 10 < 8 THEN 'train'
         |       WHEN ${P.duckHash60("'csplit|' || CAST(cluster_id AS VARCHAR)")} % 10 = 8 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM comp""".stripMargin) { (s, d) =>
      graft.functions.Curation.leakageSafeSplit(T.documents(s, d))
    },

    // Dedup PROVENANCE: per surviving keeper, WHAT was dropped — member
    // count, dropped count, and the first 16 dropped doc_ids as ranked
    // (keeper, drop_rank, dropped_id) ROWS — the audit artifact a
    // compliance/debugging pass needs after any destructive dedup
    // ("show me what this keeper absorbed"). Rows, not an array column,
    // so any downstream consumer (and the oracle comparator) sees plain
    // sortable scalars — the op09 unnest convention. Rides dd08's exact
    // clustering (keeper = cluster label = min id, the cu01 convention);
    // because the keeper IS the cluster minimum, one row_number window
    // ordered by doc_id puts the keeper at rank 1 and every dropped
    // member at 2..n — member/drop counts and ranks fall out of a
    // single cluster-keyed window, no join. The output is capped at 16
    // drops per keeper so a pathological mega-cluster ships 16 rows + a
    // count, not a gigabyte of ids. Scale: one (id, label) window
    // exchange past the CC rounds; per-cluster state is bounded.
    Q(
      "cu09_dedup_provenance",
      s"""WITH RECURSIVE
         |     ${graft.operators.DedupOps.duckClusterCtes},
         |     w AS (SELECT cluster_id, doc_id,
         |             count(*) OVER (PARTITION BY cluster_id) AS nm,
         |             row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn
         |           FROM comp)
         |SELECT cluster_id AS keeper,
         |  CAST(nm AS BIGINT) AS n_members,
         |  CAST(nm - 1 AS BIGINT) AS n_dropped,
         |  CAST(rn - 1 AS BIGINT) AS drop_rank,
         |  doc_id AS dropped_id
         |FROM w WHERE doc_id <> cluster_id AND rn <= 17""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("cluster_id")
      graft.operators.DedupOps.clusterLabels(T.documents(s, d))
        .withColumn("nm", count(lit(1)).over(win))
        .withColumn("rn", row_number().over(win.orderBy("doc_id")))
        .filter(col("doc_id") =!= col("cluster_id") && col("rn") <= 17)
        .selectExpr("cluster_id as keeper", "cast(nm as bigint) as n_members",
          "cast(nm - 1 as bigint) as n_dropped",
          "cast(rn - 1 as bigint) as drop_rank", "doc_id as dropped_id")
    },

    // Token-budget allocation (epoch planning): turn per-source token
    // inventories into an exact 100k-token training-mix allocation by
    // LARGEST-REMAINDER apportionment — each source gets
    // floor(budget · tokens/total), and the leftover units go to the
    // largest fractional remainders (ties to the lexicographically
    // smaller source), so the allocations sum to the budget EXACTLY
    // (naive per-source rounding over- or under-shoots; at real budgets
    // of 10^12 tokens the drift is billions of tokens). All integer
    // arithmetic — fractional remainders compare as (budget·tokens) mod
    // total, never as floats. Scale: one map-side-combined rollup to a
    // handful of source rows; the apportionment windows run on that tiny
    // frame.
    Q(
      "cu10_token_budget",
      """WITH inv AS (SELECT source,
        |    count(*)::BIGINT AS n_docs,
        |    SUM(len(regexp_split_to_array(text, '\s+')))::BIGINT AS tokens
        |  FROM documents GROUP BY source),
        |  t AS (SELECT *, SUM(tokens) OVER () AS total FROM inv),
        |  b AS (SELECT *, (100000 * tokens) // total AS base,
        |          (100000 * tokens) % total AS frac FROM t),
        |  r AS (SELECT *,
        |          row_number() OVER (ORDER BY frac DESC, source) AS rk,
        |          100000 - SUM(base) OVER () AS rem FROM b)
        |SELECT source, n_docs, tokens,
        |  CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens,
        |  CAST((1000000 * (base + CASE WHEN rk <= rem THEN 1 ELSE 0 END)) // 100000 AS BIGINT) AS alloc_ppm
        |FROM r""".stripMargin) { (s, d) =>
      graft.functions.Curation.tokenBudget(T.documents(s, d))
    },

    // Curriculum ordering (Curation.curriculum): each source split
    // into 4 complexity tiers (ntile over the cu02 mean-token-length
    // score, ascending — both engines hand the first n_mod_k tiles the
    // extra row, the standard SQL rule), then a deterministic
    // within-phase position by salted content hash — the reproducible
    // stand-in for an in-phase shuffle. Training walks phase 1 → 4,
    // `ord` within each; a rerun on any cluster yields the identical
    // curriculum (epoch ordering is an experiment variable you must be
    // able to replay). Scale: one source-keyed exchange carries both
    // windows (the (source, phase) partitioning refines (source));
    // only (id, score, ntok) longs shuffle, text never does.
    Q(
      "cu11_curriculum",
      s"""WITH s AS (SELECT doc_id, source,
         |    CAST(FLOOR(CAST(100 AS DOUBLE) * length(text)
         |         / len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS score,
         |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS ntok
         |  FROM documents),
         |  p AS (SELECT *, ntile(4) OVER (PARTITION BY source
         |          ORDER BY score, doc_id) AS phase FROM s)
         |SELECT doc_id, source, score, ntok, CAST(phase AS BIGINT) AS phase,
         |  CAST(row_number() OVER (PARTITION BY source, phase
         |    ORDER BY ${P.duckHash60("'cur|' || doc_id::VARCHAR")}, doc_id) AS BIGINT) AS ord
         |FROM p""".stripMargin) { (s, d) =>
      graft.functions.Curation.curriculum(T.documents(s, d))
    },

    // Curation funnel (Curation.funnel): the stage-by-stage row
    // accounting every data-governance review asks for — rows entering
    // each curation stage, rows surviving it, rows it dropped, with
    // conservation (rows_in = rows_out + dropped, and stage N's
    // rows_out = stage N+1's rows_in) guaranteed BY CONSTRUCTION
    // because every count is a conditional over the SAME cu01 ledger
    // (independent per-stage recounts drift the moment a stage
    // definition changes — the classic reconciliation bug). Stage
    // order matches the production pass: quality filter → exact dedup
    // → near-dup cluster keeper. The oracle wraps the IDENTICAL ledger
    // SQL cu01 gates. Scale: cu01's plan plus ONE map-side-combined
    // conditional aggregate to a single row, unpivoted to 3 — the
    // funnel costs nothing beyond the ledger it audits.
    Q(
      "cu12_curation_funnel",
      s"""WITH RECURSIVE
         |     $ledgerCtes,
         |  led AS ($ledgerSelect),
         |  a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |          CAST(count(CASE WHEN is_quality THEN 1 END) AS BIGINT) AS n1,
         |          CAST(count(CASE WHEN is_quality AND exact_keep THEN 1 END) AS BIGINT) AS n2,
         |          CAST(count(CASE WHEN kept THEN 1 END) AS BIGINT) AS n3
         |        FROM led)
         |SELECT CAST(1 AS BIGINT) AS stage_ord, 'quality' AS stage,
         |       n0 AS rows_in, n1 AS rows_out, n0 - n1 AS dropped FROM a
         |UNION ALL SELECT CAST(2 AS BIGINT), 'exact_dedup', n1, n2, n1 - n2 FROM a
         |UNION ALL SELECT CAST(3 AS BIGINT), 'near_dup', n2, n3, n2 - n3 FROM a""".stripMargin) {
      (s, d) => graft.functions.Curation.funnel(T.documents(s, d))
    },

    // The dataset card (Curation.datasetCard): the one-page summary a
    // data release ships — corpus size, language share, quality rate,
    // exact-dup rate, PII incidence, code share — as (metric, value)
    // rows. Every signal is the SHARED expression its standalone gated
    // query pins (tx01/tx05/dd01/tx17/tx21), assembled into ONE scan
    // projection + ONE global aggregate (count-distinct digest
    // included), all map-side combined: the whole card costs one pass
    // over the corpus at any scale.
    Q(
      "cu13_dataset_card",
      s"""WITH $cardSigCtes
         |  a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(ntok) AS BIGINT) AS ntok, CAST(SUM(nchr) AS BIGINT) AS nchr,
         |    CAST(count(CASE WHEN pred_lang = 'en' THEN 1 END) AS BIGINT) AS nen,
         |    CAST(count(CASE WHEN is_quality THEN 1 END) AS BIGINT) AS nq,
         |    CAST(count(DISTINCT digest) AS BIGINT) AS nd,
         |    CAST(count(CASE WHEN has_pii THEN 1 END) AS BIGINT) AS npii,
         |    CAST(count(CASE WHEN is_code THEN 1 END) AS BIGINT) AS ncode
         |  FROM sig)
         |SELECT 'n_docs' AS metric, n AS value FROM a
         |UNION ALL SELECT 'n_tokens', ntok FROM a
         |UNION ALL SELECT 'n_chars', nchr FROM a
         |UNION ALL SELECT 'lang_en_ppm', (1000000 * nen) // n FROM a
         |UNION ALL SELECT 'quality_ppm', (1000000 * nq) // n FROM a
         |UNION ALL SELECT 'exact_dup_ppm', (1000000 * (n - nd)) // n FROM a
         |UNION ALL SELECT 'pii_ppm', (1000000 * npii) // n FROM a
         |UNION ALL SELECT 'code_ppm', (1000000 * ncode) // n FROM a""".stripMargin) {
      (s, d) => graft.functions.Curation.datasetCard(T.documents(s, d))
    },

    // Per-source dataset cards (Curation.sourceCards): cu13's signals
    // keyed by source, one WIDE row per source — the side-by-side
    // subcorpus view a mixture decision reads. Exact-dup rate is
    // scoped to the source (cross-source duplication is the
    // contamination family's story). Same one-scan projection; the
    // grouped aggregate partial-aggregates map-side to source rows.
    Q(
      "cu14_source_cards",
      s"""WITH $cardSigCtes
         |  a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(ntok) AS BIGINT) AS ntok, CAST(SUM(nchr) AS BIGINT) AS nchr,
         |    CAST(count(CASE WHEN pred_lang = 'en' THEN 1 END) AS BIGINT) AS nen,
         |    CAST(count(CASE WHEN is_quality THEN 1 END) AS BIGINT) AS nq,
         |    CAST(count(DISTINCT digest) AS BIGINT) AS nd,
         |    CAST(count(CASE WHEN has_pii THEN 1 END) AS BIGINT) AS npii,
         |    CAST(count(CASE WHEN is_code THEN 1 END) AS BIGINT) AS ncode
         |  FROM sig GROUP BY source)
         |SELECT source, n AS n_docs, ntok AS n_tokens, nchr AS n_chars,
         |  (1000000 * nen) // n AS lang_en_ppm,
         |  (1000000 * nq) // n AS quality_ppm,
         |  (1000000 * (n - nd)) // n AS exact_dup_ppm,
         |  (1000000 * npii) // n AS pii_ppm,
         |  (1000000 * ncode) // n AS code_ppm
         |FROM a""".stripMargin) {
      (s, d) => graft.functions.Curation.sourceCards(T.documents(s, d))
    },

    // Equal-token-mass export shards (Curation.equalMassShards): the
    // corpus cut into 8 contiguous mass tiers by (n_chars, doc_id)
    // order, each holding ≈ total/8 characters — the sharding a
    // training-data export wants (shard MASS, not doc count, bounds a
    // training job's per-file work). The exclusive running mass rides
    // Ordinal.withGlobalPrefixSum over the FULL document frame — the
    // corpus-scale showcase of the r13 primitive (a global SUM() OVER
    // window here is exactly the funnel class the plan rail now
    // rejects); the grand total broadcasts back, the rollup is 8 rows.
    Q(
      "cu15_equal_mass_shards",
      s"""WITH ${equalMassCtes()}
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS mass,
         |  CAST((1000000 * SUM(n_chars)) // max(total) AS BIGINT) AS mass_ppm
         |FROM b GROUP BY shard_id""".stripMargin) {
      (s, d) => graft.functions.Curation.equalMassShards(T.documents(s, d))
    },

    // PHYSICAL equal-mass export (VERDICT r13 #2): cu15 proves the
    // shard assignment's mass bound on a TABLE; this query proves it on
    // the BYTES ON DISK. Curation.equalMassAssign's per-document cut
    // drives TfRecords.writeSharded (shard_id IS the output file via an
    // identity partitioner — hash repartition can't pin row→file), the
    // 8 real .tfrecord shards are read back, shard ids recovered from
    // the FILE NAMES, documents re-parsed from the verified records,
    // and the per-file rollup is gated against the SAME DuckDB oracle
    // as cu15 — on-disk shard masses must equal the assignment table
    // exactly, closing the loop from sharding math to training-data
    // files (the reference's pipelines end at real shard files,
    // imagenet_input.py:168-170). Scale: the one exchange is the
    // terminal shard_id partitioning any sharded export pays; task skew
    // equals the assignment's mass deviation (< one max document).
    Q(
      "cu16_equal_mass_export",
      s"""WITH ${equalMassCtes()}
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS mass,
         |  CAST((1000000 * SUM(n_chars)) // max(total) AS BIGINT) AS mass_ppm
         |FROM b GROUP BY shard_id""".stripMargin) { (s, d) =>
      val assign = graft.functions.Curation.equalMassAssign(T.documents(s, d))
      // records carry the document whole (the q_tfrecord_roundtrip
      // framing: fixed-width decimal doc_id + '|' + utf8 text) so the
      // read-back mass is length(text) in CHARACTERS, not bytes —
      // multibyte corpora must rollup identically to the parquet side
      val recs = T.documents(s, d).select(col("doc_id"), col("text"))
        .join(assign.select("doc_id", "shard_id"), "doc_id")
        .selectExpr("shard_id",
          s"${TR.DocRecord.encodeSql} as rec")
      val path = Scratch.dir("graft-equal-mass-export")
      TR.writeSharded(recs, "rec", "shard_id", 8, path)
      val back = TR.read(s, path)
        .selectExpr(
          // part-00003.tfrecord → 3: the file name IS the shard id
          s"${TR.fileShardIdSql} as shard_id",
          s"length(${TR.DocRecord.textSql("record")}) as chars")
      // Single-pass audit (VERDICT r14 #3): the grand total derives from
      // the numShards-row rollup itself via a global window — the export
      // is scanned ONCE (a second shard read for the total doubles a
      // real export's audit I/O). The window frame is 8 rows: shard_id
      // is clamped to 0..7 by the assignment plan (least(…, 7)), the
      // rail's cu16 exemption records that bound.
      back.groupBy("shard_id")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("chars").cast("long").as("mass"))
        .selectExpr("shard_id", "n_docs", "mass",
          "cast((cast(1000000 as decimal(38,0)) * mass) div " +
            "(sum(mass) over ()) as bigint) as mass_ppm")
    },

    // Curriculum-ORDERED physical export: cu16 pins WHICH file a row
    // lands in; this pins WHERE IN THE FILE. TFRecord's only identity
    // is position, and training-data order is an experiment variable
    // (cu11's phases, deterministic epoch shuffles) — so the sink must
    // PLACE rows: TfRecords.writeShardedSorted rides
    // repartitionAndSortWithinPartitions (one shuffle whose reduce side
    // merges SPILLED sorted runs — a shard bigger than executor memory
    // sorts on disk, never in task memory). Shards compose the
    // production key shape (curriculum phase × block: here phase ×
    // doc_id parity = 8 files, so writer parallelism scales by adding
    // blocks, not by fattening files); within a file rows ascend by
    // (ord, doc_id) — cu11's salted in-phase position. The gate reads
    // the real files back and hashes each file's ORDER itself: a
    // position-weighted checksum Σ pos·doc_id (pos = on-disk rec_idx+1,
    // DECIMAL(38,0) mod 1e9+7 — overflow-safe at any corpus), which any
    // misplacement, swap, or dropped row changes. DuckDB recomputes the
    // curriculum independently, so disk order must equal the oracle's
    // ORDER BY bit-for-bit.
    Q(
      "cu17_curriculum_export",
      s"""WITH s AS (SELECT doc_id, source,
         |    CAST(FLOOR(CAST(100 AS DOUBLE) * length(text)
         |         / len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS score
         |  FROM documents),
         |  p AS (SELECT doc_id, source, ntile(4) OVER (PARTITION BY source
         |          ORDER BY score, doc_id) AS phase FROM s),
         |  r AS (SELECT doc_id, phase,
         |          row_number() OVER (PARTITION BY source, phase
         |            ORDER BY ${P.duckHash60("'cur|' || doc_id::VARCHAR")}, doc_id) AS ord
         |        FROM p),
         |  o AS (SELECT doc_id,
         |          (phase - 1) * 2 + (doc_id % 2) AS shard_id,
         |          row_number() OVER (PARTITION BY phase, doc_id % 2
         |            ORDER BY ord, doc_id) AS pos
         |        FROM r)
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(SUM(CAST((pos % 1000000007) * (doc_id % 1000000007)
         |    % 1000000007 AS HUGEINT)) % 1000000007 AS BIGINT) AS ord_checksum
         |FROM o GROUP BY shard_id""".stripMargin) { (s, d) =>
      val cur = graft.functions.Curation.curriculum(T.documents(s, d))
      val recs = T.documents(s, d).select(col("doc_id"), col("text"))
        .join(cur.select("doc_id", "phase", "ord"), "doc_id")
        .selectExpr(
          "(phase - 1) * 2 + pmod(doc_id, 2) as shard_id",
          // primary key: zero-padded ord (lexicographic == numeric);
          // doc_id rides as a STRUCTURAL tie-break (writeShardedSorted
          // tieCols — ord ties across sources within a shard)
          "lpad(cast(ord as string), 12, '0') as okey",
          "doc_id",
          s"${TR.DocRecord.encodeSql} as rec")
      val path = Scratch.dir("graft-curriculum-export")
      TR.writeShardedSorted(
        recs, "rec", "shard_id", "okey", 8, path, tieCols = Seq("doc_id"))
      TR.read(s, path)
        .selectExpr(
          s"${TR.fileShardIdSql} as shard_id",
          "rec_idx + 1 as pos",
          s"${TR.DocRecord.idSql("record")} as doc_id")
        .groupBy("shard_id")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("doc_id").cast("long").as("id_sum"),
          // row-wise mod BEFORE the sum: each term < p² fits BIGINT and
          // the decimal running sum stays < p·rows — overflow needs
          // 1e29 rows, vs ~1e11 for the naive Σ pos·doc_id form (whose
          // silent-NULL-vs-loud-error divergence between engines is
          // exactly what a gate must not do at scale)
          expr("cast(sum(cast((pos % 1000000007) * (doc_id % 1000000007) " +
            "% 1000000007 as decimal(38,0))) % 1000000007 as bigint)")
            .as("ord_checksum"))
    },

    // Export MANIFEST audit: every sharded write emits `_manifest.json`
    // beside its shards (per file: record count, payload bytes, logical
    // framed bytes) — the metadata a training job sizes input splits
    // and progress from WITHOUT scanning shards. This gate runs the
    // cu16 export and then checks the writer's CLAIMED stats against
    // ground truth DuckDB recomputes independently from the source
    // table (records are 19-digit doc_id + '|' + utf8 text, so payload
    // = 20 + octet_length(text) per document; framing adds 16/record) —
    // a manifest that over- or under-counts a single record or byte
    // hash-mismatches. Scale: the manifest is numShards lines of
    // driver-bounded metadata; the audit costs the export it audits.
    Q(
      "cu18_export_manifest",
      s"""WITH ${equalMassCtes("strlen(text) AS obytes", "obytes")}
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(SUM(20 + obytes) AS BIGINT) AS payload_bytes,
         |  CAST(SUM(20 + obytes) + 16 * count(*) AS BIGINT) AS framed_bytes
         |FROM b GROUP BY shard_id""".stripMargin) { (s, d) =>
      val assign = graft.functions.Curation.equalMassAssign(T.documents(s, d))
      val recs = T.documents(s, d).select(col("doc_id"), col("text"))
        .join(assign.select("doc_id", "shard_id"), "doc_id")
        .selectExpr("shard_id",
          s"${TR.DocRecord.encodeSql} as rec")
      val path = Scratch.dir("graft-manifest-export")
      TR.writeSharded(recs, "rec", "shard_id", 8, path)
      TR.readManifest(s, path)
        .selectExpr("shard as shard_id", "n_records", "payload_bytes",
          "framed_bytes")
    },

    // Sequence packing: concatenate the corpus in doc_id order and cut
    // every 2048 tokens — THE pretraining batch-prep step (every
    // training sample is a fixed-length token window over packed
    // documents; a document belongs to the sequence where its first
    // token lands, the greedy boundary rule). The gate rolls the
    // sequences up into the docs-per-sequence histogram with token
    // conservation (Σ tokens over histogram rows = corpus tokens) —
    // the packing-efficiency table a data team reads to pick sequence
    // length vs padding waste. Scale: the running token total over
    // EVERY document rides Ordinal.withGlobalPrefixSum (the corpus-
    // frame class a global SUM() OVER window would funnel); sequence
    // ids are then a scan-local projection, and both rollups partial-
    // aggregate map-side (seq count ≈ corpus_tokens/2048 distributed
    // over the cluster; the histogram domain is the handful of
    // docs-per-window values).
    Q(
      "cu19_sequence_packing",
      """WITH o AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |  c AS (SELECT doc_id, ntok,
        |          CAST(coalesce(SUM(ntok) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |        FROM o),
        |  q AS (SELECT cum // 2048 AS seq_id, count(*) AS d, SUM(ntok) AS t
        |        FROM c GROUP BY seq_id)
        |SELECT CAST(d AS BIGINT) AS docs_in_seq,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(SUM(t) AS BIGINT) AS tokens
        |FROM q GROUP BY d""".stripMargin) { (s, d) =>
      val o = T.documents(s, d)
        .selectExpr("doc_id",
          "cast(size(split(text, '\\\\s+')) as bigint) as ntok")
      graft.operators.Ordinal
        .withGlobalPrefixSum(o, "doc_id", "ntok", "cum")
        .selectExpr("cum div 2048 as seq_id", "ntok")
        .groupBy("seq_id")
        .agg(count(lit(1)).as("d"), sum("ntok").as("t"))
        .groupBy("d")
        .agg(count(lit(1)).cast("long").as("n_seqs"),
          sum("t").cast("long").as("tokens"))
        .selectExpr("cast(d as bigint) as docs_in_seq", "n_seqs", "tokens")
    },

    // EPOCH-ORDERED physical export (VERDICT r14 #7) — the composition a
    // training job actually consumes: sm15's deterministic epoch
    // permutation (salted content-hash rank, any rerun reproduces it) as
    // the PLACEMENT key of TfRecords.writeShardedSorted, so "write epoch
    // 1's shuffled corpus as 8 shards" ends at real ordered bytes
    // (reference pipelines end at sharded TFRecord files read shuffled,
    // imagenet_input.py:168-170 with the shuffle at :198-202 — here the
    // shuffle is IN the layout, reproducibly). Shards are CONTIGUOUS
    // permutation blocks (shard = (8·(pos-1)) div total), so reading
    // part-00000..part-00007 in order replays the whole permutation.
    // The gate reads the files back and hashes each file's on-disk order
    // (the cu17 position-weighted checksum: Σ pos·doc_id mod 1e9+7 in
    // DECIMAL(38,0), transposition-sensitive) against DuckDB's
    // independent recomputation of the same permutation. Scale: the rank
    // rides Ordinal.withGlobalOrdinal (never a single-partition
    // row_number); the one corpus-byte movement is the terminal
    // shard+sort exchange any ordered export pays
    // (repartitionAndSortWithinPartitions — spilled merge sort, so a
    // shard bigger than executor memory sorts on disk); `total` enters
    // as a driver scalar from a distributed count. The order key embeds
    // the unique global pos, meeting writeShardedSorted's
    // reproducible-layout contract. Text is consumed exactly once (the
    // terminal write), so only the (doc_id) projection persists — it
    // feeds the count and the ordinal's quantile probe — and the
    // text-bearing frame streams through one pruned-then-full pair of
    // scans (caching corpus text for a column used once would cost a
    // full cache write + read — at 100 TB strictly worse than the extra
    // narrow doc_id column reads).
    Q(
      "cu20_epoch_ordered_export",
      s"""WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY
         |      ${P.duckHash60("'epoch|1|' || doc_id::VARCHAR")}, doc_id) AS pos
         |    FROM documents),
         |  t AS (SELECT count(*) AS n FROM r),
         |  o AS (SELECT doc_id, pos, least((8 * (pos - 1)) // n, 7) AS shard_id
         |        FROM r CROSS JOIN t),
         |  w AS (SELECT doc_id, shard_id,
         |          row_number() OVER (PARTITION BY shard_id ORDER BY pos) AS p
         |        FROM o)
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(arg_min(doc_id, p) AS BIGINT) AS first_doc,
         |  CAST(SUM(CAST((p % 1000000007) * (doc_id % 1000000007)
         |    % 1000000007 AS HUGEINT)) % 1000000007 AS BIGINT) AS ord_checksum
         |FROM w GROUP BY shard_id""".stripMargin) { (s, d) =>
      // the sm15 idiom, text-aware: persist ONLY (doc_id) — count and
      // quantile probe ride the cache; the text frame is never cached
      val base = T.documents(s, d).select("doc_id").persist()
      val total = base.count()
      // empty corpus would make the shard expression divide by zero and
      // surface as writeShardedSorted's unrelated-looking null-shard-id
      // failure (ADVICE r15) — fail self-explanatorily instead
      require(total > 0, "cu20: empty corpus (no documents to export)")
      val hkExpr = P.hash60("concat('epoch|1|', cast(doc_id as string))")
      // hk is a hash60 value: fixed equal-width splits replace the
      // eager quantile probe scan (r19; ordinal values unchanged)
      val splits = graft.operators.Ordinal.hash60Splits()
      val keyed = T.documents(s, d)
        .selectExpr("doc_id", "text", s"$hkExpr as hk")
      val recs = graft.operators.Ordinal
        .withGlobalOrdinal(keyed, "hk", "pos", splits = Some(splits),
          tieCols = Seq("doc_id"))
        .selectExpr(
          s"least((8 * (pos - 1)) div $total, 7) as shard_id",
          "lpad(cast(pos as string), 19, '0') as okey",
          "doc_id",
          s"${TR.DocRecord.encodeSql} as rec")
      val path = Scratch.dir("graft-epoch-ordered-export")
      // pos is already unique (the Ordinal's rank), but declaring the
      // doc_id tie makes the reproducible-layout contract structural
      // rather than an invariant the caller has to know
      TR.writeShardedSorted(
        recs, "rec", "shard_id", "okey", 8, path, tieCols = Seq("doc_id"))
      TR.read(s, path)
        .selectExpr(
          s"${TR.fileShardIdSql} as shard_id",
          "rec_idx + 1 as pos",
          s"${TR.DocRecord.idSql("record")} as doc_id")
        .groupBy("shard_id")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          expr("min_by(doc_id, pos)").cast("long").as("first_doc"),
          expr("cast(sum(cast((pos % 1000000007) * (doc_id % 1000000007) " +
            "% 1000000007 as decimal(38,0))) % 1000000007 as bigint)")
            .as("ord_checksum"))
    })

  /** cu15's equal-mass cut as DuckDB CTEs (o/t/c/b, ending in
    * `b(shard_id, n_chars, total[, extra])`) — ONE SQL definition shared
    * by the cu15 rollup, cu16's on-disk audit, and cu18's manifest
    * audit, so the cut (ordering, tie-break, clamp, shard count) can't
    * drift between the three gates (the sm10/sm11 shared-chain rule).
    * `extraSel`/`extraCol` ride one additional per-document column
    * through to `b`. Caller supplies `WITH `. A `def`: it interpolates
    * during `queries` init.
    */
  private def equalMassCtes(extraSel: String = "", extraCol: String = ""): String = {
    val sel = if (extraSel.isEmpty) "" else s", $extraSel"
    val c = if (extraCol.isEmpty) "" else s", $extraCol"
    s"""o AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars$sel FROM documents),
       |  t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total FROM o),
       |  c AS (SELECT doc_id, n_chars$c,
       |          CAST(coalesce(SUM(n_chars) OVER (ORDER BY n_chars, doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |        FROM o),
       |  b AS (SELECT least((8 * cum) // total, 7) AS shard_id, n_chars, total$c
       |        FROM c CROSS JOIN t)""".stripMargin
  }

  /** cu13/cu14's shared signal CTEs (lt + sig) — ONE SQL definition for
    * both card oracles, mirroring the Scala side's shared
    * `cardSignals` projection. A `def`: it interpolates during
    * `queries` init.
    */
  private def cardSigCtes: String =
    s"""lt AS (SELECT doc_id, source, text,
       |       regexp_split_to_array(lower(text), '\\s+') AS ltoks FROM documents),
       |  sig AS (SELECT source,
       |    CAST(len(ltoks) AS BIGINT) AS ntok,
       |    CAST(length(text) AS BIGINT) AS nchr,
       |    CASE WHEN len(list_filter(ltoks, w -> w IN (${TextOps.deWords})))
       |           > len(list_filter(ltoks, w -> w IN (${TextOps.enWords})))
       |         AND len(list_filter(ltoks, w -> w IN (${TextOps.deWords})))
       |           > len(list_filter(ltoks, w -> w IN (${TextOps.frWords}))) THEN 'de'
       |         WHEN len(list_filter(ltoks, w -> w IN (${TextOps.frWords})))
       |           > len(list_filter(ltoks, w -> w IN (${TextOps.enWords})))
       |         AND len(list_filter(ltoks, w -> w IN (${TextOps.frWords})))
       |           >= len(list_filter(ltoks, w -> w IN (${TextOps.deWords}))) THEN 'fr'
       |         ELSE 'en' END AS pred_lang,
       |    (len(ltoks) BETWEEN 10 AND 100000
       |     AND (length(text)::DOUBLE / len(ltoks)) BETWEEN 2.0 AND 12.0
       |     AND ((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
       |          / length(text)) <= 0.2
       |     AND (len(list_filter(ltoks, w -> w IN (${TextOps.enWords})))::DOUBLE
       |          / len(ltoks)) >= 0.0) AS is_quality,
       |    ${P.duckHash60("text")} AS digest,
       |    len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
       |      + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
       |      + len(regexp_extract_all(text, '\\b555-\\d{4}\\b')) > 0 AS has_pii,
       |    (1000000 * (length(text) - length(translate(text, '{}();=', ''))))
       |      // length(text) > 15000 AS is_code
       |  FROM lt),""".stripMargin
}
