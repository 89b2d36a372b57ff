package graft.operators

import graft.{Q, Tables => T}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata alongside. The test fixtures have no real media, so
  * the payload is the utf-8 encoding of `text` — the *plumbing* (binary
  * schema, metadata extraction, chunk/frame sampling, batch shape) is real
  * and oracle-checked; the codec itself is a deterministic stub (see
  * graft.multimodal.DecodeStub for the mapPartitions decode path).
  */
object MultimodalOps {

  val queries: Seq[Q] = Seq(

    // Metadata extraction over a binary payload column: byte size, content
    // digest prefix, and a fake modality tag derived from the size.
    Q(
      "mm01_binary_meta",
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS nbytes,
        |  substr(md5(text), 1, 8) AS sig,
        |  (['image','audio','video'])[1 + CAST(strlen(text) % 3 AS INT)] AS kind
        |FROM documents""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .selectExpr(
          "doc_id",
          "cast(length(payload) as bigint) as nbytes",
          "substr(md5(text), 1, 8) as sig",
          "element_at(array('image','audio','video'), 1 + cast(length(payload) % 3 as int)) as kind")
    },

    // Frame sampling: split the payload into 32-byte chunks, keep every
    // 2nd chunk, digest each — the shape of video frame-sample / audio
    // window extraction, minus the codec.
    Q(
      "mm02_chunk_sample",
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, ((strlen(text) - 1) // 32) + 1)) AS idx
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
        |  substr(md5(substr(text, CAST(idx * 32 + 1 AS INT), 32)), 1, 12) AS chunk_sig
        |FROM c WHERE idx % 2 = 0""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .filter(col("doc_id") < 100)
        .selectExpr(
          "doc_id", "text",
          "explode(sequence(0L, cast(floor((octet_length(text) - 1) / 32) as bigint))) as idx")
        .filter(col("idx") % 2 === 0)
        .selectExpr(
          "doc_id",
          "cast(idx as bigint) as idx",
          "substr(md5(substr(text, cast(idx * 32 + 1 as int), 32)), 1, 12) as chunk_sig")
    },

    // REAL image decode (imagenet_input.py:50-120 analogue): synthetic
    // PNGs (pixel = closed-form function of doc_id) are encoded AND
    // decoded with javax.imageio inside mapPartitions; the gated output is
    // integer pixel statistics of the DECODED image (full sum + 4×4
    // nearest-neighbor resample sum). PNG is lossless, so DuckDB can
    // compute the same statistics from the closed form — a hash-match
    // oracle over a real codec round-trip.
    Q(
      "mm03_image_decode",
      """WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h
        |           FROM documents WHERE doc_id < 64)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  list_reduce(list_transform(range(0, w * h),
        |    i -> (doc_id * 31 + 7 * (i % w) + 13 * (i // w)) % 256),
        |    (a, b) -> a + b) AS px_sum,
        |  list_reduce(list_transform(range(0, 16),
        |    j -> (doc_id * 31 + 7 * (((j % 4) * w) // 4)
        |          + 13 * (((j // 4) * h) // 4)) % 256),
        |    (a, b) -> a + b) AS nn4_sum
        |FROM p""".stripMargin) { (s, d) =>
      import graft.multimodal.ImageCodec
      ImageCodec.decodeFeatures(s, ImageCodec.payloads(s, d, 64)).toDF()
    },

    // Audio-feature shape: payload bytes as 8-bit PCM samples, 25-sample
    // windows → per-window energy (sum of squares) and peak — the VAD /
    // loudness-analysis layout minus the codec. The fixture text is pure
    // ASCII (verified: char length = byte length corpus-wide), so
    // ascii(substr(...)) is the portable byte accessor in both engines.
    Q(
      "mm04_pcm_energy",
      """WITH w AS (SELECT doc_id, text,
        |             unnest(range(0, (strlen(text) + 24) // 25)) AS win
        |           FROM documents WHERE doc_id < 50 AND strlen(text) > 0),
        |     s AS (SELECT doc_id, win,
        |             list_transform(range(1, least(25, strlen(text) - win*25) + 1),
        |               i -> ascii(substr(text, CAST(win*25 + i AS INT), 1))) AS smp
        |           FROM w)
        |SELECT doc_id, CAST(win AS BIGINT) AS win_id,
        |  CAST(list_reduce(list_prepend(0, list_transform(smp, v -> v*v)),
        |       (a, b) -> a + b) AS BIGINT) AS energy,
        |  CAST(list_max(smp) AS BIGINT) AS peak
        |FROM s""".stripMargin) { (s, d) =>
      T.documents(s, d)
        // the length guard keeps sequence()'s stop ≥ 0: Spark generates a
        // DESCENDING sequence for stop < start instead of an empty one
        .filter(col("doc_id") < 50 && length(col("text")) > 0)
        .selectExpr(
          "doc_id", "text",
          "explode(sequence(0, cast((length(text) + 24) div 25 as int) - 1)) as win")
        .selectExpr(
          "doc_id", "win",
          "transform(sequence(1, least(25, length(text) - win*25)), " +
            "i -> ascii(substring(text, win*25 + i, 1))) as smp")
        .selectExpr(
          "doc_id", "cast(win as bigint) as win_id",
          "cast(aggregate(transform(smp, v -> v*v), 0, (a, b) -> a + b) as bigint) as energy",
          "cast(array_max(smp) as bigint) as peak")
    },

    // REAL WAV decode (audio twin of mm03): synthetic 16-bit mono PCM
    // WAVs (sample = closed-form function of doc_id) are encoded AND
    // decoded with javax.sound.sampled inside mapPartitions; the gated
    // output is integer sample statistics of the DECODED signal. WAV PCM
    // is lossless, so DuckDB computes the same statistics from the closed
    // form — a hash-match oracle over a real codec round-trip.
    Q(
      "mm05_wav_decode",
      """WITH p AS (SELECT doc_id, 200 + doc_id % 50 AS n
        |           FROM documents WHERE doc_id < 64),
        |     s AS (SELECT doc_id, n,
        |             list_transform(range(0, n),
        |               i -> (doc_id * 37 + 11 * i) % 65536 - 32768) AS smp
        |           FROM p)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_max(smp) AS BIGINT) AS peak,
        |  CAST(list_reduce(list_prepend(0, list_transform(smp, v -> v * v)),
        |       (a, b) -> a + b) AS BIGINT) AS sq_sum
        |FROM s""".stripMargin) { (s, d) =>
      import graft.multimodal.AudioCodec
      AudioCodec.decodeFeatures(s, AudioCodec.payloads(s, d, 64)).toDF()
    },

    // Video keyframe-seek frame sampling (the dataloader pattern of
    // frame-subsampled video pretraining): the payload is a fake
    // elementary stream of 16-byte frames with a keyframe every 8
    // (GOP=8) and fps from metadata. Four timestamps are sampled
    // uniformly per clip; each resolves to its target frame, the
    // nearest PRECEDING keyframe (where a real decoder must seek), and
    // the decode-ahead distance — the cost model for clip sampling.
    // The frame digest stands in for the decoded tensor (codec stubbed
    // per the multimodal contract; the seek/offset plumbing is real and
    // all-integer). Scan-local projection + explode; nothing shuffles.
    Q(
      "mm06_frame_sample",
      """WITH p AS (SELECT doc_id, text, strlen(text) // 16 AS nframes,
        |             4 + doc_id % 3 AS fps
        |           FROM documents WHERE doc_id < 80),
        |     s AS (SELECT doc_id, text, nframes, fps,
        |             unnest(range(0, 4)) AS j
        |           FROM p WHERE nframes > 0),
        |     f AS (SELECT doc_id, fps, j, (j * nframes) // 4 AS tf, text FROM s)
        |SELECT doc_id, CAST(j AS BIGINT) AS sample_idx,
        |  CAST(tf AS BIGINT) AS frame_idx,
        |  CAST((tf // 8) * 8 AS BIGINT) AS keyframe_idx,
        |  CAST(tf - (tf // 8) * 8 AS BIGINT) AS decode_ahead,
        |  CAST((tf * 1000) // fps AS BIGINT) AS ts_ms,
        |  substr(md5(substr(text, CAST(tf * 16 + 1 AS INT), 16)), 1, 12) AS frame_sig
        |FROM f""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .filter(col("doc_id") < 80)
        .selectExpr(
          "doc_id", "text",
          "octet_length(text) div 16 as nframes",
          "4 + doc_id % 3 as fps")
        .filter(col("nframes") > 0)
        .selectExpr("doc_id", "text", "nframes", "fps",
          "explode(sequence(0L, 3L)) as j")
        .selectExpr("doc_id", "fps", "j", "(j * nframes) div 4 as tf", "text")
        .selectExpr(
          "doc_id",
          "cast(j as bigint) as sample_idx",
          "cast(tf as bigint) as frame_idx",
          "cast((tf div 8) * 8 as bigint) as keyframe_idx",
          "cast(tf - (tf div 8) * 8 as bigint) as decode_ahead",
          "cast((tf * 1000) div fps as bigint) as ts_ms",
          "substr(md5(substring(text, cast(tf * 16 + 1 as int), 16)), 1, 12) as frame_sig")
    },

    // Perceptual image hash (ImageCodec.ahash): REAL decode
    // (javax.imageio, mm03's codec round-trip) → deterministic 8×8
    // nearest-neighbor resample → average-hash bits (pixel·64 > Σpixels,
    // strict integer compare, no float mean) shipped as two BIGINT
    // words, plus the Hamming distance to the previous doc's hash (−1
    // for the first) — the near-duplicate-image dedup primitive. PNG is
    // lossless, so DuckDB reproduces the identical bits from the
    // closed-form pixels: a hash-match oracle over a real codec path.
    // Scale: decode + hash run partition-local in mapPartitions (no
    // shuffle, payload dropped at the boundary); the chain itself runs
    // BANDED (doc_id div 16 partitions + an aggregated boundary-stitch
    // frame, see hammingChainCols) so no global window survives — a
    // production pairing pass bands on hash prefixes exactly like
    // dd10's SimHash family (mm08 is that query).
    Q(
      "mm07_image_ahash",
      """WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h
        |           FROM documents WHERE doc_id < 64),
        |  a AS (SELECT doc_id, w, h,
        |          list_transform(range(0, 64),
        |            j -> (doc_id * 31 + 7 * (((j % 8) * w) // 8)
        |                  + 13 * (((j // 8) * h) // 8)) % 256) AS px
        |        FROM p),
        |  s AS (SELECT doc_id, w, h, px,
        |          list_reduce(list_prepend(0, px), (x, y) -> x + y) AS psum
        |        FROM a),
        |  hsh AS (SELECT doc_id, w, h,
        |          list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
        |            i -> CASE WHEN px[i + 1] * 64 > psum THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
        |            (x, y) -> x + y) AS ahash_lo,
        |          list_reduce(list_prepend(0::BIGINT, list_transform(range(32, 64),
        |            i -> CASE WHEN px[i + 1] * 64 > psum THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END)),
        |            (x, y) -> x + y) AS ahash_hi
        |        FROM s)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  ahash_lo, ahash_hi,
        |  coalesce(CAST(bit_count(xor(ahash_lo, lag(ahash_lo) OVER win))
        |    + bit_count(xor(ahash_hi, lag(ahash_hi) OVER win)) AS BIGINT), -1) AS ham_prev
        |FROM hsh WINDOW win AS (ORDER BY doc_id)""".stripMargin) { (s, d) =>
      import graft.multimodal.ImageCodec
      withBandCarry(
          ImageCodec.ahashFeatures(s, ImageCodec.payloads(s, d, 64)).toDF(),
          "ahash_lo", "ahash_hi")
        .select(hammingChainCols("ahash_lo", "ahash_hi"): _*)
    },

    // Perceptual near-dup image pairing: mm07's aHash run through
    // dd10's SimHash pairing machinery — 4×16-bit bands of the 64-bit
    // hash, bucket join with the standard 64 cap, exact Hamming verify
    // (≤ 10 bits) reading two longs per side. The fixture makes ids
    // 5k/5k+1 share a pixel seed (same pattern, different dimensions →
    // near-identical 8×8 resamples): those seeded pairs land at the
    // BOTTOM of the Hamming range (0-5 bits at sf0.01) through the REAL
    // decode path. Other synthetic gradients also pair at moderate
    // distances — correct behavior, not noise: linear-ramp images ARE
    // perceptually alike, which is exactly what aHash measures.
    // Closed-form pixels keep the whole chain (decode → resample →
    // hash → band → verify) hash-match oracle-checkable. Scale: decode
    // partition-local; only (doc_id, band, key) and two hash longs per
    // doc ever shuffle — the dd10 scale shape on image content.
    Q(
      "mm08_ahash_neardup",
      """WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h,
        |             CASE WHEN doc_id % 5 <= 1 THEN (doc_id // 5) * 5
        |                  ELSE doc_id END AS seed
        |           FROM documents WHERE doc_id < 64),
        |  a AS (SELECT doc_id, w, h,
        |          list_transform(range(0, 64),
        |            j -> (seed * 31 + 7 * (((j % 8) * w) // 8)
        |                  + 13 * (((j // 8) * h) // 8)) % 256) AS px
        |        FROM p),
        |  s AS (SELECT doc_id, px,
        |          list_reduce(list_prepend(0, px), (x, y) -> x + y) AS psum
        |        FROM a),
        |  hsh AS (SELECT doc_id,
        |          list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
        |            i -> CASE WHEN px[i + 1] * 64 > psum THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
        |            (x, y) -> x + y) AS lo,
        |          list_reduce(list_prepend(0::BIGINT, list_transform(range(32, 64),
        |            i -> CASE WHEN px[i + 1] * 64 > psum THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END)),
        |            (x, y) -> x + y) AS hi
        |        FROM s),
        |  bands AS (
        |    SELECT doc_id, 0 AS band, lo % 65536 AS k FROM hsh
        |    UNION ALL SELECT doc_id, 1, (lo // 65536) % 65536 FROM hsh
        |    UNION ALL SELECT doc_id, 2, hi % 65536 FROM hsh
        |    UNION ALL SELECT doc_id, 3, (hi // 65536) % 65536 FROM hsh),
        |  sized AS (SELECT band, k, count(*) AS n FROM bands GROUP BY band, k),
        |  small AS (SELECT b.doc_id, b.band, b.k FROM bands b
        |            JOIN sized z ON z.band = b.band AND z.k = b.k AND z.n <= 64),
        |  pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |            FROM small a JOIN small b
        |              ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id)
        |SELECT p.a_id, p.b_id,
        |  CAST(bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) AS BIGINT) AS hamming
        |FROM pairs p JOIN hsh ha ON ha.doc_id = p.a_id
        |             JOIN hsh hb ON hb.doc_id = p.b_id
        |WHERE bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) <= 10""".stripMargin) {
      (s, d) =>
        import graft.multimodal.ImageCodec
        val h = ImageCodec
          .ahashFeatures(s, ImageCodec.neardupPayloads(s, d, 64)).toDF()
          .select(col("doc_id"), col("ahash_lo").as("lo"), col("ahash_hi").as("hi"))
          .persist() // bands + both verify sides; caller clearCache releases
        val bands = h.selectExpr("doc_id",
          "stack(4, 0, lo % 65536, 1, (lo div 65536) % 65536, " +
            "2, hi % 65536, 3, (hi div 65536) % 65536) as (band, k)")
        val sized = bands.groupBy("band", "k").agg(count(lit(1)).as("n"))
        val small = bands
          .join(sized.filter(col("n") <= 64), Seq("band", "k"))
          .select("doc_id", "band", "k")
        val pairs = small.select(col("doc_id").as("a_id"), col("band"), col("k"))
          .join(small.select(col("doc_id").as("b_id"), col("band"), col("k")),
            Seq("band", "k"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        pairs
          .join(h.select(col("doc_id").as("a_id"), col("lo").as("alo"),
            col("hi").as("ahi")), "a_id")
          .join(h.select(col("doc_id").as("b_id"), col("lo").as("blo"),
            col("hi").as("bhi")), "b_id")
          .selectExpr("a_id", "b_id",
            "cast(bit_count(alo ^ blo) + bit_count(ahi ^ bhi) as bigint) as hamming")
          .filter(col("hamming") <= 10)
    },

    // Energy-threshold voice-activity segments over REAL-decoded PCM
    // (the speech-data curation primitive that decides which audio spans
    // are worth transcribing/training on): mm05's WAV round-trip feeds
    // AudioCodec.decodeSamples (real javax.sound decode, partition-local,
    // payload dropped at the mapPartitions boundary), tumbling 25-sample
    // frames score Σs² energy, frames above threshold merge into maximal
    // active segments via the dd18 gaps-and-islands discipline. WAV PCM
    // is lossless so DuckDB reproduces identical segments from the
    // closed-form samples — a hash-match oracle over a real codec + DSP
    // chain. Scale: decode + framing + energy are scan-local; only
    // (doc_id, frame) longs reach the per-doc island window.
    Q(
      "mm09_vad_segments",
      """WITH p AS (SELECT doc_id, 200 + doc_id % 50 AS n
        |           FROM documents WHERE doc_id < 64),
        |  s AS (SELECT doc_id, n,
        |          list_transform(range(0, n),
        |            i -> (doc_id * 37 + 11 * i) % 65536 - 32768) AS smp
        |        FROM p),
        |  w AS (SELECT doc_id, unnest(range(0, n // 25)) AS win, smp FROM s),
        |  e AS (SELECT doc_id, win,
        |          list_reduce(list_prepend(0::BIGINT,
        |            list_transform(list_slice(smp, win*25 + 1, win*25 + 25),
        |              v -> (v::BIGINT * v))), (a, b) -> a + b) AS energy
        |        FROM w),
        |  a AS (SELECT doc_id, win FROM e WHERE energy > 9000000000),
        |  g AS (SELECT doc_id, win,
        |          CASE WHEN lag(win) OVER (PARTITION BY doc_id ORDER BY win) IS NULL
        |                 OR win > lag(win) OVER (PARTITION BY doc_id ORDER BY win) + 1
        |               THEN 1 ELSE 0 END AS ns
        |        FROM a),
        |  t AS (SELECT doc_id, win,
        |          SUM(ns) OVER (PARTITION BY doc_id ORDER BY win
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |        FROM g)
        |SELECT doc_id, CAST(sid AS BIGINT) AS seg_id,
        |  CAST(min(win) AS BIGINT) AS start_win,
        |  CAST(max(win) + 1 AS BIGINT) AS end_win,
        |  CAST(count(*) AS BIGINT) AS n_win
        |FROM t GROUP BY doc_id, sid""".stripMargin) { (s, d) =>
      import graft.multimodal.AudioCodec
      AudioCodec.vadSegments(s, AudioCodec.payloads(s, d, 64))
    },

    // Stereo→mono downmix + normalization plan: interleaved L/R frames
    // (closed-form 8-bit samples — the mm04/mm05 synthetic-payload
    // convention) downmixed M = (L+R) div 2 per frame, with per-doc
    // peak, total energy, and the peak-normalization gain_ppm a
    // loudness-leveling pass would apply — the channel-layout plumbing
    // (frame interleave arithmetic, per-channel closed forms, integer
    // downmix) of an audio ingest pipeline with the codec swapped for
    // deterministic synthesis, per the multimodal stub contract.
    // Samples stay in 0..255 so `div 2` agrees across engines (floor
    // vs truncation differ on negatives). Scale: pure scan projection —
    // the whole per-doc chain is two HOF folds inside one codegen'd
    // stage, zero shuffle.
    Q(
      "mm10_stereo_downmix",
      """WITH p AS (SELECT doc_id, 100 + doc_id % 32 AS n
        |           FROM documents WHERE doc_id < 64),
        |  m AS (SELECT doc_id, n,
        |          list_transform(range(0, n),
        |            i -> ((doc_id * 7 + 13 * i) % 256 + (doc_id * 11 + 17 * i) % 256) // 2) AS mono
        |        FROM p)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(list_max(mono) AS BIGINT) AS peak,
        |  CAST(list_reduce(list_prepend(0::BIGINT,
        |    list_transform(mono, v -> v::BIGINT * v)), (a, b) -> a + b) AS BIGINT) AS energy,
        |  CAST((1000000 * 255) // list_max(mono) AS BIGINT) AS gain_ppm
        |FROM m""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .filter(col("doc_id") < 64)
        .selectExpr("doc_id", "cast(100 + doc_id % 32 as int) as n")
        .selectExpr("doc_id", "n",
          "transform(sequence(0, n - 1), " +
            "i -> ((doc_id * 7 + 13 * i) % 256 + (doc_id * 11 + 17 * i) % 256) div 2) as mono")
        .selectExpr("doc_id", "cast(n as bigint) as n_frames",
          "cast(array_max(mono) as bigint) as peak",
          "cast(aggregate(transform(mono, v -> cast(v as bigint) * v), " +
            "cast(0 as bigint), (a, b) -> a + b) as bigint) as energy",
          "cast((1000000 * 255) div array_max(mono) as bigint) as gain_ppm")
    },

    // Difference-hash (dHash) through the REAL codec — mm07's aHash
    // complement: real PNG decode → deterministic 9×8 nearest-neighbor
    // resample → bit (j·8+i) set iff pixel (i,j) > pixel (i+1,j), the
    // horizontal-gradient sign. Comparing NEIGHBORS instead of the
    // global mean makes dHash invariant to the uniform brightness
    // shifts that flip aHash bits wholesale — a production perceptual
    // stack bands on BOTH and verifies on the pair. PNG is lossless
    // and the resample is integer-floor, so DuckDB reproduces the
    // hash from the synthetic closed form — a hash-match gate across
    // a real codec round-trip. Scale: decode + hash partition-local
    // (mapPartitions); the Hamming chain runs banded with a boundary
    // stitch (hammingChainCols), no global window.
    Q(
      "mm11_image_dhash", {
        def px9(ix: String, j: String) =
          s"(doc_id * 31 + 7 * ((($ix) * w) // 9) + 13 * ((($j) * h) // 8)) % 256"
        s"""WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id < 64),
           |  b AS (SELECT doc_id, w, h,
           |          list_transform(range(0, 64), k ->
           |            CASE WHEN ${px9("k % 8", "k // 8")} > ${px9("(k % 8) + 1", "k // 8")}
           |                 THEN 1 ELSE 0 END) AS bits
           |        FROM p),
           |  hsh AS (SELECT doc_id, w, h,
           |          list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
           |            i -> CASE WHEN bits[i + 1] = 1 THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
           |            (x, y) -> x + y) AS dhash_lo,
           |          list_reduce(list_prepend(0::BIGINT, list_transform(range(32, 64),
           |            i -> CASE WHEN bits[i + 1] = 1 THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END)),
           |            (x, y) -> x + y) AS dhash_hi
           |        FROM b)
           |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |  dhash_lo, dhash_hi,
           |  coalesce(CAST(bit_count(xor(dhash_lo, lag(dhash_lo) OVER win))
           |    + bit_count(xor(dhash_hi, lag(dhash_hi) OVER win)) AS BIGINT), -1) AS ham_prev
           |FROM hsh WINDOW win AS (ORDER BY doc_id)""".stripMargin
      }) { (s, d) =>
      import graft.multimodal.ImageCodec
      withBandCarry(
          ImageCodec.dhashFeatures(s, ImageCodec.payloads(s, d, 64)).toDF(),
          "dhash_lo", "dhash_hi")
        .select(hammingChainCols("dhash_lo", "dhash_hi"): _*)
    },

    // The reference's flagship ingest path end-to-end, natively:
    // TFRecord shards of tf.train.Example protos in the ImageNet layout
    // (image/encoded PNG bytes + image/class/label int64 —
    // imagenet_input.py:42-48's exact feature keys) → record framing
    // verified (both CRCs) → Example wire parse → REAL image decode
    // (javax.imageio) → per-label pixel statistics. PNG is lossless and
    // the synthetic pattern closed-form, so DuckDB reproduces the pixel
    // sums without any codec — the gate pins the ENTIRE chain
    // (TfRecords framing, TfExample parse, PNG decode) bit-exactly.
    // Scale: encode/parse/decode all ride partition-local Dataset maps;
    // the 4 shards are the read-parallelism unit; the only exchange is
    // the final 10-row label rollup.
    Q(
      "mm12_imagenet_ingest",
      """WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h
        |           FROM documents WHERE doc_id < 64),
        |  f AS (SELECT doc_id % 10 AS label, w, h,
        |          list_reduce(list_transform(range(0, w * h),
        |            i -> (doc_id * 31 + 7 * (i % w) + 13 * (i // w)) % 256),
        |            (a, b) -> a + b) AS px_sum
        |        FROM p)
        |SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(w * h) AS BIGINT) AS px, CAST(sum(px_sum) AS BIGINT) AS px_sum
        |FROM f GROUP BY label""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.multimodal.ImageCodec
      import graft.sources.{TfExample, TfRecords}
      val path = Scratch.dir("graft-tfex-imagenet")
      val encoded = ImageCodec.payloads(s, d, 64).as[(Long, Array[Byte])]
        .map { case (id, png) =>
          TfExample.encode(Seq(
            "image/encoded" -> TfExample.Feature(bytes = Seq(png)),
            "image/format" -> TfExample.Feature(bytes = Seq("PNG".getBytes("UTF-8"))),
            "image/class/label" -> TfExample.Feature(longs = Seq(id % 10)),
            "image/source_id" -> TfExample.Feature(longs = Seq(id))))
        }
        .toDF("rec")
      TfRecords.write(encoded.repartition(4), "rec", path)
      TfRecords.read(s, path).select("record").as[Array[Byte]]
        .mapPartitions(_.map { rec =>
          val m = TfExample.decode(rec)
          val id = TfExample.int64(m, "image/source_id", -1L)
          val f = ImageCodec.features(id, m("image/encoded").bytes.head)
          (TfExample.int64(m, "image/class/label", -1L),
            f.width * f.height, f.px_sum)
        })
        .toDF("label", "px1", "px_sum1")
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("px1").cast("long").as("px"),
          sum("px_sum1").cast("long").as("px_sum"))
    },

    // The DETECTION ingest shape composed end-to-end (simple_ssd/
    // dataloader.py:249-446 + object_detection/tf_example_decoder.py:
    // 34-77 — with mm12/fn14 this covers the remaining MLPerf workload
    // family): TFRecord shards of Examples carrying image/encoded PNG
    // bytes PLUS variable-length per-object box lists
    // (image/object/bbox/{xmin,ymin,xmax,ymax} and class labels — the
    // VarLen list path fn13 gates, here inside a composed chain) →
    // CRC-verified framing → wire parse → REAL javax.imageio decode →
    // per-box CROP over the decoded pixels (the decode-and-crop the SSD
    // loader actually does) + ppm-normalized coordinates
    // (tf_example_decoder normalizes boxes to [0,1]; integer ppm is the
    // portable rendering). Box geometry is closed-form off (doc_id, i),
    // always strictly inside the image, 1-3 boxes per doc — so DuckDB
    // reproduces every crop sum without a codec and the gate pins the
    // WHOLE chain (framing, VarLen parse, decode, crop window
    // arithmetic) bit-exactly. Scale: encode/parse/decode/crop all ride
    // partition-local Dataset maps; boxes explode per-record INSIDE the
    // map (no Generate over payload bytes); no exchange anywhere — the
    // output is per-box rows.
    Q(
      "mm13_ssd_ingest",
      """WITH p AS (SELECT doc_id, 16 + doc_id % 5 AS w, 12 + doc_id % 7 AS h
        |           FROM documents WHERE doc_id < 64),
        |  b AS (SELECT doc_id, w, h,
        |          unnest(range(0, 1 + CAST(doc_id % 3 AS INT))) AS i FROM p),
        |  g AS (SELECT doc_id, w, h, CAST(i AS BIGINT) AS box_idx,
        |    (doc_id * 3 + 5 * i) % (w - 4) AS xmin,
        |    (doc_id * 7 + 3 * i) % (h - 4) AS ymin,
        |    (doc_id * 3 + 5 * i) % (w - 4) + 1 + (doc_id + i) % 4 AS xmax,
        |    (doc_id * 7 + 3 * i) % (h - 4) + 1 + (doc_id + 2 * i) % 4 AS ymax,
        |    (doc_id + i) % 10 AS label FROM b)
        |SELECT doc_id, box_idx, CAST(label AS BIGINT) AS label,
        |  CAST((xmax - xmin) * (ymax - ymin) AS BIGINT) AS area,
        |  CAST(list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(0, (xmax - xmin) * (ymax - ymin)),
        |      t -> (doc_id * 31 + 7 * (xmin + t % (xmax - xmin))
        |            + 13 * (ymin + t // (xmax - xmin))) % 256)),
        |    (a, v) -> a + v) AS BIGINT) AS crop_sum,
        |  CAST((1000000 * xmin) // w AS BIGINT) AS xmin_ppm,
        |  CAST((1000000 * ymin) // h AS BIGINT) AS ymin_ppm,
        |  CAST((1000000 * xmax) // w AS BIGINT) AS xmax_ppm,
        |  CAST((1000000 * ymax) // h AS BIGINT) AS ymax_ppm
        |FROM g""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.multimodal.ImageCodec
      import graft.sources.{TfExample, TfRecords}
      val path = Scratch.dir("graft-tfex-ssd")
      val encoded = ImageCodec.payloads(s, d, 64).as[(Long, Array[Byte])]
        .map { case (id, png) =>
          TfExample.encode(Seq(
            "image/encoded" -> TfExample.Feature(bytes = Seq(png)),
            "image/format" -> TfExample.Feature(bytes = Seq("PNG".getBytes("UTF-8"))),
            "image/source_id" -> TfExample.Feature(longs = Seq(id))) ++
            DetectionBox.features(DetectionBox.boxes(id, 16 + id % 5, 12 + id % 7)))
        }
        .toDF("rec")
      TfRecords.write(encoded.repartition(4), "rec", path)
      TfRecords.read(s, path).select("record").as[Array[Byte]]
        .mapPartitions(_.flatMap { rec =>
          val m = TfExample.decode(rec)
          val id = TfExample.int64(m, "image/source_id", -1L)
          val img = ImageCodec.decodeImage(m("image/encoded").bytes.head)
          val (w, h) = (img.getWidth.toLong, img.getHeight.toLong)
          DetectionBox.decode(m).zipWithIndex.map { case (b, i) =>
            (id, i.toLong, b.label, b.area, b.cropSum(img),
              1000000L * b.xmin / w, 1000000L * b.ymin / h,
              1000000L * b.xmax / w, 1000000L * b.ymax / h)
          }
        })
        .toDF("doc_id", "box_idx", "label", "area", "crop_sum",
          "xmin_ppm", "ymin_ppm", "xmax_ppm", "ymax_ppm")
    },

    // The Mask-RCNN ingest shape composed end-to-end (VERDICT r17 #1 —
    // the LAST of the reference's 5 MLPerf workload families without a
    // composed twin; simple_rcnn/dataloader.py:456-520 +
    // object_detection/tf_example_decoder.py:105-150's
    // use_instance_mask path): TFRecord Examples carrying image/encoded
    // PNG bytes, VarLen box lists + class labels + is_crowd flags, AND
    // one full-size PNG instance mask PER INSTANCE riding
    // image/object/mask as a VarLen BYTES list — then
    // choose_from_datasets-style source mixing (dataloader.py:571-573,
    // op23's routing primitive: horizontal-image records ride one
    // TFRecord export, vertical another, and the branch tag flows
    // through the chain) → CRC-verified framing → wire parse → REAL
    // javax.imageio decode of the image AND every instance mask →
    // skip_crowd gather (dataloader.py:377-381: crowd instances drop
    // and survivors RE-PACK into dense slots) → per-box crop over
    // decoded image pixels + mask crop (crop_gt_masks) + deterministic
    // 8x8 nearest-neighbor mask resample (the gt_mask_size resize,
    // bit-stable NN instead of bilinear) → pad_to_fixed_size
    // (dataloader.py:404-409: every doc emits exactly
    // MAX_NUM_INSTANCES=4 slots, padding rows carry -1). Dimensions
    // swap on odd doc_ids so BOTH orientations exist (the reference's
    // horizontal/vertical key_func split is degenerate under mm12's
    // always-landscape sizes). All geometry is closed-form off
    // (doc_id, instance), so DuckDB pins the ENTIRE chain — framing,
    // VarLen bytes-list parse, both PNG decodes, crowd gather, crop,
    // NN resample, padding — bit-exactly. Scale: encode/parse/decode/
    // crop all ride partition-local Dataset maps; the union of the two
    // source branches is exchange-free; output is per-slot rows — NO
    // exchange anywhere in the read chain, like mm13.
    Q(
      "mm14_rcnn_ingest",
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 5
        |         ELSE 12 + doc_id % 7 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN 12 + doc_id % 7
        |         ELSE 16 + doc_id % 5 END AS h
        |  FROM documents WHERE doc_id < 64),
        |  inst AS (SELECT doc_id, w, h,
        |    CAST(unnest(range(0, 1 + CAST(doc_id % 3 AS INT))) AS BIGINT) AS i
        |  FROM p),
        |  live AS (SELECT doc_id, w, h, i,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS slot
        |  FROM inst WHERE (doc_id + i) % 5 <> 0),
        |  g AS (SELECT doc_id, w, h, i, slot,
        |    (doc_id * 3 + 5 * i) % (w - 4) AS xmin,
        |    (doc_id * 7 + 3 * i) % (h - 4) AS ymin,
        |    (doc_id * 3 + 5 * i) % (w - 4) + 1 + (doc_id + i) % 4 AS xmax,
        |    (doc_id * 7 + 3 * i) % (h - 4) + 1 + (doc_id + 2 * i) % 4 AS ymax,
        |    (doc_id + i) % 10 AS label FROM live),
        |  realr AS (SELECT doc_id, CAST(slot AS BIGINT) AS slot,
        |    CAST(CASE WHEN w > h THEN 0 ELSE 1 END AS BIGINT) AS src,
        |    CAST(label AS BIGINT) AS label,
        |    CAST((xmax - xmin) * (ymax - ymin) AS BIGINT) AS area,
        |    CAST(list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, (xmax - xmin) * (ymax - ymin)),
        |        t -> (doc_id * 31 + 7 * (xmin + t % (xmax - xmin))
        |              + 13 * (ymin + t // (xmax - xmin))) % 256)),
        |      (a, v) -> a + v) AS BIGINT) AS crop_sum,
        |    CAST(list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, (xmax - xmin) * (ymax - ymin)),
        |        t -> CASE WHEN (xmin + t % (xmax - xmin)
        |                        + ymin + t // (xmax - xmin)
        |                        + doc_id + i) % 2 = 0 THEN 1 ELSE 0 END)),
        |      (a, v) -> a + v) AS BIGINT) AS mask_px,
        |    CAST(list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, 64),
        |        t -> CASE WHEN ((xmin + ((t % 8) * (xmax - xmin)) // 8)
        |                        + (ymin + ((t // 8) * (ymax - ymin)) // 8)
        |                        + doc_id + i) % 2 = 0 THEN 1 ELSE 0 END)),
        |      (a, v) -> a + v) AS BIGINT) AS mask_nn8
        |  FROM g),
        |  cnt AS (SELECT p.doc_id, p.w, p.h, COALESCE(c.n, 0) AS n
        |  FROM p LEFT JOIN (SELECT doc_id, count(*) AS n FROM live
        |                    GROUP BY doc_id) c USING (doc_id)),
        |  pads AS (SELECT doc_id, CAST(unnest(range(n, 4)) AS BIGINT) AS slot,
        |    CAST(CASE WHEN w > h THEN 0 ELSE 1 END AS BIGINT) AS src,
        |    CAST(-1 AS BIGINT) AS label, CAST(-1 AS BIGINT) AS area,
        |    CAST(-1 AS BIGINT) AS crop_sum, CAST(-1 AS BIGINT) AS mask_px,
        |    CAST(-1 AS BIGINT) AS mask_nn8
        |  FROM cnt)
        |SELECT * FROM realr UNION ALL SELECT * FROM pads""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.multimodal.ImageCodec
      import graft.sources.{TfExample, TfRecords}
      val pathH = Scratch.dir("graft-tfex-rcnn-hor")
      val pathV = Scratch.dir("graft-tfex-rcnn-ver")
      def dims(id: Long): (Int, Int) = {
        val w0 = 16 + (id % 5).toInt; val h0 = 12 + (id % 7).toInt
        if (id % 2 == 0) (w0, h0) else (h0, w0)
      }
      // RGB carrier with r=g=b (mm12/13's proven roundtrip) — a
      // TYPE_BYTE_GRAY raster would pass setRGB/getRGB through a gray<->
      // sRGB colorspace conversion that is NOT the identity
      def grayPng(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = px(x, y)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val encoded = T.documents(s, d).filter("doc_id < 64")
        .select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val (w, h) = dims(id)
          val png = grayPng(w, h,
            (x, y) => ((id * 31 + 7L * x + 13L * y) % 256).toInt)
          val boxes = DetectionBox.boxes(id, w, h)
          // one FULL-SIZE PNG mask per instance: 255 on the parity
          // checkerboard INSIDE the instance's box, 0 elsewhere — the
          // decoder must recover geometry from pixels, not metadata
          val masks = boxes.zipWithIndex.map { case (b, i) =>
            grayPng(w, h, (x, y) =>
              if (x >= b.xmin && x < b.xmax && y >= b.ymin && y < b.ymax &&
                (x + y + id + i) % 2 == 0) 255 else 0)
          }
          (TfExample.encode(Seq(
            "image/encoded" -> TfExample.Feature(bytes = Seq(png)),
            "image/format" -> TfExample.Feature(bytes = Seq("PNG".getBytes("UTF-8"))),
            "image/source_id" -> TfExample.Feature(longs = Seq(id))) ++
            DetectionBox.features(boxes) ++ Seq(
              "image/object/is_crowd" -> TfExample.Feature(longs =
                boxes.indices.map(i => if ((id + i) % 5 == 0) 1L else 0L)),
              "image/object/mask" -> TfExample.Feature(bytes = masks))), w > h)
        })
        .toDF("rec", "hor")
      TfRecords.write(encoded.filter(col("hor")).select("rec")
        .repartition(2), "rec", pathH)
      TfRecords.write(encoded.filter(!col("hor")).select("rec")
        .repartition(2), "rec", pathV)
      // choose_from-style mixing: each branch carries its selector tag
      // through the shared decode-crop chain (union, no exchange)
      TfRecords.read(s, pathH).select("record").withColumn("src", lit(0L))
        .unionByName(
          TfRecords.read(s, pathV).select("record").withColumn("src", lit(1L)))
        .as[(Array[Byte], Long)]
        .mapPartitions(_.flatMap { case (rec, src) =>
          val m = TfExample.decode(rec)
          val id = TfExample.int64(m, "image/source_id", -1L)
          val img = ImageCodec.decodeImage(m("image/encoded").bytes.head)
          val boxes = DetectionBox.decode(m)
          val cw = TfExample.int64List(m, "image/object/is_crowd")
          val maskBytes = m("image/object/mask").bytes
          // skip_crowd gather: survivors re-pack into dense slots
          val kept = boxes.indices.filter(i => cw(i) == 0L)
          val rows = kept.zipWithIndex.map { case (i, slot) =>
            val b = boxes(i)
            val mask = ImageCodec.decodeImage(maskBytes(i))
            def on(x: Long, y: Long): Long =
              if ((mask.getRGB(x.toInt, y.toInt) & 0xff) > 0) 1L else 0L
            // crop_gt_masks' fixed-size resize, as a deterministic 8x8
            // nearest-neighbor resample of the cropped mask
            val bw = b.xmax - b.xmin; val bh = b.ymax - b.ymin
            var nn8 = 0L
            var jj = 0
            while (jj < 8) {
              var ii = 0
              while (ii < 8) {
                nn8 += on(b.xmin + ii * bw / 8, b.ymin + jj * bh / 8)
                ii += 1
              }
              jj += 1
            }
            (id, slot.toLong, src, b.label, b.area, b.cropSum(img),
              b.fold(on), nn8)
          }
          // pad_to_fixed_size: MAX_NUM_INSTANCES = 4, pad value -1
          val pads = (kept.size until 4).map(slot =>
            (id, slot.toLong, src, -1L, -1L, -1L, -1L, -1L))
          rows ++ pads
        })
        .toDF("doc_id", "slot", "src", "label", "area", "crop_sum",
          "mask_px", "mask_nn8")
    }
  )

  /** mm13/mm14's detection-box codec: the closed-form boxes off
    * (doc_id, instance), 1-3 per doc and strictly inside a w×h image;
    * their `image/object/bbox/{xmin,ymin,xmax,ymax}` and `class/label`
    * features on encode and int64 lists on decode; the pixel fold over a
    * box.
    */
  private object DetectionBox {
    final case class Box(xmin: Long, ymin: Long, xmax: Long, ymax: Long,
        label: Long) {
      def area: Long = (xmax - xmin) * (ymax - ymin)

      /** Σ f(x, y) over [xmin, xmax) × [ymin, ymax). */
      def fold(f: (Long, Long) => Long): Long = {
        var acc = 0L
        var y = ymin
        while (y < ymax) {
          var x = xmin
          while (x < xmax) {
            acc += f(x, y)
            x += 1
          }
          y += 1
        }
        acc
      }

      /** The crop: real pixel reads off the decoded image, summed over
        * the box — the gray channel of the lossless PNG (all three
        * channels carry it).
        */
      def cropSum(img: java.awt.image.BufferedImage): Long =
        fold((x, y) => (img.getRGB(x.toInt, y.toInt) & 0xff).toLong)
    }

    private val keys = Seq("image/object/bbox/xmin", "image/object/bbox/ymin",
      "image/object/bbox/xmax", "image/object/bbox/ymax",
      "image/object/class/label")

    def boxes(id: Long, w: Long, h: Long): Seq[Box] =
      (0 until (1 + id % 3).toInt).map { i =>
        val xmin = (id * 3 + 5 * i) % (w - 4)
        val ymin = (id * 7 + 3 * i) % (h - 4)
        Box(xmin, ymin, xmin + 1 + (id + i) % 4, ymin + 1 + (id + 2 * i) % 4,
          (id + i) % 10)
      }

    def features(bs: Seq[Box]): Seq[(String, graft.sources.TfExample.Feature)] =
      keys.zip(Seq[Box => Long](_.xmin, _.ymin, _.xmax, _.ymax, _.label)).map {
        case (k, f) => k -> graft.sources.TfExample.Feature(longs = bs.map(f))
      }

    def decode(m: Map[String, graft.sources.TfExample.Feature]): Seq[Box] = {
      val Seq(xs, ys, xe, ye, lb) = keys.map(graft.sources.TfExample.int64List(m, _))
      xs.indices.map(i => Box(xs(i), ys(i), xe(i), ye(i), lb(i)))
    }
  }

  /** Hamming distance to the PREVIOUS doc (by doc_id) without ordering
    * the row frame globally: rows band on `doc_id div 16` and chain
    * inside each band with a partitioned lag; the first row of each band
    * reaches back to the previous non-empty band's LAST hash through the
    * two-level boundary stitch in [[withBandCarry]] (band carries are
    * themselves partitioned by 1024-band blocks; only the block-level
    * rollup — n/16384 rows, two aggregations deep — crosses one
    * unpartitioned window). Output is bit-identical to
    * `lag OVER (ORDER BY doc_id)`: within-band lag and boundary carry
    * partition exactly the "previous row" relation, and the very first
    * row coalesces to −1 as before. At corpus scale the chain
    * parallelizes to #bands partitions while the unpartitioned remainder
    * shrinks 16384× per stitch level (not to a constant — a third level
    * composes if ever needed).
    */
  private[graft] def hammingChainCols(lo: String, hi: String): Seq[org.apache.spark.sql.Column] = {
    val prevLo = s"coalesce(lag($lo) over (partition by _band order by doc_id), _carry_lo)"
    val prevHi = s"coalesce(lag($hi) over (partition by _band order by doc_id), _carry_hi)"
    Seq(col("doc_id"), col("width"), col("height"), col(lo), col(hi),
      expr(s"coalesce(cast(bit_count($lo ^ $prevLo) " +
        s"+ bit_count($hi ^ $prevHi) as bigint), -1L)").as("ham_prev"))
  }

  /** The frame-prep half of [[hammingChainCols]]: attach `_band` and the
    * previous non-empty band's boundary hash (`_carry_lo`/`_carry_hi`).
    *
    * TWO stitch levels (ADVICE r9): a single-level stitch lagged the
    * per-band boundary rollup through one unpartitioned window — n/16
    * rows through a single partition, linear in the corpus. Here the
    * band-level carry comes from a lag PARTITIONED by 1024-band blocks,
    * and only the block-level rollup (two aggregations deep, n/16384
    * rows) rides the one remaining global window — the same recursion
    * that took the chain itself off a global window, applied to its own
    * boundary. A third level composes the same way if a corpus ever
    * outgrows this one; the stitch frame is not constant-sized, but it
    * shrinks 16384× per level while staying bit-identical to
    * `lag OVER (ORDER BY doc_id)` (MultimodalSpec pins it).
    */
  private[graft] def withBandCarry(df: org.apache.spark.sql.DataFrame,
      lo: String, hi: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = df.withColumn("_band", expr("doc_id div 16"))
    // level 1: last hash of each non-empty band, grouped into blocks
    val last1 = banded.groupBy("_band")
      .agg(expr(s"max_by($lo, doc_id)").as("_last_lo"),
        expr(s"max_by($hi, doc_id)").as("_last_hi"))
      .withColumn("_blk", expr("_band div 1024"))
    // level 2: last band's hash per non-empty block, lagged globally —
    // the only unpartitioned window, over the twice-aggregated frame
    val last2 = last1.groupBy("_blk")
      .agg(expr("max_by(_last_lo, _band)").as("_l2_lo"),
        expr("max_by(_last_hi, _band)").as("_l2_hi"))
      .select(col("_blk"),
        lag("_l2_lo", 1).over(Window.orderBy("_blk")).as("_c2_lo"),
        lag("_l2_hi", 1).over(Window.orderBy("_blk")).as("_c2_hi"))
    // a band's carry: previous non-empty band in its own block, else the
    // previous non-empty BLOCK's last hash (which is that block's last
    // non-empty band — exactly the previous band overall)
    val boundary = last1
      .withColumn("_prev_lo",
        lag("_last_lo", 1).over(Window.partitionBy("_blk").orderBy("_band")))
      .withColumn("_prev_hi",
        lag("_last_hi", 1).over(Window.partitionBy("_blk").orderBy("_band")))
      .join(broadcast(last2), Seq("_blk"), "left")
      .select(col("_band"),
        coalesce(col("_prev_lo"), col("_c2_lo")).as("_carry_lo"),
        coalesce(col("_prev_hi"), col("_c2_hi")).as("_carry_hi"))
    // unhinted join: AQE broadcasts the boundary while it is small and
    // falls back to a keyed exchange when it is not — forcing broadcast
    // on an n/16-row frame would itself be a scale hazard
    banded.join(boundary, Seq("_band"), "left")
  }
}
