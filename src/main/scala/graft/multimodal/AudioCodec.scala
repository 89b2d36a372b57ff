package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Real WAV decode over binary payload columns via javax.sound.sampled —
  * the audio twin of [[ImageCodec]] (the reference's input pipelines stop
  * at images, so this is the same "real codec, synthetic fixture" tier
  * extended to the audio modality a training-data pipeline needs).
  *
  * The container ships no audio fixtures, so the WAVs are GENERATED
  * deterministically (16-bit mono PCM, sample s(id,i) =
  * ((id·37 + 11·i) mod 65536) − 32768, length 200 + id%50) — but the
  * decode side is the real codec: bytes → AudioSystem.getAudioInputStream
  * → format check → little-endian PCM frames. WAV PCM is lossless, so the
  * decoded statistics equal the closed form and the whole path is
  * oracle-checkable in SQL.
  *
  * Scale shape (100 TB): encode/decode run partition-local in
  * mapPartitions (streaming iterator, no shuffle, no driver hop); payload
  * bytes are dropped as soon as features are extracted so only
  * fixed-width rows flow downstream.
  */
object AudioCodec {

  def numSamples(id: Long): Int = (200 + id % 50).toInt

  /** Closed-form sample value — signed 16-bit, exact in both engines. */
  def sampleAt(id: Long, i: Int): Int =
    (((id * 37 + 11L * i) % 65536) - 32768).toInt

  /** Deterministic synthetic WAV: 16-bit mono little-endian PCM at 8 kHz. */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = numSamples(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sampleAt(id, i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  final case class AudioFeatures(
      doc_id: Long,
      n_samples: Long,
      peak: Long,   // max signed sample value
      sq_sum: Long) // Σ s² — energy of the decoded signal

  /** REAL codec: WAV bytes → signed 16-bit PCM samples
    * (javax.sound.sampled; 16-bit mono little-endian only).
    */
  def samples(bytes: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    require(
      fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
      s"unexpected WAV format: $fmt")
    val data = ais.readAllBytes()
    Array.tabulate(data.length / 2)(i =>
      ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt)
  }

  /** Decoded statistics: a fold over [[samples]]. */
  def features(id: Long, bytes: Array[Byte]): AudioFeatures = {
    val smp = samples(bytes)
    AudioFeatures(id, smp.length.toLong,
      smp.foldLeft(Long.MinValue)((p, v) => math.max(p, v.toLong)),
      smp.foldLeft(0L)((q, v) => q + v.toLong * v))
  }

  /** (doc_id, payload BINARY) view: synthetic WAVs for doc_id < n,
    * generated partition-local (the encode stage of the fixture).
    */
  def payloads(spark: SparkSession, sfDir: String, n: Long): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .filter(s"doc_id < $n")
      .select("doc_id").as[Long]
      .mapPartitions(_.map(id => (id, syntheticWav(id))))
      .toDF("doc_id", "payload")
  }

  /** Partition-local decode: (doc_id, payload) → typed features via the
    * real javax.sound codec. Streaming mapPartitions — no shuffle,
    * payload dropped at this boundary.
    */
  def decodeFeatures(spark: SparkSession, in: DataFrame,
      idCol: String = "doc_id", payloadCol: String = "payload"): Dataset[AudioFeatures] = {
    import spark.implicits._
    in.select(idCol, payloadCol).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => features(id, bytes) })
  }

  final case class AudioSamples(doc_id: Long, smp: Array[Int])

  /** Partition-local decode to the raw signed-16-bit sample array (the
    * input shape frame-level DSP like VAD needs). Same real-codec
    * contract as decodeFeatures: WAV bytes → little-endian PCM frames;
    * payload dropped at this boundary, only (id, samples) flows on.
    */
  def decodeSamples(spark: SparkSession, in: DataFrame,
      idCol: String = "doc_id", payloadCol: String = "payload"): Dataset[AudioSamples] = {
    import spark.implicits._
    in.select(idCol, payloadCol).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => AudioSamples(id, samples(bytes)) })
  }

  /** Energy-threshold VAD segments over a (doc_id, payload) WAV frame:
    * real decode (decodeSamples), tumbling `frame`-sample windows
    * scoring Σs² energy, frames above `threshold` merged into maximal
    * active segments (gaps-and-islands). Output: (doc_id, seg_id,
    * start_win, end_win, n_win), end exclusive. Shared by the gated
    * mm09 query — same machinery, can't diverge. Decode + framing +
    * energy are scan-local; only (doc_id, frame) longs reach the
    * per-doc island window.
    */
  def vadSegments(spark: SparkSession, payloads: DataFrame,
      frame: Int = 25, threshold: Long = 9000000000L): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    import org.apache.spark.sql.functions._
    decodeSamples(spark, payloads).toDF()
      .selectExpr("doc_id",
        s"explode(transform(sequence(0, size(smp) div $frame - 1), " +
          s"w -> struct(w as win, aggregate(transform(slice(smp, w*$frame + 1, $frame), " +
          "v -> cast(v as bigint) * v), cast(0 as bigint), (a, b) -> a + b) as energy))) as p")
      .selectExpr("doc_id", "cast(p.win as bigint) as win", "p.energy as energy")
      .filter(s"energy > $threshold")
      .selectExpr("doc_id", "win",
        "case when lag(win) over (partition by doc_id order by win) is null " +
          "or win > lag(win) over (partition by doc_id order by win) + 1 " +
          "then 1 else 0 end as ns")
      .selectExpr("doc_id", "win",
        "sum(ns) over (partition by doc_id order by win " +
          "rows between unbounded preceding and current row) as sid")
      .groupBy("doc_id", "sid")
      .agg(
        min("win").cast("long").as("start_win"),
        (max("win") + 1).cast("long").as("end_win"),
        count(lit(1)).cast("long").as("n_win"))
      .selectExpr("doc_id", "cast(sid as bigint) as seg_id", "start_win",
        "end_win", "n_win")
  }
}
