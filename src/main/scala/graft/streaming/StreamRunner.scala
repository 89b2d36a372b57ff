package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Per-user session state carried across micro-batches. */
final case class SessState(lastTsUs: Long, sessions: Long, events: Long)

/** Genuine Structured Streaming path for the event-time analytics that
  * StreamingOps pins as batch oracles: file-source readStream → watermark →
  * tumbling-window agg → memory sink. StreamingSpec asserts the streaming
  * result equals the batch rendering — the exactly-once contract.
  *
  * At scale the same query runs against a Kafka/file stream with the
  * identical plan; watermark bounds state so the agg never grows unbounded.
  *
  * Every twin runs inside [[owned]], which deletes the temp dirs it made
  * before the twin returns; multi-batch twins deliver their micro-batches
  * through [[stage]], and every memory-sink twin runs through [[drain]].
  */
object StreamRunner {

  /** Prefix of every temp dir StreamRunner makes in `java.io.tmpdir`. */
  private[streaming] val TempPrefix = "graft-stream-"

  /** The temp dirs one twin makes; [[owned]] deletes them all. */
  private[streaming] final class Scratch {
    private[StreamRunner] val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    def dir(): Path = { val d = Files.createTempDirectory(TempPrefix); dirs += d; d }
  }

  /** Runs `body` and deletes every dir it made through its [[Scratch]] when
    * it returns or throws. A twin's result is the memory sink's table, so
    * nothing it returns reads those dirs. Deletion never follows a symlink:
    * a staged link to a fixture removes the link, not the fixture.
    */
  private[streaming] def owned[T](body: Scratch => T): T = {
    val scratch = new Scratch
    try body(scratch)
    finally scratch.dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  /** Stages `batches` as one parquet file each in a fresh watched dir and
    * returns a reader; each call opens an independent file stream over that
    * dir that delivers one file per micro-batch, in the order given.
    *
    * Ordering rule: FileStreamSource hands out new files in modification-
    * time order, so batch k's file gets an mtime k seconds after batch 0's.
    * Files are named in the opposite order, so only the mtimes can order
    * them. Each batch is written outside the watched dir and moved in whole,
    * so the stream never sees a partial write or Spark's side files.
    */
  private[streaming] def stage(scratch: Scratch, batches: Seq[DataFrame]): () => DataFrame = {
    val watched = scratch.dir()
    val out = scratch.dir()
    val t0 = System.currentTimeMillis() / 1000L * 1000L
    batches.zipWithIndex.foreach { case (batch, k) =>
      val tmp = out.resolve(k.toString)
      batch.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get.toPath
      val file = Files.move(part, watched.resolve(f"batch_${batches.size - 1 - k}%04d.parquet"))
      Files.setLastModifiedTime(file, FileTime.fromMillis(t0 + 1000L * k))
    }
    val spark = batches.head.sparkSession
    val schema = batches.head.schema
    () => spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watched.toString)
  }

  /** Splits `ev` into `parts` event-time ranges of its `ts_us` column,
    * oldest first, cut at minTs + k * ((maxTs - minTs) / parts) for
    * k = 1 until parts (one min/max action). Also returns maxTs.
    */
  private def timeSplit(ev: DataFrame, parts: Int): (Seq[DataFrame], Long) = {
    val r = ev.selectExpr("min(ts_us)", "max(ts_us)").head()
    val (minTs, maxTs) = (r.getLong(0), r.getLong(1))
    val cuts = (1 until parts).map(k => minTs + k * ((maxTs - minTs) / parts))
    val ranges = (0 until parts).map { k =>
      val conds = (if (k > 0) Seq(s"ts_us > ${cuts(k - 1)}") else Nil) ++
        (if (k < parts - 1) Seq(s"ts_us <= ${cuts(k)}") else Nil)
      ev.filter(conds.mkString(" and "))
    }
    (ranges, maxTs)
  }

  /** Processes everything available, then stops the query, also when
    * processing throws.
    */
  private def await(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Runs `df` to completion into the memory sink `name` in output `mode`
    * and returns the sink's table.
    */
  private def drain(df: DataFrame, mode: String, name: String): DataFrame = {
    await(df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start())
    df.sparkSession.table(name)
  }

  /** Events fixture as a file-source stream with `ts` normalized to a
    * timestamp. FileStreamSource needs a directory, so a single-file
    * fixture is staged behind a symlink dir (zero-copy); the INT64-nanos
    * variant of `ts` (nanosAsLong) is converted exactly like
    * Tables.events does.
    */
  private def eventsStream(spark: SparkSession, sfDir: String, scratch: Scratch): DataFrame = {
    val schema = graft.Tables.t(spark, sfDir, "events").schema
    val src = Paths.get(s"$sfDir/events.parquet")
    val streamDir =
      if (Files.isDirectory(src)) src
      else Files.createSymbolicLink(scratch.dir().resolve("events.parquet"), src).getParent
    val s0 = spark.readStream.schema(schema).format("parquet").load(streamDir.toString)
    graft.Tables.normalizeTs(s0)
  }

  /** Stateful sessionization with flatMapGroupsWithState: the events table
    * is staged as TWO files so the file stream delivers two micro-batches
    * (time-split, oldest first) and per-user session state genuinely
    * persists across batches. 30-minute inactivity gap, exactly the batch
    * st02 semantics — StreamingSpec asserts equality.
    */
  def sessionizeStateful(spark: SparkSession, sfDir: String,
      queryName: String = "graft_sessions"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._

    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) as ts_us", "event_id")
    val (halves, _) = timeSplit(ev, 2)

    val updates = stage(tmp, halves)().as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[SessState]) => {
          val evs = it.toSeq.sortBy(e => (e._2, e._3))
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          evs.foreach { e =>
            st =
              if (st.events == 0L) SessState(e._2, 1L, 1L)
              else SessState(e._2,
                st.sessions + (if (e._2 - st.lastTsUs > 1800000000L) 1L else 0L),
                st.events + 1L)
          }
          state.update(st)
          Iterator((uid, st.sessions, st.events))
        })
      .toDF("user_id", "n_sessions", "n_events")

    // last update per user = the row with the max cumulative event count
    drain(updates, "update", queryName)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
      .selectExpr("user_id", "s.n_sessions as n_sessions", "s.n_events as n_events")
  }

  /** Stateful keyed FIRST-TOUCH with mapGroupsWithState: per
    * (user, event_type), track the earliest (event-time, id) event seen
    * across micro-batches — streaming first-occurrence dedup where the
    * winner is decided by EVENT time, not arrival order (the property
    * `dropDuplicates` can't give you under replay/reordering). The
    * events table is staged as two time-split files so state genuinely
    * carries across batches; update-mode emissions only ever improve
    * (shrink) per key, so the per-key minimum over the memory sink is
    * the final state. StreamingSpec asserts equality with the batch
    * st05 rendering.
    */
  def firstTouchStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_first_touch"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._

    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) as ts_us", "event_id")
    val (halves, _) = timeSplit(ev, 2)
    // LATER half first: arrival order is the opposite of event-time
    // order, so the spec's equality with batch proves event-time wins
    val stream = stage(tmp, halves.reverse)()

    val updates = stream.as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: (Long, String), it: Iterator[(Long, String, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) => {
          val batchMin = it.map(r => (r._3, r._4)).min
          val best = state.getOption.fold(batchMin)(s => Ordering[(Long, Long)].min(s, batchMin))
          state.update(best)
          (key._1, key._2, best._2, best._1)
        })
      .toDF("user_id", "event_type", "event_id", "ts_us")

    // update-mode rows only improve per key → per-key min is final state
    drain(updates, "update", queryName)
      .groupBy("user_id", "event_type")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("s"))
      .selectExpr("user_id", "event_type", "s.event_id as event_id", "s.ts_us as ts_us")
  }

  /** Streaming deduplication — the exactly-once-ingest primitive:
    * duplicate the events stream (two staged copies of the same file),
    * then `dropDuplicatesWithinWatermark` on event_id keeps state only
    * inside the watermark horizon. Returns the deduped collected rows;
    * StreamingSpec asserts equality with the batch distinct.
    */
  def dedupStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_dedup"): DataFrame = owned { tmp =>
    val ev = graft.Tables.events(spark, sfDir).select("event_id", "ts", "event_type")
    // stage the SAME data twice → every event arrives duplicated
    val stream = stage(tmp, Seq(ev, ev))()
      .where("event_id is not null")
    val deduped = stream
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
    drain(deduped, "append", queryName)
  }

  /** Stateful per-event running totals with flatMapGroupsWithState: the
    * streaming twin of batch st06. Per user, state is (event count,
    * cumulative value scaled to int-1e-4) carried across two time-split
    * micro-batches; every input event is emitted exactly once, enriched
    * with the totals as of that event. The money arithmetic enters the
    * typed path already quantized (`cast(value as decimal(28,4)) ×
    * 10000` as a long), so state addition is exact integer math and the
    * final `/10000.0` double equals the batch DECIMAL window sum's
    * double cast bit-for-bit. StreamingSpec asserts set equality with
    * st06 — the per-event exactly-once enrichment contract.
    */
  def runningTotalsStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_running"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._

    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) as ts_us", "event_id",
        "cast(cast(value as decimal(28,4)) * 10000 as bigint) as v_x1e4")
    val (halves, _) = timeSplit(ev, 2)

    val rows = stage(tmp, halves)().as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) => {
          var (n, vx) = state.getOption.getOrElse((0L, 0L))
          val out = it.toSeq.sortBy(e => (e._2, e._3)).map { e =>
            n += 1L; vx += e._4
            (e._3, uid, e._2, n, vx / 10000.0)
          }
          state.update((n, vx))
          out.iterator
        })
      .toDF("event_id", "user_id", "ts_us", "n_so_far", "v_so_far")

    // each event is emitted exactly once → the sink table IS the result
    drain(rows, "update", queryName)
  }

  /** Genuine stream-stream interval join (the st03 semantics): clicks and
    * purchases read as two watermarked streams, inner-joined on user with
    * a [cts, cts + 30 min] event-time range. The watermarks + range
    * condition let Spark bound both join-state buffers — the unbounded-
    * stream shape that matters at scale; StreamingSpec asserts the result
    * equals the batch st03 rendering.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String,
      queryName: String = "graft_ssjoin"): DataFrame = owned { tmp =>
    def source(): DataFrame = eventsStream(spark, sfDir, tmp)
    val clicks = source()
      .where("event_type = 'click'")
      .selectExpr("event_id as click_id", "user_id as c_uid", "ts as cts")
      .withWatermark("cts", "1 hour")
    val purchases = source()
      .where("event_type = 'purchase'")
      .selectExpr("event_id as purchase_id", "user_id as p_uid", "ts as pts")
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(
      purchases,
      expr("c_uid = p_uid and pts >= cts and pts <= cts + interval 30 minutes"))
      .selectExpr("click_id", "purchase_id", "c_uid as user_id")
    drain(joined, "append", queryName)
  }

  /** Stream-static enrichment join (the st04 semantics): the events
    * stream inner-joined per micro-batch against the static customer
    * dimension (broadcast — stream-static joins keep NO join state, the
    * static side is just re-planned each batch), revenue by segment in
    * complete mode. StreamingSpec asserts equality with batch st04.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String,
      queryName: String = "graft_enrich"): DataFrame = owned { tmp =>
    val dim = graft.Tables.customer(spark, sfDir)
    val agg = eventsStream(spark, sfDir, tmp)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        expr(graft.Portable.dsum("value")).as("v"))
    drain(agg, "complete", queryName)
  }

  /** Idempotent foreachBatch file sink — the production exactly-once
    * recipe for sinks without transactional support: each micro-batch
    * OVERWRITES its own `batch=<id>` directory, so replaying a batch
    * after a failure rewrites the same files instead of duplicating
    * rows. Returns the sink directory; StreamingSpec runs the stream
    * twice over the same input and asserts the row count is unchanged.
    */
  def idempotentFileSink(spark: SparkSession, sfDir: String, outDir: String,
      queryName: String = "graft_sink"): Unit = owned { tmp =>
    val stream = eventsStream(spark, sfDir, tmp)
      .select("event_id", "user_id", "event_type", "value")
    await(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
      }
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start())
  }

  /** Run the st01 window aggregation as a real stream over the events
    * fixture; returns the collected result as a DataFrame.
    */
  def windowedAgg(spark: SparkSession, sfDir: String,
      queryName: String = "graft_stream"): DataFrame = owned { tmp =>
    val agg = eventsStream(spark, sfDir, tmp)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(
        unix_seconds(col("win.start")).as("win_start_s"),
        col("event_type"), col("n"), col("v"))
    drain(agg, "complete", queryName)
  }

  /** st07's sliding-window aggregation as a genuine stream: the REAL
    * window(ts, '1 hour', '15 minutes') generator over the watermarked
    * event stream, complete mode so every window is visible at the end.
    * StreamingSpec asserts equality with the batch st07 rendering.
    */
  def slidingWindowStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_sliding"): DataFrame = owned { tmp =>
    val agg = eventsStream(spark, sfDir, tmp)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(graft.Portable.dsum("value")).as("v"))
      .select(
        unix_seconds(col("win.start")).as("win_start_s"),
        col("event_type"), col("n"), col("v"))
    drain(agg, "complete", queryName)
  }

  /** st08's abandoned-click detection as a genuine watermarked
    * stream-stream LEFT OUTER interval join: a click's null-purchase
    * row may only emit once the watermark proves no matching purchase
    * can still arrive — the streaming-correctness subtlety the batch
    * anti-join hides. Returns the emitted (click_id, user_id, ts_us)
    * null-match rows.
    * Eviction needs a LATER batch to advance the watermark past
    * cts + 30 min, so the fixture is staged as THREE time-split files:
    * null rows whose click predates the second file's max event time
    * (minus join window, delay, and slack) are PROVABLY expired by the
    * time the third batch runs — StreamingSpec asserts emitted ≡ batch
    * st08 below that horizon and ⊆ batch st08 overall (state for the
    * final batch legitimately never expires at end-of-stream; a real
    * deployment's next micro-batch would flush it).
    */
  def abandonedClicksStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_abandoned"): DataFrame = owned { tmp =>
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) as ts_us")
    val (thirds, _) = timeSplit(ev, 3)
    val read = stage(tmp, thirds)
    // one independent reader per join side
    def source(): DataFrame = read()
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    val clicks = source()
      .where("event_type = 'click'")
      .selectExpr("event_id as click_id", "user_id as c_uid", "ts as cts")
      .withWatermark("cts", "1 second")
    val purchases = source()
      .where("event_type = 'purchase'")
      .selectExpr("event_id as purchase_id", "user_id as p_uid", "ts as pts")
      .withWatermark("pts", "1 second")
    val joined = clicks.join(
      purchases,
      expr("c_uid = p_uid and pts >= cts and pts <= cts + interval 30 minutes"),
      "left_outer")
    drain(joined, "append", queryName)
      .filter("purchase_id is null")
      .selectExpr("click_id", "c_uid as user_id", "unix_micros(cts) as ts_us")
  }

  /** st11's at-least-once transport as a REAL stream: batch A is the
    * full event file, batch B the redelivery of every 50th event (same
    * event_id — the retry), admitted through the genuine watermarked
    * `dropDuplicatesWithinWatermark("event_id")`. Returns the admitted
    * rows; StreamingSpec asserts they are exactly st11's ledger keys
    * with first-delivery timestamps (the exactly-once ingest contract).
    */
  def dedupLedgerStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_dedup_ledger"): DataFrame = owned { tmp =>
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("event_id", "user_id", "ts")
    val admitted = stage(tmp, Seq(ev, ev.filter("event_id % 50 = 0")))()
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
    drain(admitted, "append", queryName)
      .selectExpr("event_id", "user_id", "unix_micros(ts) as ts_us")
  }

  /** st12's native session windows as a genuine streaming agg: the
    * identical `session_window(ts, '30 minutes')` plan over two
    * time-split micro-batches in APPEND mode (the only output mode
    * Spark supports for streaming session windows) — a session row
    * emits exactly once, when the watermark proves it can no longer
    * merge or extend. End-of-stream would strand every session still
    * inside the 30-minute horizon, so a third batch carries ONE
    * sentinel event 3 hours past the stream's end (user −1, the
    * operational "flush tick" a real deployment gets for free from the
    * next day's traffic); the sentinel's own never-finalized session is
    * dropped from the returned frame. StreamingSpec asserts equality
    * with batch st12.
    */
  def sessionWindowStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_session_window"): DataFrame = owned { tmp =>
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "value", "ts", "unix_micros(ts) as ts_us")
    val (halves, maxTs) = timeSplit(ev, 2)
    val sentinel = ev.limit(1).selectExpr("cast(-1 as bigint) as user_id",
      "cast(-1 as bigint) as event_id", "cast(0.0 as double) as value",
      s"timestamp_micros(${maxTs + 3L * 3600000000L}) as ts",
      s"cast(${maxTs + 3L * 3600000000L} as bigint) as ts_us")
    val agg = stage(tmp, halves :+ sentinel)()
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), expr(graft.Portable.dsum("value")).as("v"))
      .selectExpr("user_id",
        "unix_seconds(sw.start) as sess_start_s",
        "unix_seconds(sw.end) as sess_end_s", "n", "v")
    drain(agg, "append", queryName).filter("user_id >= 0")
  }

  /** q_cdc_compact's latest-wins changelog compaction as a stateful
    * stream: per (user_id, event_type), keep the record with the MAX
    * (event time, id) across micro-batches via mapGroupsWithState —
    * the streaming materialized-view maintenance a MERGE-upsert sink
    * performs. Staged NEWER half first (firstTouchStream's reversed-
    * arrival trick), so the spec's equality with the batch rendering
    * proves event-time wins over arrival order. StreamingSpec asserts
    * equality with the gated q_cdc_compact.
    */
  def cdcCompactStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_cdc_compact"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._

    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "event_id",
        "unix_micros(ts) as ts_us", "value")
    val (halves, _) = timeSplit(ev, 2)
    // LATER half first: equality with batch proves event-time wins
    val stream = stage(tmp, halves.reverse)()

    val updates = stream.as[(Long, String, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: (Long, String), it: Iterator[(Long, String, Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Double)]) => {
          // latest = max (ts_us, event_id); value rides along
          val batchBest = it.map(r => (r._4, r._3, r._5)).maxBy(r => (r._1, r._2))
          val best = state.getOption.fold(batchBest) { s =>
            if (Ordering[(Long, Long)].gteq((s._1, s._2), (batchBest._1, batchBest._2)))
              s
            else batchBest
          }
          state.update(best)
          (key._1, key._2, best._2, best._1, best._3)
        })
      .toDF("user_id", "event_type", "last_event_id", "last_ts_us", "last_value")

    // update-mode rows only improve per key → per-key max is final state
    drain(updates, "update", queryName)
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("last_ts_us"), col("last_event_id"),
        col("last_value"))).as("s"))
      .selectExpr("user_id", "event_type", "s.last_event_id as last_event_id",
        "s.last_ts_us as last_ts_us", "s.last_value as last_value")
  }

  /** st14's windowed distinct-user accounting as a genuine stateful
    * stream: per 1-hour window key, `mapGroupsWithState` carries BOTH
    * the exact user-id set (bounded by users-per-window) and the KMV
    * k=16 minimum-hash sketch across micro-batches — the an19 merge
    * property (union → sort → keep-k is lossless) exercised INSIDE
    * streaming state, which is how a firehose tracks per-window
    * cardinality when the exact set no longer fits. StreamingSpec
    * asserts the final per-window rows equal the batch st14 rendering
    * — including the estimate, which only matches if the incremental
    * sketch is exactly the batch sketch.
    */
  def windowDistinctStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_windist"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._

    // staged TWO-batch delivery (cdcCompactStream's trick): the KMV
    // merge across micro-batches is the point, and a single-file
    // fixture would fold everything into one batch
    val ev0 = graft.Tables.events(spark, sfDir)
      .selectExpr("unix_seconds(date_trunc('hour', ts)) as win_start_s",
        "user_id",
        s"${graft.Portable.hash60("concat('u|', cast(user_id as string))")} as uh",
        "unix_micros(ts) as ts_us")
    val (halves, _) = timeSplit(ev0, 2)
    val ev = stage(tmp, halves.map(_.drop("ts_us")))()

    val updates = ev.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (win: Long, it: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Set[Long], Seq[Long])]) => {
          val rows = it.toSeq
          val (n0, users0, kmv0) =
            state.getOption.getOrElse((0L, Set.empty[Long], Seq.empty[Long]))
          val n = n0 + rows.size
          val users = users0 ++ rows.map(_._2)
          // KMV merge: union of sketches, keep the k smallest distinct
          val kmv = (kmv0 ++ rows.map(_._3)).distinct.sorted.take(16)
          state.update((n, users, kmv))
          (win, n, users.size.toLong, kmv)
        })
      .toDF("win_start_s", "n_events", "n_users", "kmv")

    // update mode re-emits a window on every batch that touches it; the
    // final state per window is the row with the largest n_events
    drain(updates, "update", queryName)
      .selectExpr("win_start_s", "n_events", "n_users", "kmv",
        "row_number() over (partition by win_start_s order by n_events desc) as rn")
      .filter(col("rn") === 1)
      .selectExpr("win_start_s", "n_events", "n_users",
        "case when n_users < 16 then n_users " +
          "else cast(cast('17293822569102704640' as decimal(38,0)) " +
          "div element_at(kmv, 16) as bigint) end as n_users_est")
  }

  /** st15's windowed value quantiles as a genuine stateful stream: per
    * 1-hour window key, `mapGroupsWithState` carries the k-element
    * hash-min quantile SAMPLE across micro-batches (merge = union → keep
    * the k hash-smallest, lossless by the an23-gated containment theorem)
    * plus the full (h, v) list — the latter exists ONLY so the twin can
    * also reproduce the batch EXACT quantiles for the equality assertion;
    * a production window keeps just the ≤ k-row sample, which is the
    * point. StreamingSpec asserts the final per-window rows equal the
    * batch rendering at the same k — including the estimates, which only
    * match if the incremental sample is exactly the batch sample. The
    * gated st15 query pins k=16; the spec runs k=4 so the sf0.001
    * fixture's ≤6-event windows overflow the sample and the merge path
    * is genuinely exercised. `reversed` feeds the newer half of the
    * stream FIRST (the st05 out-of-order pattern) — the k-min merge is
    * order-independent, so the output must be arrival-order-invariant.
    */
  def windowQuantilesStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_winquant", k: Int = 16,
      reversed: Boolean = false): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._

    val ev0 = graft.Tables.events(spark, sfDir)
      .selectExpr("unix_seconds(date_trunc('hour', ts)) as win_start_s",
        "cast(cast(value as decimal(28,4)) * 10000 as bigint) as v",
        s"${graft.Portable.hash60("concat('q|', cast(event_id as string))")} as h",
        "unix_micros(ts) as ts_us")
    val (halves, _) = timeSplit(ev0, 2)
    val ev = stage(tmp, (if (reversed) halves.reverse else halves).map(_.drop("ts_us")))()

    // positional-rank pick over rows sorted by (v, h) — ordering by the
    // within-window hash RANK (the batch's rn tiebreak) is ordering by h
    def pick(sorted: Seq[(Long, Long)], rank: Long): Long =
      sorted(rank.toInt - 1)._2
    val updates = ev.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (win: Long, it: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Seq[(Long, Long)], Seq[(Long, Long)])]) => {
          val rows = it.toSeq.map(r => (r._3, r._2)) // (h, v)
          val (all0, smp0) = state.getOption.getOrElse(
            (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)]))
          val all = all0 ++ rows
          // the incremental sample merge under test: union → keep the
          // k hash-smallest (h is unique per event id)
          val smp = (smp0 ++ rows).sortBy(_._1).take(k)
          state.update((all, smp))
          val n = all.size.toLong
          val kk = math.min(k.toLong, n)
          val sSorted = smp.sortBy(p => (p._2, p._1))
          val aSorted = all.sortBy(p => (p._2, p._1))
          (win, n,
            pick(sSorted, (kk + 1) / 2), pick(aSorted, (n + 1) / 2),
            pick(sSorted, (9 * kk + 9) / 10), pick(aSorted, (9 * n + 9) / 10))
        })
      .toDF("win_start_s", "n_events", "est_p50_x1e4", "ex_p50_x1e4",
        "est_p90_x1e4", "ex_p90_x1e4")

    // update mode re-emits a window on every batch that touches it; the
    // final state per window is the row with the largest n_events
    drain(updates, "update", queryName)
      .selectExpr("*",
        "row_number() over (partition by win_start_s order by n_events desc) as rn")
      .filter(col("rn") === 1)
      .select("win_start_s", "n_events", "est_p50_x1e4", "ex_p50_x1e4",
        "est_p90_x1e4", "ex_p90_x1e4")
  }

  /** st16's stateful streaming SemDeDup twin: the embeddings table
    * arrives in FOUR micro-batches (batch = vec_id mod 4, staged
    * oldest-first) and a per-CELL `flatMapGroupsWithState` carries the
    * kept representatives' vectors across batches — an arriving vector
    * is admitted iff no kept rep (any earlier batch) and no lower-id
    * vector of its OWN batch clears τ, exactly
    * SimilarityOps.semDedupSequential's rule; StreamingSpec asserts
    * equality. Cell assignment is scan-local against the codebook plan
    * literal (the lloydKMeans broadcast pattern — streams can't run the
    * batch side's row_number window). Cosine in the state fold
    * replicates the native expression's arithmetic bit-for-bit
    * (ascending-index double accumulation), so admit decisions can't
    * drift from the batch plan.
    *
    * Scale: state per cell is the kept reps — the dedup product itself,
    * bounded by the k∝N cell contract (and shed to a compacted sink as
    * cells go cold in a production run); each micro-batch costs
    * |batch∩cell| × (|kept∩cell| + |batch∩cell|) comparisons per cell,
    * linear in the batch under that contract. Rows emit exactly once
    * (each vector is processed in its own micro-batch), so the memory
    * sink IS the ledger.
    */
  def semDedupStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_semdedup"): DataFrame = owned { tmp =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    graft.functions.VectorFold.register(spark)
    val tau = 0.3
    val e = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding")
    val cb = graft.operators.SimilarityOps.centLiteralSql(
      graft.operators.SimilarityOps.trainedCentroids(e))

    val ev0 = e.selectExpr("vec_id", "embedding",
      "cast(vec_id % 4 as int) as batch")
    val stream = stage(tmp, (0 until 4).map(b => ev0.filter(col("batch") === b)))()

    // bit-exact twin of graft.functions.CosineSimilarity.nullSafeEval
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na * nb)
      if (denom == 0.0) Double.NaN else dot / denom // NaN > τ is false, like SQL NULL
    }

    val assigned = stream
      .selectExpr("vec_id", "embedding", "batch",
        s"array_min(transform($cb, c -> struct(" +
          "-cosine_similarity(embedding, c.ce) as nc, c.cell as cell))).cell as cell")

    val updates = assigned.as[(Long, Array[Float], Int, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (cell: Long, it: Iterator[(Long, Array[Float], Int, Long)],
         state: org.apache.spark.sql.streaming.GroupState[List[(Long, Array[Float])]]) => {
          val rows = it.toSeq.sortBy(_._1) // ascending id within the micro-batch
          var kept = state.getOption.getOrElse(Nil)
          val seen = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
          val out = rows.map { case (id, emb, b, _) =>
            // dominators: kept reps from earlier batches (any id) plus
            // ALL previously-seen rows of this batch (ids < id — `seen`
            // holds them in arrival order, kept or dropped)
            val doms = (kept.iterator ++ seen.iterator)
              .filter { case (_, ke) => cos(ke, emb) > tau }
              .map(_._1).toSeq
            seen += ((id, emb))
            if (doms.isEmpty) kept = kept :+ ((id, emb))
            (id, b, cell,
              if (doms.isEmpty) 1 else 0,
              if (doms.isEmpty) None else Some(doms.min))
          }
          state.update(kept)
          out.iterator
        })
      .toDF("vec_id", "batch", "cell", "keep_flag", "keeper")

    drain(updates, "update", queryName)
  }

  /** Streaming TFRecord ingest: the q_tfrecord_roundtrip shards land as
    * a FILE STREAM (binaryFile readStream, one micro-batch per shard —
    * the daily-drop lifecycle) and each batch's records are
    * frame-verified, decoded, and folded into a running corpus
    * aggregate (complete mode). StreamingSpec asserts the final totals
    * equal the batch read of the same shards — landing a corpus
    * incrementally loses nothing vs reading it whole. Scale: the
    * arriving file is the unit of both parallelism and state growth
    * (the agg state is ONE row); an interrupted ingest resumes at the
    * next unseen file, which is exactly the file-source checkpoint
    * contract.
    */
  def tfRecordIngestStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_tfrec_ingest"): DataFrame = owned { tmp =>
    import spark.implicits._
    import graft.sources.{TfRecords => TR}
    // stage the shards exactly like the gated query does
    val path = tmp.dir().toString
    TR.write(
      graft.Tables.documents(spark, sfDir).repartition(8).selectExpr(
        s"${TR.DocRecord.encodeSql} as rec"),
      "rec", path)
    // binaryFile's fixed schema, stated explicitly (streaming sources
    // don't infer)
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val recs = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.tfrecord")
      .option("maxFilesPerTrigger", "1")
      .load(path)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => TR.decodeAll(bytes).iterator)
      .selectExpr(
        s"${TR.DocRecord.idSql("value")} as doc_id",
        s"${TR.DocRecord.textSql("value")} as text")
    val agg = recs.agg(
      count(lit(1)).cast("long").as("n"),
      sum("doc_id").cast("long").as("id_sum"),
      sum(length(col("text"))).cast("long").as("chars"))
    drain(agg, "complete", queryName)
  }

  /** st13's windowed top-k as a genuine stream: the watermarked
    * tumbling-window count/value agg runs INSIDE Structured Streaming
    * (complete mode — window state is the streaming part); the top-3
    * rank is applied to the result table per trigger, the standard
    * top-k-over-streams shape (rank is not an incremental aggregate —
    * it's a view over the maintained counts). StreamingSpec asserts
    * equality with the gated st13 batch rendering.
    */
  def topKStream(spark: SparkSession, sfDir: String,
      queryName: String = "graft_topk"): DataFrame = owned { tmp =>
    val agg = eventsStream(spark, sfDir, tmp)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), expr(graft.Portable.dsum("value")).as("v"))
      .select(
        unix_seconds(col("win.start")).as("win_start_s"),
        col("event_type"), col("n"), col("v"))
    drain(agg, "complete", queryName)
      .selectExpr("win_start_s", "event_type", "n", "v",
        "cast(row_number() over (partition by win_start_s " +
          "order by n desc, event_type) as bigint) as rnk")
      .filter(col("rnk") <= 3)
  }
}
