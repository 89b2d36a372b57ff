package graft.streaming

import graft.SparkTestSession.{sf, spark, withTempDir}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  test("structured-streaming windowed agg equals the batch rendering") {
    val streamed = StreamRunner.windowedAgg(spark, sf, "graft_stream_spec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st01_window_agg").get
      .fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful first-touch equals batch st05 despite reversed arrival order") {
    val streamed = StreamRunner.firstTouchStream(spark, sf, "graft_first_spec")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st05_first_touch").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful running totals across micro-batches equal batch st06") {
    val streamed = StreamRunner.runningTotalsStream(spark, sf, "graft_running_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st06_running_total").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup drops the duplicated copy exactly") {
    val deduped = StreamRunner.dedupStream(spark, sf, "graft_dedup_spec")
    val ids = deduped.select("event_id").collect().map(_.getLong(0))
    val batch = graft.Tables.events(spark, sf).select("event_id")
      .collect().map(_.getLong(0))
    assert(ids.length == batch.length) // 2× input collapsed back to 1×
    assert(ids.sorted.sameElements(batch.sorted))
  }

  test("stream-stream interval join equals the batch st03 rendering") {
    val streamed = StreamRunner.streamStreamJoin(spark, sf, "graft_ssjoin_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st03_interval_join").get
      .fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment join equals the batch st04 rendering") {
    val streamed = StreamRunner.streamStaticJoin(spark, sf, "graft_enrich_spec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st04_stream_enrich").get
      .fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("idempotent foreachBatch sink: replay rewrites, never duplicates") {
    withTempDir("graft-sink") { tmp =>
      val out = tmp.toString
      StreamRunner.idempotentFileSink(spark, sf, out, "graft_sink_a")
      val first = spark.read.parquet(out).count()
      val expected = graft.Tables.events(spark, sf).count()
      assert(first == expected)
      // full replay (fresh query, no checkpoint): same batches overwrite
      // their own partition dirs — row count must be unchanged
      StreamRunner.idempotentFileSink(spark, sf, out, "graft_sink_b")
      assert(spark.read.parquet(out).count() == expected)
    }
  }

  test("streaming sliding-window agg equals the batch st07 rendering") {
    val streamed = StreamRunner.slidingWindowStream(spark, sf, "graft_sliding_spec")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st07_sliding_window").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming outer-join abandoned clicks equal batch st08 up to the watermark horizon") {
    val streamed = StreamRunner.abandonedClicksStream(spark, sf, "graft_abandoned_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchRows = graft.streaming.StreamingOps.queries.find(_.name == "st08_abandoned_clicks").get
      .fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = batchRows.toSet
    // a null-match row may only emit once the watermark proves no match
    // can arrive, so the stream can lag the batch — never contradict it
    assert(streamed.subsetOf(batch),
      s"stream emitted non-abandoned clicks: ${(streamed -- batch).take(5)}")
    // expiry is proven only once a LATER batch advances the watermark:
    // the runner stages thirds, so the watermark the final batch runs
    // under is the second file's max event time (− 1 s delay). Clicks
    // whose 30-min window closed before that (with 2 s slack for the
    // delay + boundary) MUST have emitted.
    val Array(minTs, maxTs) = graft.Tables.events(spark, sf)
      .selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))").head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val t2 = minTs + 2 * ((maxTs - minTs) / 3)
    val horizon = t2 - 1800000000L - 2000000L
    val mustEmit = batchRows.filter(_._3 < horizon).toSet
    assert(mustEmit.subsetOf(streamed),
      s"watermark-expired clicks never emitted: ${(mustEmit -- streamed).take(5)}")
    assert(mustEmit.nonEmpty)
  }

  test("stateful sessionization across micro-batches equals batch st02") {
    val streamed = StreamRunner.sessionizeStateful(spark, sf, "graft_sessions_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st02_sessionize").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("user_id")),
        r.getLong(r.fieldIndex("n_sessions")), r.getLong(r.fieldIndex("n_events"))))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermarked dedup admits exactly st11's ledger keys at first delivery") {
    val admitted = StreamRunner.dedupLedgerStream(spark, sf, "graft_dedup_ledger_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ledger = graft.streaming.StreamingOps.queries.find(_.name == "st11_stream_dedup").get
      .fn(spark, sf).collect()
    val batch = ledger.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(admitted == batch) // one admitted row per key, first-delivery ts
    // the augmentation really produced redeliveries, and only for % 50 keys
    assert(ledger.forall(r => r.getLong(3) == (if (r.getLong(0) % 50 == 0) 2L else 1L)))
    assert(ledger.exists(_.getLong(3) == 2L))
  }

  test("stateful CDC compaction equals batch q_cdc_compact despite reversed arrival") {
    val streamed = StreamRunner.cdcCompactStream(spark, sf, "graft_cdc_spec")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = graft.operators.HeadlineQueries.queries.find(_.name == "q_cdc_compact").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming session_window across micro-batches equals batch st12") {
    val streamed = StreamRunner.sessionWindowStream(spark, sf, "graft_sesswin_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st12_session_window").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming windowed top-k equals batch st13") {
    val streamed = StreamRunner.topKStream(spark, sf, "graft_topk_spec")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st13_window_topk").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // every window carries at most 3 ranked rows, ranks are 1..3
    streamed.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._5).toSeq.sorted
      assert(ranks == (1L to ranks.size).toSeq)
      assert(ranks.size <= 3)
    }
  }

  test("stateful KMV window-distinct stream equals batch st14, estimate included") {
    val streamed = StreamRunner.windowDistinctStream(spark, sf, "graft_windist_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.streaming.StreamingOps.queries.find(_.name == "st14_window_distinct").get
      .fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful quantile-sample window stream equals batch st15 at k=4, " +
    "estimates included, arrival-order-invariant") {
    // k=4, not the gated query's k=16: sf0.001's busiest hourly window
    // holds 6 events, so at k=16 every window fit in the sample and the
    // union→take-k merge path was dead code at spec scale (VERDICT r9 #1
    // — the guard below correctly failed). At k=4 the 5-and-6-event
    // windows genuinely overflow the sample, so the merge/truncation
    // path runs where the spec runs. The k=16 rendering stays pinned by
    // the driver's st15 oracle gate at sf0.01.
    def six(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val streamed = StreamRunner
      .windowQuantilesStream(spark, sf, "graft_winquant_spec", k = 4)
      .collect().map(six).toSet
    val batch = graft.streaming.StreamingOps
      .windowQuantilesBatch(spark, sf, 4).collect().map(six).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the incremental sample really sampled somewhere: at least one
    // window holds more events than the sketch keeps
    assert(streamed.exists(_._2 > 4),
      "every window fits in the sample — merge path unexercised")
    // out-of-order arrival (the st05 pattern): feed the NEWER half of
    // the stream first — the k-min merge is a union→take-k over a set,
    // order-independent by construction, so the final per-window rows
    // must be identical to oldest-first arrival
    val reversedArrival = StreamRunner
      .windowQuantilesStream(spark, sf, "graft_winquant_rev_spec",
        k = 4, reversed = true)
      .collect().map(six).toSet
    assert(reversedArrival == batch,
      "reversed arrival diverged — the sample merge is order-dependent")
    spark.catalog.clearCache()
  }

  test("stateful streaming SemDeDup equals batch st16 across four micro-batches") {
    def five(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
    val streamed = StreamRunner.semDedupStream(spark, sf, "graft_semdedup_spec")
      .collect().map(five).toSet
    val batch = graft.streaming.StreamingOps.queries
      .find(_.name == "st16_stream_semdedup").get.fn(spark, sf)
      .selectExpr("vec_id", "batch", "cast(cell as bigint) as cell",
        "keep_flag", "keeper")
      .collect().map(five).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // both arms live at spec scale
    assert(streamed.exists(_._4 == 0), "fixture never drops — τ arm unexercised")
    assert(streamed.exists(_._4 == 1), "fixture never keeps")
    // cross-batch state genuinely used: some vector was dominated by a
    // kept rep from a DIFFERENT micro-batch (batch = vec_id mod 4)
    assert(streamed.exists(t => t._4 == 0 && t._5 % 4 != t._1 % 4),
      "no cross-batch domination — kept state unexercised at spec scale")
    spark.catalog.clearCache()
  }

  test("streaming TFRecord ingest equals the batch read of the same corpus") {
    val streamed = StreamRunner
      .tfRecordIngestStream(spark, sf, "graft_tfrec_ingest_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.length == 1)
    val batch = graft.Tables.documents(spark, sf)
      .selectExpr("count(*) as n", "sum(doc_id) as id_sum",
        "sum(length(text)) as chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.head == batch.head)
    assert(streamed.head._1 > 0)
    spark.catalog.clearCache()
  }

  test("stage delivers micro-batches in mtime order, not file-name order") {
    import spark.implicits._
    // tags 0, 1, 2 in staging order; stage names their files in the
    // opposite order, so only the mtimes can deliver them in this one
    val got = StreamRunner.owned { tmp =>
      val read = StreamRunner.stage(tmp, (0L to 2L).map(t => Seq(t).toDF("tag")))
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      val q = read().selectExpr("tag", "input_file_name() as file").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          rows ++= batch.collect().map(r => (batchId, r.getLong(0), r.getString(1)))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop() // stop joins the batch thread
      rows.toSeq.sortBy(_._1)
    }
    // micro-batch k holds exactly tag k
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 0L), (1L, 1L), (2L, 2L)))
    val names = got.map(_._3.split('/').last)
    assert(names.distinct.size == 3 && names == names.sorted.reverse,
      s"file names do not sort against delivery order: $names")
  }

  test("twins delete every temp dir they make and never the events fixture") {
    def tempDirs(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .filter(_.startsWith(StreamRunner.TempPrefix)).toSet
    val fixture = java.nio.file.Paths.get(s"$sf/events.parquet")
    // the prefix check sees an owned dir while it lives, and it goes
    // even when the body throws
    val start = tempDirs()
    intercept[IllegalStateException](StreamRunner.owned { tmp =>
      tmp.dir()
      assert(tempDirs().size == start.size + 1)
      throw new IllegalStateException("body failed")
    })
    assert(tempDirs() == start)
    // a stage-based twin and an eventsStream-based (symlinked fixture) twin
    Seq[() => Unit](
      () => StreamRunner.runningTotalsStream(spark, sf, "graft_owned_stage_spec").collect(),
      () => StreamRunner.windowedAgg(spark, sf, "graft_owned_events_spec").collect()
    ).foreach { twin =>
      val before = tempDirs()
      twin()
      assert(tempDirs() == before)
      assert(java.nio.file.Files.isRegularFile(fixture) && java.nio.file.Files.size(fixture) > 0)
    }
  }
}
