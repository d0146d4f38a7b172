package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.pipeline.IncrementalPipeline.Store
import graft.streaming.StreamingPipeline

/** §2.9: the CDC loop as Structured Streaming. AvailableNow over a file
  * source must converge to exactly the batch-merge result, and a second
  * pass with no new files must be a no-op (the reference's early-exit).
  */
class StreamingSpec extends SparkSpec {

  test("AvailableNow + foreachBatch merge converges to the batch result") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val inDir = tmpDir("graft-stream-in")
    val root = tmpDir("graft-stream-store")
    val ckpt = tmpDir("graft-stream-ckpt")
    val store = new Store(spark, root)

    // stage the feed as three arriving files (micro-batch boundaries)
    val cut1 = to_timestamp(lit("2024-01-10 00:00:00"))
    val cut2 = to_timestamp(lit("2024-01-20 00:00:00"))
    ev.filter(col("ts") < cut1)
      .write.mode(SaveMode.Overwrite).parquet(s"$inDir/f1")
    ev.filter(col("ts") >= cut1 && col("ts") < cut2)
      .write.mode(SaveMode.Overwrite).parquet(s"$inDir/f2")
    ev.filter(col("ts") >= cut2)
      .write.mode(SaveMode.Overwrite).parquet(s"$inDir/f3")

    StreamingPipeline.runAvailableNow(spark, ev.schema, s"$inDir/*", store, ckpt)
    val streamed = store.launches.get
    assert(streamed.count() === ev.count())
    // exactly the same key set and latest-version rows as one batch merge
    val diff = streamed.select("event_id", "ts", "value")
      .exceptAll(ev.select("event_id", "ts", "value"))
    assert(diff.isEmpty)

    // second AvailableNow pass with no new files: checkpoint short-circuits
    val before = store.latestVersion
    assert(StreamingPipeline.runAvailableNow(spark, ev.schema, s"$inDir/*", store, ckpt) === 0L)
    assert(store.latestVersion === before)
    // the remembered version is the one on disk
    assert(new Store(spark, root).latestVersion === before)
    assert(store.launches.get.count() === ev.count())
  }

  test("watermarked event-time window aggregation (append mode) matches batch windows") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    val inDir = tmpDir("graft-wm-in")
    val ckpt = tmpDir("graft-wm-ckpt")
    ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f1")

    val batchWindows = ev.groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap

    val stream = spark.readStream.schema(ev.schema).parquet(s"$inDir/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("wm_windows").outputMode("append")
      .start()
    q.awaitTermination()

    val emitted = spark.table("wm_windows")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // append mode emits only windows finalized by the watermark: a strict
    // subset that must agree exactly with the batch counts
    assert(emitted.nonEmpty, "no windows finalized")
    emitted.foreach { case (w, n) =>
      assert(batchWindows(w) === n, s"window $w count mismatch")
    }
    assert(emitted.size < batchWindows.size, "watermark should hold back the tail window")
  }

  test("stream-stream interval join (watermarked both sides) matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))

    val pDir = tmpDir("graft-ssj-p"); val cDir = tmpDir("graft-ssj-c")
    val ckpt = tmpDir("graft-ssj-ckpt")
    purchases.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$pDir/f1")
    clicks.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$cDir/f1")

    // clicks within the 6 hours before each purchase, same user — the
    // attribution-window join; the time-range condition bounds both
    // sides' state so watermarks can evict it
    val cond = "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 6 HOURS AND p_ts"
    val batch = purchases.join(clicks, expr(cond))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val sp = spark.readStream.schema(purchases.schema).parquet(s"$pDir/*")
      .withWatermark("p_ts", "1 hour")
    val sc = spark.readStream.schema(clicks.schema).parquet(s"$cDir/*")
      .withWatermark("c_ts", "1 hour")
    val q = sp.join(sc, expr(cond))
      .select(col("p_id"), col("c_id"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ssj").outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "expected attribution pairs in the fixture")
    assert(streamed == batch, s"stream-stream join diverged: " +
      s"${(streamed -- batch).size} extra, ${(batch -- streamed).size} missing")
  }

  test("mapGroupsWithState running per-user counts converge to batch counts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("event_id"))
    val inDir = tmpDir("graft-state-in")
    val ckpt = tmpDir("graft-state-ckpt")
    // two arriving files → with maxFilesPerTrigger(1), AvailableNow runs
    // two micro-batches and the state must carry counts across them
    ev.filter(col("event_id") % 2 === 0)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f1")
    ev.filter(col("event_id") % 2 === 1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f2")

    val counts = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          (user, c)
      }
    val q = counts.toDF("user_id", "n").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("state_counts").outputMode("update")
      .start()
    q.awaitTermination()

    // last emitted state per user == batch group count
    val streamed = spark.table("state_counts")
      .groupBy("user_id").agg(max(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = ev.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("flatMapGroupsWithState sessionizer emits exactly the batch sessions once closed") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
    val inDir = tmpDir("graft-sess-in")
    val ckpt = tmpDir("graft-sess-ckpt")

    // three time-split files (per-user in-order delivery) ...
    val cut1 = to_timestamp(lit("2024-01-10 00:00:00"))
    val cut2 = to_timestamp(lit("2024-01-20 00:00:00"))
    ev.filter(col("ts") < cut1).write.mode(SaveMode.Overwrite).parquet(s"$inDir/f1")
    ev.filter(col("ts") >= cut1 && col("ts") < cut2)
      .write.mode(SaveMode.Overwrite).parquet(s"$inDir/f2")
    ev.filter(col("ts") >= cut2).write.mode(SaveMode.Overwrite).parquet(s"$inDir/f3")
    // ... plus two far-future sentinel batches: watermark is computed from
    // the PREVIOUS batch's max event time, so sentinel#1 advances it past
    // the real data and sentinel#2's batch fires the timeouts
    val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
    def sentinel(user: Long, plusHours: Int, path: String): Unit =
      spark.range(1).select(lit(user).as("user_id"),
        (lit(maxTs) + expr(s"INTERVAL $plusHours HOURS")).as("ts"))
        .write.mode(SaveMode.Overwrite).parquet(path)
    sentinel(-1L, 24, s"$inDir/s1")
    sentinel(-2L, 48, s"$inDir/s2")

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .withWatermark("ts", "1 hour")
    val q = StreamingPipeline.sessionizeStream(stream, gapMinutes = 30)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sess_stream").outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("sess_stream")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_id", "n_events", "session_start_us", "session_end_us")
    val batch = graft.operators.WindowsAndStats.sessionize(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"), col("session_id"),
        col("n_events"), col("session_start_us"), col("session_end_us"))
    // every real-user session closed via inline gap or watermark timeout,
    // and each emitted row is byte-identical with the batch operator's
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("corpus cleaning (quality stats + filter) runs unchanged over readStream") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.documents(spark, sfDir)
    val batch = graft.operators.TextOps.textStatsOf(docs)
      .filter(col("quality_score") >= 0.55 && col("n_tokens") >= 20)

    // the file stream source requires a DIRECTORY; stage the fixture file
    val inDir = tmpDir("graft-clean-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      java.nio.file.Paths.get(s"$inDir/documents.parquet"))
    val stream = spark.readStream.schema(docs.schema).parquet(inDir)
    val q = graft.operators.TextOps.textStatsOf(stream)
      .filter(col("quality_score") >= 0.55 && col("n_tokens") >= 20)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft-clean-ckpt"))
      .format("memory").queryName("clean_stream").outputMode("append")
      .start()
    q.awaitTermination()

    val streamed = spark.table("clean_stream")
    // narrow per-row operators need no adaptation for streaming: same
    // rows, same values, straight from the same projection
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dropDuplicates dedups re-delivered batches across triggers (§2.9 late/dup data)") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"), col("value"))
    val inDir = tmpDir("graft-dup-in")
    val ckpt = tmpDir("graft-dup-ckpt")
    // the same data delivered twice, as two files -> two micro-batches
    ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f1")
    ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f2")

    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .dropDuplicates("event_id")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("dedup_stream").outputMode("append")
      .start()
    q.awaitTermination()

    assert(spark.table("dedup_stream").count() === ev.count())
    assert(spark.table("dedup_stream").select("event_id").distinct().count() === ev.count())
  }

  test("dropDuplicatesWithinWatermark: bounded-state streaming dedup drops re-deliveries") {
    import org.apache.spark.sql.streaming.Trigger
    // The scale-critical variant of the previous test: plain streaming
    // dropDuplicates keeps EVERY key's state forever (unbounded at 100 TB);
    // dropDuplicatesWithinWatermark evicts state older than the watermark,
    // guaranteeing dedup only for re-deliveries within the delay — the
    // right contract for at-least-once sources, whose duplicates arrive
    // close together. Fixture events span ~1 month, so a 45-day delay
    // keeps all state live and the result must equal the exact dedup.
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("ts"), col("user_id"))
    val inDir = tmpDir("graft-dupwm-in")
    val ckpt = tmpDir("graft-dupwm-ckpt")
    ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f1")
    ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$inDir/f2")

    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .withWatermark("ts", "45 days")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("dedup_wm_stream").outputMode("append")
      .start()
    q.awaitTermination()

    assert(spark.table("dedup_wm_stream").count() === ev.count())
    assert(spark.table("dedup_wm_stream").select("event_id").distinct().count() === ev.count())
  }

  test("registered streaming query equals its batch twin row-for-row") {
    // stream_tumbling_window shares w3's oracle; pin the equality directly
    // too, so a drift in either side fails without a DuckDB round-trip
    val streamed = graft.streaming.StreamingOps
      .streamTumblingWindow(spark, sfDir).collect().toSeq
    val batch = graft.operators.WindowsAndStats
      .w3TumblingWindow(spark, sfDir).collect().toSeq
    assert(streamed === batch)
  }

  test("stream_tws_sessionize (event-time TIMERS) equals the batch sessionizer row-for-row") {
    val streamed = graft.streaming.StreamingOps
      .streamTwsSessionize(spark, sfDir).collect().toSeq
    val batch = graft.operators.WindowsAndStats
      .sessionize(spark, sfDir).collect().toSeq
    assert(streamed === batch)
    // timers provably fired: every user's LAST session has no later
    // event to close it in-batch — it can only flush through
    // handleExpiredTimer, and equality above includes all of them
    val lastPerUser = batch.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).max).toMap
    assert(lastPerUser.nonEmpty)
    val streamedSessions = streamed.map(r => (r.getLong(0), r.getLong(1))).toSet
    lastPerUser.foreach { case (u, sid) =>
      assert(streamedSessions.contains((u, sid)),
        s"user $u's final session $sid missing — the timer path never fired")
    }
    // exactly-once: no session emitted twice
    assert(streamed.map(r => (r.getLong(0), r.getLong(1))).distinct.size ==
      streamed.size)
  }

  test("stream_tws_type_counts (MAP state) equals the batch two-key aggregate, cell-exact") {
    val streamed = graft.streaming.StreamingOps
      .streamTwsTypeCounts(spark, sfDir).collect().toSeq
    val batch = graft.engine.Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + 0.5)) / 100.0).as("sum_value"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("stream_session_dynamic_gap equals the batch dynamic-gap operator, cell-exact") {
    // streaming (3 micro-batches, engineered straddle merge) == batch
    // builtin == the interval-union replay — one result, three engines
    val streamed = graft.streaming.StreamingOps
      .streamSessionDynGap(spark, sfDir).collect().toSeq
    val batch = graft.operators.WindowsAndStats
      .w11SessionDynGap(spark, sfDir).collect().toSeq
    assert(streamed === batch)
  }

  test("stream_observed_counts: observe() metrics ride the micro-batches and sum to the batch totals") {
    // the audit-for-free contract: the CollectMetrics node accumulates
    // DURING each of the 3 staged micro-batches (n_obs_batches pins that
    // no batch was skipped or merged), and the summed per-batch metrics
    // must equal a from-scratch batch recomputation — a dropped or
    // double-counted batch breaks either the count or the cents sum
    val got = graft.streaming.StreamingOps
      .streamObservedCounts(spark, sfDir).collect().head
    val want = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .agg(count(lit(1)).as("rows"),
        (sum(floor(col("value") * 100 + 0.5)) / 100.0).as("cents"))
      .collect().head
    assert(got.getLong(0) === 3L, "staged feed must surface exactly 3 observed batches")
    assert(got.getLong(1) === want.getLong(0))
    assert(got.getDouble(2) === want.getDouble(1))
  }

  test("stream_windowed_append drops the late replay and equals the batch windows") {
    // equality with the batch aggregate over ALL events is exactly the
    // late-data contract: the staged replay re-delivers every pre-Jan-3
    // event after the watermark passed, so any row NOT dropped
    // double-counts its window and breaks this assertion (and the shared
    // DuckDB oracle); the sentinel's window must never surface either
    val streamed = graft.streaming.StreamingOps
      .streamWindowedAppend(spark, sfDir).collect().toSeq
    val batch = graft.operators.WindowsAndStats
      .w3TumblingWindow(spark, sfDir).collect().toSeq
    assert(streamed === batch)
  }

  test("stream_dedup_exact swallows the cross-batch replay and equals batch distinct") {
    // the registered query replays every pre-Jan-3 event in a LATER
    // micro-batch; equality with the batch distinct set is exactly the
    // state-persistence contract (a re-emit breaks the count, a
    // swallow-miss of a first-seen row breaks the set)
    val streamed = graft.streaming.StreamingOps
      .streamDedupExact(spark, sfDir).collect().toSeq
    val batch = Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        graft.functions.Scalars.roundTo(col("value"), 2).as("value"))
      .orderBy("event_id").collect().toSeq
    assert(streamed === batch)
  }

  test("stream_full_outer_join equals the batch FULL JOIN — both eviction directions") {
    val streamed = graft.streaming.StreamingOps
      .streamFullOuterJoin(spark, sfDir).collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 4 HOURS"),
        "full_outer")
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("user_id"), col("pu")).as("user_id"),
        unix_micros(col("cts")).as("click_ts_us"),
        unix_micros(col("pts")).as("purchase_ts_us"))
      .orderBy(coalesce(col("click_id"), lit(-1L)),
        coalesce(col("purchase_id"), lit(-1L))).collect().toSeq
    assert(batch.exists(_.isNullAt(0)) && batch.exists(_.isNullAt(1)),
      "fixture exercises neither eviction direction — vacuous")
    assert(streamed === batch)
  }

  test("stream_interval_join matches batch-1 click state from batch-2 purchases") {
    val streamed = graft.streaming.StreamingOps
      .streamIntervalJoin(spark, sfDir).collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 4 HOURS"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("cts")).as("click_ts_us"),
        unix_micros(col("pts")).as("purchase_ts_us"))
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(batch.nonEmpty, "fixture produced no click->purchase pairs — vacuous")
    assert(streamed === batch)
  }

  test("stream_static_enrich: per-batch broadcast join converges to the batch aggregate") {
    val streamed = graft.streaming.StreamingOps
      .streamStaticEnrich(spark, sfDir).collect().toSeq
    val batch = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Scalars.roundTo(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("c_mktsegment").collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("stream_merge_upsert: the checkpointed foreachBatch merge equals the batch merge digest") {
    val streamed = graft.streaming.StreamingOps.streamMergeUpsert(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the streamed pipeline merges the VALIDATED feed (its P2 contract),
    // so the batch digest is taken over the same predicate — equivalent
    // on today's all-valid fixtures, but not silently fixture-dependent
    val batch = graft.operators.MergeOps.s7DigestOf(
        graft.engine.Tables.events(spark, sfDir)
          .filter(graft.pipeline.IncrementalPipeline.isValid)
          .select(col("event_id"), col("ts"), col("value")))
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("sessionizer keeps ordinal session ids across idle watermark gaps (r8 regression)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // user 1 is idle while other users advance the watermark past their
    // open session's end + gap: the timeout must emit session 1 AND leave
    // a closed marker carrying the counter, so the comeback event opens
    // session 2 - the pre-fix code state.remove()d and restarted at 1
    val inDir = tmpDir("graft-sess-gap-in")
    val ckpt = tmpDir("graft-sess-gap-ckpt")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // mtimes pinned per batch: FileStreamSource orders by file timestamp,
    // and sequential writes landing in the same millisecond would leave
    // the b1..b6 delivery order to chance (ADVICE r8 — the hazard
    // moveParts' scaladoc warns about)
    val m0 = 1700000000000L
    def put(name: String, mtimeMs: Long, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/$name")
      new java.io.File(s"$inDir/$name").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs)))
    }
    put("b1", m0, Seq((1L, ts(0)), (1L, ts(5))))
    put("b2", m0 + 1000, Seq((2L, ts(600))))   // watermark -> t0+9h after this
    put("b3", m0 + 2000, Seq((2L, ts(610))))   // user-1 timeout fires in this batch
    put("b4", m0 + 3000, Seq((1L, ts(1200))))  // comeback: must be session 2
    put("b5", m0 + 4000, Seq((-1L, ts(2400)))) // sentinels flush the rest
    put("b6", m0 + 5000, Seq((-2L, ts(4800))))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$inDir/b1").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .withWatermark("ts", "1 hour")
    val q = StreamingPipeline.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sess_gap").outputMode("append")
      .start()
    q.awaitTermination()
    val u1 = spark.table("sess_gap").filter(col("user_id") === 1L)
      .orderBy("session_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(u1.toSeq === Seq((1L, 2L), (2L, 1L)),
      s"expected sessions 1 (2 events) and 2 (1 event), got ${u1.toSeq}")
    spark.catalog.dropTempView("sess_gap")
  }

  test("stream_tws_topk: transformWithState top-3 equals the batch window top-3") {
    val got = graft.streaming.StreamingOps.streamTwsTopk(spark, sfDir)
    // batch truth: row_number over (value desc, event_id) per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val truth = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("user_id"))
      .agg(max(when(col("rk") === 1, col("value"))).as("v1"),
        max(when(col("rk") === 2, col("value"))).as("v2"),
        max(when(col("rk") === 3, col("value"))).as("v3"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val gotMap = got.collect().map { r =>
      r.getLong(0) -> (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))
    }.toMap
    assert(gotMap.keySet == truth.keySet)
    gotMap.foreach { case (u, (a, b, c)) =>
      val (ta, tb, tc) = truth(u)
      def d(x: Option[Any], y: Option[Any]): Boolean = (x, y) match {
        case (Some(p: Double), Some(q: Double)) => math.abs(p - q) < 1e-6
        case (None, None) => true
        case _ => false
      }
      assert(d(a, ta) && d(b, tb) && d(c, tc), s"user $u: got ($a,$b,$c) want ($ta,$tb,$tc)")
    }
    // update-mode granularity: each user emitted once per touching batch
    val nUpd = got.select("n_updates").collect().map(_.getLong(0))
    assert(nUpd.forall(n => n >= 1 && n <= 3))
  }

  test("stream_state_read_tws: custom value state decodes to the batch top-3 + ids") {
    val got = graft.streaming.StreamingOps.streamStateReadTws(spark, sfDir)
    // batch truth including the SURVIVOR IDS — pins the persisted
    // tie-break (value desc, event_id asc), not just the values
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val truth = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .withColumn("rk", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_seen"),
        max(when(col("rk") === 1, col("event_id"))).as("e1"),
        max(when(col("rk") === 2, col("event_id"))).as("e2"),
        max(when(col("rk") === 3, col("event_id"))).as("e3"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    val gotMap = got.collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))
    }.toMap
    assert(gotMap == truth,
      "persisted TwsState must equal the batch top-3 (ids + counter) per user")
    // the staged checkpoint is genuinely RocksDB-backed: provider files on disk
    val ckpt = java.nio.file.Paths.get(
      graft.streaming.StreamingOps.twsStateRoot(spark, sfDir), "ckpt", "state")
    val walk = java.nio.file.Files.walk(ckpt)
    val hasRocks = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        n.endsWith(".zip") || n.endsWith(".sst") || n.contains("rocksdb")
      }
    } finally walk.close()
    assert(hasRocks, s"no RocksDB artifacts under $ckpt — provider fell back?")
  }

  test("streamingStateConf's RocksDB provider RUNS the stateful path, same results") {
    // the heavy-state regime's provider flip must be executable, not just
    // map-pinned arithmetic: run a real update-mode aggregate under the
    // RocksDB provider (rocksdbjni ships with Spark) and require (a) the
    // state operator reports rocksdb metrics — proof it engaged, no
    // silent fallback — and (b) the final state equals the batch aggregate
    val conf = graft.engine.Sessions.streamingStateConf(
      executors = 1000, keysInHorizon = 40L * 1000 * 1000 * 1000, bytesPerKey = 200)
    val provider = conf("spark.sql.streaming.stateStore.providerClass")
    assert(provider.endsWith("RocksDBStateStoreProvider"))
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("value"))
    val inDir = tmpDir("graft-rocksdb-in")
    val ckpt = tmpDir("graft-rocksdb-ckpt")
    ev.write.mode(SaveMode.Overwrite).parquet(s"$inDir/f1")

    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try {
      val q = spark.readStream.schema(ev.schema).parquet(s"$inDir/*")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .writeStream
        .outputMode("update")
        .format("memory").queryName("rocksdb_upd")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        val stateMetrics = q.recentProgress.toSeq
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
          .flatMap(_.customMetrics.keySet.asScala)
        assert(stateMetrics.exists(_.toLowerCase.contains("rocksdb")),
          s"state operator reported no rocksdb metrics — provider fell back: $stateMetrics")
        val got = spark.table("rocksdb_upd")
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === want, "RocksDB-backed state diverged from the batch aggregate")
      } finally scala.util.Try(spark.catalog.dropTempView("rocksdb_upd"))
    } finally old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("the AvailableNow runner cleans up when a micro-batch throws") {
    import graft.streaming.StreamingOps.{runAvailableNow, Sink}
    val inDir = tmpDir("graft-runner-in")
    Tables.events(spark, sfDir).select(col("event_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$inDir/f1")
    val boom = udf((id: Long) => RunnerCleanupProbe.failBatch(id))
    val err = intercept[Exception] {
      runAvailableNow(spark, RunnerCleanupProbe.tag, Map.empty, Sink.Memory("append")) {
        spark.readStream.schema("event_id BIGINT").parquet(s"$inDir/*")
          .select(boom(col("event_id")).as("x"))
      }
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    assert(chain.contains("boom in micro-batch"), s"the batch error must reach the caller: $chain")
    assert(RunnerCleanupProbe.seen.get.size == 1,
      s"the runner's own checkpoint must exist while the batch runs: ${RunnerCleanupProbe.seen.get}")
    assert(RunnerCleanupProbe.checkpoints().isEmpty, "the runner's checkpoint outlived the failed run")
    assert(spark.streams.active.isEmpty, "the failed query is still active")
    assert(!spark.catalog.listTables().collect()
      .exists(t => t.isTemporary && t.name.startsWith("graft_stream_")),
      "the memory-sink view outlived the failed run")
  }
}

/** Shared record for the runner cleanup test: the failing UDF lists the
  * runner's temp checkpoints from INSIDE the micro-batch (local mode runs
  * tasks in the test's own JVM, so this object is shared).
  */
object RunnerCleanupProbe {
  val tag = "specboom"
  val seen = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  def checkpoints(): Seq[String] = {
    val ls = java.nio.file.Files.list(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"graft-stream-$tag-ckpt")).toList
    } finally ls.close()
  }

  def failBatch(id: Long): Long = {
    seen.set(checkpoints())
    throw new IllegalStateException(s"boom in micro-batch at event $id")
  }
}
