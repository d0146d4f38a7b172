package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.pipeline.IncrementalPipeline
import graft.pipeline.IncrementalPipeline.Store

/** E1 end-to-end over temp dirs: initial load → incremental batch →
  * no-new-data early exit, with the reference's snapshot invariants
  * (src/test_aggregations.py:59-109).
  */
class PipelineSpec extends SparkSpec {

  test("initial load, incremental run, early exit, snapshot invariants") {
    val root = tmpDir("graft-pipeline")
    val store = new Store(spark, root)
    val ev = Tables.events(spark, sfDir)
    val cut = to_timestamp(lit("2024-01-20 00:00:00"))

    // run 1: initial load of everything before the cut
    val firstBatch = ev.filter(col("ts") < cut)
    val r1 = IncrementalPipeline.run(store, firstBatch, runId = 1L)
    assert(r1.status === "initial_load")
    assert(r1.totalAfter === firstBatch.count())
    assert(r1.inserted === r1.totalAfter)

    // run 2: the full feed — only rows past the watermark are new
    val r2 = IncrementalPipeline.run(store, ev, runId = 2L)
    assert(r2.status === "success")
    assert(r2.inserted === ev.filter(col("ts") >= cut).count())
    assert(r2.totalAfter === ev.count())

    // run 3: same feed again — change detection short-circuits
    val r3 = IncrementalPipeline.run(store, ev, runId = 3L)
    assert(r3.status === "no_new_data")
    assert(r3.totalAfter === ev.count())

    // snapshot table: one row per effective run, totals match the table
    // (the reference's checks 4-5: consistency + count equality)
    val snaps = store.snapshots.orderBy("pipeline_run_id").collect()
    assert(snaps.length === 2)
    val last = snaps.last
    assert(last.getAs[Long]("total_events") === ev.count())
    assert(last.getAs[Long]("total_purchases") + last.getAs[Long]("total_errors")
      <= last.getAs[Long]("total_events"))
    // snapshot history monotonic in total_events
    assert(snaps.map(_.getAs[Long]("total_events")).toSeq ===
      snaps.map(_.getAs[Long]("total_events")).toSeq.sorted)

    // watermark advanced to the feed max
    val feedMax = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
    assert(store.watermark === feedMax)
  }

  test("malformed rows are dropped and counted (P2)") {
    import spark.implicits._
    val root = tmpDir("graft-pipeline-bad")
    val store = new Store(spark, root)
    val bad = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 7L, "click", -3.0), // invalid value
      (3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 8L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = IncrementalPipeline.run(store, bad, runId = 1L)
    assert(r.newFound === 3L)
    assert(r.dropped === 1L)
    assert(r.totalAfter === 2L)
  }

  test("fail-open source fallback (optimized path error -> full scan)") {
    val fell = IncrementalPipeline.withFallback(
      spark.read.parquet("/root/testdata/does-not-exist/events.parquet")) {
      Tables.events(spark, sfDir)
    }
    assert(fell.count() === Tables.events(spark, sfDir).count())
    // and the primary path is used when it works
    val used = IncrementalPipeline.withFallback(Tables.events(spark, sfDir)) {
      throw new IllegalStateException("fallback must not evaluate")
    }
    assert(used.count() > 0)
  }

  test("approx sketches track exact values (HLL within 5%)") {
    val ev = Tables.events(spark, sfDir)
    val exact = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    val approx = ev.select(approx_count_distinct(col("user_id"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"HLL $approx vs exact $exact")
  }

  test("initial load dedups duplicate keys and file:-URI store roots resolve (r8 regressions)") {
    import spark.implicits._
    import graft.pipeline.IncrementalPipeline
    // file:-prefixed root: latestVersion and watermark must agree on the
    // same directory (the raw-string File() previously made every run an
    // initial load, clobbering history)
    val root = "file:" + tmpDir("graft-pipe-uri")
    val store = new IncrementalPipeline.Store(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // batch 1 re-delivers event 1 twice (newer version wins)
    val b1 = Seq((1L, ts(0), 1.0, "view", 7L), (1L, ts(5), 2.0, "view", 7L),
        (2L, ts(1), 3.0, "click", 8L))
      .toDF("event_id", "ts", "value", "event_type", "user_id")
    val r1 = IncrementalPipeline.run(store, b1, runId = 1L)
    assert(r1.status === "initial_load")
    assert(r1.inserted === 2L, "inserted must count KEYS on the initial load too")
    assert(r1.totalAfter === 2L, "initial load must dedup per key")
    val kept = store.launches.get.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kept(1L) === 2.0, "last-write-wins on the initial batch")
    // second run through the SAME file:-URI store must see the history
    val b2 = Seq((3L, ts(10), 4.0, "purchase", 7L))
      .toDF("event_id", "ts", "value", "event_type", "user_id")
    val r2 = IncrementalPipeline.run(store, b2, runId = 2L)
    assert(r2.status === "success", "file:-URI store lost its history")
    assert(r2.totalAfter === 3L)
  }

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
  /** Events (key, minutes past t0, value), one user per key. */
  private def feed(rows: (Long, Long, Double)*) = {
    import spark.implicits._
    rows.map { case (k, m, v) => (k, ts(m), v, "view", k) }
      .toDF("event_id", "ts", "value", "event_type", "user_id")
  }
  private def launchRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
    df.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toSet

  test("a fresh Store over an old root resumes exactly where the old one stood") {
    // two roots with the same two-run history
    def history(root: String): Store = {
      val store = new Store(spark, root)
      IncrementalPipeline.run(store, feed((1L, 0, 1.0), (2L, 1, 2.0)), runId = 1L)
      IncrementalPipeline.run(store, feed((2L, 5, 3.0), (3L, 6, 4.0)), runId = 2L)
      store
    }
    val old = history(tmpDir("graft-pipe-old"))
    val restartRoot = tmpDir("graft-pipe-restart")
    history(restartRoot)
    val fresh = new Store(spark, restartRoot)
    assert(fresh.watermark === old.watermark)
    assert(fresh.latestVersion === old.latestVersion)
    assert(launchRows(fresh.launches.get) === launchRows(old.launches.get))

    // the next run from the fresh Store returns what the old one returns
    val next = feed((3L, 9, 5.0), (4L, 10, 6.0))
    val r = IncrementalPipeline.run(fresh, next, runId = 3L)
    assert(r === IncrementalPipeline.run(old, next, runId = 3L))
    assert(r === IncrementalPipeline.RunResult("success", 2, 0, 1, 4, Some(ts(10))))
    assert(IncrementalPipeline.run(new Store(spark, restartRoot), next, runId = 4L) ===
      IncrementalPipeline.RunResult("no_new_data", 0, 0, 0, 4, Some(ts(10))))
  }

  test("a row at exactly the watermark is refetched; a batch whose max is the watermark is no new data") {
    val store = new Store(spark, tmpDir("graft-pipe-boundary"))
    val w = ts(10)
    assert(IncrementalPipeline.run(store, feed((1L, 0, 1.0), (2L, 10, 2.0)), runId = 1L)
      .watermark === Some(w))

    // one re-delivered row at exactly W and one newer row with a new key
    val r = IncrementalPipeline.run(store, feed((2L, 10, 2.0), (3L, 11, 3.0)), runId = 2L)
    assert(r.status === "success")
    assert(r.newFound === 2L)
    assert(r.inserted === 1L)
    assert(r.totalAfter === 3L)
    assert(r.watermark === Some(ts(11)))
    assert(store.watermark === ts(11))

    // a batch whose maximum equals the watermark
    val r2 = IncrementalPipeline.run(store, feed((4L, 5, 4.0), (5L, 11, 5.0)), runId = 3L)
    assert(r2.status === "no_new_data")
    assert(r2.totalAfter === 3L)
    assert(store.latestVersion === Some(2L))
  }
}
