package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.EventLifecycleOps

/** Semantic invariants for the event-lifecycle operators (funnel, cohort
  * retention, SCD2 intervals, gap-fill) plus the plan property they all
  * share: one stream shuffle keyed on user_id feeding chained windows.
  */
class EventLifecycleSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("funnel_steps: monotone step counts, conv_rate anchored at step 1") {
    val rows = EventLifecycleOps.funnelSteps(spark, sfDir)
      .orderBy("step").collect()
    assert(rows.length == 3)
    val ns = rows.map(_.getLong(1))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel not monotone: ${ns.toSeq}")
    assert(rows.head.getDouble(2) == 1.0, "step-1 conversion must be 1.0")
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("funnel_steps: strict ordering enforced (purchase before click never counts)") {
    import spark.implicits._
    // user 1: view -> click -> purchase (converts all three)
    // user 2: purchase first, then view -> click (step 3 must NOT count)
    val ev = Seq(
      (1L, 1L, "2024-01-01 00:00:00", "view"),
      (2L, 1L, "2024-01-01 01:00:00", "click"),
      (3L, 1L, "2024-01-01 02:00:00", "purchase"),
      (4L, 2L, "2024-01-01 00:00:00", "purchase"),
      (5L, 2L, "2024-01-01 01:00:00", "view"),
      (6L, 2L, "2024-01-01 02:00:00", "click"),
    ).toDF("event_id", "user_id", "ts_s", "event_type")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts_s")).as("ts"), col("event_type"))
    val dir = tmpDir("funnel")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventLifecycleOps.funnelSteps(spark, dir).orderBy("step").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L),
      s"expected 2/2/1, got ${out.map(_.getLong(1)).toSeq}")
  }

  test("cohort_retention: offset-0 rate is exactly 1.0 and counts never exceed cohort size") {
    val rows = EventLifecycleOps.cohortRetention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (c, rs) =>
      val base = rs.find(_.getLong(1) == 0L)
        .getOrElse(fail(s"cohort $c missing offset 0"))
      assert(base.getDouble(3) == 1.0)
      rs.foreach { r =>
        assert(r.getLong(2) <= base.getLong(2), s"cohort $c retention exceeds size")
        assert(r.getDouble(3) <= 1.0 && r.getDouble(3) > 0.0)
      }
    }
  }

  test("scd2_intervals: contiguous non-overlapping intervals, one current row per user, no repeated state") {
    val rows = EventLifecycleOps.scd2Intervals(spark, sfDir)
      .orderBy("user_id", "version").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.count(_.getLong(5) == 1L) == 1, s"user $u: current-row count != 1")
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) == b.getLong(3),
            s"user $u: interval gap between v${a.getLong(1)} and v${b.getLong(1)}")
          assert(a.getString(2) != b.getString(2),
            s"user $u: consecutive equal states survived the change filter")
        case _ => ()
      }
      val last = rs.last
      assert(last.getLong(5) == 1L && last.getLong(4) == 253402214400000000L)
    }
  }

  test("ts_gapfill: per-user day grid is complete; gaps carry the last observed value") {
    val out = EventLifecycleOps.tsGapfill(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val days = rs.map(_.getLong(1)).sorted
      assert(days.last - days.head + 1 == days.length, s"user $u grid has holes")
      // forward-fill: replay the sequence; ff on a gap row == previous ff
      var prev = Double.NaN
      rs.sortBy(_.getLong(1)).foreach { r =>
        val (gap, ff) = (r.getLong(3), r.getDouble(4))
        if (gap == 1L) {
          assert(r.getLong(2) == 0L, s"user $u gap day with events")
          assert(ff == prev, s"user $u: gap ff_value not carried forward")
        }
        prev = ff
      }
    }
    // gaps exist at this sf, so the fill path is actually exercised
    assert(out.exists(_.getLong(3) == 1L), "fixture has no gap days — invariant vacuous")
  }

  test("rolling_active_users: DAU <= WAU <= MAU, contiguous day axis, exact DAU") {
    val rows = EventLifecycleOps.rollingActiveUsers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, mau) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dau <= wau && wau <= mau, s"day ${r.getLong(0)}: $dau/$wau/$mau not monotone")
    }
    val days = rows.map(_.getLong(0))
    assert(days.max - days.min + 1 == days.length, "day axis has holes")
    // DAU cross-check against a direct per-day distinct
    val direct = graft.engine.Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == direct(r.getLong(0)),
      s"DAU mismatch on day ${r.getLong(0)}"))
  }

  test("lifecycle stream queries shuffle the event stream exactly once (user_id key)") {
    // funnel: three chained conditional-min windows + scd2: lag->filter->
    // row_number/lead all share one user_id exchange; a formulation change
    // that re-shuffles per step fails here
    for (q <- Seq(EventLifecycleOps.funnelSteps _, EventLifecycleOps.scd2Intervals _)) {
      val df = q(spark, sfDir)
      df.collect() // finalize the AQE plan before matching tree nodes
      val plan = df.queryExecution.executedPlan
      val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
      // hash exchanges move the stream; the final presentation orderBy
      // sorts and merges the (already tiny) result without an exchange.
      // Match the node's OWN partitioning — a node's toString prints its
      // whole subtree, which would double-count downstream exchanges.
      val streamShuffles = shuffles.count { e =>
        val p = e.outputPartitioning.toString
        p.contains("hashpartitioning") && p.contains("user_id")
      }
      assert(streamShuffles <= 1,
        s"event stream shuffled $streamShuffles times on user_id:\n$plan")
      assert(collectWithSubqueries(plan) { case w: WindowExec => w }.nonEmpty)
    }
  }

  test("scd2_pit_join_native: plans through AsofJoinExec, equals the carry spelling") {
    val native = EventLifecycleOps.scd2PitJoinNative(spark, sfDir)
    assert(native.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "native PIT lost the custom as-of operator")
    assert(native.collect().toSeq ===
      EventLifecycleOps.scd2PitJoin(spark, sfDir).collect().toSeq,
      "native as-of PIT disagrees with the union-carry spelling")
  }

  test("scd2_pit_join: as-of carry equals the literal inequality join, no Join node in plan") {
    val df = EventLifecycleOps.scd2PitJoin(spark, sfDir)
    val phys = df.queryExecution.executedPlan.toString
    // the whole point: point-in-time enrichment WITHOUT an inequality
    // join — no join operator of any kind, no nested loop, no cartesian
    assert(!phys.contains("Join"), "PIT join regressed to a join plan:\n" + phys)
    val got = df.collect().toSeq
    // ground truth: the literal interval-containment join
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = graft.engine.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val wd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = base.filter(col("event_type") =!= "click")
      .withColumn("prev", lag(col("event_type"), 1).over(wd))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us",
        coalesce(lead(unix_micros(col("ts")), 1).over(wd), lit(253402214400000000L)))
      .select(col("user_id").as("du"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    val want = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("ts_us"))
      .join(dim, col("user_id") === col("du") &&
        col("valid_from_us") <= col("ts_us") && col("ts_us") < col("valid_to_us"),
        "left")
      .select(col("user_id"), col("click_id"), col("ts_us"),
        coalesce(col("state"), lit("none")).as("state_at_click"))
      .orderBy("user_id", "click_id").collect().toSeq
    assert(want.nonEmpty && got === want)
    assert(got.exists(_.getString(3) != "none"), "no click ever found a state — vacuous")
  }
}
