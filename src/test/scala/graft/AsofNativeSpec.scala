package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.AsofOps
import graft.plans.AsofJoinExec

/** The native as-of join (custom LogicalPlan → Strategy → SparkPlan) must
  * agree with the independently-derived window composition on the real
  * fixture, plan through AsofJoinExec with the sort-merge-join exchange
  * topology, and implement SQL comparison semantics for NULLs and the
  * tie-break contract on synthetic edge-case data.
  */
class AsofNativeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("native == window composition on the events fixture") {
    val a = AsofOps.asofClicks(spark, sfDir).collect()
    val b = AsofOps.asofClicksNative(spark, sfDir).collect()
    assert(a.length == b.length && a.length > 0)
    assert(a.sameElements(b))
  }

  test("plans through AsofJoinExec: two clustered exchanges, per-side sorts, no window") {
    val df = AsofOps.asofClicksNative(spark, sfDir)
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan
    val asof = collectWithSubqueries(plan) { case e: AsofJoinExec => e }
    assert(asof.nonEmpty, "AsofJoinExec missing from the physical plan")
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "native path must not fall back to the window composition")
    // exactly the SMJ topology: one hash exchange per side
    val hashEx = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.length == 2, s"expected exactly 2 clustered exchanges:\n$plan")
  }

  test("tie-break: equal right timestamps resolve to the greatest tie id") {
    import spark.implicits._
    val left = Seq((1L, 100L)).toDF("k", "ts")
    val right = Seq((1L, 50L, 7L), (1L, 50L, 9L), (1L, 50L, 8L)).toDF("k", "ts", "id")
    val out = AsofOps.asofJoinNative(left, right, "k", "ts", "ts", "id")
      .toDF("k", "ts", "rk", "rts", "rid").collect()
    assert(out.length == 1 && out.head.getLong(4) == 9L)
  }

  test("NULL keys and NULL timestamps never match; unmatched stays null") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(100L)),  // normal match
      (None,     Some(100L)),  // null key: no match even vs null-key right
      (Some(1L), None),        // null left ts: no match
      (Some(2L), Some(100L)),  // no right rows for key: no match
      (Some(3L), Some(10L))    // right exists but only later: no match
    ).toDF("k", "ts")
    val right = Seq(
      (Some(1L), Some(90L), 1L),
      (None,     Some(90L), 2L),  // null-key right row must never be picked
      (Some(1L), None,      3L),  // null-ts right row must never be picked
      (Some(3L), Some(50L), 4L)
    ).toDF("k", "ts", "id")
    val rows = AsofOps.asofJoinNative(left, right, "k", "ts", "ts", "id")
      .toDF("k", "ts", "rk", "rts", "rid")
      .orderBy(asc_nulls_first("k"), asc_nulls_first("ts")).collect()
    assert(rows.length == 5)
    val matched = rows.filter(!_.isNullAt(4)).map(r => (r.getLong(0), r.getLong(4)))
    assert(matched.toSeq == Seq((1L, 1L)))
  }

  test("inclusive boundary and latest-wins across several keys") {
    import spark.implicits._
    val left = Seq((1L, 50L), (1L, 100L), (2L, 100L)).toDF("k", "ts")
    val right = Seq(
      (1L, 50L, 1L),   // equal ts: inclusive, matches left (1,50)
      (1L, 99L, 2L),   // latest <= 100 for key 1
      (2L, 1L, 3L),
      (2L, 100L, 4L)
    ).toDF("k", "ts", "id")
    val got = AsofOps.asofJoinNative(left, right, "k", "ts", "ts", "id")
      .toDF("k", "ts", "rk", "rts", "rid")
      .orderBy("k", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(got == Seq((1L, 50L, 1L), (1L, 100L, 2L), (2L, 100L, 4L)))
  }

  test("forward direction: earliest right row at-or-after each left row, inclusive") {
    import spark.implicits._
    val left = Seq((1L, 50L), (1L, 100L), (2L, 10L))
      .toDF("k", "tsl").withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")
    val right = Seq((1L, 40L, 3L), (1L, 100L, 1L), (1L, 120L, 2L), (2L, 5L, 4L))
      .toDF("k", "tsl", "id").withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")
    val got = AsofOps.asofJoin(left, right, "k", "ts", "ts", "id", direction = "forward")
      .select(col("left.k"), unix_micros(col("left.ts")).as("ts"), col("matched.id"))
      .orderBy("k", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    // (1,50)→earliest ≥50 is 100/id1; (1,100)→inclusive 100/id1; (2,10)→no right ≥10
    assert(got == Seq((1L, 50L, Some(1L)), (1L, 100L, Some(1L)), (2L, 10L, None)))
  }

  test("tolerance nulls out nearest matches farther than the bound") {
    import spark.implicits._
    val left = Seq((1L, 100L), (2L, 100L))
      .toDF("k", "tsl").withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")
    val right = Seq((1L, 95L, 1L), (2L, 85L, 2L))
      .toDF("k", "tsl", "id").withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")
    val got = AsofOps.asofJoin(left, right, "k", "ts", "ts", "id",
        direction = "backward", toleranceMicros = Some(10L))
      .select(col("left.k"), col("matched.id"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toSeq
    // key 1: gap 5 ≤ 10 keeps the match; key 2: gap 15 > 10 nulls it out
    assert(got == Seq((1L, Some(1L)), (2L, None)))
  }

  test("tolerance check stays a post-projection: still one exchange, no extra join") {
    val df = AsofOps.asofNextPurchase(spark, sfDir)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(phys).length <= 1,
      "tolerance/forward variant grew an extra shuffle")
    assert(!phys.contains("Join"), "tolerance regressed to a join-based formulation")
  }
}
