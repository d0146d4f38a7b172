package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.plans.OrderedCollectExec

/** [[OrderedCollectExec]]: a collected root ORDER BY sorts each partition
  * on the executors and merges on the driver, giving the rows a
  * driver-side sort gives, in one job and with no range exchange; the
  * callers that execute the plan in parallel still get a range-partitioned,
  * globally ordered result.
  */
class OrderedCollectSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  /** One sort key: column, ascending, nulls first. */
  private final case class Key(name: String, asc: Boolean = true, nullsFirst: Boolean = true) {
    def column: Column = (asc, nullsFirst) match {
      case (true, true) => col(name).asc_nulls_first
      case (true, false) => col(name).asc_nulls_last
      case (false, true) => col(name).desc_nulls_first
      case (false, false) => col(name).desc_nulls_last
    }
  }

  /** 2000 rows over 37 partitions with nullable long, string, timestamp
    * and decimal keys; `id` is unique, so a key list ending in it is total. */
  private def input(rows: Long = 2000, partitions: Int = 37): DataFrame = {
    def nullEvery(n: Int, c: Column) = when(col("id") % n === 0, lit(null)).otherwise(c)
    spark.range(0, rows, 1, partitions).select(
      col("id"),
      nullEvery(11, col("id") * 7919 % 7).as("k"),
      nullEvery(13, concat(lit("s"), (col("id") * 104729 % 31).cast("string"))).as("s"),
      nullEvery(17, timestamp_seconds(col("id") * 3607 % 50000)).as("ts"),
      nullEvery(19, (col("id") * 31 % 97 * 1.25).cast("decimal(10,2)")).as("dec"))
  }

  private def compareKey(a: Any, b: Any, key: Key): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => if (key.nullsFirst) -1 else 1
    case (_, null) => if (key.nullsFirst) 1 else -1
    case _ =>
      val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
      if (key.asc) c else -c
  }

  /** `rows` sorted on the driver by `keys`. */
  private def driverSort(rows: Seq[Row], keys: Seq[Key]): Seq[Row] =
    rows.sortWith { (a, b) =>
      keys.iterator.map(k => compareKey(a.getAs[Any](k.name), b.getAs[Any](k.name), k))
        .find(_ != 0).exists(_ < 0)
    }

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def rangeExchanges(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.startsWith("rangepartitioning") => e
    }

  /** Whether `rdd`'s lineage holds a shuffle: over [[input]], only a range
    * exchange can add one. */
  private def shuffled(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
    case _: ShuffleDependency[_, _, _] => true
    case d => shuffled(d.rdd)
  }

  /** A parallel result is range partitioned when it is shuffled, its
    * partitions read in order give the global order, and more than one of
    * them holds rows. */
  private def assertRangePartitioned(rdd: RDD[_], rowsPerPartition: Seq[Int]): Unit = {
    assert(shuffled(rdd), rdd.toDebugString)
    assert(rowsPerPartition.count(_ > 0) > 1, rowsPerPartition)
  }

  private def assertSortedCollect(df: DataFrame, keys: Seq[Key]): Unit = {
    val got = df.orderBy(keys.map(_.column): _*)
    assert(got.collect().toSeq == driverSort(df.collect().toSeq, keys), keys)
    val plan = executed(got)
    assert(collect(plan) { case e: OrderedCollectExec => e }.size == 1, plan)
    assert(rangeExchanges(plan).isEmpty, plan)
  }

  test("collected rows equal a driver-side sort, for every key type and direction") {
    val df = input()
    val id = Key("id")
    for (keys <- Seq(
        Seq(Key("k"), Key("s", asc = false), id),
        Seq(Key("k", asc = false, nullsFirst = true), id),
        Seq(Key("k", asc = true, nullsFirst = false), Key("dec", asc = false, nullsFirst = false), id),
        Seq(Key("s", nullsFirst = false), id),
        Seq(Key("ts", asc = false), id),
        Seq(Key("dec"), Key("ts", nullsFirst = false), id),
        Seq(Key("id", asc = false))))
      assertSortedCollect(df, keys)
  }

  test("an empty input and mostly empty partitions") {
    val keys = Seq(Key("s", asc = false), Key("id"))
    assertSortedCollect(input().filter(col("id") < 0), keys)
    assertSortedCollect(input(rows = 5), keys)
    assertSortedCollect(input(partitions = 1), keys)
  }

  test("a sort key that is not in the output orders the projected rows") {
    val df = input()
    val keys = Seq(Key("s", asc = false), Key("ts"), Key("id"))
    val got = df.orderBy(keys.map(_.column): _*).select("dec", "k")
    val want = driverSort(df.collect().toSeq, keys).map(r => Row(r.getAs[Any]("dec"), r.getAs[Any]("k")))
    assert(got.collect().toSeq == want)
    val plan = executed(got)
    val exec = collect(plan) { case e: OrderedCollectExec => e }
    assert(exec.size == 1 && exec.head.output.map(_.name) == Seq("dec", "k"), plan)
    assert(rangeExchanges(plan).isEmpty, plan)
  }

  test(".rdd, toLocalIterator and cache() keep a range exchange and the global order") {
    val keys = Seq(Key("dec", asc = false), Key("id"))
    val df = input()
    val want = driverSort(df.collect().toSeq, keys)
    val sorted = df.orderBy(keys.map(_.column): _*)

    // `.rdd` plans Spark's own range exchange (AQE may coalesce its
    // partitions); toLocalIterator and cache() execute OrderedCollectExec
    val rdd = sorted.rdd
    assert(shuffled(rdd), rdd.toDebugString)
    assert(rdd.collect().toSeq == want)

    val iterated = df.orderBy(keys.map(_.column): _*)
    assert(iterated.toLocalIterator().asScala.toSeq == want)
    val parallel = executed(iterated).execute()
    assertRangePartitioned(parallel, parallel.mapPartitions(rows => Iterator(rows.size)).collect().toSeq)

    val cached = df.orderBy(keys.map(_.column): _*).cache()
    try {
      assert(cached.collect().toSeq == want)
      val relation = cached.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      assert(relation.nonEmpty, cached.queryExecution.withCachedData)
      val buffers = relation.get.cacheBuilder.cachedColumnBuffers
      assertRangePartitioned(buffers,
        buffers.mapPartitions(batches => Iterator(batches.map(_.numRows).sum)).collect().toSeq)
    } finally cached.unpersist(blocking = true)
  }

  test("a limit on top and a sort below the root keep their plans") {
    val df = input()
    val keys = Seq(Key("s"), Key("id"))
    val sorted = df.orderBy(keys.map(_.column): _*)
    val want = driverSort(df.collect().toSeq, keys)
    val limited = sorted.limit(3)
    assert(limited.collect().toSeq == want.take(3))
    val unioned = sorted.union(sorted)
    assert(unioned.collect().length == 2 * want.size)
    for (d <- Seq(limited, unioned))
      assert(collect(executed(d)) { case e: OrderedCollectExec => e }.isEmpty, executed(d))
  }

  test("q1_perf_over_time collects in 2 jobs") {
    val q1 = SparkEntry.queries("q1_perf_over_time")
    val want = q1(spark, sfDir).orderBy("order_year").rdd.collect().toSeq
    val (rows, jobs) = JobCount.during(q1(spark, sfDir).collect().toSeq)
    assert(rows == want)
    assert(jobs == 2, s"q1_perf_over_time ran $jobs jobs")
  }

  test("merge interleaves sorted runs and keeps equal rows in run order") {
    import org.apache.spark.sql.catalyst.InternalRow
    val ord = Ordering.by[InternalRow, Long](_.getLong(0))
    def run(xs: (Long, Long)*) = xs.iterator.map { case (k, tag) => InternalRow(k, tag): InternalRow }
    val merged = OrderedCollectExec.merge(
      Seq(run((1, 0), (4, 0), (9, 0)), run(), run((1, 1), (2, 1), (9, 1))), ord)
    assert(merged.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1, 0), (1, 1), (2, 1), (4, 0), (9, 0), (9, 1)))
  }
}
