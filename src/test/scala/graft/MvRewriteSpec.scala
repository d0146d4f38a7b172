package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.WarehouseOps

/** Plan pins for [[graft.plans.MvRollupRewrite]]: the rewrite must fire
  * (MV scanned, base absent) exactly when the derivability contract
  * holds, and must refuse everything outside it.
  */
class MvRewriteSpec extends SparkSpec {

  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq.empty[String]
      }
    }.flatten

  /** Stage + register via the query itself (idempotent), then hand back
    * the staged base frame for shape variants.
    */
  private def stagedBase(): DataFrame = {
    WarehouseOps.mvRewriteRollup(spark, sfDir)
    val fp = Tables.fingerprint(sfDir, "orders.parquet")
    val root = graft.engine.StagedRoots.of("mvroll", sfDir, fp)(_ => ())
    spark.read.parquet(s"$root/base")
  }

  test("mv_rewrite_rollup: plan scans the MV, not the base; result equals the base recompute") {
    val df = WarehouseOps.mvRewriteRollup(spark, sfDir)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.endsWith("/mv")),
      s"rewrite did not fire — scanned $paths")
    val want = Tables.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")) / 100.0)
          .as("total"))
      .select(col("order_month"), col("n_orders"), col("total"))
      .orderBy("order_month")
    assert(df.collect().toSeq === want.collect().toSeq)
  }

  test("group-key filter is remapped onto the MV scan and stays exact") {
    val base = stagedBase()
    val df = base.filter(col("om") >= "1997")
      .groupBy(col("om"))
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("n"))
      .orderBy("om")
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.endsWith("/mv")),
      s"key-filtered rollup must still rewrite — scanned $paths")
    val want = Tables.orders(spark, sfDir)
      .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("om") >= "1997")
      .groupBy(col("om"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("c"),
        count(lit(1)).as("n"))
      .orderBy("om")
    assert(df.collect().toSeq === want.collect().toSeq)
  }

  test("filter on an MV key OUTSIDE the query's groupBy rewrites and stays exact") {
    // The r14 ADVICE crash shape: filter(o_custkey…).groupBy(om) against
    // the {om, o_custkey} MV. The filter prunes whole MV groups (exact),
    // but its attribute is not among the query's grouping refs — the
    // remap must resolve it by name against the MV output or the rewrite
    // produces an unresolvable plan that dies at planning.
    val base = stagedBase()
    val df = base.filter(col("o_custkey") % 10 === 7)
      .groupBy(col("om"))
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("n"))
      .orderBy("om")
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.endsWith("/mv")),
      s"non-grouped-key filter must still rewrite — scanned $paths")
    val want = Tables.orders(spark, sfDir)
      .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      .filter(col("o_custkey") % 10 === 7)
      .groupBy(col("om"))
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("n"))
      .orderBy("om")
    assert(df.collect().toSeq === want.collect().toSeq)
  }

  test("guardrails: out-of-contract shapes keep the base scan") {
    val base = stagedBase()
    val refusals: Seq[(String, DataFrame)] = Seq(
      "grouping finer than the MV keys" ->
        base.groupBy(col("om"), col("cents")).agg(count(lit(1)).as("n")),
      "filter on a non-key column" ->
        base.filter(col("cents") > 0).groupBy(col("om"))
          .agg(sum(col("cents")).as("c")),
      "avg is not derivable from rowcount partials" ->
        base.groupBy(col("om")).agg(avg(col("cents")).as("a")),
      "count distinct is not decomposable" ->
        base.groupBy(col("om")).agg(countDistinct(col("o_custkey")).as("d")))
    refusals.foreach { case (why, df) =>
      val paths = scannedPaths(df)
      assert(paths.nonEmpty && paths.forall(_.endsWith("/base")),
        s"$why: must NOT rewrite — scanned $paths")
    }
  }
}
