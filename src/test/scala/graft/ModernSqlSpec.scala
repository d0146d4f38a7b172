package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.ModernSqlOps

/** Spark 4-native SQL surface: VARIANT shredding, recursive CTE spine,
  * collation-aware dedup, XML source round-trip.
  */
class ModernSqlSpec extends SparkSpec {

  test("variant_shred equals the raw-column recomputation, cell-exact") {
    val got = ModernSqlOps.variantShred(spark, sfDir).collect().toSeq
    val want = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("t"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
        (sum(floor(col("value") * 100 + 0.5)) / 100.0).as("x_sum"),
        count(when(col("value") > 50, 1)).as("n_flag"))
      .orderBy("t").collect().toSeq
    assert(got === want)
  }

  test("variant strictness contract: missing path is null for both, bad cast only throws strict") {
    // an ABSENT path yields NULL under both forms (which is why the
    // registered query's n_flag presence probe is sound); strictness
    // differs only on an extracted value that cannot CAST to the
    // requested type — variant_get throws, try_variant_get nulls
    val v = spark.sql("SELECT parse_json('{\"a\": \"not-a-number\"}') AS v")
    assert(v.selectExpr("try_variant_get(v, '$.missing', 'int')").collect().head.isNullAt(0))
    assert(v.selectExpr("variant_get(v, '$.missing', 'int')").collect().head.isNullAt(0))
    assert(v.selectExpr("try_variant_get(v, '$.a', 'int')").collect().head.isNullAt(0))
    intercept[Exception] {
      v.selectExpr("variant_get(v, '$.a', 'int')").collect()
    }
  }

  test("recursive_cte_spine: month count matches months_between, totals match the base table") {
    val row = ModernSqlOps.recursiveCteSpine(spark, sfDir).collect().head
    val o = Tables.orders(spark, sfDir)
    val bounds = o.agg(
      min(date_trunc("MONTH", col("o_orderdate"))).as("lo"),
      max(date_trunc("MONTH", col("o_orderdate"))).as("hi")).collect().head
    val expectMonths = Tables.orders(spark, sfDir)
      .agg(months_between(
        max(date_trunc("MONTH", col("o_orderdate"))),
        min(date_trunc("MONTH", col("o_orderdate"))))).collect().head
      .getDouble(0).toLong + 1L
    assert(row.getLong(0) === expectMonths, s"spine length off (bounds $bounds)")
    assert(row.getLong(2) === o.count(), "spine left-join dropped or duplicated orders")
    // every data month is on the spine: gaps are spine-only rows
    val dataMonths = o.select(date_trunc("MONTH", col("o_orderdate"))).distinct().count()
    assert(row.getLong(0) - row.getLong(1) === dataMonths,
      "spine minus gaps must equal the distinct data months")
  }

  test("collated_dedup: UTF8_LCASE grouping equals the lower() twin and merges real case pairs") {
    val row = ModernSqlOps.collatedDedup(spark, sfDir).collect().head
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(when(col("doc_id") % 2 === 0, initcap(col("w0")))
        .otherwise(col("w0")).as("w"))
    val nBinary = words.agg(countDistinct(col("w"))).collect().head.getLong(0)
    val nCi = words.agg(countDistinct(lower(col("w")))).collect().head.getLong(0)
    assert(row.getLong(1) === nBinary)
    assert(row.getLong(2) === nCi)
    assert(nBinary > nCi, "fixture must produce genuine case-variant pairs")
    assert(row.getLong(3) > 0, "at least one CI key must merge two casings")
  }

  test("hof_array_pipeline equals the posexplode twin and shuffles only for the final sort") {
    val df = ModernSqlOps.hofArrayPipeline(spark, sfDir)
    // the per-row lambda pipeline must be map-only: a collected root sort
    // plans as OrderedCollectExec with no exchange, and at most one is
    // allowed — a posexplode/groupBy formulation would add a fact-scale
    // hash exchange
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected at most the sort exchange, found $exchanges")
    val got = df.collect().toSeq
    val want = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("q", floor(col("x").cast("double") * 1048576 + 0.5).cast("long"))
      .groupBy(col("vec_id"))
      .agg(
        sum(col("q")).as("qsum"),
        count(when(col("x") > 0, 1)).as("n_pos"),
        max(abs(col("x")) > 0.5).as("has_big"))
      .orderBy("vec_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))) ===
      want.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))))
    // reversed quantized dot: spot-check one row brute-force on the driver
    val first = Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(1)
      .collect().head
    val emb = first.getSeq[Float](1)
    def q(f: Float): Long = math.floor(f.toDouble * 1048576 + 0.5).toLong
    val expect = emb.zip(emb.reverse).map { case (a, b) => q(a) * q(b) }.sum
    assert(got.head.getLong(3) === expect)
  }

  test("sql_parameterized binds typed named parameters equal to the inlined-literal query") {
    val got = ModernSqlOps.sqlParameterized(spark, sfDir).collect().toSeq
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_param")
    val want = spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total
        |FROM orders_param
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice < 200000
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect().toSeq
    assert(got === want)
  }

  test("map_hof_pipeline equals the flat recompute; absent keys read as NULL") {
    val got = ModernSqlOps.mapHofPipeline(spark, sfDir)
    val flat = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"),
        max(when(col("event_type") === "click", col("n"))).as("n_click"),
        sum(col("n")).as("n_events"),
        count(when(col("n") >= 12, 1)).as("n_heavy"),
        sum(col("n") * col("n")).as("sq_sum"))
      .orderBy("user_id")
    assert(got.collect().toSeq === flat.collect().toSeq)
    // absent-key lookup contract: element_at on a map without the key is
    // NULL (not 0, not an error) — the semantic the oracle cannot reach
    // on this fixture because every user has every type
    val absent = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(array_sort(collect_list(
        struct(col("event_type"), col("n"))))).as("m"))
      .selectExpr("element_at(m, 'no_such_type') AS x")
      .collect()
    assert(absent.forall(_.isNullAt(0)))
  }

  test("sql_scripting: the scripted block equals the inlined twin; WHILE loops accumulate") {
    val got = ModernSqlOps.sqlScripting(spark, sfDir).collect().toSeq
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_script")
    val want = spark.sql(
      """SELECT o_orderstatus, count(*) AS n_above,
        | CAST(floor((SELECT avg(o_totalprice) FROM orders_script) * 100 + 0.5)
        |   AS DOUBLE) / 100.0 AS threshold
        |FROM orders_script
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_script)
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect().toSeq
    assert(got === want)
    // control flow: a WHILE loop over residue classes re-counts the table
    val key = "spark.sql.scripting.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val n = spark.sql(
        """BEGIN
          |  DECLARE i INT DEFAULT 0;
          |  DECLARE acc BIGINT DEFAULT 0;
          |  WHILE i < 5 DO
          |    SET acc = acc + (SELECT count(*) FROM orders_script WHERE o_orderkey % 5 = i);
          |    SET i = i + 1;
          |  END WHILE;
          |  SELECT acc AS n_total;
          |END""".stripMargin).collect().head.getLong(0)
      assert(n === Tables.orders(spark, sfDir).count())
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("result_cache_serve: the served plan scans the cache, not the fact table") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val served = ModernSqlOps.resultCacheServe(spark, sfDir)
    val paths = served.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(paths.nonEmpty && paths.forall(_.contains("resultcache")),
      s"served plan must read the cache store, scanned $paths")
    assert(!paths.exists(_.contains("lineitem")), "fact table must not be re-scanned")
    // semantic keying: a DIFFERENT constant misses (no stale serve)
    val m0 = graft.engine.ResultCache.misses.get
    graft.engine.ResultCache.run(spark,
      Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 25)
        .agg(count(lit(1))), sfDir + "|specprobe")
    assert(graft.engine.ResultCache.misses.get > m0)
  }

  test("result cache x DML: a commit moves the key; stale serve impossible") {
    import graft.engine.ResultCache
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.range(0, 10).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .writeTo("graft_cat.spec.rc").create()
    try {
      def q = spark.table("graft_cat.spec.rc").agg(sum(col("v")).as("s"))
      val first = ResultCache.run(spark, q, "rc-dml-spec").head.getDouble(0)
      assert(first === 45.0)
      // identical query, same version: HIT
      val h0 = ResultCache.hits.get
      assert(ResultCache.run(spark, q, "rc-dml-spec").head.getDouble(0) === 45.0)
      assert(ResultCache.hits.get > h0, "same-version rerun must hit")
      // DML commit: the table's commit ordinal moves the key -> MISS,
      // and the served result is the POST-update state
      spark.sql("UPDATE graft_cat.spec.rc SET v = v + 100 WHERE k < 5")
      val m1 = ResultCache.misses.get
      val after = ResultCache.run(spark, q, "rc-dml-spec").head.getDouble(0)
      assert(ResultCache.misses.get > m1, "post-DML read must miss, not serve stale")
      assert(after === 545.0, s"post-DML result must be fresh, got $after")
      // and the new version is itself cacheable
      val h1 = ResultCache.hits.get
      assert(ResultCache.run(spark, q, "rc-dml-spec").head.getDouble(0) === 545.0)
      assert(ResultCache.hits.get > h1)
    } finally spark.sql("DROP TABLE graft_cat.spec.rc")
  }

  test("udaf geomean contract: nulls and non-positive inputs are ignored, empty group is NaN") {
    import spark.implicits._
    spark.udf.register("graft_gmean_t", org.apache.spark.sql.functions.udaf(
      graft.functions.GeoMean, org.apache.spark.sql.Encoders.DOUBLE))
    val df = Seq(
      ("a", Some(2.0)), ("a", Some(8.0)), ("a", None), ("a", Some(-3.0)),
      ("b", Some(-1.0))).toDF("g", "x")
    val rows = df.groupBy(col("g"))
      .agg(expr("graft_gmean_t(x)").as("gm")).orderBy("g").collect()
    assert(math.abs(rows(0).getDouble(1) - 4.0) < 1e-12,
      "geomean(2, 8) must be 4 with null/-3 ignored")
    assert(rows(1).getDouble(1).isNaN, "all-ignored group must finish NaN")
  }

  test("xml_roundtrip entity-escapes the metacharacters on disk") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-xml-esc")
    try {
      Tables.customer(spark, sfDir).limit(5)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" <&> \""), col("c_mktsegment")).as("c_label"))
        .coalesce(1)
        .write.format("xml").option("rowTag", "row").option("rootTag", "rows")
        .mode("overwrite").save(root.toString)
      val walk = java.nio.file.Files.walk(root)
      val xml = try {
        walk.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".xml"))
          .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          .mkString
      } finally walk.close()
      assert(xml.contains("&lt;") && xml.contains("&amp;"),
        "raw metacharacters must be entity-escaped in the XML text")
      assert(!xml.contains(" <&> "), "unescaped payload leaked into the XML")
    } finally {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
