package graft

/** Every registered query must execute at sf0.001 and return a
  * deterministic, non-degenerate result (the t1-smoke analog, run per
  * query instead of only on `entry`).
  */
class QueriesSmokeSpec extends SparkSpec {

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001 and is deterministic") {
      val a = fn(spark, sfDir).collect()
      val b = fn(spark, sfDir).collect()
      assert(a.nonEmpty || name == "dedup_ngram_jaccard" || name == "emb_neardup_pairs",
        s"$name returned 0 rows")
      assert(a.toSeq === b.toSeq, s"$name is not deterministic across runs")
      // streaming runs clean up after themselves: no live query and no
      // memory-sink view outlives the call
      val leftViews = spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream_")).map(_.name)
      assert(spark.streams.active.isEmpty && leftViews.isEmpty,
        s"$name left streams ${spark.streams.active.map(_.name).toSeq} / views ${leftViews.toSeq}")
    }
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
