package graft


import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.MergeOps
import graft.sources.GraftStore

/** Row-level SQL DML through [[graft.sources.GraftCatalog]]: MERGE's
  * table state must equal the DataFrame merge exactly, the DELETE verb
  * must remove rows through the same COW path, and the catalog API
  * round-trips.
  */
class SqlDmlSpec extends SparkSpec {

  private def cat(): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)

  test("MERGE INTO table state equals mergeByKey, row for row") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    base.writeTo("graft_cat.spec.m1").create()
    try {
      MergeOps.s7Incoming(base).createOrReplaceTempView("spec_merge_src")
      spark.sql(
        """MERGE INTO graft_cat.spec.m1 t USING spec_merge_src s
          |ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.table("graft_cat.spec.m1")
        .orderBy("event_id").collect().toSeq
      val want = MergeOps
        .mergeByKey(base, MergeOps.s7Incoming(base), "event_id", "ts")
        .orderBy("event_id").collect().toSeq
      assert(got === want)
    } finally spark.sql("DROP TABLE graft_cat.spec.m1")
  }

  test("MERGE WHEN MATCHED DELETE removes exactly the matched keys") {
    cat()
    val base = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    base.writeTo("graft_cat.spec.m2").create()
    try {
      base.filter(col("event_id") % 13 === 0).select(col("event_id"))
        .createOrReplaceTempView("spec_del_src")
      spark.sql(
        """MERGE INTO graft_cat.spec.m2 t USING spec_del_src s
          |ON t.event_id = s.event_id
          |WHEN MATCHED THEN DELETE""".stripMargin)
      val left = spark.table("graft_cat.spec.m2")
      assert(left.filter(col("event_id") % 13 === 0).count() === 0L)
      assert(left.count() === base.filter(col("event_id") % 13 =!= 0).count())
    } finally spark.sql("DROP TABLE graft_cat.spec.m2")
  }

  test("VERSION AS OF: each commit queryable; a resolved snapshot is immune to later commits") {
    cat()
    spark.range(0, 4).select(col("id").as("k")).writeTo("graft_cat.spec.tt").create()
    try {
      spark.range(10, 12).select(col("id").as("k")).writeTo("graft_cat.spec.tt").append()
      // CTAS is TWO commits: v0 = the empty created table, v1 = its data
      assert(spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 0").count() === 0L)
      assert(spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 1").count() === 4L)
      assert(spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 2").count() === 6L)
      // snapshot isolation: a later DELETE must not move the resolved v2 read
      val v2 = spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 2")
      v2.count() // resolve + capture
      spark.sql("DELETE FROM graft_cat.spec.tt WHERE k >= 10")
      assert(v2.count() === 6L, "resolved time-travel read moved after a later commit")
      assert(spark.table("graft_cat.spec.tt").count() === 4L)
      assert(spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 3").count() === 4L)
      val oob = intercept[Exception] {
        spark.sql("SELECT * FROM graft_cat.spec.tt VERSION AS OF 9").collect()
      }
      assert(oob.getMessage.contains("out of range"), oob.getMessage.take(120))
    } finally spark.sql("DROP TABLE graft_cat.spec.tt")
  }

  test("partitioned VERSION AS OF: table-level ordinals span shard commits; travel before/after a partition-local DELETE") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    base.writeTo("graft_cat.spec.ptt").partitionedBy(col("event_type")).create()
    try {
      val full = base.count()
      val errLow = base.filter(col("event_type") === "error" && col("value") < 50).count()
      assert(errLow > 0, "fixture must have error rows below 50")
      // v0 = create (empty), v1 = the CTAS write — ONE version despite
      // committing one shard per event_type
      assert(spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 0").count() === 0L)
      assert(spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 1").count() === full)
      // v2: a partition-local COW DELETE (rewrites only the 'error' shard)
      spark.sql("DELETE FROM graft_cat.spec.ptt WHERE event_type = 'error' AND value < 50")
      assert(spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 1").count() === full,
        "pre-delete version must still serve the deleted rows")
      assert(spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 2").count() === full - errLow)
      // a resolved version read is immune to LATER commits, even a
      // rewrite that drops and re-creates the shard store
      val v1 = spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 1")
      v1.count()
      spark.sql("UPDATE graft_cat.spec.ptt SET value = value + 1000 WHERE event_type = 'click'")
      assert(v1.count() === full, "resolved partitioned time-travel read moved after a later commit")
      assert(spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 3").count() === full - errLow)
      // the UPDATE only moved 'click' values; v2 vs v3 digests differ there
      val v2clicks = spark.sql(
        "SELECT sum(value) FROM graft_cat.spec.ptt VERSION AS OF 2 WHERE event_type = 'click'")
        .head.getDouble(0)
      val v3clicks = spark.sql(
        "SELECT sum(value) FROM graft_cat.spec.ptt VERSION AS OF 3 WHERE event_type = 'click'")
        .head.getDouble(0)
      assert(v3clicks > v2clicks)
      val oob = intercept[Exception] {
        spark.sql("SELECT * FROM graft_cat.spec.ptt VERSION AS OF 9").collect()
      }
      assert(oob.getMessage.contains("out of range"), oob.getMessage.take(120))
    } finally spark.sql("DROP TABLE graft_cat.spec.ptt")
  }

  test("partitioned rollback: CALL system.rollback restores the ledger entry's shard set as a new commit") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    base.writeTo("graft_cat.spec.prb").partitionedBy(col("event_type")).create()
    try {
      val v1 = spark.table("graft_cat.spec.prb").orderBy("event_id", "value")
        .collect().toSeq
      spark.sql("DELETE FROM graft_cat.spec.prb WHERE event_type = 'error' AND value < 50") // v2
      assert(spark.table("graft_cat.spec.prb").count() < v1.size)
      val res = spark.sql("CALL graft_cat.system.rollback('spec.prb', 1)")
        .head
      assert(res.getInt(0) === 1)
      assert(res.getLong(1) === v1.size.toLong)
      assert(res.getInt(2) === 3) // v3 = the rollback commit itself
      assert(spark.table("graft_cat.spec.prb").orderBy("event_id", "value")
        .collect().toSeq === v1, "rollback must restore the v1 content")
      // the rolled-over commit stays queryable: an operational undo,
      // not history rewriting
      assert(spark.sql(
        "SELECT count(*) FROM graft_cat.spec.prb VERSION AS OF 2")
        .head.getLong(0) < v1.size.toLong)
      // rollback to the CREATE drops every shard
      spark.sql("CALL graft_cat.system.rollback('spec.prb', 0)")
      assert(spark.table("graft_cat.spec.prb").count() === 0L)
    } finally spark.sql("DROP TABLE graft_cat.spec.prb")
  }

  test("partitioned cluster: CALL system.cluster sorts within each shard, one maintenance commit") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    base.writeTo("graft_cat.spec.pcl").partitionedBy(col("event_type")).create()
    try {
      // extra appends interleave the sort key within every shard
      base.filter(col("event_id") % 3 === 0)
        .select((col("event_id") + 500000L).as("event_id"),
          col("event_type"), col("value"))
        .writeTo("graft_cat.spec.pcl").append() // v2
      val want = spark.table("graft_cat.spec.pcl")
        .orderBy("event_id", "value").collect().toSeq
      val res = spark.sql(
        "CALL graft_cat.system.cluster('spec.pcl', 'value', 2)").head
      assert(res.getLong(2) === want.size.toLong)
      // content identical, ledger grew by ONE table-level version (v3)
      assert(spark.table("graft_cat.spec.pcl")
        .orderBy("event_id", "value").collect().toSeq === want)
      assert(spark.sql(
        "SELECT count(*) FROM graft_cat.spec.pcl VERSION AS OF 3")
        .head.getLong(0) === want.size.toLong)
      // each shard independently re-packed to <= 2 range-disjoint batches
      spark.table("graft_cat.spec.pcl").select("event_type").distinct()
        .collect().map(_.getString(0)).foreach { pv =>
          val k = s"cat::graft_cat.spec.pcl#p=$pv"
          assert(graft.sources.GraftStore.batchesRef(k).get.size <= 2, k)
        }
    } finally spark.sql("DROP TABLE graft_cat.spec.pcl")
  }

  test("partition-spec evolution is METADATA-ONLY: old shards keep their spec, new writes route through the new one") {
    cat()
    spark.range(0, 12)
      .select((col("id") % 3).cast("string").as("p"), col("id").as("v"))
      .writeTo("graft_cat.spec.pse").partitionedBy(col("p")).create()
    try {
      val before = spark.table("graft_cat.spec.pse")
        .orderBy("v").collect().toSeq
      val oldShard = graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.pse#p=0").get
      val res = spark.sql(
        "CALL graft_cat.system.evolve_spec('spec.pse', 'bucket(8, v)')").head
      assert(res.getInt(0) === 1, "first evolution = spec id 1")
      // metadata-only: not one shard touched, content identical
      assert(graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.pse#p=0").get eq oldShard)
      assert(spark.table("graft_cat.spec.pse")
        .orderBy("v").collect().toSeq === before)
      // new writes route through the NEW spec: bucket shards carry the
      // spec id in their key suffix, old identity shards untouched
      spark.range(100, 104)
        .select((col("id") % 3).cast("string").as("p"), col("id").as("v"))
        .writeTo("graft_cat.spec.pse").append()
      assert(graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.pse#p=0").get eq oldShard)
      val newShards = graft.sources.GraftStore
        .keysWithPrefix("cat::graft_cat.spec.pse#p=")
        .filter(_.contains("#s=1"))
      assert(newShards.nonEmpty, "new-spec shards must carry #s=1")
      assert(spark.table("graft_cat.spec.pse").count() === 16L)
      // pruning is PER SHARD under its own spec: p='1' prunes the old
      // identity shards to one but keeps every new-spec bucket shard
      // (its spec cannot evaluate p — conservative, rows re-filtered)
      assert(spark.table("graft_cat.spec.pse")
        .filter(col("p") === "1").count() === 6L)
      val (total, skipped) = graft.sources.GraftStore
        .skipLog("cat::graft_cat.spec.pse")
      assert(skipped === 2,
        s"expected the two non-matching identity shards pruned, got $skipped/$total")
      // v = 101 prunes new-spec buckets but keeps all old shards
      assert(spark.table("graft_cat.spec.pse")
        .filter(col("v") === 101L).count() === 1L)
      // a COW DML across both generations stays correct
      spark.sql("DELETE FROM graft_cat.spec.pse WHERE v % 2 = 1")
      assert(spark.table("graft_cat.spec.pse").count() === 8L)
      assert(spark.table("graft_cat.spec.pse")
        .filter(col("v") % 2 === 1).count() === 0L)
      // time travel: the pre-evolution version still serves
      assert(spark.sql(
        "SELECT count(*) FROM graft_cat.spec.pse VERSION AS OF 1")
        .head.getLong(0) === 12L)
      // refusals: unknown table, no-op re-evolve, unpartitioned target
      val missing = intercept[Exception] {
        spark.sql(
          "CALL graft_cat.system.evolve_spec('spec.nope', 'days(ts)')")
          .collect()
      }
      assert(missing.getMessage.contains("no table"),
        missing.getMessage.take(160))
      val noop = intercept[Exception] {
        spark.sql(
          "CALL graft_cat.system.evolve_spec('spec.pse', 'bucket(8, v)')")
          .collect()
      }
      assert(noop.getMessage.contains("already partitions"),
        noop.getMessage.take(160))
    } finally spark.sql("DROP TABLE graft_cat.spec.pse")
  }

  test("clustered write distribution: a multi-task append commits ONE batch per touched shard") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    // 8 write tasks; without RequiresDistributionAndOrdering each
    // shard would collect up to 8 batches per statement (the
    // small-files problem) — the clustered distribution shuffles each
    // shard's rows into one task first
    base.repartition(8).writeTo("graft_cat.spec.pwd")
      .partitionedBy(col("event_type")).create()
    try {
      val shards = graft.sources.GraftStore
        .keysWithPrefix("cat::graft_cat.spec.pwd#p=")
      assert(shards.nonEmpty)
      shards.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get.size === 1,
          s"$k: multi-task write fragmented the shard")
      }
      assert(spark.table("graft_cat.spec.pwd").count() === base.count())
      // each further statement adds at most ONE batch per touched shard
      base.repartition(8).writeTo("graft_cat.spec.pwd").append()
      shards.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get.size === 2,
          s"$k: append fragmented the shard")
      }
      assert(spark.table("graft_cat.spec.pwd").count() === 2 * base.count())
    } finally spark.sql("DROP TABLE graft_cat.spec.pwd")
  }

  test("clustered write distribution fires for TRANSFORM-partitioned tables via catalog functions (VERDICT r17 #2)") {
    cat()
    // days(ts): the day-partitioned event log — the single most common
    // 100 TB table shape — under an 8-task append must land ONE batch
    // per touched day, which needs Spark to translate days(ts) into a
    // shuffle key through the catalog-registered transform function
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    spark.sql(
      """CREATE TABLE graft_cat.spec.tcw (event_id BIGINT, ts TIMESTAMP,
        |  value DOUBLE) PARTITIONED BY (days(ts))""".stripMargin)
    try {
      ev.repartition(8).writeTo("graft_cat.spec.tcw").append()
      val shards = graft.sources.GraftStore
        .keysWithPrefix("cat::graft_cat.spec.tcw#p=")
      assert(shards.nonEmpty)
      shards.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get.size === 1,
          s"$k: multi-task append to a days(ts) table fragmented the shard")
      }
      assert(spark.table("graft_cat.spec.tcw").count() === ev.count())
      // and again per statement
      ev.repartition(8).writeTo("graft_cat.spec.tcw").append()
      shards.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get.size === 2,
          s"$k: second append fragmented the shard")
      }
    } finally spark.sql("DROP TABLE graft_cat.spec.tcw")
    // bucket(n, col): same pin through the bucket function
    spark.sql(
      """CREATE TABLE graft_cat.spec.tcwb (event_id BIGINT, value DOUBLE)
        |  PARTITIONED BY (bucket(4, event_id))""".stripMargin)
    try {
      val ev2 = Tables.events(spark, sfDir)
        .select(col("event_id"), col("value"))
      ev2.repartition(8).writeTo("graft_cat.spec.tcwb").append()
      val shards = graft.sources.GraftStore
        .keysWithPrefix("cat::graft_cat.spec.tcwb#p=")
      assert(shards.nonEmpty && shards.size <= 4)
      shards.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get.size === 1,
          s"$k: multi-task append to a bucket table fragmented the shard")
      }
      assert(spark.table("graft_cat.spec.tcwb").count() === ev2.count())
      // the catalog functions are also SQL-callable and agree with the
      // write-side routing (same epoch-day floor-div / murmur3 pmod)
      val viaSql = spark.sql(
        "SELECT DISTINCT graft_cat.bucket(4, event_id) FROM " +
          "graft_cat.spec.tcwb").collect().map(_.getInt(0)).toSet
      val viaShards = shards
        .map(k => k.substring(k.indexOf("#p=") + 3).toInt).toSet
      assert(viaSql === viaShards,
        "SQL bucket() must agree with the write-side routing")
    } finally spark.sql("DROP TABLE graft_cat.spec.tcwb")
  }

  test("write modes toggle via SET/UNSET TBLPROPERTIES: future ops only, existing debt keeps applying, no ledger commit") {
    cat()
    spark.range(0, 10).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .writeTo("graft_cat.spec.wmt").create()
    val key = "cat::graft_cat.spec.wmt"
    try {
      spark.sql("DELETE FROM graft_cat.spec.wmt WHERE k = 1") // DV tier
      assert(graft.sources.GraftStore.dvMarkedCount(key) === 1L)
      val v = graft.sources.GraftStore.versionCount(key)
      spark.sql("ALTER TABLE graft_cat.spec.wmt SET TBLPROPERTIES " +
        "('write.delete.mode'='equality')")
      assert(graft.sources.GraftStore.versionCount(key) === v,
        "a mode flip is catalog metadata, not a ledger commit")
      assert(spark.sql("SHOW TBLPROPERTIES graft_cat.spec.wmt").collect()
        .exists(r => r.getString(0) == "write.delete.mode" &&
          r.getString(1) == "equality"))
      spark.sql("DELETE FROM graft_cat.spec.wmt WHERE k = 2") // eq tier
      assert(graft.sources.GraftStore.eqDeleteCount(key) === 1)
      assert(graft.sources.GraftStore.dvMarkedCount(key) === 1L,
        "the pre-toggle DV must keep applying untouched")
      // back to positional: the same DELETE shape marks DVs again,
      // and the PENDING tuple set still hides its key at read
      spark.sql("ALTER TABLE graft_cat.spec.wmt UNSET TBLPROPERTIES " +
        "('write.delete.mode')")
      spark.sql("DELETE FROM graft_cat.spec.wmt WHERE k = 3")
      assert(graft.sources.GraftStore.eqDeleteCount(key) === 1)
      assert(graft.sources.GraftStore.dvMarkedCount(key) === 2L)
      assert(spark.table("graft_cat.spec.wmt").orderBy("k")
        .collect().map(_.getLong(0)).toSeq === Seq(0L, 4L, 5L, 6L, 7L, 8L, 9L))
      // MOR toggle: the next UPDATE plans a row-delta, zero rewrite
      spark.sql("ALTER TABLE graft_cat.spec.wmt SET TBLPROPERTIES " +
        "('write.mode'='merge-on-read')")
      val batches = graft.sources.GraftStore.batchesRef(key).get
      spark.sql("UPDATE graft_cat.spec.wmt SET v = v + 100 WHERE k = 4")
      val after = graft.sources.GraftStore.batchesRef(key).get
      assert(after.size === batches.size + 1 &&
        batches.indices.forall(i => after(i) eq batches(i)),
        "post-toggle UPDATE must be a row-delta, not a rewrite")
      // refusals: bad values and unknown properties stay loud
      val bad = intercept[Exception] {
        spark.sql("ALTER TABLE graft_cat.spec.wmt SET TBLPROPERTIES " +
          "('write.delete.mode'='vectorized')")
      }
      assert(bad.getMessage.contains("write.delete.mode"),
        bad.getMessage.take(160))
      val unknown = intercept[Exception] {
        spark.sql("ALTER TABLE graft_cat.spec.wmt SET TBLPROPERTIES " +
          "('some.random.prop'='x')")
      }
      assert(unknown.getMessage.contains("unsupported table property"),
        unknown.getMessage.take(160))
      // ATOMIC: a multi-property statement failing on a later entry
      // must not leave the earlier flip applied
      spark.sql("ALTER TABLE graft_cat.spec.wmt UNSET TBLPROPERTIES " +
        "('write.mode')")
      intercept[Exception] {
        spark.sql("ALTER TABLE graft_cat.spec.wmt SET TBLPROPERTIES " +
          "('write.mode'='merge-on-read', 'write.delete.mode'='vectorized')")
      }
      assert(!spark.sql("SHOW TBLPROPERTIES graft_cat.spec.wmt").collect()
        .exists(_.getString(0) == "write.mode"),
        "a rejected multi-property ALTER must apply nothing")
    } finally spark.sql("DROP TABLE graft_cat.spec.wmt")
  }

  test("delete-mode toggles PROPAGATE to live branches (write.mode already resolves live through main)") {
    cat()
    spark.range(0, 6).select(col("id").as("k")).repartition(1)
      .writeTo("graft_cat.spec.wmb").create() // positional at create
    try {
      spark.sql("CALL graft_cat.system.create_branch('spec.wmb', 'b')")
      // branches cannot be ALTERed directly, so the main-table toggle
      // must reach the branch — else its channel is a dead end
      spark.sql("ALTER TABLE graft_cat.spec.wmb SET TBLPROPERTIES " +
        "('write.delete.mode'='equality')")
      spark.range(2, 4).select(col("id").as("k"))
        .writeTo("graft_cat.spec.`wmb@b@eq_deletes`").append()
      assert(graft.sources.GraftStore
        .eqDeleteCount("cat::graft_cat.spec.wmb#b=b") === 1,
        "the SET must propagate to the live branch")
      assert(spark.table("graft_cat.spec.`wmb@b`").count() === 4L)
      // ... and UNSET revokes it everywhere: the branch DELETE falls
      // back to the positional tier
      spark.sql("ALTER TABLE graft_cat.spec.wmb UNSET TBLPROPERTIES " +
        "('write.delete.mode')")
      spark.sql("DELETE FROM graft_cat.spec.`wmb@b` WHERE k = 5")
      assert(graft.sources.GraftStore
        .eqDeleteCount("cat::graft_cat.spec.wmb#b=b") === 1,
        "post-UNSET branch DELETEs must not commit eq-deletes")
      assert(spark.table("graft_cat.spec.`wmb@b`").count() === 3L)
    } finally spark.sql("DROP TABLE graft_cat.spec.wmb")
  }

  test("graft_cat.days binds TIMESTAMP_NTZ to its own type: no session-timezone shift against the routing") {
    cat()
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati") // +14
    try {
      // NTZ: raw wall-clock micros floor-div — 2024-01-01 is epoch day
      // 19723 regardless of session timezone (binding to TimestampType
      // would insert an NTZ→LTZ cast that shifts the wall-clock)
      assert(spark.sql(
        "SELECT graft_cat.days(TIMESTAMP_NTZ '2024-01-01 10:00:00')")
        .head.getLong(0) === 19723L)
      // LTZ: the literal itself parses in the session zone (+14), so
      // its UTC instant is 2023-12-31T20:00 → day 19722 — the honest
      // LTZ semantics, distinct from the NTZ wall-clock day
      assert(spark.sql(
        "SELECT graft_cat.days(TIMESTAMP '2024-01-01 10:00:00')")
        .head.getLong(0) === 19722L)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("spec evolution composes with partitioned MOR: row-deltas stay shard-local, updates migrate across generations") {
    cat()
    spark.range(0, 12)
      .select((col("id") % 3).cast("string").as("p"), col("id").as("v"))
      .writeTo("graft_cat.spec.psem").partitionedBy(col("p"))
      .tableProperty("write.mode", "merge-on-read").create()
    try {
      spark.sql(
        "CALL graft_cat.system.evolve_spec('spec.psem', 'bucket(4, v)')")
      spark.range(100, 104)
        .select((col("id") % 3).cast("string").as("p"), col("id").as("v"))
        .writeTo("graft_cat.spec.psem").append()
      // a MOR UPDATE touching BOTH generations: rows in old-spec shards
      // migrate (delete + insert under the current spec), rows already
      // in current-spec shards delta in place — and every untouched
      // pre-existing batch survives by reference
      val oldShard = graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.psem#p=0").get
      spark.sql(
        "UPDATE graft_cat.spec.psem SET v = v + 1000 WHERE v % 2 = 0")
      // old shard: DV bits only, no rewrite (its even rows migrated out)
      val after = graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.psem#p=0").get
      oldShard.indices.foreach(i => assert(after(i) eq oldShard(i),
        s"pre-existing batch $i of the old-spec shard was rewritten"))
      assert(graft.sources.GraftStore
        .dvMarkedCount("cat::graft_cat.spec.psem#p=0") > 0L)
      // content correct across both generations
      assert(spark.table("graft_cat.spec.psem").count() === 16L)
      assert(spark.table("graft_cat.spec.psem")
        .filter(col("v") % 2 === 0 && col("v") < 1000).count() === 0L)
      assert(spark.table("graft_cat.spec.psem")
        .filter(col("v") >= 1000).count() === 8L)
      // the migrated rows live in CURRENT-spec shards
      val newShardRows = graft.sources.GraftStore
        .keysWithPrefix("cat::graft_cat.spec.psem#p=")
        .filter(_.contains("#s=1"))
      assert(newShardRows.nonEmpty)
    } finally spark.sql("DROP TABLE graft_cat.spec.psem")
  }

  test("partition-group COW: a predicate-bounded DML rewrites ONLY its group (eq-pinned)") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    base.writeTo("graft_cat.spec.pt").partitionedBy(col("event_type")).create()
    try {
      def ref(p: String) = graft.sources.GraftStore
        .batchesRef(s"cat::graft_cat.spec.pt#p=$p")
        .getOrElse(fail(s"partition $p missing"))
      val clickBefore = ref("click")
      val viewBefore = ref("view")

      spark.sql("DELETE FROM graft_cat.spec.pt WHERE event_type = 'error' AND value < 50")
      // untouched groups were never rewritten: SAME object, not just equal
      assert(ref("click") eq clickBefore, "click group was rewritten by a DELETE on error")
      assert(ref("view") eq viewBefore, "view group was rewritten by a DELETE on error")
      val errorRows = spark.table("graft_cat.spec.pt")
        .filter(col("event_type") === "error")
      assert(errorRows.filter(col("value") < 50).count() === 0L)
      assert(errorRows.count() ===
        base.filter(col("event_type") === "error" && col("value") >= 50).count())

      spark.sql("UPDATE graft_cat.spec.pt SET value = 0 WHERE event_type = 'view'")
      assert(ref("click") eq clickBefore, "click group was rewritten by an UPDATE on view")
      assert(!(ref("view") eq viewBefore), "view group must have been rewritten")
      assert(spark.table("graft_cat.spec.pt")
        .filter(col("event_type") === "view" && col("value") =!= 0).count() === 0L)
      // every row is still accounted for across groups
      assert(spark.table("graft_cat.spec.pt").count() ===
        base.count() - base.filter(col("event_type") === "error" && col("value") < 50).count())
    } finally spark.sql("DROP TABLE graft_cat.spec.pt")
  }

  test("MERGE group pruning: runtime filtering rewrites ONLY matched partitions (eq-pinned)") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    base.writeTo("graft_cat.spec.mp").partitionedBy(col("event_type")).create()
    try {
      def ref(p: String) = graft.sources.GraftStore
        .batchesRef(s"cat::graft_cat.spec.mp#p=$p")
        .getOrElse(fail(s"partition $p missing"))
      val before = Seq("click", "view", "purchase", "signup").map(p => p -> ref(p))

      // delta confined to the 'error' partition: updates match only
      // error rows (unique event_id), inserts carry fresh ids
      val err = base.filter(col("event_type") === "error")
      err.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("event_type"), lit(-1.0).as("value"))
        .unionByName(err.limit(3)
          .select((col("event_id") + 5000000L).as("event_id"),
            col("event_type"), lit(2.5).as("value")))
        .createOrReplaceTempView("spec_mp_src")
      spark.sql(
        """MERGE INTO graft_cat.spec.mp t USING spec_mp_src s
          |ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET value = s.value
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

      // the ON clause has no partition conjunct — only RUNTIME group
      // filtering can have kept the other four partitions untouched
      before.foreach { case (p, b) =>
        assert(ref(p) eq b, s"$p group was rewritten by a MERGE touching only error")
      }
      val t = spark.table("graft_cat.spec.mp")
      val errN = base.filter(col("event_type") === "error").count()
      assert(t.filter(col("event_type") === "error").count() === errN + 3)
      assert(t.filter(col("value") === -1.0).count() ===
        base.filter(col("event_type") === "error" && col("event_id") % 3 === 0).count())
      assert(t.count() === base.count() + 3)
    } finally spark.sql("DROP TABLE graft_cat.spec.mp")
  }

  test("ALTER ADD COLUMN is metadata-only: batches eq-unchanged, old rows read NULL") {
    cat()
    spark.range(0, 5).select(col("id").as("k"), (col("id") * 2).as("x"))
      .writeTo("graft_cat.spec.ev").create()
    try {
      val before = graft.sources.GraftStore
        .batchesRef("cat::graft_cat.spec.ev").get
      spark.sql("ALTER TABLE graft_cat.spec.ev ADD COLUMN note STRING")
      assert(graft.sources.GraftStore.batchesRef("cat::graft_cat.spec.ev").get
        eq before, "evolution must not rewrite committed batches")
      val t = spark.table("graft_cat.spec.ev")
      assert(t.schema.fieldNames.toSeq === Seq("k", "x", "note"))
      assert(t.filter(col("note").isNotNull).count() === 0L,
        "pre-evolution rows must read the new column as NULL")
      // back-fill via COW rewrite materializes full width
      spark.sql("UPDATE graft_cat.spec.ev SET note = 'filled' WHERE note IS NULL")
      assert(spark.table("graft_cat.spec.ev")
        .filter(col("note") =!= "filled").count() === 0L)
      assert(spark.table("graft_cat.spec.ev").count() === 5L)
    } finally spark.sql("DROP TABLE graft_cat.spec.ev")
  }

  test("partitioned ALTER: ADD DEFAULT / RENAME / DROP are metadata-only per shard, in lockstep") {
    cat()
    spark.range(0, 12).select(col("id").as("k"),
        when(col("id") % 2 === 0, "a").otherwise("b").as("p"),
        (col("id") * 2).cast("double").as("v"), (col("id") + 100).as("u"))
      .writeTo("graft_cat.spec.pev")
      .tableProperty("write.mode", "merge-on-read")
      .partitionedBy(col("p")).create()
    try {
      // per-shard deletion vectors FIRST — evolution must compose with
      // MOR state, not reset it
      spark.sql("DELETE FROM graft_cat.spec.pev WHERE k % 3 = 0")
      val shardKeys = spark.table("graft_cat.spec.pev")
        .select(col("p")).distinct()
        .collect().map(r => s"cat::graft_cat.spec.pev#p=${r.getString(0)}")
        .toSeq.sorted
      assert(shardKeys.size === 2)
      val before = shardKeys
        .map(k => k -> graft.sources.GraftStore.batchesRef(k).get).toMap
      spark.sql(
        "ALTER TABLE graft_cat.spec.pev ADD COLUMN tag STRING DEFAULT 'old'")
      spark.sql("ALTER TABLE graft_cat.spec.pev RENAME COLUMN v TO w")
      spark.sql("ALTER TABLE graft_cat.spec.pev DROP COLUMN u")
      // metadata-only: no shard batch was rewritten by any of the three
      shardKeys.foreach { k =>
        assert(graft.sources.GraftStore.batchesRef(k).get eq before(k),
          s"evolution rewrote committed batches of $k")
      }
      // LOCKSTEP: every shard store serves the table's logical column
      // set (names/types/order; shards keep the write's tighter
      // nullability, same as unpartitioned appends)
      val tblSchema =
        graft.sources.GraftStore.schemaOf("cat::graft_cat.spec.pev").get
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      shardKeys.foreach { k =>
        assert(shape(graft.sources.GraftStore.schemaOf(k).get) ===
          shape(tblSchema), s"shard $k schema diverged from the table")
      }
      val t = spark.table("graft_cat.spec.pev")
      assert(t.schema.fieldNames.toSeq === Seq("k", "p", "w", "tag"))
      // DVs survive evolution; pre-evolution rows read the ADD's
      // existence DEFAULT through every shard layout
      assert(t.count() === 8L)
      assert(t.filter(col("tag") === "old").count() === 8L)
      // post-evolution append + MOR row-delta through evolved slot maps
      spark.range(100, 103).select(col("id").as("k"), lit("a").as("p"),
        lit(9.0).as("w"), lit("new").as("tag"))
        .writeTo("graft_cat.spec.pev").append()
      spark.sql("UPDATE graft_cat.spec.pev SET w = w + 0.5 WHERE tag = 'new'")
      assert(spark.table("graft_cat.spec.pev")
        .filter(col("tag") === "new" && col("w") === 9.5).count() === 3L)
      // re-ADD of the dropped name binds FRESH slots in every shard —
      // the old per-shard values can never resurrect
      spark.sql("ALTER TABLE graft_cat.spec.pev ADD COLUMN u BIGINT")
      assert(spark.table("graft_cat.spec.pev")
        .filter(col("u").isNotNull).count() === 0L)
      // `_pos` is a first-class metadata column on the PLAIN read path
      // too (ADVICE r16): every live row serves a distinct (_group,_pos)
      val ids = spark.table("graft_cat.spec.pev")
        .select(col("_group"), col("_pos"))
      assert(ids.distinct().count() === 11L)
      // time travel BACK across the evolution: the pinned entry serves
      // the pre-evolution schema and values
      val v1 = spark.sql(
        "SELECT * FROM graft_cat.spec.pev VERSION AS OF 1")
      assert(v1.schema.fieldNames.toSeq === Seq("k", "p", "v", "u"))
      assert(v1.count() === 12L)
    } finally spark.sql("DROP TABLE graft_cat.spec.pev")
  }

  test("streaming epoch ledger: a replayed epoch commits as a NO-OP") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val key = "spec::epoch-ledger"
    val schema = StructType(Seq(StructField("x", LongType)))
    val rows = Seq(Array[Array[Any]](Array(1L), Array(2L)))
    try {
      assert(graft.sources.GraftStore.publishEpoch(key, schema, rows, epochId = 0L))
      assert(graft.sources.GraftStore.rowCount(key) === 2L)
      val v = graft.sources.GraftStore.versionCount(key)
      // micro-batch replay after a failure: same epoch re-delivered
      assert(!graft.sources.GraftStore.publishEpoch(key, schema, rows, epochId = 0L),
        "replayed epoch must be refused")
      assert(graft.sources.GraftStore.rowCount(key) === 2L,
        "replay must not double-commit rows")
      assert(graft.sources.GraftStore.versionCount(key) === v,
        "replay must not mint a new version")
      assert(graft.sources.GraftStore.publishEpoch(key, schema, rows, epochId = 1L))
      assert(graft.sources.GraftStore.rowCount(key) === 4L)
    } finally graft.sources.GraftStore.drop(key)
  }

  test("catalog round-trip: create, list, load, drop; missing table throws") {
    cat()
    spark.range(3).select(col("id").as("k")).writeTo("graft_cat.spec.rt").create()
    try {
      assert(spark.table("graft_cat.spec.rt").count() === 3L)
      assert(spark.sql("SHOW TABLES IN graft_cat.spec").collect()
        .map(_.getString(1)).contains("rt"))
    } finally spark.sql("DROP TABLE graft_cat.spec.rt")
    // the catalog's NoSuchTableException surfaces as the analyzer's
    // TABLE_OR_VIEW_NOT_FOUND
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.table("graft_cat.spec.rt").collect()
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND",
      s"unexpected error class ${e.getCondition}")
  }

  test("RENAME/DROP are metadata-only; re-ADD of a dropped name never resurrects") {
    cat()
    val key = "cat::graft_cat.spec.rd"
    spark.range(0, 20)
      .select(col("id").as("k"), (col("id") * 10).cast("double").as("v"),
        concat(lit("t"), col("id")).as("tag"))
      .repartition(1).writeTo("graft_cat.spec.rd").create()
    try {
      val before = graft.sources.GraftStore.batchesRef(key).get

      // RENAME: committed batches untouched; old rows serve the new name
      spark.sql("ALTER TABLE graft_cat.spec.rd RENAME COLUMN v TO amount")
      assert(graft.sources.GraftStore.batchesRef(key).get eq before,
        "rename must not rewrite data")
      val t1 = spark.table("graft_cat.spec.rd")
      assert(t1.agg(sum(col("amount"))).head.getDouble(0) === 1900.0)
      intercept[org.apache.spark.sql.AnalysisException] {
        t1.select(col("v")).collect()
      }

      // data skipping survives the rename: stats follow the slot
      assert(t1.filter(col("amount") > 10000).count() === 0L)
      assert(graft.sources.GraftStore.skipLog(key) === ((1, 1)),
        "post-rename stats must still skip")

      // DROP: tombstone, no rewrite; the dropped name is gone
      spark.sql("ALTER TABLE graft_cat.spec.rd DROP COLUMN tag")
      assert(graft.sources.GraftStore.batchesRef(key).get eq before,
        "drop must not rewrite data")
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.table("graft_cat.spec.rd").select(col("tag")).collect()
      }

      // a pre-drop version still serves the old column under its old name
      val v1 = spark.sql(
        "SELECT * FROM graft_cat.spec.rd VERSION AS OF 1") // the CTAS write
      assert(v1.columns.toSeq === Seq("k", "v", "tag"))
      assert(v1.filter(col("tag") === "t7").count() === 1L)

      // re-ADD the dropped name: fresh slot, all-NULL — never the old data
      spark.sql("ALTER TABLE graft_cat.spec.rd ADD COLUMN tag STRING")
      val t2 = spark.table("graft_cat.spec.rd")
      assert(t2.filter(col("tag").isNotNull).count() === 0L,
        "re-added column must not resurrect dropped values")

      // post-evolution append lands in the right slots
      spark.range(100, 103)
        .select(col("id").as("k"), lit(1.5).as("amount"),
          lit("fresh").as("tag"))
        .writeTo("graft_cat.spec.rd").append()
      val t3 = spark.table("graft_cat.spec.rd")
      assert(t3.count() === 23L)
      assert(t3.filter(col("tag") === "fresh").count() === 3L)
      assert(t3.agg(sum(col("amount"))).head.getDouble(0) === 1904.5)

      // COW rewrite compacts tombstoned slots back to identity layout
      spark.sql("UPDATE graft_cat.spec.rd SET amount = amount + 1 WHERE k < 0")
      assert(graft.sources.GraftStore.layoutIsIdentity(key),
        "COW rewrite must compact the slot layout")
      assert(spark.table("graft_cat.spec.rd")
        .agg(sum(col("amount"))).head.getDouble(0) === 1904.5)
    } finally spark.sql("DROP TABLE graft_cat.spec.rd")
  }

  test("retention: expired VERSION AS OF fails loudly; live versions and reads unaffected") {
    cat()
    spark.range(0, 4).select(col("id").as("k")).writeTo("graft_cat.spec.ex").create() // v0+v1
    try {
      spark.range(4, 8).select(col("id").as("k"))
        .writeTo("graft_cat.spec.ex").append() // v2
      spark.range(8, 10).select(col("id").as("k"))
        .writeTo("graft_cat.spec.ex").append() // v3
      val r = spark.sql(
        "CALL graft_cat.system.expire_versions('spec.ex', 2)").head
      assert((r.getInt(0), r.getInt(1)) === ((2, 2)))
      // expired ordinal: loud, diagnosable
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft_cat.spec.ex VERSION AS OF 1").collect()
      }
      assert(e.getMessage.contains("EXPIRED"), s"wrong error: ${e.getMessage}")
      // live ordinals keep their MEANING (no renumbering) and resolve
      assert(spark.sql("SELECT count(*) FROM graft_cat.spec.ex VERSION AS OF 2")
        .head.getLong(0) === 8L)
      assert(spark.sql("SELECT count(*) FROM graft_cat.spec.ex VERSION AS OF 3")
        .head.getLong(0) === 10L)
      // the live table read is untouched
      assert(spark.table("graft_cat.spec.ex").count() === 10L)
      // idempotent: nothing further to expire at the same retention
      assert(spark.sql("CALL graft_cat.system.expire_versions('spec.ex', 2)")
        .head.getInt(0) === 0)
      // retention must keep at least one version
      intercept[Exception] {
        spark.sql("CALL graft_cat.system.expire_versions('spec.ex', 0)").collect()
      }
    } finally spark.sql("DROP TABLE graft_cat.spec.ex")
  }

  test("streaming table read fails loudly after a COW rewrite (append-only contract)") {
    cat()
    val root = java.nio.file.Files.createTempDirectory("graft-spec-cdc")
    spark.range(0, 10).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .writeTo("graft_cat.spec.cdc").create()
    try {
      val seen = new java.util.concurrent.atomic.AtomicLong()
      def drain(): Unit = {
        val q = spark.readStream.table("graft_cat.spec.cdc")
          .writeStream.outputMode("append")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            seen.addAndGet(df.count()); ()
          }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally { scala.util.Try(q.stop()); () }
      }
      drain()
      assert(seen.get === 10L)
      // a resume over pure appends consumes exactly the delta
      spark.range(10, 15).select(col("id").as("k"), (col("id") * 1.0).as("v"))
        .writeTo("graft_cat.spec.cdc").append()
      drain()
      assert(seen.get === 15L, "resume must consume exactly the appended commit")
      // a COW rewrite bumps the truncation epoch: the NEXT drain must
      // refuse rather than replay rewritten data under stale offsets
      spark.sql("UPDATE graft_cat.spec.cdc SET v = v + 1 WHERE k < 3")
      val e = intercept[Exception] { drain() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("append-only")),
        s"expected the append-only refusal, got: ${messages(e).mkString(" | ")}")
    } finally {
      spark.sql("DROP TABLE graft_cat.spec.cdc")
      graft.engine.StagedRoots.deleteRecursively(root)
    }
  }

  test("data skipping: min/max batch stats prune commits; results identical") {
    cat()
    val key = "cat::graft_cat.spec.ds"
    def commit(lo: Long, hi: Long): Unit =
      spark.range(lo, hi)
        .select(col("id").as("k"), (col("id") * 2).cast("double").as("v"),
          when(col("id") % 10 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("s"), col("id"))).as("tag"))
        .repartition(1).writeTo("graft_cat.spec.ds").append()
    spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2).cast("double").as("v"),
        concat(lit("s"), col("id")).as("tag"))
      .repartition(1).writeTo("graft_cat.spec.ds").create()
    try {
      commit(100, 200); commit(200, 300)
      val t = spark.table("graft_cat.spec.ds")
      def skips = graft.sources.GraftStore.skipLog(key)

      // range predicate: only the last commit can match
      assert(t.filter(col("k") >= 250).count() === 50L)
      assert(skips === ((3, 2)), "expected 2 of 3 batches stat-skipped")
      // middle-batch equality
      assert(t.filter(col("k") === 150).count() === 1L)
      assert(skips === ((3, 2)))
      // IN across two commits
      assert(t.filter(col("k").isin(5L, 205L)).count() === 2L)
      assert(skips === ((3, 1)))
      // IS NULL: only the two appended commits ever contain nulls
      assert(t.filter(col("tag").isNull).count() === 20L)
      assert(skips === ((3, 1)))
      // string range: batch 0 holds s0..s99; none start >= "t"
      assert(t.filter(col("tag") > "s99").count() ===
        (100L to 299L).count(i => s"s$i" > "s99"))
      assert(skips._1 === 3)
      // no-predicate scan: everything read, nothing skipped
      assert(t.count() === 300L)
      assert(skips === ((3, 0)))
      // explain surfaces the skipping filters on the scan
      val withFilter = t.filter(col("k") >= 250)
      withFilter.collect()
      val desc = withFilter.queryExecution.executedPlan.toString
      assert(desc.contains("skipping"), s"scan description lacks filters: $desc")
    } finally spark.sql("DROP TABLE graft_cat.spec.ds")
  }

  test("plain reads of a partitioned table prune partition stores by conjunct") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    base.writeTo("graft_cat.spec.pp").partitionedBy(col("event_type")).create()
    try {
      val q = spark.table("graft_cat.spec.pp")
        .filter(col("event_type") === "error")
        .agg(count(lit(1)).as("n"))
      assert(q.head.getLong(0) ===
        base.filter(col("event_type") === "error").count())
      val scanDesc = q.queryExecution.executedPlan.toString
      assert(scanDesc.contains("[1 groups]"),
        s"expected a 1-group parts scan, got: $scanDesc")
      // sanity: the unfiltered read still sees every partition
      assert(spark.table("graft_cat.spec.pp").count() === base.count())
    } finally spark.sql("DROP TABLE graft_cat.spec.pp")
  }

  test("atomic RTAS: a failed REPLACE leaves the old table byte-identical; commit swaps wholesale; staging never leaks") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"))
    base.writeTo("graft_cat.spec.rtas1").create()
    try {
      val refBefore = GraftStore
        .batchesRef("cat::graft_cat.spec.rtas1").get
      // a REPLACE whose SELECT fails at runtime: the staged write
      // aborts and the OLD table is reference-identical — the
      // non-staging path would have dropped it before the first row
      val e = intercept[Exception] {
        spark.sql(
          """REPLACE TABLE graft_cat.spec.rtas1 AS
            |SELECT event_id, raise_error('rtas boom') AS v
            |FROM graft_cat.spec.rtas1""".stripMargin)
      }
      def msgs(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString("|")
      assert(msgs(e).contains("rtas boom"), msgs(e).take(200))
      assert(GraftStore.batchesRef("cat::graft_cat.spec.rtas1").get
        eq refBefore,
        "a failed RTAS must leave the old table untouched")
      assert(spark.table("graft_cat.spec.rtas1").count() === base.count())
      // no staging residue
      assert(GraftStore
        .keysWithPrefix("cat::graft_cat.spec.rtas1#stage=").isEmpty,
        "aborted staging state must be purged")
      // a SUCCESSFUL self-referencing rollup swaps wholesale
      spark.sql(
        """REPLACE TABLE graft_cat.spec.rtas1 AS
          |SELECT count(*) AS n FROM graft_cat.spec.rtas1""".stripMargin)
      assert(spark.table("graft_cat.spec.rtas1").head.getLong(0) ===
        base.count())
      assert(GraftStore
        .keysWithPrefix("cat::graft_cat.spec.rtas1#stage=").isEmpty)
      // REPLACE of a MISSING table refuses; CREATE OR REPLACE creates
      val e2 = intercept[Exception] {
        spark.sql("REPLACE TABLE graft_cat.spec.rtas_nope AS SELECT 1 AS x")
      }
      assert(e2.getMessage.toLowerCase.contains("table"),
        e2.getMessage.take(160))
      spark.sql(
        "CREATE OR REPLACE TABLE graft_cat.spec.rtas2 AS SELECT 1 AS x")
      try assert(spark.table("graft_cat.spec.rtas2").count() === 1L)
      finally spark.sql("DROP TABLE graft_cat.spec.rtas2")
    } finally spark.sql("DROP TABLE graft_cat.spec.rtas1")
  }

  test("ALTER COLUMN TYPE widening: old rows read wide, history serves the narrow past, refusals are loud, eq-tuples coerce") {
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id").cast("int").as("id"),
        col("value").cast("float").as("vf"))
    base.writeTo("graft_cat.spec.wt1").create()
    try {
      val preVersion = graft.sources.GraftStore
        .versionCount("cat::graft_cat.spec.wt1") - 1
      spark.sql("ALTER TABLE graft_cat.spec.wt1 ALTER COLUMN id TYPE BIGINT")
      spark.sql("ALTER TABLE graft_cat.spec.wt1 ALTER COLUMN vf TYPE DOUBLE")
      // the widened schema serves, and a value only BIGINT can hold lands
      assert(spark.table("graft_cat.spec.wt1").schema("id").dataType ===
        org.apache.spark.sql.types.LongType)
      spark.sql("INSERT INTO graft_cat.spec.wt1 VALUES " +
        "(CAST(10000000000 AS BIGINT), CAST(1.5 AS DOUBLE))")
      assert(spark.table("graft_cat.spec.wt1")
        .agg(max(col("id"))).head.getLong(0) === 10000000000L)
      // every OLD row reads as the wide type (eager coercion), content intact
      assert(spark.table("graft_cat.spec.wt1")
        .filter(col("id") < 2000000000L).count() === base.count())
      // history: the pre-widen version still serves the NARROW schema
      val past = spark.sql("SELECT * FROM graft_cat.spec.wt1 " +
        s"VERSION AS OF $preVersion")
      assert(past.schema("id").dataType ===
        org.apache.spark.sql.types.IntegerType)
      assert(past.count() === base.count())
      // non-widening changes refuse loudly — NARROWING dies in Spark's
      // own analyzer (canUpCast), and an up-castable-but-lossy
      // promotion Spark WOULD allow (bigint→double loses integer
      // precision above 2^53) dies at the store's widening guard
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE graft_cat.spec.wt1 ALTER COLUMN id TYPE INT")
      }
      assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
        e1.getMessage.take(200))
      val e1b = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graft_cat.spec.wt1 ALTER COLUMN id TYPE DOUBLE")
      }
      assert(e1b.getMessage.contains("widening"), e1b.getMessage.take(200))
    } finally spark.sql("DROP TABLE graft_cat.spec.wt1")

    // PARTITIONED lockstep + the partition-source refusal. The source
    // column here is an INT under bucket(4, src) — so widening IT is a
    // change Spark's analyzer would allow (canUpCast int→bigint) and
    // only the store's partition-immutability guard refuses (murmur3
    // of an int and of a long differ: routing would tear)
    val pb = Tables.events(spark, sfDir)
      .select(col("event_id").cast("int").as("src"),
        col("event_id").cast("int").as("n"))
    spark.sql(
      """CREATE TABLE graft_cat.spec.wt2 (src INT, n INT)
        |PARTITIONED BY (bucket(4, src))""".stripMargin)
    try {
      pb.writeTo("graft_cat.spec.wt2").append()
      spark.sql("ALTER TABLE graft_cat.spec.wt2 ALTER COLUMN n TYPE BIGINT")
      assert(spark.table("graft_cat.spec.wt2")
        .agg(sum(col("n"))).head.getLong(0) ===
        pb.agg(sum(col("n").cast("long"))).head.getLong(0),
        "every shard must widen in lockstep")
      val e2 = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graft_cat.spec.wt2 ALTER COLUMN src TYPE BIGINT")
      }
      assert(e2.getMessage.contains("partition column"),
        e2.getMessage.take(200))
    } finally spark.sql("DROP TABLE graft_cat.spec.wt2")

    // PENDING equality-delete tuples keyed on the widened column must
    // keep applying (the commit coerces them with the values)
    val eb = Tables.events(spark, sfDir)
      .select(col("event_id").cast("int").as("id"), col("value"))
    eb.writeTo("graft_cat.spec.wt3")
      .tableProperty("write.delete.mode", "equality").create()
    try {
      val victim = eb.agg(min(col("id"))).head.getInt(0)
      spark.sql(s"DELETE FROM graft_cat.spec.wt3 WHERE id = $victim")
      assert(spark.table("graft_cat.spec.wt3")
        .filter(col("id") === victim).count() === 0L)
      spark.sql("ALTER TABLE graft_cat.spec.wt3 ALTER COLUMN id TYPE BIGINT")
      // the tuple set was typed INT at commit; post-widen the stored
      // values are LONG — a non-coerced set would silently resurrect
      assert(spark.table("graft_cat.spec.wt3")
        .filter(col("id") === victim).count() === 0L,
        "pending eq-delete tuples must coerce with the widen")
      assert(spark.table("graft_cat.spec.wt3").count() ===
        eb.filter(col("id") =!= victim).count())
    } finally spark.sql("DROP TABLE graft_cat.spec.wt3")
  }

  test("DECIMAL precision widening: same-scale growth is exact, history serves narrow, scale moves refuse, eq-tuples re-key (VERDICT r19 #5)") {
    import org.apache.spark.sql.types.DecimalType
    cat()
    val base = Tables.events(spark, sfDir)
      .select(col("event_id").cast("int").as("id"),
        col("value").cast("decimal(10,2)").as("amount"))
    base.writeTo("graft_cat.spec.wd1").create()
    try {
      val preVersion = graft.sources.GraftStore
        .versionCount("cat::graft_cat.spec.wd1") - 1
      spark.sql(
        "ALTER TABLE graft_cat.spec.wd1 ALTER COLUMN amount TYPE DECIMAL(20,2)")
      assert(spark.table("graft_cat.spec.wd1").schema("amount").dataType ===
        DecimalType(20, 2))
      // a value only the wider precision can hold lands, and the sum is
      // EXACT (decimals are the point — no float rounding anywhere)
      spark.sql("INSERT INTO graft_cat.spec.wd1 VALUES " +
        "(1, CAST(123456789012345678.90 AS DECIMAL(20,2)))")
      val expect = base
        .agg(sum(col("amount").cast("decimal(20,2)"))).head.getDecimal(0)
        .add(new java.math.BigDecimal("123456789012345678.90"))
      assert(spark.table("graft_cat.spec.wd1")
        .agg(sum(col("amount"))).head.getDecimal(0)
        .compareTo(expect) === 0)
      // history: the pre-widen version still serves decimal(10,2)
      val past = spark.sql(
        s"SELECT * FROM graft_cat.spec.wd1 VERSION AS OF $preVersion")
      assert(past.schema("amount").dataType === DecimalType(10, 2))
      assert(past.count() === base.count())
      // a SCALE move is lossless numerically (Spark's canUpCast allows
      // it), so only the store's same-scale guard refuses it — pinned
      // here because a re-scaled unscaled value would desync every
      // stored compare
      val e1 = intercept[Exception] {
        spark.sql(
          "ALTER TABLE graft_cat.spec.wd1 ALTER COLUMN amount TYPE DECIMAL(22,4)")
      }
      assert(e1.getMessage.contains("widening"), e1.getMessage.take(200))
      // precision shrink refuses too (Spark's analyzer or the guard)
      intercept[Exception] {
        spark.sql(
          "ALTER TABLE graft_cat.spec.wd1 ALTER COLUMN amount TYPE DECIMAL(12,2)")
      }
    } finally spark.sql("DROP TABLE graft_cat.spec.wd1")

    // PENDING equality-delete tuples keyed on a decimal column must
    // re-key with the widen — a non-coerced Decimal(10,2) tuple would
    // hash apart from the widened Decimal(20,2) values and silently
    // resurrect the deleted rows
    val eb = Tables.events(spark, sfDir)
      .select(col("event_id").cast("int").as("id"),
        col("value").cast("decimal(10,2)").as("amount"))
    eb.writeTo("graft_cat.spec.wd2")
      .tableProperty("write.delete.mode", "equality").create()
    try {
      val victim = eb.agg(min(col("amount"))).head.getDecimal(0)
      val survivors = eb.filter(col("amount") =!= lit(victim)).count()
      spark.sql("DELETE FROM graft_cat.spec.wd2 WHERE amount = " +
        s"CAST('${victim.toPlainString}' AS DECIMAL(10,2))")
      assert(spark.table("graft_cat.spec.wd2").count() === survivors)
      spark.sql(
        "ALTER TABLE graft_cat.spec.wd2 ALTER COLUMN amount TYPE DECIMAL(20,2)")
      assert(spark.table("graft_cat.spec.wd2")
        .filter(col("amount") === lit(victim)).count() === 0L,
        "pending decimal eq-delete tuples must re-key with the widen")
      assert(spark.table("graft_cat.spec.wd2").count() === survivors)
    } finally spark.sql("DROP TABLE graft_cat.spec.wd2")
  }

  /** Every `CALL graft_cat.system.*` procedure with its parameters, in
    * declaration order: (name, [(parameter, type)]).
    */
  private val procedureParams: Seq[(String, Seq[(String, String)])] = Seq(
    "expire_versions" -> Seq("table" -> "string", "keep_last" -> "int"),
    "expire_older_than" -> Seq("table" -> "string", "older_than" -> "string"),
    "compact" -> Seq("table" -> "string", "partition" -> "string"),
    "create_branch" -> Seq("table" -> "string", "branch" -> "string"),
    "publish_branch" -> Seq("table" -> "string", "branch" -> "string"),
    "publish_tables" -> Seq("refs" -> "string"),
    "clone_table" -> Seq("source" -> "string", "target" -> "string"),
    "drop_branch" -> Seq("table" -> "string", "branch" -> "string"),
    "rollback" -> Seq("table" -> "string", "version" -> "int"),
    "cluster" -> Seq("table" -> "string", "sort_col" -> "string",
      "target_batches" -> "int"),
    "history" -> Seq("table" -> "string"),
    "create_tag" -> Seq("table" -> "string", "tag" -> "string"),
    "drop_tag" -> Seq("table" -> "string", "tag" -> "string"),
    "evolve_spec" -> Seq("table" -> "string", "transform" -> "string"))

  test("SHOW PROCEDURES lists exactly the procedures CALL can load") {
    cat()
    val listed = spark.sql("SHOW PROCEDURES IN graft_cat.system").collect()
      .map(_.getAs[String]("procedure_name")).toSet
    assert(listed === procedureParams.map(_._1).toSet)
    assert(listed.size === 14)
    val err = intercept[Exception] {
      spark.sql("CALL graft_cat.system.nope('x')").collect()
    }
    // Spark wraps the catalog's refusal in FAILED_TO_LOAD_ROUTINE
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    assert(messages.contains(
      "requirement failed: graft catalog: unknown procedure system.nope"),
      messages)
  }

  test("procedure parameters bind by name and position alike") {
    cat()
    val catalog = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    procedureParams.foreach { case (name, want) =>
      val bound = catalog.loadProcedure(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("system"), name)).bind(new org.apache.spark.sql.types.StructType())
      assert(bound.name === name)
      assert(bound.parameters().toSeq
        .map(p => p.name -> p.dataType.simpleString) === want, name)
    }
    spark.range(3).toDF("id").writeTo("graft_cat.spec.phist").create()
    try {
      spark.range(3, 5).toDF("id").writeTo("graft_cat.spec.phist").append()
      val positional =
        spark.sql("CALL graft_cat.system.history('spec.phist')").collect()
      val named = spark.sql(
        "CALL graft_cat.system.history(table => 'spec.phist')").collect()
      assert(positional.length === 3) // create, first write, append
      assert(named.toSeq === positional.toSeq)
    } finally spark.sql("DROP TABLE graft_cat.spec.phist")
  }
}
