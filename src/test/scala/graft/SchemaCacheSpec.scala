package graft

import scala.util.Try

import org.apache.spark.sql.functions._

import graft.engine.{ResultCache, Tables}

/** [[Tables.parquet]]'s schema cache: a repeated read of an unchanged
  * path starts no schema-inference job, while a rewritten file or a
  * changed schema conf infers again; and [[Tables.fingerprint]] sees
  * through a `file:` prefix.
  */
class SchemaCacheSpec extends SparkSpec {
  test("fingerprint: a file: prefix names the same files, and a rewrite changes it") {
    val d = tmpDir("graft-fp")
    spark.range(3).write.parquet(s"$d/t.parquet")
    val plain = Tables.fingerprint(d, "t.parquet")
    assert(Tables.fingerprint("file:" + d, "t.parquet") == plain)
    spark.range(300).withColumn("pad", lit("x" * 40))
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.fingerprint(d, "t.parquet") != plain)
    assert(Tables.fingerprint("file:" + d, "t.parquet") == Tables.fingerprint(d, "t.parquet"))
  }

  test("a repeated read of an unchanged path starts no inference job; a rewrite is seen") {
    val d = tmpDir("graft-schema")
    spark.range(5).write.parquet(s"$d/t.parquet")
    val (_, first) = JobCount.during(Tables.table(spark, d, "t"))
    assert(first == 1, "the first read infers the schema with one job")
    val (again, second) = JobCount.during(Tables.table(spark, d, "t"))
    assert(second == 0, "the second read reuses the cached schema")
    assert(again.count() == 5)
    // self-join: every call is a fresh relation with fresh exprIds
    val a = Tables.table(spark, d, "t")
    val b = Tables.table(spark, d, "t")
    assert(a.join(b, a("id") === b("id")).count() == 5)

    spark.range(5).withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val rewritten = Tables.table(spark, d, "t")
    assert(rewritten.columns.toSeq == Seq("id", "extra"))
    assert(rewritten.agg(sum("extra")).head().getLong(0) == 20L)
  }

  test("a changed schema conf infers again instead of serving the cached schema") {
    val events = s"$sfDir/events.parquet"
    Tables.events(spark, sfDir).schema
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.getOption(flag)
    try {
      spark.conf.set(flag, "false")
      val plain = Try(spark.read.parquet(events).schema)
      val (cached, jobs) = JobCount.during(Try(Tables.table(spark, sfDir, "events").schema))
      assert(cached.toOption == plain.toOption)
      assert(cached.failed.toOption.map(_.getMessage) == plain.failed.toOption.map(_.getMessage))
      assert(jobs == 1, "the conf change re-infers")
    } finally was.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))

    // a conf whose change is visible in the schema itself: the fixture's
    // timestamps are not UTC-adjusted, so NTZ inference retypes `ts`
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntzWas = spark.conf.getOption(ntz)
    val sessionTs = Tables.table(spark, sfDir, "events").schema("ts").dataType
    try {
      spark.conf.set(ntz, (!spark.conf.get(ntz).toBoolean).toString)
      val plain = spark.read.parquet(events).schema
      assert(plain("ts").dataType != sessionTs)
      assert(Tables.table(spark, sfDir, "events").schema == plain)
    } finally ntzWas.fold(spark.conf.unset(ntz))(spark.conf.set(ntz, _))
    assert(Tables.table(spark, sfDir, "events").schema("ts").dataType == sessionTs)
  }

  test("a ResultCache hit starts no inference job") {
    val d = tmpDir("graft-rc")
    spark.range(10).write.parquet(s"$d/t.parquet")
    def query = Tables.table(spark, d, "t").filter(col("id") > 3)
    val tag = s"schema-cache|$d"
    val miss = ResultCache.run(spark, query, tag)
    assert(miss.count() == 6)
    val hits = ResultCache.hits.get
    val (hit, jobs) = JobCount.during(ResultCache.run(spark, query, tag))
    assert(ResultCache.hits.get == hits + 1)
    assert(jobs == 0, "a hit reads the stored result with its cached schema")
    assert(hit.collect().map(_.getLong(0)).sorted.toSeq == (4L to 9L))
  }
}
