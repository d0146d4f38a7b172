package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet fixture loaders (TESTDATA.md). One call per table; Catalyst
  * handles column pruning + predicate pushdown into the parquet scan, so
  * callers should `select`/`filter` immediately after loading.
  *
  * Schema cache: a plain `spark.read.parquet(path)` infers the schema
  * from the files' footers, which is a one-task Spark job started while
  * the query is still being built. [[parquet]] infers once per path and
  * then reads with `spark.read.schema(known)`, which starts no job. The
  * cache holds one `StructType` per canonical local path, stamped with
  * the path's [[fingerprint]] (every file's name, length and mtime) and
  * the session's values of the parquet schema-conversion confs
  * ([[SchemaConfs]]); a rewritten file or a changed conf infers again.
  * No DataFrame or plan is cached, so every call is a fresh relation
  * with fresh exprIds (self-joins and `df("col")` keep working). Paths
  * the fingerprint cannot see — missing, globbed, or not on the local
  * file system — are read the plain way, and a failed read stores
  * nothing.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed table reads
  * (e.g. `spark.read.table`), but the API shape — load, prune, push down —
  * is identical; nothing here collects to the driver.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Session confs that change what parquet schema inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** canonical path → (fingerprint + conf values, inferred schema) */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * (path contents, schema confs) — see the object doc. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    localRoot(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(root) =>
        val stamp = fingerprint(root) + "|" +
          SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
        val key = root.getCanonicalPath
        schemas.get(key) match {
          case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (stamp, df.schema))
            df
        }
    }

  /** The existing local file or directory `path` names, if it is on the
    * local file system: `file:`-prefixed, or scheme-less under a local
    * default file system. */
  private def localRoot(spark: SparkSession, path: String): Option[java.io.File] = {
    val local =
      if (path.startsWith("file:")) true
      else if (path.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) false
      else spark.sparkContext.hadoopConfiguration
        .get("fs.defaultFS", "file:///").startsWith("file:")
    Some(localFile(path)).filter(f => local && f.exists())
  }

  /** Local-path view of a possibly `file:`-prefixed path — EVERY java.io
    * access of a Spark-visible path must go through this: the pipeline
    * Store's version scan once used the raw string, so a `file:` URI root
    * made every run look like an initial load and silently clobbered
    * history; the streaming source's directory-layout check and
    * [[fingerprint]] (which saw every `file:` path as one missing file)
    * had the same blind spot.
    */
  private[graft] def localFile(p: String): java.io.File =
    new java.io.File(p.stripPrefix("file:"))

  /** Cheap content fingerprint of a parquet path: canonical path + file
    * count + per-file (relative name, size, mtime), walking partition
    * subdirectories. Keys the schema cache above and the fixture memos
    * (StagedRoots tags, centroid/BPE/PQ caches), so a regenerated
    * fixture under the same path — or the same data via a
    * differently-spelled path, `file:` prefix included — misses instead
    * of serving stale state. listFiles() can return null if a directory
    * vanishes or loses read permission between checks — treated as
    * empty rather than NPE. A same-second same-size rewrite can still
    * alias (mtime granularity); the file-count + byte-size terms narrow
    * the window.
    */
  private def fingerprint(root: java.io.File): String = {
    def leaves(f: java.io.File, name: String): Seq[(String, java.io.File)] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty).sortBy(_.getName)
          .flatMap(c => leaves(c, if (name.isEmpty) c.getName else s"$name/${c.getName}"))
      else Seq(name -> f)
    val files = if (root.isDirectory) leaves(root, "") else Seq(root.getName -> root)
    root.getCanonicalPath + "|n=" + files.size + "|" +
      files.map { case (n, f) => s"$n:${f.length}:${f.lastModified}" }.mkString(",")
  }

  /** [[fingerprint]] of the table file `table` under fixture dir `dir`. */
  private[graft] def fingerprint(dir: String, table: String): String =
    fingerprint(localFile(s"$dir/$table"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; sessions set `spark.sql.legacy.parquet.nanosAsLong=true`
    * (see [[Sessions.tune]]) so it arrives as LongType nanos. Convert to a
    * proper TimestampType with integer division (ns values are µs-precision,
    * so the truncation is lossless; double division would lose precision on
    * ~1.7e18 nanos).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw
    }
  }

  /** Events at/after a watermark, with the predicate applied in the RAW
    * column domain. A filter on the converted `timestamp_micros(ts div
    * 1000)` column cannot push through the expression into the parquet
    * scan (full scan at 100 TB); comparing the stored nanos long directly
    * reaches PushedFilters and prunes row groups via footer min/max.
    * The conversion is monotonic, so the predicates are equivalent.
    */
  def eventsSince(s: SparkSession, d: String, wm: java.sql.Timestamp,
                  strict: Boolean = false): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        val i = wm.toInstant
        val nanos = Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000000L), i.getNano.toLong)
        val f = if (strict) raw.filter(col("ts") > nanos) else raw.filter(col("ts") >= nanos)
        f.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        if (strict) raw.filter(col("ts") > lit(wm)) else raw.filter(col("ts") >= lit(wm))
    }
  }

  /** UTC-safe literal → Timestamp ("yyyy-MM-dd HH:mm:ss", no JVM-zone
    * dependence like Timestamp.valueOf has). */
  def utcTs(literal: String): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(literal.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
