package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime RESULT-SET cache — the warehouse feature that serves
  * a repeated query from its stored result instead of re-executing the
  * plan (the complement of [[graft.plans.MvCatalog]]'s rewrite: the MV
  * answers a FAMILY of rollups, the result cache answers the EXACT same
  * query again). Keyed by an MD5 of the CANONICALIZED optimized plan
  * string plus explicit per-source identifiers — alias names, exprIds,
  * and cosmetic projection differences key the same; any semantic
  * change (different filter constant, different grouping) misses — plus
  * a caller-supplied tag carrying the fixture fingerprint, so a
  * rewritten fixture under the same path re-misses (the StagedRoots
  * discipline). Store/catalog tables contribute their COMMIT ORDINAL
  * to the key, so a DML/append/streaming commit invalidates every
  * cached result over that table structurally (spec-pinned: the
  * post-UPDATE read misses and returns the fresh state).
  *
  * Correctness contract: a hit is sound only for DETERMINISTIC queries —
  * callers must not route nondeterministic plans through the cache
  * (same contract every result cache ships with; Snowflake's disables
  * itself on nondeterministic functions). Storage lives under a
  * [[StagedRoots]] root, so PID-marked cleanup and the exit hook apply.
  * Hit/miss counters are exposed for gating.
  *
  * At 100 TB the win is the dashboard/report pattern: the same daily
  * query re-issued hundreds of times costs one execution plus N-1
  * result-sized reads — no scan, no shuffle, independent of fact size.
  */
object ResultCache {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val seq = new AtomicLong(0)
  val hits = new AtomicLong(0)
  val misses = new AtomicLong(0)

  private def root(): String =
    StagedRoots.of("resultcache", "jvm", "v1")(_ => ())

  /** Serve `df`'s result from the cache, executing and storing it on the
    * first sight of this (tag, semantic plan, source-table versions).
    * Catalog/store tables in the plan contribute their COMMIT ORDINAL to
    * the key ([[graft.sources.GraftStore.commitFingerprint]]), so a DML
    * commit — UPDATE/DELETE/MERGE COW rewrite, append, streaming epoch —
    * moves the key and the next read re-executes against the new
    * version; serving a stale pre-DML result is structurally impossible.
    * File-based relations are covered by the caller's fixture-fingerprint
    * tag, as before.
    */
  def run(s: SparkSession, df: DataFrame, tag: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    val plan = df.queryExecution.optimizedPlan
    // source identity beyond the canonical string: the canonicalized
    // plan normalizes exprIds but a V2 scan's pushed state and a file
    // relation's paths live OUTSIDE the plan string — and
    // `semanticHash()` is UNSTABLE for V2 scan relations (the Scan
    // object hashes by identity, so the same query re-keyed every run).
    // Collect explicit per-source identifiers instead: paths for file
    // relations; table name + commit fingerprint + scan description
    // (which carries pushed filters) for V2 tables.
    val srcIds = plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          "fs:" + fs.location.rootPaths.mkString(",")
        case other => "rel:" + other.toString
      }
      case r: DataSourceV2ScanRelation =>
        val fp = graft.sources.GraftStore.commitFingerprint(r.relation.table)
        s"v2:${r.relation.table.name}@${fp.getOrElse("")}{${r.scan.description()}}"
      case r: DataSourceV2Relation =>
        val fp = graft.sources.GraftStore.commitFingerprint(r.table)
        s"v2rel:${r.table.name}@${fp.getOrElse("")}"
    }.mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((plan.canonicalized.toString + "\u0000" + srcIds).getBytes("UTF-8"))
    val key = tag + "|" + md.map("%02x".format(_)).mkString
    entries.get(key) match {
      case Some(p) =>
        hits.incrementAndGet()
        Tables.parquet(s, p)
      case None =>
        misses.incrementAndGet()
        val p = s"${root()}/r${seq.incrementAndGet()}"
        df.write.parquet(p)
        entries.put(key, p)
        Tables.parquet(s, p)
    }
  }
}
