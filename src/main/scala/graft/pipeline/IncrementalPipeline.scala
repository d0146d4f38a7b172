package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.Tables.localFile
import graft.operators.MergeOps

/** The reference's E1 control loop (run_incremental_ingestion,
  * src/ingest.py:32-128) as one linear Spark driver program:
  *
  *   watermark read → change detection (early exit) → incremental filter →
  *   validate (drop+count) → merge-by-key into the launches table →
  *   state append → snapshot append (E2 as ONE aggregate pass)
  *
  * State layout (all parquet under one root):
  *   launches/v=<runId>/   — versioned table snapshots: each run writes a NEW
  *                           version instead of overwriting in place (no
  *                           read-write conflict on the same path; the
  *                           production analog is a transactional table
  *                           format). Latest version wins.
  *   ingestion_state/      — append-only high-water-mark rows
  *                           (sql/init.sql:15-21 analog).
  *   snapshots/            — append-only aggregate snapshot rows
  *                           (launch_aggregations analog, sql/init.sql:23-42).
  *
  * What lives where: the disk holds the layout above, the truth a restart
  * reads. A `Store` keeps in memory the latest version, the watermark, the
  * launches schema and the latest version's row count. Each is read from
  * disk once, on first use, with the reads a fresh Store always made; the
  * Store's own writes keep it current after that, so reading state runs no
  * Spark job. That needs ONE writer per store root: a write under the root
  * by anything but this Store instance is not seen.
  *
  * Scale notes: the only wide operations are the merge (one shuffle on the
  * key) and the snapshot aggregate (map-side partial + tiny final). A run's
  * Spark work depends on the batch, not on the store's history: one
  * aggregate over the source (change detection + batch metrics), the merge
  * write, the state append, and the snapshot aggregate + append; the
  * row counts come from that snapshot, not from extra scans.
  */
object IncrementalPipeline {

  final case class RunResult(
      status: String,             // "initial_load" | "success" | "no_new_data"
      newFound: Long,
      dropped: Long,
      inserted: Long,             // genuinely-new keys (updates excluded, S7)
      totalAfter: Long,
      watermark: Option[Timestamp])

  final class Store(val spark: SparkSession, val root: String) {
    val launchesRoot = s"$root/launches"
    val stateDir     = s"$root/ingestion_state"
    val snapshotsDir = s"$root/snapshots"

    private def exists(p: String): Boolean = localFile(p).exists()

    private var version: Option[Long] = {
      val d = localFile(launchesRoot)
      if (!d.exists()) None
      else d.listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).maxOption
    }
    private var schema = Option.empty[StructType]
    private var rows = Option.empty[Long]
    // newest state row as (updated_at, last_fetched_ts): the disk's newest
    // (read once) or a newer one this Store appended
    private lazy val stateOnDisk: Option[(Timestamp, Timestamp)] =
      if (!exists(stateDir)) None
      else spark.read.parquet(stateDir)
        .orderBy(col("updated_at").desc, col("last_fetched_ts").desc)
        .limit(1).collect()
        .headOption.map(r => (r.getAs[Timestamp]("updated_at"), r.getAs[Timestamp]("last_fetched_ts")))
    private var stateAppended = Option.empty[(Timestamp, Timestamp)]

    def latestVersion: Option[Long] = version

    def launches: Option[DataFrame] = version.map { v =>
      val df = schema.fold(spark.read)(st => spark.read.schema(st)).parquet(s"$launchesRoot/v=$v")
      schema = Some(df.schema)
      df
    }

    /** Rows of the latest version (0 when there is none). */
    def rowCount: Long = rows.getOrElse {
      val n = launches.map(_.count()).getOrElse(0L)
      rows = Some(n)
      n
    }

    def writeLaunches(df: DataFrame, runId: Long): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$launchesRoot/v=$runId")
      version = (version ++ Some(runId)).maxOption
      schema = Some(df.schema)
      rows = None
    }

    /** High-water mark: latest state row, epoch default when absent
      * (src/database.py:83-87). */
    def watermark: Timestamp =
      (stateOnDisk ++ stateAppended).maxOption.map(_._2).getOrElse(new Timestamp(0L))

    /** State rows carry the reference's run identifier
      * (`pipeline_<ts>_<hex8>`, src/aggregations.py:51-52) — observability
      * metadata only; readers key on the timestamps.
      */
    def appendState(lastFetched: Timestamp, runId: Long): Unit = {
      import spark.implicits._
      Seq((lastFetched, new Timestamp(runId)))
        .toDF("last_fetched_ts", "updated_at")
        .withColumn("run_label",
          graft.functions.Scalars.runLabel(org.apache.spark.sql.functions.col("updated_at")))
        .write.mode(SaveMode.Append).parquet(stateDir)
      stateAppended = (stateAppended ++ Some((new Timestamp(runId), lastFetched))).maxOption
    }

    /** Appends a snapshot row of the latest version; its `total_events`
      * is that version's row count. */
    def appendSnapshot(row: Row): Unit = {
      spark.createDataFrame(java.util.List.of(row), row.schema)
        .write.mode(SaveMode.Append).parquet(snapshotsDir)
      rows = Some(row.getAs[Long]("total_events"))
    }

    def snapshots: DataFrame = spark.read.parquet(snapshotsDir)
  }

  /** Validation predicate — P2 semantics on the events feed: key + event
    * time must be present, value non-negative when present.
    */
  def isValid = col("event_id").isNotNull && col("ts").isNotNull &&
    (col("value").isNull || col("value") >= 0)

  /** Fail-open source read (src/ingest.py:260-264: the paginated fetch
    * falls back to a full scan + client filter on error; change-detection
    * errors assume new data, src/database.py:268-271). `primary` is
    * evaluated eagerly so read-time failures (missing path, bad schema)
    * trip the fallback instead of surfacing later mid-plan.
    */
  def withFallback(primary: => DataFrame)(fallback: => DataFrame): DataFrame =
    try {
      val df = primary
      df.queryExecution.analyzed // force analysis
      df
    } catch { case _: Exception => fallback }

  /** One micro-batch run. `runId` is the logical clock (tests pass
    * deterministic values; production passes epoch millis).
    */
  def run(store: Store, source: DataFrame, runId: Long): RunResult = {
    val wm = store.watermark
    val isInitial = store.latestVersion.isEmpty

    // ONE aggregate pass answers change detection and the batch metrics:
    // the source max (early exit) and, over the rows past the watermark
    // (all rows on the initial load), found, valid and the valid max.
    // Change detection mirrors the reference's newer-than check
    // (src/ingest.py:211-233): a source max EQUAL to the watermark reads as
    // no-new-data, i.e. rows at the boundary are assumed re-deliveries of
    // the batch that SET the watermark. A writer adding a genuinely-new row
    // at-or-before the current watermark violates the feed contract (the
    // `>=` refetch only shields boundary ties when newer data arrives with
    // them). The fetch itself is `>=` + idempotent merge (the reference's
    // server path, src/api.py:115 — SURVEY.md §7.4-4).
    val fetched = if (isInitial) lit(true) else col("ts") >= lit(wm)
    val stats = source.agg(
        max(col("ts")),
        count(when(fetched, 1)),
        count(when(fetched && isValid, 1)),
        max(when(fetched && isValid, col("ts"))))
      .collect().head
    val sourceMax = stats.getTimestamp(0)
    if (!isInitial && (sourceMax == null || !sourceMax.after(wm)))
      return RunResult("no_new_data", 0, 0, 0, store.rowCount, Some(wm))
    val newFound = stats.getLong(1)
    val valid = stats.getLong(2)
    val batchMax = stats.getTimestamp(3)

    // Every version holds one row per key and a merge never drops a key, so
    // the genuinely-new keys are the table's growth (the reference counts
    // them by before/after COUNT(*) too, src/database.py:164-190). The
    // initial load dedups by key exactly like every later merge: limit(0)
    // supplies the empty existing side.
    val batch = source.filter(fetched && isValid)
    val totalBefore = if (isInitial) 0L else store.rowCount
    store.writeLaunches(MergeOps.mergeByKey(
      store.launches.getOrElse(batch.limit(0)), batch, "event_id", "ts"), runId)

    // Watermark advance to batch max (src/ingest.py:389-409).
    val newWm = if (batchMax != null) batchMax else wm
    store.appendState(newWm, runId)

    // E2: the eight snapshot metrics in ONE aggregate pass + append
    // (vs the reference's 4-5 Postgres round-trips, SURVEY.md §3-E2).
    val snapshot = store.launches.get.agg(
        count(lit(1)).as("total_events"),
        count(when(col("event_type") === "purchase", 1)).as("total_purchases"),
        count(when(col("event_type") === "error", 1)).as("total_errors"),
        min(col("ts")).as("earliest_ts"),
        max(col("ts")).as("latest_ts"),
        countDistinct(col("user_id")).as("total_users"),
        sum(col("value")).as("total_value"))
      .withColumn("snapshot_type", lit(if (isInitial) "initial" else "incremental"))
      .withColumn("events_added_in_batch", lit(valid).cast("long"))
      .withColumn("pipeline_run_id", lit(runId))
      .collect().head
    store.appendSnapshot(snapshot)
    val total = snapshot.getLong(0)

    RunResult(if (isInitial) "initial_load" else "success",
      newFound, newFound - valid, total - totalBefore, total, Some(newWm))
  }
}
