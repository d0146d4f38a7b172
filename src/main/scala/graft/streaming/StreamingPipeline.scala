package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.IncrementalPipeline

/** A closed (emitted) session — schema matches the batch
  * [[graft.operators.WindowsAndStats.sessionize]] output row.
  */
final case class SessionOut(
    user_id: Long, session_id: Long, n_events: Long,
    session_start_us: Long, session_end_us: Long)

/** Per-user session state carried across micro-batches. `startUs < 0`
  * marks a CLOSED marker: the last session was emitted (via timeout) but
  * `sid` must survive so a later event continues the per-user ordinal
  * numbering instead of restarting at 1.
  */
final case class OpenSession(sid: Long, startUs: Long, endUs: Long, n: Long)

/** The CDC pipeline as Structured Streaming (SURVEY.md §2.9): the
  * reference's run-to-completion micro-batch loop maps to
  * `Trigger.AvailableNow` (process all available input, then stop — the
  * no-new-data run is a no-op trigger), and its idempotent upsert maps to a
  * `foreachBatch` merge into the same versioned store the batch pipeline
  * uses. Checkpointing replaces the hand-rolled `ingestion_state` table:
  * offsets survive restarts, re-delivered files dedup through the merge.
  *
  * Scale notes: `mergeByKey` inside foreachBatch shuffles once per batch on
  * the key; watermark + `dropDuplicates` bounds state. File-source listing
  * is the only driver-side cost.
  */
object StreamingPipeline {

  /** Run an AvailableNow pass over parquet files arriving in `inDir`,
    * merging each micro-batch into `store`. Returns the number of
    * micro-batches processed.
    */
  def runAvailableNow(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      store: IncrementalPipeline.Store,
      checkpointDir: String): Long = {
    var batches = 0L
    val stream = spark.readStream
      .schema(schema)
      .parquet(inDir)
      .filter(IncrementalPipeline.isValid)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        // the first batch dedups by key like every later one (limit(0) is
        // the empty existing side), so each version holds one row per key;
        // versioned dirs keep a replayed batchId idempotent
        store.writeLaunches(graft.operators.MergeOps.mergeByKey(
          store.launches.getOrElse(batch.limit(0)), batch, "event_id", "ts"), batchId)
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** Streaming sessionization — the batch gap-sessionizer
    * ([[graft.operators.WindowsAndStats.sessionize]]) as a custom stateful
    * operator: `flatMapGroupsWithState` in Append mode with an event-time
    * timeout. A session closes (and emits) either inline, when a same-user
    * event arrives more than `gapMinutes` after the open session's end, or
    * via timeout, when the watermark passes end + gap. Session ids are
    * 1-based per user in event-time order, so emitted rows are
    * byte-comparable with the batch operator's.
    *
    * State is one `OpenSession` record per user EVER seen — the ordinal
    * session-id contract requires it: a timeout emits the open session
    * but must keep a closed marker carrying the counter, or a user idle
    * across a watermark gap would restart at session_id 1 and collide
    * with their own history (found by review r8; fixtures never exercised
    * an idle-across-batch user). Bounded by user cardinality, not event
    * count — fine for user-grained keys; a deployment that needs
    * watermark-REAPED state instead keys sessions by (user, start time)
    * rather than ordinals and removes on timeout.
    * Assumes per-user in-order arrival across micro-batches (guaranteed
    * here by time-split input files; a production deployment relies on the
    * watermark delay for modest disorder and would buffer within it).
    *
    * `events` columns: user_id LONG, ts TIMESTAMP (µs precision); the
    * caller applies `withWatermark` BEFORE this so the timeout clock is
    * defined. µs values ride alongside as longs — GroupState timeouts are
    * ms-granular but session arithmetic stays exact.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      // the watermarked ts column must survive into the stateful operator's
      // input or the event-time timeout has no clock; µs long rides along
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // emit, then KEEP a closed marker (startUs = -1) so the sid
            // counter survives; no new timeout — the marker is inert until
            // the user's next event resumes from it
            state.update(OpenSession(s.sid, -1L, -1L, 0L))
            Iterator.single(SessionOut(user, s.sid, s.n, s.startUs, s.endUs))
          } else {
            val ts = rows.map(_._3).toArray
            java.util.Arrays.sort(ts)
            var out = List.empty[SessionOut]
            var (sid, start, end, n) = state.getOption
              .map(s => (s.sid, s.startUs, s.endUs, s.n))
              .getOrElse((0L, -1L, -1L, 0L))
            ts.foreach { t =>
              if (start < 0) { sid += 1; start = t; end = t; n = 1 }
              else if (t - end > gapUs) {
                out ::= SessionOut(user, sid, n, start, end)
                sid += 1; start = t; end = t; n = 1
              } else { end = math.max(end, t); n += 1 }
            }
            state.update(OpenSession(sid, start, end, n))
            // timeout once the watermark passes end + gap (ms-granular,
            // rounded up; clamped above the current watermark as required)
            val timeoutMs = math.max(
              (end + gapUs) / 1000L + 1, state.getCurrentWatermarkMs() + 1)
            state.setTimeoutTimestamp(timeoutMs)
            out.reverse.iterator
          }
      }
  }
}
