package graft.engine

import org.apache.spark.sql.SparkSession

/** Shared session tuning used by Verify, Bench and the test suites, so every
  * entry point runs with the same semantics:
  *  - UTC session timezone (reference stores TIMESTAMPTZ, SURVEY.md §1.2);
  *  - AQE on (runtime re-plan: skew joins, coalesced shuffle partitions);
  *  - shuffle partitions sized to the machine, not the 200 default;
  *  - nanosAsLong so the ns-precision `events.ts` parquet is readable
  *    (converted to TimestampType in [[Tables.events]]).
  *
  * The derived config maps ([[tuneConf]], [[clusterConf]]) are pure
  * functions of the sizing inputs so the arithmetic is directly testable —
  * `ClusterTuningSpec` pins the maps without reflecting on Builder
  * internals (ADVICE r7).
  */
object Sessions {

  /** The semantics + AQE configs every entry point shares. */
  def tuneConf(shufflePartitions: String): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // PARALLELISM SIZING: the full suite measured FASTER at 8 cores than
    // 32 because every stage's task count is core-derived. AQE coalescing keeps Spark's own defaults,
    // the MEASURED winners at bench SF (OPTIMIZATION_r21.md):
    // parallelismFirst=true (the byte-derived alternative collapses
    // compute-heavy small-byte stages onto 1–2 tasks: graph_triangles
    // 3.6→8.1 s) and minPartitionSize=1MB. The scan-split floor
    // (files.minPartitionNum) is 8, NOT the core count: Spark's
    // core-derived default shreds an 11 MB page-cached parquet into 32
    // ~350 KB splits at local[32] — pure scheduling overhead. 8 is the
    // measured knee (full suite 261→225 s at local[32]; byte-derived 1
    // measured WORSE — per-row scan compute needs the parallelism), and
    // it is core-count-independent, so the 8-core scaling run sees the
    // same floor. [[clusterConf]] overrides it with the total core count
    // (on a fleet a small input should still engage every executor; at
    // 100 TB the byte-derived split count dwarfs any floor), and [[tune]]
    // lets GRAFT_SCAN_MIN_PARTITIONS override it for an A/B rerun.
    "spark.sql.files.minPartitionNum" -> "8",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // fixtures store timestamp[us] with isAdjustedToUTC=false; Spark 4
    // would infer TIMESTAMP_NTZ, which (a) rejects unix_micros and (b)
    // makes LTZ watermark literals cast the COLUMN, killing parquet
    // predicate pushdown. Reading them as session-UTC TimestampType keeps
    // the raw stored micros as the instant (identical values to NTZ under
    // a UTC session) and preserves pushdown — and matches how DuckDB's
    // oracle sees the same files (naive micros).
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // write int64 micros, not INT96: the oracle compare reads our output
    // and DuckDB's result side-by-side and INT96 decodes as nanos
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false")

  private def applyConf(b: SparkSession.Builder, conf: Map[String, String]): SparkSession.Builder =
    conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  def tune(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    applyConf(b, tuneConf(cores) ++
      sys.env.get("GRAFT_SCAN_MIN_PARTITIONS").map("spark.sql.files.minPartitionNum" -> _))

  def local(appName: String, cores: Int = 4): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName(appName), cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster-deployment tuning — the sizing arithmetic behind every
    * SCALE.md claim, in code. For a cluster of `executors` executors ×
    * `coresPerExecutor` cores × `executorMemGb` heap, reading a corpus of
    * `inputTb` TB:
    *
    *  - shuffle partitions = 2× total cores (wave parallelism + AQE
    *    coalescing headroom), floored at one partition per ~200 MB of
    *    input so a 100 TB shuffle never exceeds ~executor-memory-sized
    *    partitions even before AQE splits skew;
    *  - `files.maxPartitionBytes` 256 MB: scan tasks sized so a full
    *    core's working set (column batches + shuffle write buffers) stays
    *    well under heap/core;
    *  - AQE advisory partition size 128 MB: post-shuffle coalescing
    *    target, ~heap/core ÷ 4 at the 8 GB/4-core shape (spill headroom
    *    for aggregation hash tables);
    *  - broadcast threshold stays at Spark's default unless the caller
    *    overrides — dimension broadcasts in this library are explicit
    *    `broadcast()` hints, not threshold-dependent.
    *
    * The returned map carries the same semantics configs as [[tuneConf]]
    * (UTC, AQE, nanos flag, micros parquet) so cluster runs and the local
    * harness agree bit-for-bit.
    */
  def clusterConf(
      executors: Int,
      coresPerExecutor: Int = 4,
      executorMemGb: Int = 8,
      inputTb: Double = 0.0): Map[String, String] = {
    val totalCores = executors * coresPerExecutor
    val byCores = 2L * totalCores
    val byVolume = math.ceil(inputTb * 1e12 / (200L << 20).toDouble).toLong
    val shufflePartitions = math.max(byCores, byVolume)
    tuneConf(totalCores.toString) ++ Map(
      "spark.executor.instances" -> executors.toString,
      "spark.executor.cores" -> coresPerExecutor.toString,
      "spark.executor.memory" -> s"${executorMemGb}g",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.files.maxPartitionBytes" -> (256L << 20).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (128L << 20).toString,
      // scan-split floor returns to total cores on a fleet (see the
      // [[tuneConf]] comment): small inputs should still engage every
      // executor; at volume the byte-derived count dominates anyway
      "spark.sql.files.minPartitionNum" -> totalCores.toString)
  }

  def forCluster(
      b: SparkSession.Builder,
      executors: Int,
      coresPerExecutor: Int = 4,
      executorMemGb: Int = 8,
      inputTb: Double = 0.0): SparkSession.Builder =
    applyConf(b, clusterConf(executors, coresPerExecutor, executorMemGb, inputTb))

  /** State-store sizing for the stateful streaming family — SCALE.md's
    * per-query state-bound arguments as testable arithmetic, the way
    * [[clusterConf]] already is for batch shuffles (VERDICT r9 #6).
    *
    * `keysInHorizon` is the watermark-bounded live key count of the
    * stateful operator — the quantity each streaming query's scaladoc
    * argues: windows-in-horizon × group keys for windowed aggregates,
    * un-evicted buffered rows per side for stream-stream interval joins,
    * active sessions for session windows, distinct live keys for
    * update-mode running aggregates (unbounded key spaces add state TTL
    * to make it finite). `bytesPerKey` is the UnsafeRow record width
    * (key + aggregation buffer / buffered row).
    *
    * The arithmetic:
    *  - total state = keys × bytesPerKey. One state-store instance lives
    *    per shuffle partition, so partitions are floored at one per 64 MB
    *    of state: the default HDFS-backed provider keeps each store's
    *    working map ON-HEAP (plus [[minBatchesToRetain]] snapshot deltas),
    *    and 64 MB keeps a store a small slice of the ~2 GB heap/core that
    *    the same executor's shuffles and aggregations also need. The
    *    2×cores wave floor from [[clusterConf]] still applies.
    *  - when the per-EXECUTOR state share (total state spread over the
    *    fleet's stores) would cross 25% of executor heap, the map flips to
    *    the RocksDB provider with changelog checkpointing: state moves
    *    off-heap (heap holds only block-cache/iterator working set) and
    *    per-batch checkpointing ships the delta log instead of full
    *    snapshots — the production shape for 100 TB-scale joins whose
    *    horizon state is tens of GB per executor.
    *  - `minBatchesToRetain` 2 bounds checkpoint version growth without
    *    giving up one-batch failure replay.
    */
  def streamingStateConf(
      executors: Int,
      coresPerExecutor: Int = 4,
      executorMemGb: Int = 8,
      keysInHorizon: Long = 0L,
      bytesPerKey: Int = 64): Map[String, String] = {
    val totalCores = executors.toLong * coresPerExecutor
    val stateBytes = keysInHorizon * bytesPerKey.toLong
    val byCores = 2L * totalCores
    val byState = math.ceil(stateBytes.toDouble / (64L << 20).toDouble).toLong
    val partitions = math.max(byCores, byState)
    val heavy =
      stateBytes.toDouble / executors > 0.25 * executorMemGb * (1L << 30).toDouble
    val base = Map(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.minBatchesToRetain" -> "2",
      "spark.sql.streaming.stateStore.providerClass" ->
        (if (heavy)
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
    if (heavy)
      base + ("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    else base
  }
}
