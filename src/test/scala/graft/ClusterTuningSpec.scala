package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sessions

/** Pins the cluster-sizing arithmetic in [[Sessions.clusterConf]] — the
  * numbers SCALE.md's 100 TB claims are computed from. The derived config
  * map is a pure function of the sizing inputs (no session to start, no
  * reflection on Builder internals — ADVICE r7), and [[Sessions.forCluster]]
  * applies exactly this map.
  */
class ClusterTuningSpec extends AnyFunSuite {

  test("1000-executor / 100 TB shape: volume floor dominates the core rule") {
    val o = Sessions.clusterConf(
      executors = 1000, coresPerExecutor = 4, executorMemGb = 8, inputTb = 100.0)
    // 2 x 4000 cores = 8000; 100 TB / 200 MB = ~476838 partitions -> volume wins
    assert(o("spark.sql.shuffle.partitions").toLong >= 476000L)
    assert(o("spark.sql.files.maxPartitionBytes").toLong == 256L << 20)
    assert(o("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong == 128L << 20)
    assert(o("spark.executor.instances") == "1000")
    // the coalescing target must sit below the scan split size — AQE can
    // only merge partitions upward toward maxPartitionBytes, never split
    // a too-big scan task downward
    assert(o("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong <
      o("spark.sql.files.maxPartitionBytes").toLong)
  }

  test("small-cluster shape: core rule dominates; semantics configs ride along") {
    val o = Sessions.clusterConf(executors = 10, coresPerExecutor = 4, inputTb = 0.1)
    // 2 x 40 = 80 cores-rule vs 0.1 TB / 200 MiB = ceil(476.8) = 477 ->
    // volume still wins here; drop volume to see the core rule
    assert(o("spark.sql.shuffle.partitions").toLong == 477L)
    val o2 = Sessions.clusterConf(executors = 10)
    assert(o2("spark.sql.shuffle.partitions").toLong == 80L)
    // the bit-for-bit semantics flags from tuneConf must be present
    assert(o2("spark.sql.session.timeZone") == "UTC")
    assert(o2("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // r9 fixture regeneration: timestamp[us] isAdjustedToUTC=false must
    // read as session-UTC TimestampType, not NTZ — dropping this flag
    // breaks unix_micros on every event query AND silently kills
    // watermark-literal pushdown (the column side gets the cast)
    assert(o2("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(o2("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
  }

  test("parallelism sizing (r21): local scan floor is the measured 8, cluster floor is total cores") {
    // local: core-derived scan splits shred page-cached fixture files
    // into ~350 KB tasks at local[32] (measured: full suite 261→225 s
    // with the floor at 8); tuneConf is pure — the env override applies
    // in Sessions.tune only
    val local = Sessions.tuneConf("32")
    assert(local("spark.sql.files.minPartitionNum") == "8")
    // AQE coalescing runs on Spark 4.1's own defaults, which are the
    // measured winners: the session must see exactly those (true, and
    // 1 MB — which the runtime conf renders in bytes)
    assert(Seq("parallelismFirst", "minPartitionSize").map(k =>
        SparkSpec.session.conf.get(s"spark.sql.adaptive.coalescePartitions.$k")) ==
      Seq("true", "1048576b"))
    // cluster: a small input must still engage the whole fleet, and at
    // volume the byte-derived split count dominates any floor
    val o = Sessions.clusterConf(executors = 10, coresPerExecutor = 4)
    assert(o("spark.sql.files.minPartitionNum") == "40")
  }

  test("streaming state sizing: light state keeps the on-heap provider and core floor") {
    // stream_update_counts-shaped: 10M live user keys x 64 B counters =
    // 640 MB total state on a 10-executor cluster -> 64 MB/executor, far
    // under the 25% heap bar; core rule (2 x 40 = 80) beats the state
    // floor (640 MB / 64 MB = 10)
    val o = Sessions.streamingStateConf(
      executors = 10, keysInHorizon = 10L * 1000 * 1000, bytesPerKey = 64)
    assert(o("spark.sql.shuffle.partitions").toLong == 80L)
    assert(o("spark.sql.streaming.stateStore.providerClass").endsWith(
      "HDFSBackedStateStoreProvider"))
    assert(o("spark.sql.streaming.minBatchesToRetain") == "2")
    assert(!o.contains(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"))
  }

  test("streaming state sizing: horizon-heavy join state flips to RocksDB and the state floor") {
    // stream_interval_join-shaped at 100 TB ingest: ~40B buffered rows in
    // the 4h watermark horizon x 200 B each = 8 TB of join state on 1000
    // executors -> 8 GB/executor = 100% of an 8 GB heap; the on-heap
    // provider is not survivable, RocksDB + changelog checkpointing is
    val o = Sessions.streamingStateConf(
      executors = 1000, keysInHorizon = 40L * 1000 * 1000 * 1000, bytesPerKey = 200)
    // state floor: 8 TB / 64 MB = ~122k stores, beats 2 x 4000 cores
    assert(o("spark.sql.shuffle.partitions").toLong >= 119000L)
    assert(o("spark.sql.streaming.stateStore.providerClass").endsWith(
      "RocksDBStateStoreProvider"))
    assert(o(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
  }
}
