package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults — the one place the
  * 100 TB-relevant knobs live:
  *
  *  - shuffle partitions sized to the cluster (caller passes cores for
  *    local mode; a real cluster wants 2-3× total cores, or AQE
  *    coalescing from a high initial count);
  *  - AQE on (it is by default, pinned here against env drift) —
  *    runtime re-planning gives broadcast-join demotion/promotion, skew
  *    split, partition coalescing;
  *  - 128 MB scan partitions (`files.maxPartitionBytes` default, pinned)
  *    — the parquet-scan parallelism unit;
  *  - UTC session timezone (oracle + reproducibility);
  *  - graft SQL functions registered via GraftExtensions.
  */
object GraftSession {

  def builder(appName: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Join strategy: let the planner
      // pick shuffled-hash over sort-merge when a side's per-partition
      // build fits — SMJ pays two sorts the hash join skips; SHJ's OOM
      // risk is bounded by the same size checks the planner already
      // applies, and AQE's runtime rewrite below converts residual SMJs
      // whose post-shuffle partitions measure under 64 MB (size-bounded,
      // not core-count-tuned — valid at any scale; Spark's default of 0
      // simply disables the rewrite).
      // Known failure mode: the static planner's SHJ pick
      // runs on COMPILE-TIME size estimates — a badly mis-estimated
      // build side that AQE doesn't rewrite can OOM where SMJ would
      // have spilled. Bridge.resetStats frames are safe (reset stats
      // default large, so they stay SMJ-eligible), but parquet-stat
      // misestimates are not; the oracle/bench sweeps run every query
      // at the largest SF so a mis-planned SHJ surfaces there before
      // production-scale data.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ns-precision timestamps, which Spark 4
      // refuses to read as TimestampType ([PARQUET_TYPE_ILLEGAL]);
      // surface them as LongType ns-since-epoch. Set once here (not as a
      // side effect of loading a table — session config mutation mid-query
      // is race-prone under concurrent query construction).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferWindowGroupLimit only rewrites rank filters whose limit is
      // BELOW this threshold (default 1000). The kNN/semdedup hot-bucket
      // caps rank-filter at maxBucket=4096; raising the threshold past
      // them makes the caps map-side group limits too — an adversarial
      // million-row bucket is cut to 4096 rows per map task BEFORE the
      // shuffle, not after. Plan-asserted in PlanAuditSpec.
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "5000")
      // Streaming state off-heap: the default HDFS-backed provider keeps
      // every key in executor heap — at 100 TB (billions of dedup keys,
      // wide stream-stream join buffers) that OOMs long before the
      // watermark bounds kick in. RocksDB spills state to local disk,
      // and changelog checkpointing uploads per-batch deltas instead of
      // re-snapshotting the full store.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Write-heavy stateful streams: maintaining the exact state-row
      // count costs a RocksDB get per put (and count bookkeeping at
      // commit) for a metric only dashboards read — Spark's own tuning
      // guidance for write-heavy workloads is to disable it. Measured
      // ~5% off a drain's wall at the gate sizing; at 100 TB state the
      // per-put get is the difference between one and two RocksDB ops
      // per updated key. numRowsTotal then reads -1; specs that assert
      // state-row eviction re-enable it per query.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      // catalog-table storage (bucketed layouts) goes to a temp dir that
      // lives as long as this JVM, never ./spark-warehouse in the
      // caller's CWD
      .config("spark.sql.warehouse.dir", TempDirs.create("graft-warehouse-"))
      // local `file:` I/O through graft.io.LocalFs: it starts no
      // chmod/readlink process per created file or rename
      .config(graft.io.LocalFs.confs)

  /** Local session (tests, Verify/Bench, standalone CLI). Scratch space
    * (`spark.local.dir`: shuffle files, block-manager disk blocks, RocksDB
    * working dirs) stays Spark's own: SPARK_LOCAL_DIRS or java.io.tmpdir.
    */
  def local(appName: String, cores: Int): SparkSession =
    builder(appName, cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
