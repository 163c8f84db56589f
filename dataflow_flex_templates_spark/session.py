"""SparkSession factory with scale-aware defaults.

Every session runs single-JVM (local[N]); most configs below are the
ones that matter at cluster scale too: AQE (runtime re-planning +
skew-join splitting), sane shuffle partitioning, Arrow for pandas UDFs.
One is local-only: streaming checkpoints go through the FileSystem-based
checkpoint manager, which relies on rename being atomic, as it is on a
local disk; a deployment that checkpoints to HDFS or an object store
should keep Spark's default manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: providerClass for each supported state-store backend. ``rocksdb``
#: is the one that matters at cluster scale: the default HDFS-backed
#: store keeps every state row on the JVM heap (per executor, with a
#: full copy retained per retained version), which at the north rule's
#: 10^12 dedup keys is an executor-memory scale-killer; RocksDB spills
#: state to local SSD with bounded block-cache memory and supports
#: changelog checkpointing (incremental, not full-snapshot, commits).
STATE_STORE_PROVIDERS = {
    "hdfs": ("org.apache.spark.sql.execution.streaming."
             "state.HDFSBackedStateStoreProvider"),
    "rocksdb": ("org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider"),
}


def get_spark(
    app_name: str = "dataflow-flex-templates-spark",
    cores: int | None = None,
    extra: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    state_store = (state_store
                   or os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
                   or None)
    if state_store is not None and state_store not in STATE_STORE_PROVIDERS:
        raise ValueError(
            f"unknown state_store {state_store!r}; "
            f"choose from {sorted(STATE_STORE_PROVIDERS)}")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # One shuffle partition per task slot: each shuffle stage runs
        # in one wave of tasks. A stateful streaming query fixes its
        # state-partition count on its checkpoint's first run (a resume
        # restores it from the offset log), and every stateful
        # micro-batch, the no-data eviction batch included, pays a
        # fixed cost per state partition: a task and its state files.
        # AQE coalesces batch shuffles below this anyway.
        .config("spark.sql.shuffle.partitions", str(cores))
        # Legacy (non-ANSI) coercion: text sources arrive all-string and
        # the reference's expression strings (e.g. SUM(unit_price*quantity))
        # rely on implicit string→numeric casts, as BigQuery/Calcite did.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2k rows/Arrow batch: binary audio payloads average ~24 KB per
        # row, so the Spark default 10k rows puts ~240 MB in flight per
        # UDF worker — at 32 workers that's GC-thrash territory (2.3x
        # decode slowdown measured). 2048 (~50 MB/worker) maximizes
        # throughput across 4-32 cores in the batch-size sweep.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Binary-payload scans (audio clips) are decode-bound, not
        # IO-bound: split scans finer than the 128 MB default so every
        # core gets a decode task even on the small-but-wide inputs
        # local testing uses. At cluster scale the same knob sizes
        # decode tasks to executor memory (SURVEY §"spill-aware").
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # The vectorized parquet reader allocates columnarReaderBatchSize
        # rows per column vector; at the default 4096 a ~20 KB binary
        # audio column needs ~80 MB of CONTIGUOUS heap per task — 32
        # concurrent tasks OOM a 16 GB JVM. 512 rows keeps binary scans
        # at ~10 MB/task with no measurable cost on narrow tables.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] puts driver AND all executor threads in one JVM — at
        # 32 task slots 8g thrashes GC on payload-heavy scans.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # Streaming checkpoints (offsets/commits logs, HDFS and RocksDB
        # state files) go through Hadoop's FileSystem API rather than
        # the default FileContext one. Same tmp-file + rename protocol
        # and .crc sidecars, but no getFileLinkStatus per file: on a
        # local filesystem without native libhadoop that call spawns a
        # `readlink` process for every checkpoint file. Every session
        # here is local[N] on a local disk, where rename(2) is atomic.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
    )
    if state_store is not None:
        b = b.config("spark.sql.streaming.stateStore.providerClass",
                     STATE_STORE_PROVIDERS[state_store])
        if state_store == "rocksdb":
            # incremental (changelog) commits instead of full SST
            # snapshots per batch — the setting that makes RocksDB
            # state viable at high batch rates on a real cluster
            b = b.config("spark.sql.streaming.stateStore.rocksdb."
                         "changelogCheckpointing.enabled", "true")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
