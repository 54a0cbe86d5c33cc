"""SparkSession factory with scale-oriented defaults.

The reference engine has no session concept (one Python process, one
thread per node — /root/reference/metalpipe/node.py:823-826).  Here the
session is the engine: AQE handles runtime re-planning (skew joins,
partition coalescing), Arrow handles the Python boundary, and the session
timezone is pinned to UTC so timestamp semantics are reproducible across
engines (parquet naive timestamps == UTC wall time, matching DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for correctness-at-any-scale rather than for the local
# test harness: AQE re-plans shuffles at runtime, so the static
# shuffle-partition count is only a ceiling hint.  On a real cluster the
# launcher overrides master/memory; nothing here assumes local mode.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Lower the coalescing floor from the 1 MiB default: AQE sizes
    # post-shuffle partitions by INPUT bytes, but bucket-join stages
    # (LSH bands, hamming blocks) shuffle a few bytes per doc and then
    # EXPAND quadratically inside each bucket — with a 1 MiB floor a
    # ~4 MB band shuffle collapses to 4 tasks that serialize an 18.7M-
    # pair join (measured 135 s vs 70 s at full width on the sf1
    # corpus).  With a 64 KiB floor, parallelism-first sizing
    # (totalBytes / defaultParallelism, the AQE default policy) decides
    # instead, keeping CPU-heavy low-byte stages wide while still
    # coalescing genuinely tiny shuffles.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # RocksDB state store: stateful streaming state lives off-heap in a
    # compacting LSM instead of the HDFS-backed provider's in-heap map
    # + per-commit full-snapshot file.  At scale this is the standard
    # choice for large state (bounded executor heap, incremental
    # changelog commits).  Changelog checkpointing avoids re-uploading
    # a full snapshot per commit.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Read un-annotated parquet timestamps as tz-aware TIMESTAMP at the
    # scan (not TIMESTAMP_NTZ): keeps unix_millis/watermarks working and
    # timestamp predicates pushed down.  load_table also sets this at
    # runtime so driver-owned sessions get the same behavior.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # 128 MiB input splits: the parquet-scan sweet spot for wide clusters.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Let small dims broadcast aggressively; AQE converts to broadcast
    # joins at runtime when post-filter sizes allow.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
    "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
}


def _local_driver_mem() -> str:
    """Half the host's physical memory, capped at 16 GiB: a local JVM
    (heap plus off-heap, RocksDB and Python workers) sized to all of it
    or more lets one test run or sweep take the host down."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "metalpipe-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` resolution order: explicit arg, ``SPARK_GRAFT_MASTER`` env,
    ``local[$SPARK_GRAFT_CPUS]``, ``local[*]``.  An existing active
    session is reused (configs then already apply).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULT_CONF)
    if master.startswith("local"):
        # Local mode defaults the JVM heap to 1g — far too small for 32
        # executor threads sorting/shuffling concurrently (GC pressure at
        # sf0.1, OOM at sf1).  Size it for the host; a cluster launcher
        # overrides via spark-submit and never hits this branch.
        merged["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _local_driver_mem()
        )
        # Streaming checkpoints (offsets, commits, state files) through
        # the FileSystem API instead of Spark's FileContext default.  On
        # `file:` paths FileContext's create/rename ask RawLocalFileSystem
        # for link status and permissions, and without libhadoop each of
        # those forks a shell (`readlink`, `stat`, `chmod`): ~1,000 child
        # processes and 1.4 s of child CPU per q_stream_dedup run on the
        # benchmark's inputs (4-vCPU VM), against ~390 and 0.35 s.  Both
        # managers write a temp file and then rename it; on the local FS
        # that rename is File.renameTo, i.e. POSIX rename(2), which is
        # atomic, so the guarantee is the same.  Local-only because that
        # argument is about the local FS: cluster sessions never enter
        # this branch and keep Spark's default for their store, and a
        # caller's `conf=` still wins here.
        merged["spark.sql.streaming.checkpointFileManagerClass"] = (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
