"""SparkSession factory tuned for the OLAP + streaming-ingest workload.

Design notes for 100 TB scale (tested on local[N]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  SMJ->BHJ switch replace any hand-tuned physical planning.
- UTC session timezone: fixture timestamps are UTC-naive; the DuckDB
  oracle compares UTC-naive values.
- Arrow enabled: every Pandas-UDF path (similarity, multimodal decode)
  rides vectorized Arrow batches instead of per-row pickling.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden per-job (or left to AQE coalescing from a
  high initial value).
- Driver heap is sized from the memory this process may use (physical
  RAM, lowered by a set cgroup limit): heap = 0.75 x memory / 1.4,
  capped at 16g. 0.75 is Spark's "allocate only at most 75% of the
  memory for Spark" (Hardware Provisioning guide); 1.4 adds the 0.40
  ``spark.driver.memoryOverheadFactor`` Spark defaults to for non-JVM
  (PySpark) jobs on Kubernetes, room for the native and Python-worker
  memory outside -Xmx. A heap cap above the machine's memory lets G1 grow
  the heap instead of collecting until the kernel OOM-kills the
  gateway JVM. ``SPARK_DRIVER_MEM`` overrides the computed value.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def local_profile() -> bool:
    """True when local-test-scale tunings should apply (small split
    sizes, fanout repartitions of single-row-group fixture reads).
    Default on — ``get_spark`` always builds a ``local[N]`` master.
    Cluster deployments reusing this module set ``DS_LOCAL_PROFILE=0``
    and get stock Spark behavior with no code change."""
    return os.environ.get("DS_LOCAL_PROFILE", "1") != "0"


_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2; "max" when unset
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)
_MAX_DRIVER_MIB = 16 * 1024

# local-profile streaming checkpoint writer (see get_spark)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def available_memory_bytes() -> int:
    """Physical RAM, lowered by this process's cgroup memory limit
    where one is set. The v2 "max" sentinel is not a number and the v1
    "unlimited" sentinel (~2**63) exceeds any RAM, so neither lowers
    the result."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def default_driver_memory(total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a process that may use ``total_bytes``
    (default: ``available_memory_bytes()``): 0.75 x total / 1.4 in MiB,
    capped at 16g (see the module docstring)."""
    if total_bytes is None:
        total_bytes = available_memory_bytes()
    mib = total_bytes * 75 // 140 // (1024 * 1024)
    return f"{min(mib, _MAX_DRIVER_MIB)}m"


def get_spark(
    app_name: str = "deltasink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)
    driver_memory = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # keep catalog artifacts (bucketed-table metadata) out of CWD
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "ds_warehouse"))
    )
    if local_profile():
        # Fixture tables are single smallish parquet files; the default
        # 128m split size would scan each on ONE task. 4m keeps every
        # core busy at test scale. On a cluster reading TB-scale tables
        # this would explode task counts, so it only applies under the
        # local profile (DS_LOCAL_PROFILE, default on — this factory
        # always builds a local[N] master; set 0 when borrowing the
        # module for a cluster deployment).
        builder = builder.config("spark.sql.files.maxPartitionBytes", "4m")
        # SIZE-based AQE partition coalescing (optimization guide §2.2/
        # §9: coalesce small post-shuffle partitions toward a byte
        # target rather than preserving parallelism). With the default
        # parallelismFirst=true every KB-sized shuffle stage still
        # fans out to `shuffle.partitions` tiny tasks, and at fixture
        # scale task-launch latency dominates: A/B over 35 ops read
        # −22% on the light half and no regression on the shuffle-
        # heavy half with a 1m advisory (64m/8m advisories DID regress
        # the compute-dense joins by halving their parallelism — size
        # is a poor proxy for compute density, so the advisory stays
        # small enough that only KB-scale stages collapse). Cluster
        # deployments (DS_LOCAL_PROFILE=0) keep stock behavior; the
        # guide's production setting is parallelismFirst=false with a
        # 128-256m advisory sized to the real shuffle volumes.
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        ).config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        # Streaming checkpoints (offsets/, commits/, sources/, state
        # deltas) go through FileSystem, not Spark's default FileContext
        # manager. Without the native Hadoop library, FileContext.rename
        # on file: asks RawLocalFs.getFileLinkStatus for source and
        # destination, each a forked `readlink`: 8 forks per checkpoint
        # file (the file and its .crc), ~86 of the ~124 forks per ingest
        # micro-batch. FileSystem.rename forks none: -27% CPU per batch on
        # perfbench ingest_small_batches (4 vCPUs). On a local disk both
        # managers check the destination, then rename (FileContext:
        # getFileLinkStatus(dst), then RawLocalFileSystem.rename;
        # FileSystem: exists(dst), then rename), so the offset and commit
        # logs keep their no-overwrite guarantee; Hadoop .crc files and
        # Spark's state-file checksums stay. Cluster deployments keep
        # FileContext: HDFS's FileContext rename is atomic.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
