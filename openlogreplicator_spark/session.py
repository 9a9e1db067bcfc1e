"""SparkSession construction tuned for the CDC pipeline.

Scale stance: these configs are what we'd ship in spark-submit --conf on a real
multi-executor cluster; locally they run on local[N]. AQE handles runtime skew and
partition coalescing; shuffle partitions scale with cores (the bench protocol in
BASELINE.md holds `spark.sql.shuffle.partitions = 4×cores` across cluster sizes).
AQE coalescing also sizes every table write (`merge._write_buckets`). File
listing stays on the driver: table reads pass the manifest's file paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "openlogreplicator-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's standard configuration.

    - UTC session timezone (oracle comparison + determinism of timestamp math).
    - AQE on: runtime coalescing + skew-join mitigation (SURVEY.md §4).
    - Arrow on: all Python interop is vectorized (input_hint: no per-row Python).
    - shuffle.partitions = 4×cores: scales with cluster size, per BASELINE.md.
    """
    cores = cores or default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(4, 4 * cores)

    # Shuffle/spill scratch space: at 32 local threads the VM's single
    # virtual disk serializes shuffle writes (measured 2-3x degradation
    # 8→32 cores); tmpfs stands in for the executor-attached NVMe a real
    # cluster node would have. Override with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Above 32 paths (or sub-directories) Spark lists in a distributed
        # job with one task per path. LakeTable.read passes the manifest's
        # file paths, so that job would only stat files already known: a
        # 48-file compaction read paid a 48-task job. Only multi-path reads
        # and directories with many sub-directories are affected;
        # single-directory reads already list serially.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Deterministic timestamp behavior independent of JVM default TZ.
        .config("spark.sql.datetime.java8API.enabled", "true")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
