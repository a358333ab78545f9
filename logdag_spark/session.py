"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is the one you would set
on a 1000-executor cluster too: AQE on (runtime re-plan + skew-join),
shuffle partitions sized explicitly, Arrow enabled for the pandas-UDF
kernels, UTC session timezone so results compare bit-exact against the
DuckDB oracle and the reference's naive-UTC storage convention
(/root/reference/logdag/source/sqlts.py:14-51).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of the memory this host grants the process: the smaller of
    physical RAM and the cgroup v2 ``memory.max`` limit.  In local mode
    the driver heap is the executor heap; the other half is left to the
    Python workers and the JVM's off-heap use."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = min(limit, int(f.read().strip()))
    except (OSError, ValueError):  # no cgroup v2, or "max" (unlimited)
        pass
    return f"{max(512, (limit // 2) >> 20)}m"


def get_spark(
    app_name: str = "logdag_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[*]``.  ``shuffle_partitions`` defaults to the
    core count: on local mode 200 default partitions just adds task-launch
    overhead; on a real cluster you would size this to ~2-3x total cores
    and let AQE coalesce.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the parse kernel pays a fixed
        # serialize/GIL/Series-construction cost per batch (~3100 batches
        # per bench run at the old 10k), and the widest UDF rows here
        # (token arrays, embeddings) are ~0.5KB -> ~32MB per batch, well
        # inside executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # task-commit renames instead of a serial job-commit rename loop
        # in the driver (matters more on object stores / many files).
        # Non-atomicity on task failure is safe here: checkpoint tables
        # are only trusted once the catalog's completion manifest exists
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # dynamic-partition writes otherwise SORT every task's rows by the
        # partition columns before writing (measured ~30% of the ingest
        # write's wall); with few distinct partitions per task, concurrent
        # open writers skip the sort entirely
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
