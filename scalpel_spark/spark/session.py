"""SparkSession builder tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning + skew-join mitigation), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for the
Pandas-UDF extraction tier, UTC session timezone so DuckDB oracle
comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM, at most 48g: the Python workers, the OS and
    other tenants need the rest, and a heap past RAM gets the JVM killed
    mid-run instead of spilling."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{min(48, max(1, ram_gb // 2))}g"


def get_spark(
    app: str = "scalpel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if n == "*" else int(n)
    # AQE stays ON by default (runtime skew-join mitigation is part of
    # the 100 TB story); SPARK_GRAFT_AQE=0 exists to measure its
    # per-stage replanning latency on many-small-stage pipelines
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE re-coalesce shuffles UNDER cached plans too — the crawl
        # engine persists mid-round frames (probe output, resolver batch)
        # and without this every cached subtree pins full-width tiny tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html payloads are fat rows — keep Arrow batches bounded so the
        # Python workers never hold more than a few MB per batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # fat-row corpora (html/binary): smaller scan splits → real scan
        # parallelism even on single-file parquet
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # task-side output commit (v2): the v1 driver-side sequential
        # file moves add ~seconds per write on many-file outputs
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # local mode = driver-only: give the single JVM real headroom
        # (32 task threads × arrow batches + cached corpus + shuffles)
        .config("spark.driver.memory", driver_mem)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
