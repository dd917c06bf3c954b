"""SparkSession factory.

Configured for the execution profile this engine targets: a large
multi-executor cluster scanning ~100 TB of parquet. Locally we run
``local[N]``, but every knob below is chosen for the cluster case:

- AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
  demotion) so plans survive skewed keys and mis-estimated sizes.
- Arrow enabled for any pandas_udf exchange (the embedding/LLM stages).
- Broadcast threshold raised: the dimension tables of this workload
  (region/nation/supplier/part at TPC-H shape, query-vector batches,
  dedup key sets) are tiny relative to the fact tables and must never
  shuffle the big side.
- ``spark.sql.files.maxPartitionBytes`` left at default 128 MB — at
  100 TB that yields ~800k input splits, which is the right granularity
  for 1000 executors; do not raise it without raising executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g: a heap cap above what the
    machine has lets the local-mode JVM grow until the kernel stops it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "movievectorsearch-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``*``; the driver
    heap to ``$SPARK_GRAFT_DRIVER_MEM`` then half of physical memory,
    at most 24g. On a real cluster the master/resource config comes
    from spark-submit and the builder settings here are additive.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # local mode runs driver + all executor threads in ONE JVM whose
        # default heap is 1g — with 32 concurrent tasks that means
        # multi-second full-GC stalls that land on whatever query is
        # running. Size the heap for the box (must be set pre-launch).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/moviegen.py) —
        # required whenever a reader implements pushFilters()
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS), which
        # Spark's vectorized parquet reader rejects; read the raw int64
        # nanos and convert in the catalog (catalog.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # bucketed tables (sources/bucketing.py) are catalog-managed;
        # keep the warehouse out of the repo working tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mvs_spark_warehouse"),
        )
        .config("spark.driver.maxResultSize", "2g")
        # PySpark records every Column/functions call's Python call site
        # for error messages, at several py4j round trips per call: most
        # of a Column-API plan build. PySpark reads this once per
        # process, at the first Column call, so it must be set here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
