"""SparkSession factory tuned for the engine's workload shape.

Scale design (100 TB target, tested on local[32]):

- AQE on: runtime coalescing of post-shuffle partitions, skew-join
  splitting — the synthetic corpus is uniform but real document/vector
  corpora are Zipfian in term frequency and cluster size.
- Arrow on: every Pandas-UDF boundary (embedding inference, MMR) moves
  columnar batches, not pickled rows.
- Broadcast threshold raised to 64 MiB: dimension tables (region,
  nation, supplier, centroids, query sets) stay map-side at every SF;
  the big fact/vector tables never broadcast.
- shuffle.partitions defaults to the local core count; on a real
  cluster this should be ~2-3x total executor cores (set via env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Share of physical RAM the driver heap may take when this process
# creates the JVM: local mode runs every executor thread inside the
# driver, and the other half stays with Python workers and the OS.
DRIVER_MEM_FRACTION = 0.5


def machine_cpus() -> int:
    """CPUs this process may run on (its affinity mask, which a
    container or `taskset` narrows below the host's core count)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without affinity masks
        return os.cpu_count() or 1


def machine_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def session_defaults() -> tuple[str, str]:
    """(local thread count, driver heap) for a session this process
    creates. `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_DRIVER_MEM` override
    them for a deployment; otherwise they come from the machine: every
    usable CPU, and `DRIVER_MEM_FRACTION` of physical RAM in MiB."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(machine_cpus())
    heap_mb = int(machine_ram_bytes() * DRIVER_MEM_FRACTION) >> 20
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_mb}m"
    return cpus, mem


def get_spark(
    app_name: str = "mcp-vector-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard tuning.

    When the driver already created a session (the verify harness does),
    ``getOrCreate`` reuses it and these configs are no-ops — every
    operator in this package is written to be correct under default
    configs and merely *faster* under these.
    """
    cpus, mem = session_defaults()
    parts = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 optimization round, measured on the join/shuffle-heavy
        # gate subset (minhash, dup_clusters, hybrid, kg_edges,
        # closure): zstd shuffle+spill compression beat the lz4
        # default by ~25-30% wall, and allowing shuffled-hash join
        # where its size conditions hold took another ~10% on join
        # paths. Both are scale-general (smaller shuffle bytes / no
        # sort when one side hashes); `extra_conf` overrides them.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
