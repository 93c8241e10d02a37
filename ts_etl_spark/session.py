"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[N] test runs AND for the 1000-executor /
100 TB design point:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting,
  broadcast-join conversion after runtime stats).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (or left to AQE's coalescing) — queries in
  this package never hard-code partition counts.
- Arrow on: every pandas-UDF / ``mapInPandas`` operator transfers columnar
  Arrow batches, never pickled rows.
- Session timezone pinned to UTC so timestamp rendering is deterministic and
  matches the DuckDB oracle (parquet NTZ micros render verbatim).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _half_of_ram() -> str:
    """Default driver heap: half the machine's physical memory, so the
    JVM's own heap limit trips before the kernel's OOM killer does."""
    return f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') >> 21}m"


def get_spark(
    app_name: str = "ts-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # dim tables (region/nation/supplier/part) should broadcast; 64 MiB
        # covers every dimension side this engine joins at any SF — AQE still
        # re-plans larger sides at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # runtime bloom-filter join pruning: when a selective filtered side
        # joins a big fact, inject a bloom filter so the fact side drops
        # non-joining rows BEFORE the shuffle. The default 10 GiB
        # application-side threshold keeps it dormant on local test data and
        # active exactly where it pays — multi-TB fact scans.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _half_of_ram()),
        )
        # static conf: the default 100-entry Janino class cache thrashes when
        # a session runs the whole query surface back-to-back (each query
        # compiles several whole-stage-codegen classes); recompilation showed
        # up as multi-second noise on later queries in a long benchmark run
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed-table home (saveAsTable, CREATE TABLE); never inside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ts-etl-spark-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def owned_session(spark: SparkSession | None, app_name: str) -> Iterator[SparkSession]:
    """Yield the caller's session when one is given. Otherwise, when a
    SparkContext is already running, yield its session as it is: it
    belongs to someone else, so it is neither re-tuned (``get_spark``
    would re-apply its runtime conf) nor stopped. Only with no context
    running is a session started with ``get_spark(app_name=...)``, and
    stopped on exit."""
    if spark is not None:
        yield spark
        return
    if SparkContext._active_spark_context is not None:
        yield SparkSession.builder.getOrCreate()
        return
    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()
