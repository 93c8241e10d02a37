"""Distributed table sinks for the relational surface.

The byte-exact JSON/HTML renderers (json_sink/html_sink) satisfy the
reference's single-artifact contract; everything else an analytics user
writes goes through these fully distributed writers — partitioned parquet
for layout-aware downstream scans (partition pruning), bucketed tables for
shuffle-free co-located joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Distributed parquet write; ``partition_by`` creates the directory
    layout that lets later reads prune entire partitions
    (``PartitionFilters`` in the scan)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(header=True, **options).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Distributed ORC write (native format, zlib by default) — the
    interchange format for Hive-ecosystem consumers; same partition-pruning
    layout semantics as the parquet writer."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed table: joins/aggregations on the bucket columns
    between co-bucketed tables need NO shuffle at read time — the classic
    pre-partitioning investment for repeatedly-joined 100 TB fact tables."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
