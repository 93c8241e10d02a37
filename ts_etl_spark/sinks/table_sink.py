"""Distributed table sinks for the relational surface.

The byte-exact JSON/HTML renderers (json_sink/html_sink) satisfy the
reference's single-artifact contract; everything else an analytics user
writes goes through this fully distributed writer — partitioned parquet
for layout-aware downstream scans (partition pruning).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


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

