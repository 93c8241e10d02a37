"""One-slice local relations for driver-built row lists.

``spark.createDataFrame(rows)`` over a Python list parallelizes the data
into ``defaultParallelism`` pickled slices, so EVERY action over the
frame schedules that many Python-runner tasks even when the list holds a
handful of telemetry rows (guide §4: the JVM↔Python boundary is paid per
task — measured ~0.3-0.9 s of fixed overhead per small local-relation
action at 32 cores, round 15's "not yet optimized" #4). A single slice
carries the SAME rows and values — only the physical partitioning
changes — while every scan of the frame is ONE task, and a one-file
write needs no ``repartition(1)``/``coalesce(1)`` step at all: the write
itself is one task producing one file.

Use for BOUNDED driver-built row lists only (telemetry rows, register
collects, literal gate arms, probe tables) — never for anything whose
size scales with the data. An empty list builds on an empty RDD (zero
partitions, zero tasks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(list(rows), schema)`` as a ONE-slice local
    relation (see module docstring). ``schema`` is a DDL string or
    StructType, exactly as ``createDataFrame`` accepts. Rows are not
    checked against the schema here: a malformed row fails when the
    first action runs its task, not at construction."""
    data = rows if isinstance(rows, list) else list(rows)
    if not data:
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), schema
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )
