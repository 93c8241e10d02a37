"""Loader for the driver-generated scale-out parquet tables (TESTDATA.md).

These back the extension surface (SURVEY.md §2.4): TPC-H-ish relational
queries, event-time streaming, dedup/similarity/text operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.schema import SCALE_TABLES


def narrow_scan(df: DataFrame) -> bool:
    """True when the scan ``df`` yields fewer partitions than the
    session's ``defaultParallelism`` — the one scan-width guard. Call it
    on a scan (plus projections/filters), never on a frame with an
    exchange: ``df.rdd`` on an adaptive plan runs its shuffle stages."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.rdd.getNumPartitions() < par


def spread_input(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread a narrow scan across the session's cores — ONLY when
    the scan yields fewer partitions than ``defaultParallelism``
    (``narrow_scan``). This is the engine's one scan spread.

    The driver's test tables are single-row-group parquet files, so a
    scan is ONE task no matter the core count and every compute-heavy
    per-row projection (regex metrics, tokenization, value-buffering
    percentiles) runs on one core of 32 — guide §2.5's "one huge
    unsplittable file" case, whose prescription is to repartition right
    after the read. The spread is a ``REPARTITION_BY_NUM`` exchange,
which AQE never coalesces away, so the guard is what makes it
scale-adaptive: a production
    table scan has at least as many splits as cores, the condition never
    fires, and the published shuffle-free plan shapes are unchanged —
    this is a small-input ramp, not a cluster tuning knob. Apply it ONLY
    at consumers where downstream per-row compute dominates (text
    metrics, tokenize/shingle/embed, sketch value buffers); for cheap
    scan→aggregate paths the extra exchange costs more than the
    parallelism buys (measured: q6-shape 0.14s → 0.30s), and entries
    whose plan references the scan from MANY union branches re-execute
    the exchange per branch (measured: corpus_report 3.4s → 5.9s with a
    blanket spread at load time — so this is deliberately NOT inside
    ``load_table``)."""
    if not narrow_scan(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain ``spark.read.parquet`` — predicate pushdown,
    column pruning and partition pruning all reach this scan for free.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader only accepts as a raw long (``nanosAsLong``, set in session.py);
    it is converted to a micros timestamp here — same truncation DuckDB
    applies when reading nanos into its micros TIMESTAMP."""
    if name not in SCALE_TABLES:
        raise ValueError(f"Unknown table {name!r}; expected one of {SCALE_TABLES}")
    # defensive: timestamp rendering (date_format/strftime parity with the
    # TZ-naive DuckDB oracle) assumes a UTC session; pin it at runtime in
    # case the caller's session was built elsewhere. (Unconditional set —
    # conf.get with a default VALIDATES the default as a timezone.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # defensive: callers may hand us a session built without this conf
        # (it is runtime-settable); without it the scan rejects NANOS
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or SCALE_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for n in SCALE_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
