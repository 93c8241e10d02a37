"""Skew-mitigation patterns (SURVEY.md §2.4 scale notes).

AQE's skew-join splitting (enabled in session.py) handles most runtime skew;
these explicit patterns cover the cases AQE cannot: aggregation hot keys and
broadcast-infeasible dimension joins against a skewed fact key.

- ``salted_aggregate``: two-phase aggregation — partial agg on
  (key, salt), final agg on key. The hot key's load spreads over
  ``n_salt`` reducers in phase 1; phase 2 only merges ``n_salt`` rows per
  key. Supports the decomposable aggregates (count/sum/min/max).
- ``salted_join``: replicate the dimension side ``n_salt`` times, salt the
  fact side deterministically — the hot fact key spreads over ``n_salt``
  co-partitioned streams.
- ``bucketed_running_sum``: cumulative sums over a HOT window key without
  one giant per-key sort partition — the two-level scan pattern (local
  running sums per order-bucket, then a tiny per-key window over bucket
  totals supplies each bucket's starting offset).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _fact_salt(df: DataFrame, n_salt: int) -> Column:
    """Deterministic per-row salt: hash of the whole row spreads a hot key
    uniformly without RNG (keeps results reproducible across retries)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    measures: dict[str, str],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``measures`` maps column -> one of count/sum/min/max (the decomposable
    aggregates: merge(partial) == total). Output columns are ``<fn>_<col>``.
    """
    partial_aggs, final_aggs = [], []
    for col, fn in measures.items():
        out = f"{fn}_{col}"
        if fn == "count":
            partial_aggs.append(F.count(col).alias(out))
            final_aggs.append(F.sum(out).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(out))
            final_aggs.append(F.sum(out).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(out))
            final_aggs.append(F.min(out).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(out))
            final_aggs.append(F.max(out).alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    partial = (
        df.withColumn(_SALT, _fact_salt(df, n_salt))
        .groupBy(*keys, _SALT)
        .agg(*partial_aggs)
    )
    return partial.groupBy(*keys).agg(*final_aggs)


def bucketed_running_sum(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    n_buckets: int = 32,
    out: str = "running_total",
    broadcast_ranges: bool = False,
) -> DataFrame:
    """Skew-safe per-key cumulative sum.

    A plain ``Window.partitionBy(key).orderBy(order)`` running sum puts a
    hot key's ENTIRE history in one task's sort. This splits the order
    dimension into ``n_buckets`` hash-free range buckets (ntile over the
    per-key order percentiles would need a sort too, so buckets come from a
    uniform split of the ORDER VALUE range — cheap, deterministic, and skew
    in bucket sizes only costs balance, never correctness):

    1. per (key, bucket): local running sum — parallel sorts of slices,
    2. per key: exclusive prefix of bucket totals over the (tiny) bucket
       index — ``n_buckets`` rows per key through one small window,
    3. local sum + bucket offset = the global running sum.

    Requires ``order`` to be numeric/timestamp-like (range-bucketable) and
    (key, order) unique for a deterministic result — same requirement the
    plain window has.

    ``broadcast_ranges`` hints the (one row per key) min/max range frame as
    the broadcast side of the bucketing join.  Pass True when the key
    cardinality is KNOWN small — in particular for a constant key (a global
    cumsum), where Catalyst folds the trivially-true equi-condition away
    and would otherwise plan a CartesianProduct.  Leave False for
    high-cardinality keys: the default shuffle equi-join co-partitions both
    sides by key, while a forced broadcast of millions of range rows would
    not fit an executor.
    """
    from pyspark.sql.window import Window

    rng = df.groupBy(key).agg(
        F.min(order).alias("__lo"), F.max(order).alias("__hi")
    )
    if broadcast_ranges:
        rng = F.broadcast(rng)
    d = df.join(rng, key)
    span = F.col("__hi").cast("double") - F.col("__lo").cast("double")
    rel = F.when(
        span > 0,
        (F.col(order).cast("double") - F.col("__lo").cast("double")) / span,
    ).otherwise(F.lit(0.0))
    bucket = F.least(
        F.floor(rel * n_buckets).cast("int"), F.lit(n_buckets - 1)
    ).alias("__bucket")
    d = d.select(*df.columns, bucket)

    local_w = (
        Window.partitionBy(key, "__bucket")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.select(
        *df.columns, "__bucket", F.sum(value).over(local_w).alias("__local_rs")
    )
    totals = d.groupBy(key, "__bucket").agg(F.sum(value).alias("__btotal"))
    off_w = (
        Window.partitionBy(key)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        key,
        "__bucket",
        F.coalesce(F.sum("__btotal").over(off_w), F.lit(0)).alias("__offset"),
    )
    return (
        local.join(offsets, [key, "__bucket"])
        .select(*df.columns, (F.col("__local_rs") + F.col("__offset")).alias(out))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: dim replicated ``n_salt``×, fact salted, join on
    (key, salt). Correct for inner/left joins on a unique dim key."""
    salted_fact = fact.withColumn(_SALT, _fact_salt(fact, n_salt))
    replicated_dim = dim.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = salted_fact.join(replicated_dim, [on, _SALT], how)
    return out.drop(_SALT)
