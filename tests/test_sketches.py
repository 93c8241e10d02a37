"""Mergeable HLL registers: exact cross-engine parity (the md5 derivation
is reproduced verbatim by DuckDB), merge-equals-recompute (the property
that makes the register table a persistable incremental state), and the
estimator's documented error bound at two scale factors."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ts_etl_spark.operators.sketches import (
    HLL_REGISTERS_SQL,
    hll_estimate,
    hll_merge,
    hll_registers,
)

SF = "/root/testdata/sf0.001"


def _lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_registers_exactly_match_duckdb(spark):
    got = {
        r.bucket: r.rho
        for r in hll_registers(_lineitem(spark), "l_partkey").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'"
    )
    want = dict(
        con.execute(
            HLL_REGISTERS_SQL.format(table="lineitem", col="l_partkey")
        ).fetchall()
    )
    assert got == want


def test_merge_equals_recompute_on_union(spark):
    """max-merge of per-batch registers == registers of the full dataset:
    the invariant incremental ingest relies on (state table + batch, never
    a history re-scan)."""
    li = _lineitem(spark)
    whole = {r.bucket: r.rho for r in hll_registers(li, "l_partkey").collect()}
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = {
        r.bucket: r.rho
        for r in hll_merge(
            hll_registers(a, "l_partkey"), hll_registers(b, "l_partkey")
        ).collect()
    }
    assert merged == whole


def test_estimate_within_documented_error(spark):
    """Small-range (linear counting) regime at sf0.001 and the raw-
    estimator regime at sf0.01 both land inside the 15% gate the
    registered query asserts (2.3 sigma for m=256)."""
    for sf in ("sf0.001", "sf0.01"):
        li = spark.read.parquet(f"/root/testdata/{sf}/lineitem.parquet")
        exact = li.select(F.countDistinct("l_partkey")).first()[0]
        est = hll_estimate(
            spark, hll_registers(li, "l_partkey")
        ).first().estimate
        assert abs(est - exact) / exact <= 0.15, (sf, exact, est)


def test_nulls_excluded_and_register_count_bounded(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("a",)], "v STRING"
    )
    regs = hll_registers(df, "v").collect()
    # two distinct non-null values -> at most two occupied registers
    assert 1 <= len(regs) <= 2
    assert all(r.rho >= 1 for r in regs)


def test_all_null_column_estimates_zero_distinct(spark):
    df = spark.createDataFrame([(None,), (None,)], "v STRING")
    regs = hll_registers(df, "v")
    assert regs.count() == 0
    # 256 empty registers -> linear counting: 256 * ln(256/256) = 0
    assert hll_estimate(spark, regs).first().estimate == 0.0


def test_invalid_p_rejected(spark):
    df = spark.createDataFrame([("a",)], "v STRING")
    with pytest.raises(ValueError):
        hll_registers(df, "v", p=7)
    with pytest.raises(ValueError):
        hll_estimate(spark, hll_registers(df, "v"), p=12)


def test_register_plan_is_partial_aggregated(spark):
    """The shuffle must carry at most 2^p rows per task: the plan has a
    partial HashAggregate below the exchange (map-side combine on the
    256 buckets), not a raw-row shuffle."""
    plan = (
        hll_registers(_lineitem(spark), "l_partkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_max" in plan or "partial" in plan.lower()


# --------------------------------------------------------------------------
# Count-min sketch
# --------------------------------------------------------------------------


def test_cm_cells_exactly_match_duckdb(spark):
    from ts_etl_spark.operators.sketches import cm_registers, cm_registers_sql

    got = {
        (r.d, r.slot): r.c
        for r in cm_registers(_lineitem(spark), "l_partkey").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'"
    )
    want = {
        (d, s): c
        for d, s, c in con.execute(
            cm_registers_sql("lineitem", "l_partkey")
        ).fetchall()
    }
    assert got == want


def test_cm_merge_equals_recompute_on_union(spark):
    """sum-merge of per-batch counters == counters of the full dataset."""
    from ts_etl_spark.operators.sketches import cm_merge, cm_registers

    li = _lineitem(spark)
    whole = {(r.d, r.slot): r.c for r in cm_registers(li, "l_partkey").collect()}
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = {
        (r.d, r.slot): r.c
        for r in cm_merge(
            cm_registers(a, "l_partkey"), cm_registers(b, "l_partkey")
        ).collect()
    }
    assert merged == whole


def test_cm_estimates_never_underestimate_and_bound_overshoot(spark):
    """The count-min theorem pair: est >= true always (each cell holds the
    key's count plus non-negative collision mass), and the overshoot stays
    within the e*N/width regime (deterministic data + hash, so pinned)."""
    import math

    from ts_etl_spark.operators.sketches import (
        CM_WIDTH,
        cm_estimate,
        cm_registers,
    )

    li = _lineitem(spark)
    regs = cm_registers(li, "l_partkey")
    keys = [1, 2, 3, 999_999_999]  # 3 live keys + one absent
    est = {
        r.key: r.estimate
        for r in cm_estimate(spark, regs, keys).collect()
    }
    true = {
        str(k): c
        for k, c in (
            li.filter(F.col("l_partkey").isin(*keys))
            .groupBy("l_partkey")
            .count()
            .select(F.col("l_partkey").cast("string"), "count")
            .collect()
        )
    }
    n = li.count()
    for k in map(str, keys):
        t = true.get(k, 0)
        assert est[k] >= t, (k, est[k], t)
        assert est[k] <= t + math.ceil(math.e * n / CM_WIDTH), (k, est[k], t, n)


def test_cm_nulls_excluded_and_cell_count_bounded(spark):
    from ts_etl_spark.operators.sketches import CM_DEPTH, CM_WIDTH, cm_registers

    df = spark.createDataFrame([(1,), (None,), (1,), (2,)], "v INT")
    regs = cm_registers(df, "v").collect()
    # 2 distinct live values x 4 rows, but cells can collide within a row
    assert len(regs) <= CM_DEPTH * min(2, CM_WIDTH)
    assert sum(r.c for r in regs) == 3 * CM_DEPTH  # 3 non-null occurrences
    with pytest.raises(ValueError):
        cm_registers(df, "v", width=1)


def test_cm_register_plan_is_partial_aggregated(spark):
    """The shuffle must carry pre-aggregated cells (<= depth*width rows per
    task), not one row per input occurrence."""
    from ts_etl_spark.operators.sketches import cm_registers

    plan = (
        cm_registers(_lineitem(spark), "l_partkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan or "HashAggregate" in plan
    first_agg = plan.find("HashAggregate")
    exch = plan.find("Exchange")
    assert first_agg != -1 and exch != -1 and first_agg < exch or plan.count("HashAggregate") >= 2


# --------------------------------------------------------------------------
# Grouped HLL
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# HDR histogram (round 12): the mergeable quantile sketch
# --------------------------------------------------------------------------


def test_hdr_index_lower_width_invariants(spark):
    """Exhaustive structural check over a dense small range plus probes
    around every power of two up to 2^40: indexes are contiguous-ish and
    monotone, lower(index(v)) <= v < lower+width, width/lower <= 2^-s,
    and small values are EXACT (their own bucket)."""
    from ts_etl_spark.operators.sketches import (
        HDR_S,
        hdr_lower,
        hdr_width,
        _hdr_index,
    )

    probes = list(range(0, 5000))
    for e in range(13, 53):
        probes += [2**e - 1, 2**e, 2**e + 1, 2**e + 3 * 2 ** (e - 2)]
    probes += [2**53 - 1, 2**53]  # the inclusive domain boundary
    df = spark.createDataFrame([(v,) for v in probes], "v long")
    rows = df.select(
        "v",
        _hdr_index(F.col("v"), HDR_S).alias("b"),
        hdr_lower(_hdr_index(F.col("v"), HDR_S)).alias("lo"),
        hdr_width(_hdr_index(F.col("v"), HDR_S)).alias("w"),
    ).collect()
    for r in rows:
        assert r.lo <= r.v < r.lo + r.w, (r.v, r.b, r.lo, r.w)
        if r.v < 2 ** (HDR_S + 1):
            assert r.b == r.v and r.w == 1
        else:
            assert r.w <= r.lo * 2**-HDR_S, (r.v, r.lo, r.w)
    # monotone: v1 <= v2 => index(v1) <= index(v2)
    by_v = sorted((r.v, r.b) for r in rows)
    for (v1, b1), (v2, b2) in zip(by_v, by_v[1:]):
        assert b1 <= b2, (v1, b1, v2, b2)


def test_hdr_registers_match_duckdb_and_merge_law(spark):
    from ts_etl_spark.operators.sketches import (
        hdr_merge,
        hdr_registers,
        hdr_registers_sql,
    )

    li = _lineitem(spark)
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    src = li.select(cents.alias("cents"))
    got = sorted((r.bucket, r.n) for r in hdr_registers(src, "cents").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
        " * 100 AS BIGINT) AS cents FROM"
        " parquet_scan('/root/testdata/sf0.001/lineitem.parquet')"
    )
    exp = sorted(
        (int(b), int(n))
        for b, n in con.execute(hdr_registers_sql("t", "cents")).fetchall()
    )
    assert got == exp
    # merge law: element-wise SUM of disjoint splits == full recompute
    parts = [
        hdr_registers(
            li.filter(F.col("l_orderkey") % 3 == i).select(cents.alias("cents")),
            "cents",
        )
        for i in range(3)
    ]
    merged = sorted((r.bucket, r.n) for r in hdr_merge(*parts).collect())
    assert merged == got


def test_hdr_quantile_estimates_bound_and_sql_parity(spark):
    """Every estimate is the lower bound of the bucket holding the
    ceil(phi*n)-th smallest value: est <= truth < est * (1 + 2^-s) + 1,
    and the DuckDB walk returns the identical integers."""
    import math

    from ts_etl_spark.operators.sketches import (
        HDR_PHIS,
        HDR_S,
        hdr_estimates_sql,
        hdr_quantile_estimates,
        hdr_registers,
        hdr_registers_sql,
    )

    li = _lineitem(spark)
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    regs = hdr_registers(li.select(cents.alias("cents")), "cents")
    got = {r.phi: r.estimate for r in hdr_quantile_estimates(regs).collect()}
    vals = sorted(
        r.cents for r in li.select(cents.alias("cents")).collect()
    )
    n = len(vals)
    for phi in HDR_PHIS:
        truth = vals[max(int(math.ceil(phi * n)), 1) - 1]
        est = got[phi]
        assert est <= truth <= est * (1 + 2**-HDR_S) + 1, (phi, est, truth)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
        " * 100 AS BIGINT) AS cents FROM"
        " parquet_scan('/root/testdata/sf0.001/lineitem.parquet')"
    )
    con.execute("CREATE VIEW hreg AS " + hdr_registers_sql("t", "cents"))
    exp = {
        float(p): int(e)
        for p, e in con.execute(hdr_estimates_sql("hreg")).fetchall()
    }
    assert got == exp


def test_hdr_out_of_domain_values_raise_and_nulls_excluded(spark):
    """Negative AND above-2^53 values refuse loudly: past 2^53 the
    dyadic-division shift rounds BEFORE the mantissa-bit extraction and
    would silently mis-bucket (2^62-1 casts to the double 2^62 — its
    bucket's lower bound then EXCEEDS the value, review finding)."""
    from ts_etl_spark.operators.sketches import hdr_registers

    bad = spark.createDataFrame([(5,), (-1,)], "v long")
    with pytest.raises(Exception, match="outside"):
        hdr_registers(bad, "v").collect()
    big = spark.createDataFrame([(2**62 - 1,)], "v long")
    with pytest.raises(Exception, match="outside"):
        hdr_registers(big, "v").collect()
    ok = spark.createDataFrame([(2**53,)], "v long")  # boundary included
    assert hdr_registers(ok, "v").count() == 1
    withnull = spark.createDataFrame([(5,), (None,), (17,)], "v long")
    regs = sorted((r.bucket, r.n) for r in hdr_registers(withnull, "v").collect())
    assert regs == [(5, 1), (17, 1)]  # small values are their own bucket


def test_hdr_register_plan_is_partial_aggregated(spark):
    """Same 100 TB discipline as HLL/CM: one narrow projection + one
    partial-aggregated groupBy — a single exchange carrying at most one
    row per occupied bucket per task."""
    from ts_etl_spark.plans.audit import num_exchanges

    from ts_etl_spark.operators.sketches import hdr_registers

    li = _lineitem(spark)
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    regs = hdr_registers(li.select(cents.alias("cents")), "cents")
    assert num_exchanges(regs) == 1
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2  # partial + final
