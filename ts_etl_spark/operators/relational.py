"""Relational operator surface (SURVEY.md §2.4 core): filter/project, joins
(inner/left/semi/anti, broadcast + shuffle), aggregations (hash agg,
distinct, rollup/cube/grouping sets), window functions, sort/limit/top-k,
set operations — all TPC-H-style over the driver tables.

Determinism contract with the DuckDB oracle
-------------------------------------------
Sums over doubles are order-sensitive in IEEE arithmetic and Spark/DuckDB
aggregate in different orders. Every money/rate column in the test tables is
an exact 2-decimal double, so each aggregation here casts operands to
DECIMAL(18,2) first (exact, associative, order-insensitive), sums in decimal
space, and casts the final result back to DOUBLE — bit-identical across
engines and across partitionings. Averages are SUM(decimal)::double / count.

Scale notes (100 TB design point)
---------------------------------
- Fixed-cardinality dimensions (region, nation — constant size at ANY SF)
  carry explicit broadcast hints. SF-scaling tables (customer, supplier,
  part) are joined UNHINTED: the autoBroadcastJoinThreshold + AQE broadcast
  them while small and fall back to shuffle joins at scale — a forced hint
  would OOM materializing a multi-TB side at 100 TB.
- Aggregations are partial (map-side combine) by construction — plain
  ``groupBy().agg()`` — so the shuffle carries one row per group per task.
- Filters are plain column predicates on the scan side of every join, so
  Catalyst pushes them into the parquet scan (check ``PushedFilters``).
- Top-k is ``orderBy().limit()`` which Spark executes as
  TakeOrderedAndProject: per-partition heaps, no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_etl_spark.localrel import local_rows
from ts_etl_spark.operators import sketches as _sketches
from ts_etl_spark.sources.tables import load_table, narrow_scan, spread_input

DEC = T.DecimalType(18, 2)


def dec(c: Column | str) -> Column:
    """Exact 2-decimal view of a money/rate double (see module docstring)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(DEC)


def money_sum(expr: Column) -> Column:
    """Order-insensitive exact sum, surfaced as DOUBLE."""
    return F.sum(expr).cast("double")


def day_str(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(c, "yyyy-MM-dd")


# --------------------------------------------------------------------------
# TPC-H-style analytics
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter + hash aggregate with partial agg.
    One shuffle, 6-ish groups; filter pushed to parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec("l_quantity")).alias("sum_qty"),
            money_sum(dec("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            (money_sum(dec("l_quantity")) / F.count("*")).alias("avg_qty"),
            (money_sum(dec("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (money_sum(dec("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF: no forced broadcast hint — the session's
        # autoBroadcastJoinThreshold + AQE convert to broadcast when the
        # filtered side is actually small, and fall back to SMJ at 100 TB
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", day_str("o_orderdate").alias("o_orderdate"))
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dims, region filter pushed
    through nation to the fact side via the join graph."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        # supplier scales with SF: unhinted (threshold/AQE decide); nation and
        # region have fixed cardinality at any SF so their hints are safe
        .join(sup, (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(revenue).alias("revenue"))
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches
    the parquet scan as PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(dec("l_extendedprice") * dec("l_discount")).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Relational core: filter/project, joins, distinct, set ops, top-k
# --------------------------------------------------------------------------


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level filter + computed projection + deterministic hash sampling;
    no shuffle at all. The 1/8 sample keys on md5 of the row identity —
    reproducible in any engine and stable under repartitioning, the honest
    way to sample at scale when downstream must re-derive membership
    (pushable predicates still reach the scan; the md5 residual is a
    post-scan filter inside the same codegen stage)."""
    li = load_table(spark, sf_dir, "lineitem")
    net = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    sample = F.substring(
        F.md5(F.concat_ws("#", "l_orderkey", "l_linenumber")), 1, 1
    ).isin("0", "1")
    return li.filter((F.col("l_returnflag") == "R") & sample).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        net.cast("double").alias("net_price"),
    )


def _join_broadcast_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim + agg, broadcast chosen by the PLANNER — the plan-test
    target for threshold/AQE behavior (registered via ``join_variants``)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            money_sum(dec("o_totalprice")).alias("m"),
        )
    )


def q_join_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-TPC-H join surface in one tagged union, unified schema
    (op, k, n, m double-nullable):

    - ``bcast_inner``: fact ⋈ dim + agg — broadcast chosen by the PLANNER
      (size-based threshold + AQE), not a hard hint: customer scales with
      SF, so a forced broadcast would OOM at 100 TB while the unhinted join
      degrades to SMJ.
    - ``left``: left outer join preserving customers with no orders
      (COUNT over the nullable side + coalesced money sum).
    - ``semi`` / ``anti``: EXISTS / NOT EXISTS as one-pass hash joins that
      never duplicate probe rows.
    - ``full``: FULL OUTER join of two per-customer aggregates (open vs
      finished order counts) — rows surviving from either side with nulls
      on the other, the outer-join semantics the left arm can't show.

    Branches intentionally share nothing — each demonstrates the native
    join strategy with its own minimal plan; the union adds no exchange."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bcast = _join_broadcast_arm(spark, sf_dir).select(
        F.lit("bcast_inner").alias("op"), F.col("c_mktsegment").alias("k"), "n", "m"
    )
    left = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n"),
            money_sum(F.coalesce(dec("o_totalprice"), F.lit(0).cast(DEC))).alias("m"),
        )
        .select(F.lit("left").alias("op"), F.col("c_custkey").cast("string").alias("k"), "n", "m")
    )
    fo = orders.filter(F.col("o_orderstatus") == "F")
    semi = cust.join(fo, cust.c_custkey == fo.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"),
        F.col("c_name").alias("k"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("m"),
    )
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.lit("anti").alias("op"),
        F.col("c_name").alias("k"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("m"),
    )
    o_agg = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("ok"))
        .agg(F.count("*").alias("oc"))
    )
    f_agg = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("fk"))
        .agg(F.count("*").alias("fc"))
    )
    full = o_agg.join(f_agg, o_agg.ok == f_agg.fk, "full_outer").select(
        F.lit("full").alias("op"),
        F.coalesce(F.col("ok"), F.col("fk")).cast("string").alias("k"),
        F.col("oc").alias("n"),
        F.col("fc").cast("double").alias("m"),
    )
    return (
        bcast.unionByName(left)
        .unionByName(semi)
        .unionByName(anti)
        .unionByName(full)
    )


def q_agg_extensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT), ROLLUP, CUBE and GROUPING SETS in one tagged union —
    Spark expands each grouping extension into a single Expand + hash
    aggregate (one scan, one shuffle per branch; no per-grouping re-scan),
    and the exact distinct agg into the two-phase expand-distinct plan.
    Unified schema (op, k1, k2, n, m double-nullable).

    The ``distinct`` arm aggregates ONCE and unpivots the three measures
    into rows (count-distinct parts / suppliers, raw row count) — one scan,
    one distinct-agg, a cost-free projection fan-out. The ``stats`` arm
    adds the moment aggregates (sample stddev/variance, correlation) the
    same way, rounded to 6 decimals to absorb last-ulp differences between
    the engines' streaming-moment implementations."""
    li = load_table(spark, sf_dir, "lineitem")
    dist = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.count("*").alias("n_rows"),
    )
    distinct_arm = None
    for measure in ("distinct_parts", "distinct_suppliers", "n_rows"):
        arm = dist.select(
            F.lit("distinct").alias("op"),
            F.col("l_returnflag").alias("k1"),
            F.lit(measure).alias("k2"),
            F.col(measure).alias("n"),
            F.lit(None).cast("double").alias("m"),
        )
        distinct_arm = arm if distinct_arm is None else distinct_arm.unionByName(arm)
    stats = li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("stddev_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )
    for measure in ("stddev_qty", "var_qty", "corr_qty_price"):
        arm = stats.select(
            F.lit("stats").alias("op"),
            F.col("l_linestatus").alias("k1"),
            F.lit(measure).alias("k2"),
            F.lit(None).cast("long").alias("n"),
            F.col(measure).alias("m"),
        )
        distinct_arm = distinct_arm.unionByName(arm)
    return distinct_arm.unionByName(_grouping_extensions(spark, sf_dir))


def _grouping_extensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP / CUBE / GROUPING SETS arms (op, k1, k2, n, m)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), money_sum(dec("l_quantity")).alias("m"))
        .select(
            F.lit("rollup").alias("op"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("k1"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("k2"),
            "n",
            "m",
        )
    )
    cube = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), money_sum(dec("o_totalprice")).alias("m"))
        .select(
            F.lit("cube").alias("op"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("k1"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("k2"),
            "n",
            "m",
        )
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS op,
               coalesce(l_returnflag, 'ALL') AS k1,
               coalesce(l_linestatus, 'ALL') AS k2,
               count(*) AS n,
               CAST(NULL AS DOUBLE) AS m
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    return rollup.unionByName(cube).unionByName(gsets)


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k without a global sort (TakeOrderedAndProject).
    Registered as the ``topk`` arm of ``set_operations`` since round 8
    (the 50-entry cap — the freed slot went to ``corpus_report``); kept
    as a standalone callable for the plan-shape tests."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice", day_str("o_orderdate").alias("o_orderdate")
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full set-operation surface in one tagged union: INTERSECT /
    EXCEPT / UNION (set semantics, incl. the implicit DISTINCT) and
    EXCEPT ALL / INTERSECT ALL (bag semantics, multiplicity-aware), plus
    the reshape surface (pivot → unpivot round-trip, folded in when the
    registry consolidated ``pivot_unpivot`` — the 50-entry cap), plus the
    global top-k arm (``q_topk_orders`` folded in round 8: TakeOrdered,
    never a global sort). Each branch is a single keyed shuffle (the
    pivot arm one grouped aggregation + a shuffle-free Expand; the topk
    arm a TakeOrderedAndProject); the union concatenates partitions
    without any extra exchange. Unified schema ``(op, k1, k2, n, v)``:
    set rows carry the customer key in k1; pivot rows carry (status,
    priority, count); topk rows carry (orderkey, orderdate, custkey,
    totalprice)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    branches = [
        ("intersect", o.intersect(f)),
        ("except", o.subtract(f)),
        ("union", o.union(p).distinct()),
        ("except_all", o.exceptAll(f)),
        ("intersect_all", o.intersectAll(f)),
    ]
    ns = F.lit(None).cast("string")
    nb = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    out = None
    for tag, df in branches:
        tagged = df.select(
            F.lit(tag).alias("op"),
            F.col("o_custkey").cast("string").alias("k1"),
            ns.alias("k2"),
            nb.alias("n"),
            nd.alias("v"),
        )
        out = tagged if out is None else out.unionByName(tagged)
    from ts_etl_spark.operators.advanced import q_pivot_unpivot

    pivoted = q_pivot_unpivot(spark, sf_dir).select(
        F.lit("pivot").alias("op"),
        F.col("o_orderstatus").alias("k1"),
        F.col("priority").alias("k2"),
        "n",
        nd.alias("v"),
    )
    topk = q_topk_orders(spark, sf_dir).select(
        F.lit("topk").alias("op"),
        F.col("o_orderkey").cast("string").alias("k1"),
        F.col("o_orderdate").alias("k2"),
        F.col("o_custkey").cast("bigint").alias("n"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    return out.unionByName(pivoted).unionByName(topk)


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/navigation/frame window surface over ONE window spec —
    row_number, lag, lead, percent_rank, running sum and partitioned ntile
    share the same (partition, order), so Spark plans a SINGLE shuffle +
    sort and evaluates all six in one Window operator. The ntile is
    PARTITIONED (per-customer quartiles): an unpartitioned ranking window
    is a single-partition global sort — the scale-safe global-distribution
    variant is ``ntile_bucketed``."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day_str("o_orderdate").alias("o_orderdate"),
        F.row_number().over(w).alias("rn"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")).alias(
            "days_to_next"
        ),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.sum(dec("o_totalprice")).over(wsum).cast("double").alias("running_total"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------------
# Further TPC-H shapes (adapted to the driver tables' columns)
# --------------------------------------------------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Two independent broadcast dim paths (supplier-nation, customer-nation)
    off the same fact scan."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = load_table(spark, sf_dir, "nation")
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(money_sum(revenue).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned revenue in a window."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer, then
    customers per order count (including zero-order customers)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue %)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0).cast(DEC))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(part, li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * money_sum(promo) / money_sum(revenue)).alias(
                "promo_revenue_pct"
            )
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregate, joined back to dims."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(money_sum(dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            day_str("o_orderdate").alias("o_orderdate"),
            "total_qty",
        )
    )


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across a join (brand/size/qty bands)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 40))
    )
    return joined.filter(cond).agg(
        money_sum(revenue).alias("revenue"), F.count("*").alias("n_items")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style semi join + priority counts (orders with
    at least one lineitem shipped after the order date)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue, keep the max (ties included)
    via a scalar aggregate comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(money_sum(revenue).alias("total_revenue"))
    max_rev = per_supp.agg(F.max("total_revenue").alias("m"))
    return (
        # max_rev is a 1-row aggregate at any SF — its hint is safe; supplier
        # scales with SF, so it joins unhinted (threshold/AQE decide)
        per_supp.join(F.broadcast(max_rev), per_supp.total_revenue == max_rev.m)
        .join(sup, per_supp.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: lowest-cost EUROPE supplier per part. The driver
    tables have no partsupp, so the part-supplier cost relation derives
    from lineitem: cost(part, supp) = MIN(l_extendedprice) — MIN is
    order-insensitive and exact on doubles, so both engines agree
    bit-for-bit.

    The textbook formulation is a correlated scalar MIN subquery; Catalyst
    de-correlates it into an aggregate + join — but because the derived ps
    CTE is referenced in BOTH the outer query and the subquery, that plan
    scans and aggregates lineitem TWICE (Spark inlines CTEs; persisting ps
    was measured slower cold — cache materialization exceeds the second
    aggregation). This window formulation — join the EUROPE chain once,
    ``MIN(cost) OVER (PARTITION BY ps_partkey)``, filter cost = min — is
    the plan you'd want at 100 TB: ONE fact scan, one agg, one join chain,
    one keyed window shuffle. Measured ~30% faster at sf0.1; output proven
    identical to the subquery form (the DuckDB oracle deliberately KEEPS
    the correlated-subquery formulation, making the parity check a
    cross-formulation equivalence). Correlated scalar-subquery
    de-correlation stays exercised by q17 and scalar_subquery."""
    for t in ("lineitem", "part", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q2_{t}")
    return spark.sql(
        """
        WITH ps AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   MIN(l_extendedprice) AS cost
            FROM q2_lineitem GROUP BY l_partkey, l_suppkey
        ), eur AS (
            SELECT ps_partkey, ps_suppkey, cost, s_acctbal, s_name, n_name
            FROM ps
            JOIN q2_supplier ON s_suppkey = ps_suppkey
            JOIN q2_nation   ON s_nationkey = n_nationkey
            JOIN q2_region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ), w AS (
            SELECT *, MIN(cost) OVER (PARTITION BY ps_partkey) AS mincost
            FROM eur
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
        FROM w JOIN q2_part ON p_partkey = ps_partkey
        WHERE p_size <= 15 AND cost = mincost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
        LIMIT 100
        """
    )


def q20_promo_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a chain of semi-joins gated by an aggregate-vs-
    aggregate predicate. Adapted to the driver tables (no partsupp.availqty):
    suppliers in the ASIA region who shipped more than 30% of their all-time
    PROMO-part volume during 1996. Every membership test is a left-semi join
    (no probe-row duplication, no distinct needed); the aggregate ratio is a
    single grouped pass over the fact table."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01")) & (
        F.col("l_shipdate") < F.lit("1997-01-01")
    )
    per_ps = (
        li.join(promo, li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            money_sum(F.when(in96, dec("l_quantity")).otherwise(F.lit(0).cast(DEC))).alias(
                "qty96"
            ),
            money_sum(dec("l_quantity")).alias("qty_all"),
        )
    )
    qualified = per_ps.filter(F.col("qty96") > F.lit(0.3) * F.col("qty_all")).select(
        "l_suppkey"
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
        "left_semi",
    )
    return (
        sup.join(qualified, sup.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(F.broadcast(asia_nations), sup.s_nationkey == asia_nations.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AVG subquery — average yearly
    revenue lost if small-quantity orders (below 20% of the per-part mean
    quantity) for one brand moved to bulk. Catalyst de-correlates the
    per-part average into an aggregate + join; the decimal-space SUM /
    COUNT mean is bit-identical across engines."""
    for t in ("lineitem", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q17_{t}")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM q17_lineitem
        JOIN q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) / COUNT(*))
            FROM q17_lineitem l2 WHERE l2.l_partkey = p_partkey
          )
        """
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — NATION_3's share of AMERICA's
    ECONOMY-part revenue by order year. Two independent nation lookups
    (customer side gates the region, supplier side tags the origin) off one
    fact scan; the share is a conditional-aggregate ratio per group."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", revenue).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((money_sum(nat_rev) / money_sum(revenue)).alias("mkt_share"))
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year. The driver tables
    have no partsupp.supplycost, so cost derives from the part list price:
    profit = rev − p_retailprice × quantity — same join graph (fact ⋈ part ⋈
    supplier ⋈ nation), all decimal-space so both engines agree exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))
    amount = revenue - dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").alias("o_year"))
        .agg(money_sum(amount).alias("profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value held by NATION_1
    suppliers exceeds 0.1% of that nation's total — a grouped aggregate
    HAVING-compared against a scalar aggregate of itself. The scalar total
    is a 1-row broadcast at any SF (its hint is safe); value is
    price × quantity in decimal space."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    value = dec("l_extendedprice") * dec("l_quantity")
    per_part = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey, "left_semi")
        .groupBy("l_partkey")
        .agg(money_sum(value).alias("value"))
    )
    total = per_part.agg(F.sum("value").alias("total"))
    return (
        per_part.join(F.broadcast(total), F.lit(True))
        .filter(F.col("value") > F.lit(0.001) * F.col("total"))
        .select("l_partkey", "value")
    )


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts of high- vs low-priority orders
    per line status for 1996 shipments (the driver tables have no
    l_shipmode; l_linestatus plays its role). One join, one grouped pass,
    both counts from the same CASE aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    excluding one brand, one type and complaint suppliers (NOT IN → left-anti
    join). The part-supplier relation derives from lineitem via DISTINCT —
    one dedup shuffle, then a multi-key grouped COUNT(DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    sizes = [1, 4, 9, 14, 19, 24, 29, 34]
    ps = li.select("l_partkey", "l_suppkey").distinct()
    complaints = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(sizes)
    )
    return (
        ps.join(complaints, ps.l_suppkey == complaints.s_suppkey, "left_anti")
        .join(pf, ps.l_partkey == pf.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone delayed finished orders — late
    means shipped >30 days after the order date (the driver tables have no
    commit/receipt dates). The textbook form is a double correlated
    EXISTS / NOT EXISTS on the fact table; this formulation replaces both
    with ONE per-order aggregate (distinct suppliers, distinct late
    suppliers) joined back to the late rows — two fact-scan passes total,
    no correlated re-probes. The DuckDB oracle deliberately keeps the
    EXISTS form, making the parity check a cross-formulation equivalence."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    sup = load_table(spark, sf_dir, "supplier")
    lif = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    per_order = lif.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supps"),
    )
    sole_late_orders = per_order.filter(
        (F.col("n_supps") >= 2) & (F.col("n_late_supps") == 1)
    ).select("l_orderkey")
    return (
        lif.filter(late)
        .join(sole_late_orders, "l_orderkey", "left_semi")
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: untapped high-balance customers — above the average
    positive balance of their cohort, with no order since 2000 (every
    customer has SOME order in the driver data, so the anti-join predicate
    is recency, preserving the NOT EXISTS + scalar-subquery shape). The
    scalar average is a 1-row broadcast; the anti join streams the orders
    side."""
    nkeys = [1, 3, 5, 7, 9, 11, 13]
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(nkeys)
    )
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        "o_custkey"
    )
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        (money_sum(dec("c_acctbal")) / F.count("*")).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_pos), F.lit(True))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            money_sum(dec("c_acctbal")).alias("totacctbal"),
        )
    )


def q_ntile_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe GLOBAL decile assignment: instead of the single-partition
    sort an unpartitioned ``ntile`` window needs, compute 9 internal decile
    boundaries with ``percentile_approx`` (one partial-merge aggregate),
    broadcast them, and assign buckets with a pure map-side expression —
    two linear passes, no global sort, the pattern that survives 100 TB.

    The boundaries are approximate (Greenwald-Khanna sketch), so bucket
    populations are verified against a ±3% band around N/10 rather than
    hash-matched: the output is (bucket, ok) with the oracle asserting TRUE
    for all ten buckets from its exact quantiles."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.percentile_approx(
            "o_totalprice",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            10000,
        ).alias("cuts")
    )
    bucket = F.lit(1) + F.aggregate(
        F.col("cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col("o_totalprice") > c, 1).otherwise(0),
    )
    sized = (
        orders.join(F.broadcast(cuts), F.lit(True))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    total = F.sum("cnt").over(Window.partitionBy())  # 10 rows — trivial
    return sized.select(
        F.col("bucket").cast("int").alias("bucket"),
        # tolerance: 3% of the expected decile population (= total * 0.003)
        (F.abs(F.col("cnt") - total / 10.0) <= total * F.lit(0.003)).alias("ok"),
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface — string ops over o_orderpriority /
    o_orderstatus, date ops over o_orderdate, and math ops over
    o_totalprice in one shuffle-free projection, each expression mirrored
    exactly in the oracle (ISO weekday, month-end-clamping add_months,
    last_day). Transcendentals (ln/exp/pow) are rounded to 6 decimals —
    they are libm-dependent and may differ in the last ulp between the
    JVM and DuckDB's C++ runtime; sqrt is IEEE-correctly-rounded and needs
    no tolerance."""
    orders = load_table(spark, sf_dir, "orders")
    s = F.col("o_orderpriority")
    d = F.col("o_orderdate").cast("date")
    p = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.upper(s).alias("up"),
        F.substring(s, 1, 5).alias("first5"),
        F.lpad(F.col("o_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(s).alias("rev"),
        F.length(s).alias("len"),
        F.translate(s, "-", "_").alias("translated"),
        F.concat_ws("|", s, F.col("o_orderstatus")).alias("joined"),
        F.instr(s, "-").alias("dash_pos"),
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        (F.weekday(d) + 1).alias("isodow"),
        F.date_add(d, 30).alias("plus30"),
        F.add_months(d, 2).alias("plus2m"),
        F.last_day(d).alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch0"),
        F.sqrt(p).alias("sqrt_price"),
        F.round(F.log(p), 6).alias("ln_price"),
        F.round(F.log10(p), 6).alias("log10_price"),
        F.round(F.pow(p, F.lit(0.25)), 6).alias("price_4th_root"),
        F.abs(p - F.lit(100000.0)).alias("abs_dev"),
        F.ceil(p).cast("long").alias("ceil_price"),
        F.floor(p).cast("long").alias("floor_price"),
        F.round(p, -2).alias("round_hundreds"),
        F.sign(p - F.lit(100000.0)).alias("sign_dev"),
        F.pmod(F.col("o_orderkey"), F.lit(97)).alias("mod97"),
        F.greatest(p, F.lit(50000.0)).alias("floor50k"),
        F.least(p, F.lit(200000.0)).alias("cap200k"),
    )


def q_scalar_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free projection surface in one tagged union (registry
    consolidation of ``filter_project_sample`` + ``scalar_functions``):
    the ``sample_filter`` arm is the predicate + computed projection +
    deterministic md5 hash sample over lineitem; the ``scalar_fns`` arm is
    the 30-expression string/date/math function sweep over orders. Each
    arm stays a single whole-stage-codegen scan; the union fills the other
    arm's columns with typed NULLs (no exchange anywhere)."""
    filt = q_filter_project(spark, sf_dir).select(
        F.lit("sample_filter").alias("op"), "*"
    )
    scal = q_scalar_functions(spark, sf_dir).select(
        F.lit("scalar_fns").alias("op"), "*"
    )
    return filt.unionByName(scal, allowMissingColumns=True)


# --------------------------------------------------------------------------
# Approximate / sketch operators
# --------------------------------------------------------------------------


#: count-min probe keys for the gated estimates: three live partkeys (1..3
#: exist at every SF) plus one absent key (estimate = pure collision mass)
_CM_PROBE_KEYS = (1, 2, 3, 999999999)


def q_quantiles_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile/sketch surface in one long-format result
    (metric, value, ok), ALL oracle-checkable:

    - exact interpolated quantiles and exact COUNT(DISTINCT) hash-match the
      oracle's values directly;
    - the sketch results (HLL++ ``approx_count_distinct``, Greenwald-Khanna
      ``percentile_approx``) are engine-specific, so they are surfaced as
      bounded-relative-error BOOLEANS (|approx-exact|/exact within the
      sketch's documented bound) that the oracle asserts TRUE;
    - the scale-safe global-decile assignment (``q_ntile_bucketed``:
      percentile_approx boundaries broadcast + map-side bucketing, replacing
      the single-partition sort a global ``ntile`` needs) contributes ten
      ``decile_NN`` rows whose population-balance booleans the oracle
      asserts TRUE.

    The sketch paths stay exercised without an unverifiable raw value in
    the output.

    Round 3 adds the MERGEABLE sketch the opaque built-ins can't provide:
    `operators/sketches.py` materializes HLL registers from an
    engine-portable md5 derivation, so every ``hll_<bucket>`` register row
    is EXACT-value-matched by the DuckDB oracle (the only sketch here with
    value parity, not a tolerance boolean), and ``hll_estimate_ok`` asserts
    the estimator built from those registers lands within its documented
    error of the exact count.

    Round 5 adds the COUNTING dual: count-min cells over ``l_partkey``
    (``cm_<d>_<slot>`` rows, exact-value-matched like the HLL registers,
    sum-mergeable per ingest batch) plus exact-matched point estimates for
    three probe keys and the absent key 999999999, each also gated on the
    CM theorem pair (estimate ≥ true count always; overshoot ≤ e·N/width).

    Round 12 completes the mergeable-sketch triple with the RANK dual:
    HDR-histogram quantile registers over l_extendedprice cents
    (``hdr_<bucket>`` rows, exact-value-matched — the bucket index is
    pure integer/dyadic arithmetic, no libm log, so DuckDB reproduces
    every bucket bit-for-bit), quantile estimates for five probes
    (``hdr_est_q25..q99``, ALSO exact-value-matched: the rank walk is
    all-integer), the HDR error guarantee gated against the exact
    interpolated percentiles (``hdr_q25_ok..q99_ok``), and the merge
    law — registers of disjoint halves element-wise-summed equal the
    full table — as ``hdr_merge_ok`` (the monoid incremental ingest
    needs, the HLL/count-min discipline with SUM instead of MAX).

    Scan economics: the expensive one-row aggregate and both sketch
    register tables are BOUNDED results (1 row / ≤256 / ≤1024), so they
    materialize through the driver once and every downstream row kind
    reads the local relation — the previous shape re-evaluated the
    percentile + 3×count-distinct aggregate and the register scan per
    referencing union branch."""
    import math

    from ts_etl_spark.execution import overlap
    from ts_etl_spark.operators.sketches import (
        CM_WIDTH,
        cm_estimate,
        cm_registers,
        hdr_merge,
        hdr_quantile_estimates,
        hdr_registers,
        hll_estimate,
        hll_registers,
    )

    # NOT spread_input here (measured): the thread pool below already
    # runs six passes concurrently, so the single-task scans overlap
    # each other and saturate the cores; a spread would re-execute its
    # exchange once per referencing pass (+2s at sf0.1)
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile(
        "l_extendedprice",
        F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9, 0.99)]),
    )
    apct = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
    )
    # SEPARATE single-row jobs on purpose: mixing countDistinct with the
    # buffer-heavy aggregates is a planner trap — multiple DISTINCT
    # columns force an Expand + a first aggregate GROUPED BY the distinct
    # values, and every one of those ~hundreds-of-thousands of groups
    # allocates the percentile array + three 0.01-rsd HLL++ register
    # blocks (~100 KB each). Measured 185s at sf0.1 combined vs <5s
    # split; the split costs one extra (cheap, column-pruned) scan.
    #
    # Round 15 (guide §2.6 — overlap independent jobs): the entry's
    # construction used to run its driver actions back-to-back, so the
    # wall was the SUM of five independent lineitem passes even though
    # none of them saturates the cluster alone. They now run from a small
    # thread pool (actions are thread-safe; job descriptions are
    # thread-local) and the wall is the slowest pass. The exact-percentile
    # aggregate is additionally split from the sketch aggregate so the two
    # heaviest buffers don't serialize behind one job. Values are
    # unchanged by construction: every aggregate computes independently of
    # what it used to share a job with (exact percentiles / counts are
    # order-insensitive, HLL++ register maxes commute, and the GK
    # percentile_approx values were never exact-matched — they feed
    # tolerance booleans only).
    prow_agg = [
        pct.getItem(0).alias("p25"),
        pct.getItem(1).alias("p50"),
        pct.getItem(2).alias("p75"),
        pct.getItem(3).alias("p90"),
        pct.getItem(4).alias("p99"),
    ]
    srow_agg = [
        apct.getItem(0).alias("ap25"),
        apct.getItem(1).alias("ap50"),
        apct.getItem(2).alias("ap75"),
        F.approx_count_distinct("l_partkey", 0.01).alias("adp"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("ads"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("ado"),
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(F.col("l_partkey") == k, 1).otherwise(0)).alias(
                f"cm_true_{k}"
            )
            for k in _CM_PROBE_KEYS
        ],
    ]
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    # Round 16 (review finding): the exact-percentile/sketch aggregate
    # split is SIZE-CONDITIONAL on spread_input's guard (narrow_scan). On a
    # narrow scan (fewer splits than cores — the local test files) the
    # two passes overlap in the pool and the wall is the slower one; on
    # a cluster-saturating scan the sum of scans IS the cost, so the two
    # arms fuse back into ONE aggregate (their pre-split shape — no
    # countDistinct in it, so the Expand planner trap above does not
    # apply) and the input is read once. Values are identical either
    # way: every aggregate computes independently of its job-mates.
    narrow = narrow_scan(li)
    # Per-pass spread on the two passes that are both compute-heavy and
    # narrow-input-bound (A/B at sf0.1, pass alone: cm 2.3-2.5 → 0.6-1.4 s,
    # exact percentile 1.6-1.9 → 1.4 s; the sketch pass REGRESSED under a
    # spread — its 4-column exchange costs more than the parallelism buys
    # — and hll was neutral, so both stay as-is). Project to the one
    # needed column BEFORE the exchange (guide §2.3) and let spread_input's
    # guard keep production plans shuffle-free; the pool's other passes
    # each own a single task, so without this the heavy passes pin one
    # core each while most of the machine idles.
    li_price = spread_input(li.select("l_extendedprice"), "l_extendedprice")
    with overlap() as submit:
        if narrow:
            f_prow = submit(lambda: li_price.agg(*prow_agg).first())
            f_srow = submit(lambda: li.agg(*srow_agg).first())
        else:
            f_prow = submit(
                lambda: li.agg(*prow_agg, *srow_agg).first()
            )
            f_srow = f_prow
        f_drow = submit(
            lambda: li.agg(
                F.countDistinct("l_partkey").alias("distinct_parts"),
                F.countDistinct("l_suppkey").alias("distinct_suppliers"),
                F.countDistinct("l_orderkey").alias("distinct_orders"),
            ).first()
        )
        f_hll = submit(lambda: hll_registers(li, "l_partkey").collect())
        f_cm = submit(
            lambda: cm_registers(
                spread_input(li.select("l_partkey"), "l_partkey"),
                "l_partkey",
            ).collect()
        )
        f_hdr = submit(
            lambda: hdr_registers(
                li.select(
                    (F.col("l_orderkey") % 2).alias("par"), cents.alias("cents")
                ),
                "cents",
                extra_keys=("par",),
            ).collect()
        )
        arow = {
            **f_prow.result().asDict(),
            **f_srow.result().asDict(),
            **f_drow.result().asDict(),
        }
        hll_collected = f_hll.result()
        cm_collected = f_cm.result()
        par_regs = f_hdr.result()

    def rel_ok(approx, exact, bound):
        return bool(abs(arow[approx] - arow[exact]) <= arow[exact] * bound)

    long_rows = [
        (name, float(arow[name]), True)
        for name in (
            "p25",
            "p50",
            "p75",
            "p90",
            "p99",
            "distinct_parts",
            "distinct_suppliers",
            "distinct_orders",
        )
    ] + [
        ("ap25_ok", None, rel_ok("ap25", "p25", 0.01)),
        ("ap50_ok", None, rel_ok("ap50", "p50", 0.01)),
        ("ap75_ok", None, rel_ok("ap75", "p75", 0.01)),
        ("adp_ok", None, rel_ok("adp", "distinct_parts", 0.05)),
        ("ads_ok", None, rel_ok("ads", "distinct_suppliers", 0.05)),
        ("ado_ok", None, rel_ok("ado", "distinct_orders", 0.05)),
    ]
    schema = "metric STRING, value DOUBLE, ok BOOLEAN"
    long = local_rows(spark, long_rows, schema)
    nd = F.lit(None).cast("double")

    deciles = q_ntile_bucketed(spark, sf_dir).select(
        F.concat(
            F.lit("decile_"), F.lpad(F.col("bucket").cast("string"), 2, "0")
        ).alias("metric"),
        nd.alias("value"),
        "ok",
    )

    regs = local_rows(spark, hll_collected, "bucket STRING, rho INT")
    reg_rows = regs.select(
        F.concat(F.lit("hll_"), F.col("bucket")).alias("metric"),
        F.col("rho").cast("double").alias("value"),
        F.lit(True).alias("ok"),
    )
    # m=256 ⇒ standard error 6.5%; 0.15 ≈ a 2.3-sigma band (soak-checked
    # at sf0.1 too, so an SF-dependent excursion would surface pre-driver)
    est_row = hll_estimate(spark, regs).select(
        F.lit("hll_estimate_ok").alias("metric"),
        nd.alias("value"),
        (
            F.abs(F.col("estimate") - F.lit(int(arow["distinct_parts"])))
            <= F.lit(int(arow["distinct_parts"])) * 0.15
        ).alias("ok"),
    )

    cm = local_rows(spark, cm_collected, "d INT, slot INT, c BIGINT")
    cm_rows = cm.select(
        F.concat(
            F.lit("cm_"),
            F.col("d").cast("string"),
            F.lit("_"),
            F.lpad(F.col("slot").cast("string"), 3, "0"),
        ).alias("metric"),
        F.col("c").cast("double").alias("value"),
        F.lit(True).alias("ok"),
    )
    # 3x the e*N/width bound ON PURPOSE: the CM overshoot theorem is
    # probabilistic (holds with prob 1 - e^-depth ~ 98% per key), and a
    # new SF is a fresh hash draw — the slack keeps the gate meaningful
    # (collision mass is still O(N/width)) without a ~7% chance that one
    # of the four probe keys false-fails the whole driver row. Verified
    # stable at sf0.001/0.01/0.1 (soak), same discipline as the HLL
    # estimate band.
    overshoot = 3 * math.ceil(math.e * arow["n_rows"] / CM_WIDTH)
    truth = F.create_map(
        *[
            x
            for k in _CM_PROBE_KEYS
            for x in (F.lit(str(k)), F.lit(int(arow[f"cm_true_{k}"])))
        ]
    )
    cm_est_rows = cm_estimate(spark, cm, list(_CM_PROBE_KEYS)).select(
        F.concat(F.lit("cm_est_"), F.col("key")).alias("metric"),
        F.col("estimate").cast("double").alias("value"),
        (
            (F.col("estimate") >= F.coalesce(truth[F.col("key")], F.lit(0)))
            & (
                F.col("estimate")
                <= F.coalesce(truth[F.col("key")], F.lit(0)) + F.lit(overshoot)
            )
        ).alias("ok"),
    )
    # hdr arm (round 12): the mergeable QUANTILE sketch completing the
    # sketch triple (HLL = distinct, count-min = frequency, HDR = rank).
    # Pure integer/dyadic bucket arithmetic means FULL value parity —
    # every register row and every quantile estimate hash-matches the
    # oracle, not just a tolerance boolean (see sketches._hdr_index).
    # ONE lineitem scan for the whole arm (round 13 — was three): the
    # per-parity register table is built in a single pass (collected
    # concurrently above) and the even/odd/full tables are sliced out of
    # its ≤2×960 collected rows (counts partition exactly by parity, so
    # full = even + odd is an identity, not an approximation); the
    # merge-law gate then runs over local relations.
    halves: dict[int, dict[int, int]] = {0: {}, 1: {}}
    for r in par_regs:
        halves[int(r["par"])][int(r["bucket"])] = int(r["n"])
    full_counts: dict[int, int] = {}
    for h in halves.values():
        for b, n in h.items():
            full_counts[b] = full_counts.get(b, 0) + n
    reg_schema = "bucket INT, n BIGINT"
    hdr_full = local_rows(
        spark, sorted(full_counts.items()), reg_schema
    )
    hdr_reg_rows = hdr_full.select(
        F.concat(
            F.lit("hdr_"), F.lpad(F.col("bucket").cast("string"), 3, "0")
        ).alias("metric"),
        F.col("n").cast("double").alias("value"),
        F.lit(True).alias("ok"),
    )
    ests = {
        round(r["phi"] * 100): r["estimate"]
        for r in hdr_quantile_estimates(hdr_full).collect()
    }
    # estimate rows carry exact value parity; the _ok rows gate the HDR
    # guarantee against the independently exact interpolated percentile
    # (both engines already hash-match p25..p99, so the booleans agree):
    # the bucket bound is 2^-s = 6.25%; 0.15 adds the cont-vs-disc rank
    # definition gap plus headroom, same discipline as hll_estimate_ok
    hdr_est_rows = [
        (f"hdr_est_q{tag}", float(ests[tag]), True) for tag in sorted(ests)
    ]
    hdr_ok_rows = [
        (
            f"hdr_q{tag}_ok",
            None,
            bool(abs(ests[tag] / 100.0 - arow[p]) <= arow[p] * 0.15),
        )
        for tag, p in ((25, "p25"), (50, "p50"), (75, "p75"),
                       (90, "p90"), (99, "p99"))
    ]
    # merge law gate: registers of disjoint halves, hdr_merge'd, must
    # equal the full table EXACTLY (the monoid the incremental-ingest
    # path relies on) — a full-outer compare folded to one boolean row,
    # over the per-parity slices of the fused single scan above (the
    # gate still exercises the REAL hdr_merge operator; only the
    # register derivation is shared)
    even = local_rows(spark, sorted(halves[0].items()), reg_schema)
    odd = local_rows(spark, sorted(halves[1].items()), reg_schema)
    merged = hdr_merge(even, odd)
    mismatches = (
        merged.join(hdr_full.withColumnRenamed("n", "n_full"), "bucket", "full")
        .filter(
            F.col("n").isNull()
            | F.col("n_full").isNull()
            | (F.col("n") != F.col("n_full"))
        )
        .count()
    )
    hdr_merge_row = [("hdr_merge_ok", None, mismatches == 0)]
    hdr_local = local_rows(
        spark, hdr_est_rows + hdr_ok_rows + hdr_merge_row, schema
    )
    return (
        long.unionByName(deciles)
        .unionByName(reg_rows)
        .unionByName(est_row)
        .unionByName(cm_rows)
        .unionByName(cm_est_rows)
        .unionByName(hdr_reg_rows)
        .unionByName(hdr_local)
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_segment_revenue": q3_segment_revenue,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_revenue_forecast": q6_revenue_forecast,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "q20_promo_share_suppliers": q20_promo_share_suppliers,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q12_priority_class": q12_priority_class,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_sales_opportunity": q22_sales_opportunity,
    "scalar_projections": q_scalar_projections,
    "join_variants": q_join_variants,
    "agg_extensions": q_agg_extensions,
    "set_operations": q_set_operations,
    "window_functions": q_window_functions,
    "quantiles_sketches": q_quantiles_sketches,
}

# DuckDB oracle SQL. Decimal-space aggregation mirrors the Spark side so
# results are bit-identical (see module docstring).
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

ORACLE = {
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM({_REV}) AS DOUBLE) AS sum_disc_price,
               CAST(SUM({_REV} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_segment_revenue": f"""
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        ORDER BY CAST(SUM({_REV}) AS DOUBLE) DESC, o_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "q6_revenue_forecast": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7_volume_shipping": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, n_name,
               CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3
        ORDER BY CAST(SUM({_REV}) AS DOUBLE) DESC, c_custkey
        LIMIT 20
    """,
    "q13_order_count_distribution": """
        SELECT c_count, COUNT(*) AS custdist FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        ) GROUP BY c_count
    """,
    "q14_promo_revenue": f"""
        SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                     / CAST(SUM({_REV}) AS DOUBLE) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    "q18_large_orders": """
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_disjunctive_predicates": f"""
        SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 20)
           OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 30)
           OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 40)
    """,
    "q2_min_cost_supplier": """
        WITH ps AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   MIN(l_extendedprice) AS cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
        FROM ps
        JOIN part     ON p_partkey = ps.ps_partkey
        JOIN supplier ON s_suppkey = ps.ps_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE p_size <= 15 AND r_name = 'EUROPE'
          AND cost = (
            SELECT MIN(ps2.cost)
            FROM ps ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN nation   n2 ON n2.n_nationkey = s2.s_nationkey
            JOIN region   r2 ON r2.r_regionkey = n2.n_regionkey
            WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE'
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps.ps_suppkey
        LIMIT 100
    """,
    "q20_promo_share_suppliers": """
        WITH per_ps AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                                  AND l_shipdate <  TIMESTAMP '1997-01-01'
                                 THEN CAST(l_quantity AS DECIMAL(18,2))
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty96,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_all
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM per_ps WHERE qty96 > 0.3 * qty_all)
          AND s_nationkey IN (
            SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA')
    """,
    "q17_small_quantity_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                               AS DOUBLE) / COUNT(*))
            FROM lineitem l2 WHERE l2.l_partkey = p_partkey
          )
    """,
    "q8_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {_REV}
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM({_REV}) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        GROUP BY 1
    """,
    "q9_product_profit": f"""
        SELECT n_name, CAST(year(l_shipdate) AS INT) AS o_year,
               CAST(SUM({_REV} - CAST(p_retailprice AS DECIMAL(18,2))
                                 * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'STANDARD'
        GROUP BY 1, 2
    """,
    "q11_important_stock": """
        WITH val AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
            GROUP BY l_partkey
        )
        SELECT l_partkey, value FROM val
        WHERE value > 0.001 * (SELECT SUM(value) FROM val)
    """,
    "q12_priority_class": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """,
    "q16_supplier_part_counts": """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """,
    "q21_waiting_suppliers": """
        WITH li AS (
            SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM li l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 30 DAY
          AND EXISTS (SELECT 1 FROM li l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM li l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l3.o_orderdate + INTERVAL 30 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q22_sales_opportunity": """
        SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM customer
            WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
    """,
    "_filter_arm": f"""
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST({_REV} AS DOUBLE) AS net_price
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                         || CAST(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    "join_variants": """
        SELECT 'bcast_inner' AS op, c_mktsegment AS k, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'left' AS op, CAST(c_custkey AS VARCHAR) AS k,
               COUNT(o_orderkey) AS n,
               CAST(SUM(COALESCE(CAST(o_totalprice AS DECIMAL(18,2)),
                                 CAST(0 AS DECIMAL(18,2)))) AS DOUBLE) AS m
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        UNION ALL
        SELECT 'semi' AS op, c_name AS k, CAST(NULL AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS m
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        UNION ALL
        SELECT 'anti' AS op, c_name AS k, CAST(NULL AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS m
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT 'full' AS op, CAST(COALESCE(a.ok, b.fk) AS VARCHAR) AS k,
               a.oc AS n, CAST(b.fc AS DOUBLE) AS m
        FROM (SELECT o_custkey AS ok, COUNT(*) AS oc FROM orders
              WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
        FULL OUTER JOIN
             (SELECT o_custkey AS fk, COUNT(*) AS fc FROM orders
              WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
          ON a.ok = b.fk
    """,
    "agg_extensions": """
        WITH dist AS (
            SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS distinct_parts,
                   COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
                   COUNT(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT 'distinct' AS op, l_returnflag AS k1, 'distinct_parts' AS k2,
               distinct_parts AS n, CAST(NULL AS DOUBLE) AS m FROM dist
        UNION ALL
        SELECT 'distinct' AS op, l_returnflag AS k1, 'distinct_suppliers' AS k2,
               distinct_suppliers AS n, CAST(NULL AS DOUBLE) AS m FROM dist
        UNION ALL
        SELECT 'distinct' AS op, l_returnflag AS k1, 'n_rows' AS k2,
               n_rows AS n, CAST(NULL AS DOUBLE) AS m FROM dist
        UNION ALL
        SELECT 'stats' AS op, l_linestatus AS k1, s.k2,
               CAST(NULL AS BIGINT) AS n, s.m
        FROM (
            SELECT l_linestatus,
                   round(stddev_samp(l_quantity), 6) AS stddev_qty,
                   round(var_samp(l_quantity), 6) AS var_qty,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
            FROM lineitem GROUP BY l_linestatus
        ) t, LATERAL (VALUES ('stddev_qty', t.stddev_qty),
                             ('var_qty', t.var_qty),
                             ('corr_qty_price', t.corr_qty_price)) s(k2, m)
        UNION ALL
        SELECT 'rollup' AS op,
               coalesce(l_returnflag, 'ALL') AS k1,
               coalesce(l_linestatus, 'ALL') AS k2,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS m
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'cube' AS op,
               coalesce(o_orderstatus, 'ALL') AS k1,
               coalesce(o_orderpriority, 'ALL') AS k2,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        UNION ALL
        SELECT 'gsets' AS op,
               coalesce(l_returnflag, 'ALL') AS k1,
               coalesce(l_linestatus, 'ALL') AS k2,
               COUNT(*) AS n,
               CAST(NULL AS DOUBLE) AS m
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "set_operations": """
        WITH tagged AS (
            SELECT 'intersect' AS op, o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            UNION ALL
            SELECT 'except' AS op, o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                EXCEPT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            UNION ALL
            SELECT 'union' AS op, o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                UNION
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
            UNION ALL
            SELECT 'except_all' AS op, o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                EXCEPT ALL
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            UNION ALL
            SELECT 'intersect_all' AS op, o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                INTERSECT ALL
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        )
        SELECT op, CAST(o_custkey AS VARCHAR) AS k1,
               CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS n,
               CAST(NULL AS DOUBLE) AS v
        FROM tagged
        UNION ALL
        SELECT 'topk' AS op, CAST(o_orderkey AS VARCHAR) AS k1,
               strftime(o_orderdate, '%Y-%m-%d') AS k2,
               o_custkey AS n, CAST(o_totalprice AS DOUBLE) AS v
        FROM (SELECT * FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
        UNION ALL
        SELECT 'pivot' AS op, o_orderstatus AS k1, priority AS k2, n,
               CAST(NULL AS DOUBLE) AS v
        FROM (
            WITH wide AS (
                SELECT o_orderstatus,
                       COUNT(*) FILTER (o_orderpriority = '1-URGENT')        AS p1,
                       COUNT(*) FILTER (o_orderpriority = '2-HIGH')          AS p2,
                       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3,
                       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
                       COUNT(*) FILTER (o_orderpriority = '5-LOW')           AS p5
                FROM orders GROUP BY o_orderstatus
            )
            SELECT o_orderstatus, 'p1' AS priority, p1 AS n FROM wide
            UNION ALL SELECT o_orderstatus, 'p2', p2 FROM wide
            UNION ALL SELECT o_orderstatus, 'p3', p3 FROM wide
            UNION ALL SELECT o_orderstatus, 'p4', p4 FROM wide
            UNION ALL SELECT o_orderstatus, 'p5', p5 FROM wide
        )
    """,
    "window_functions": """
        SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(ROW_NUMBER() OVER w AS INT) AS rn,
               CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate)
                    AS INT) AS days_since_prev,
               CAST(date_diff('day', o_orderdate, LEAD(o_orderdate) OVER w)
                    AS INT) AS days_to_next,
               round(PERCENT_RANK() OVER w, 6) AS pct_rank,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total,
               CAST(NTILE(4) OVER w AS INT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    "q15_top_supplier": f"""
        WITH per_supp AS (
            SELECT l_suppkey, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM per_supp)
    """,
    "_scalar_arm": """
        SELECT o_orderkey,
               upper(o_orderpriority) AS up,
               substr(o_orderpriority, 1, 5) AS first5,
               lpad(CAST(o_custkey AS VARCHAR), 10, '0') AS padded_key,
               reverse(o_orderpriority) AS rev,
               CAST(length(o_orderpriority) AS INT) AS len,
               replace(o_orderpriority, '-', '_') AS translated,
               o_orderpriority || '|' || o_orderstatus AS joined,
               CAST(strpos(o_orderpriority, '-') AS INT) AS dash_pos,
               CAST(year(o_orderdate) AS INT) AS y,
               CAST(quarter(o_orderdate) AS INT) AS q,
               CAST(month(o_orderdate) AS INT) AS m,
               CAST(day(o_orderdate) AS INT) AS dom,
               CAST(isodow(o_orderdate) AS INT) AS isodow,
               CAST(o_orderdate AS DATE) + 30 AS plus30,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch0,
               sqrt(o_totalprice) AS sqrt_price,
               round(ln(o_totalprice), 6) AS ln_price,
               round(log10(o_totalprice), 6) AS log10_price,
               round(pow(o_totalprice, 0.25), 6) AS price_4th_root,
               abs(o_totalprice - 100000.0) AS abs_dev,
               CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
               CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
               round(o_totalprice, -2) AS round_hundreds,
               CAST(sign(o_totalprice - 100000.0) AS DOUBLE) AS sign_dev,
               CAST(o_orderkey % 97 AS BIGINT) AS mod97,
               greatest(o_totalprice, 50000.0) AS floor50k,
               least(o_totalprice, 200000.0) AS cap200k
        FROM orders
    """,
    "quantiles_sketches": """
        WITH agg AS (
            SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
                   quantile_cont(l_extendedprice, 0.50) AS p50,
                   quantile_cont(l_extendedprice, 0.75) AS p75,
                   quantile_cont(l_extendedprice, 0.90) AS p90,
                   quantile_cont(l_extendedprice, 0.99) AS p99,
                   CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS distinct_parts,
                   CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS distinct_suppliers,
                   CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS distinct_orders
            FROM lineitem
        ),
        cmreg AS ("""
    + _sketches.cm_registers_sql("lineitem", "l_partkey")
    + """),
        hreg AS ("""
    + _sketches.hdr_registers_sql(
        "(SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS cents FROM lineitem)",
        "cents",
    )
    + """),
        hest AS ("""
    + _sketches.hdr_estimates_sql("hreg")
    + """)
        SELECT 'p25' AS metric, p25 AS value, TRUE AS ok FROM agg
        UNION ALL SELECT 'p50', p50, TRUE FROM agg
        UNION ALL SELECT 'p75', p75, TRUE FROM agg
        UNION ALL SELECT 'p90', p90, TRUE FROM agg
        UNION ALL SELECT 'p99', p99, TRUE FROM agg
        UNION ALL SELECT 'distinct_parts', distinct_parts, TRUE FROM agg
        UNION ALL SELECT 'distinct_suppliers', distinct_suppliers, TRUE FROM agg
        UNION ALL SELECT 'distinct_orders', distinct_orders, TRUE FROM agg
        UNION ALL SELECT k, CAST(NULL AS DOUBLE), TRUE
        FROM (VALUES ('ap25_ok'), ('ap50_ok'), ('ap75_ok'),
                     ('adp_ok'), ('ads_ok'), ('ado_ok'),
                     ('hdr_q25_ok'), ('hdr_q50_ok'), ('hdr_q75_ok'),
                     ('hdr_q90_ok'), ('hdr_q99_ok'), ('hdr_merge_ok')) t(k)
        UNION ALL
        SELECT 'decile_' || lpad(CAST(range AS VARCHAR), 2, '0'),
               CAST(NULL AS DOUBLE), TRUE
        FROM range(1, 11)
        UNION ALL
        SELECT 'hll_' || bucket, CAST(rho AS DOUBLE), TRUE
        FROM ("""
    + _sketches.HLL_REGISTERS_SQL.format(table="lineitem", col="l_partkey")
    + """) hll
        UNION ALL SELECT 'hll_estimate_ok', CAST(NULL AS DOUBLE), TRUE
        UNION ALL
        SELECT 'cm_' || CAST(d AS VARCHAR) || '_' || lpad(CAST(slot AS VARCHAR), 3, '0'),
               CAST(c AS DOUBLE), TRUE
        FROM cmreg
        """
    + "".join(
        f"""
        UNION ALL SELECT 'cm_est_{k}',
               CAST({_sketches.cm_estimate_sql("cmreg", str(k))} AS DOUBLE), TRUE
        """
        for k in _CM_PROBE_KEYS
    )
    + """
        UNION ALL
        SELECT 'hdr_' || lpad(CAST(bucket AS VARCHAR), 3, '0'),
               CAST(n AS DOUBLE), TRUE
        FROM hreg
        """
    + "".join(
        f"""
        UNION ALL SELECT 'hdr_est_q{round(p * 100)}',
               CAST((SELECT estimate FROM hest WHERE phi = {p!r}) AS DOUBLE),
               TRUE
        """
        for p in _sketches.HDR_PHIS
    ),
}

# scalar_projections oracle: the two arm oracles survive as private keys
# above; the registered entry is their positional union with typed NULLs
# filling the other arm's columns (mirrors unionByName(allowMissing)).
_FILTER_COLS = (
    ("l_orderkey", "BIGINT"),
    ("l_linenumber", "INTEGER"),
    ("l_quantity", "DOUBLE"),
    ("net_price", "DOUBLE"),
)
_SCALAR_COLS = (
    ("o_orderkey", "BIGINT"),
    ("up", "VARCHAR"),
    ("first5", "VARCHAR"),
    ("padded_key", "VARCHAR"),
    ("rev", "VARCHAR"),
    ("len", "INTEGER"),
    ("translated", "VARCHAR"),
    ("joined", "VARCHAR"),
    ("dash_pos", "INTEGER"),
    ("y", "INTEGER"),
    ("q", "INTEGER"),
    ("m", "INTEGER"),
    ("dom", "INTEGER"),
    ("isodow", "INTEGER"),
    ("plus30", "DATE"),
    ("plus2m", "DATE"),
    ("month_end", "DATE"),
    ("days_since_epoch0", "INTEGER"),
    ("sqrt_price", "DOUBLE"),
    ("ln_price", "DOUBLE"),
    ("log10_price", "DOUBLE"),
    ("price_4th_root", "DOUBLE"),
    ("abs_dev", "DOUBLE"),
    ("ceil_price", "BIGINT"),
    ("floor_price", "BIGINT"),
    ("round_hundreds", "DOUBLE"),
    ("sign_dev", "DOUBLE"),
    ("mod97", "BIGINT"),
    ("floor50k", "DOUBLE"),
    ("cap200k", "DOUBLE"),
)

ORACLE["scalar_projections"] = f"""
    SELECT 'sample_filter' AS op,
           {", ".join(c for c, _ in _FILTER_COLS)},
           {", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in _SCALAR_COLS)}
    FROM ({ORACLE.pop("_filter_arm")})
    UNION ALL
    SELECT 'scalar_fns' AS op,
           {", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in _FILTER_COLS)},
           {", ".join(c for c, _ in _SCALAR_COLS)}
    FROM ({ORACLE.pop("_scalar_arm")})
"""
