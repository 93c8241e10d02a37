"""Plan-shape regression tests: the properties that keep the headline
queries efficient at scale, pinned via .explain() (see plans/audit.py)."""

import re

import pytest
from pyspark.sql import functions as F

from tests.golden import CSV_FIXTURE, PRN_FIXTURE
from ts_etl_spark.operators.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
    q6_revenue_forecast,
    q_filter_project,
    _join_broadcast_arm,
    q_topk_orders,
)
from ts_etl_spark.plans.audit import (
    count_nodes,
    has_whole_stage_codegen,
    num_exchanges,
    plan_str,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.01"


def test_q6_filters_pushed_to_scan(spark):
    pf = pushed_filters(q6_revenue_forecast(spark, SF))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed to parquet scan: {pf}"


def test_q6_column_pruning(spark):
    (schema,) = read_schemas(q6_revenue_forecast(spark, SF))
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q1_single_shuffle_partial_agg(spark):
    df = q1_pricing_summary(spark, SF)
    assert num_exchanges(df) == 1  # one hash shuffle; map-side partial agg
    assert count_nodes(df, "HashAggregate") == 2  # partial + final


def test_q5_dimensions_broadcast(spark):
    df = q5_local_supplier_volume(spark, SF)
    assert count_nodes(df, "BroadcastHashJoin") >= 3
    # only the fact-to-fact join (lineitem ⋈ orders) may merge-join
    assert count_nodes(df, "SortMergeJoin") <= 1


def test_broadcast_join_no_fact_shuffle(spark):
    df = _join_broadcast_arm(spark, SF)
    assert count_nodes(df, "BroadcastHashJoin") == 1
    # the only exchange is the tiny post-agg one, never a fact-table shuffle
    assert num_exchanges(df) <= 1


def test_topk_no_global_sort(spark):
    df = q_topk_orders(spark, SF)
    assert count_nodes(df, "TakeOrderedAndProject") == 1
    assert count_nodes(df, "Sort") == 0


def test_filter_project_no_shuffle(spark):
    df = q_filter_project(spark, SF)
    assert num_exchanges(df) == 0
    assert pushed_filters(df)  # quantity/returnflag predicates reach the scan


@pytest.mark.parametrize("render", ["json_rows", "csv_rows"])
@pytest.mark.parametrize("source", ["csv", "prn"])
def test_csv_source_single_codegen_stage(spark, source, render):
    """A rendered sink streams a source frame in scan order: one codegen
    stage, no exchange and no sort between the scan and the driver."""
    from ts_etl_spark.sinks.csv_sink import csv_rows
    from ts_etl_spark.sinks.json_sink import json_rows
    from ts_etl_spark.sources import SOURCES

    fixture = CSV_FIXTURE if source == "csv" else PRN_FIXTURE
    rows = {"json_rows": json_rows, "csv_rows": csv_rows}[render]
    df = rows(SOURCES[source](spark, str(fixture)))
    assert num_exchanges(df) == 0, plan_str(df)
    assert count_nodes(df, "Sort") == 0, plan_str(df)
    assert has_whole_stage_codegen(df)


def test_events_tumbling_single_shuffle(spark):
    from ts_etl_spark.operators.events import q_events_tumbling

    df = q_events_tumbling(spark, SF)
    assert num_exchanges(df) == 1
    assert count_nodes(df, "HashAggregate") == 2


def test_embed_topk_broadcasts_queries(spark):
    from ts_etl_spark.operators.similarity import q_embed_topk

    df = q_embed_topk(spark, SF)
    # the query side broadcasts; the vector table is never shuffled pre-join
    assert count_nodes(df, "BroadcastNestedLoopJoin") + count_nodes(
        df, "BroadcastHashJoin"
    ) >= 1


def test_minhash_bounded_shuffles(spark):
    """MinHash-LSH must stay at a handful of exchanges (signature
    repartition, band self-join, verification joins) — a regression here
    means the quadratic path snuck back in."""
    from ts_etl_spark.operators.dedup import q_dedup_minhash_lsh

    df = q_dedup_minhash_lsh(spark, SF)
    assert num_exchanges(df) <= 8, plan_str(df)


def test_asof_single_window_pass(spark):
    from ts_etl_spark.operators.advanced import q_asof_purchase_view

    df = q_asof_purchase_view(spark, SF)
    assert count_nodes(df, "Window") == 1
    assert num_exchanges(df) <= 3  # two scans union + one keyed shuffle


def test_no_forced_broadcast_on_scaling_tables(spark):
    """Scale-safety of the join hints: with the size-based threshold disabled
    every join against an SF-scaling table (customer/supplier/part) must
    degrade to a shuffle join — proving no hard broadcast hint is attached
    (a forced hint is honored regardless of runtime size and would OOM
    materializing a multi-TB build side at 100 TB). Only fixed-cardinality
    sides (region, nation, the 1-row max_rev aggregate) stay broadcast."""
    from ts_etl_spark.operators.relational import (
        q3_segment_revenue,
        q7_volume_shipping,
        q14_promo_revenue,
        q15_top_supplier,
        q19_disjunctive_predicates,
    )

    # (query, broadcast joins expected with threshold off = hinted
    #  fixed-cardinality sides only, min shuffle joins = scaling-table joins)
    cases = [
        (q3_segment_revenue, 0, 2),  # li⋈orders, ⋈customer
        (q5_local_supplier_volume, 2, 3),  # nation+region hinted; li⋈o,⋈cust,⋈sup
        (_join_broadcast_arm, 0, 1),  # orders⋈customer
        (q7_volume_shipping, 2, 3),  # sn+cn hinted; li⋈o,⋈cust,⋈sup
        (q14_promo_revenue, 0, 1),  # li⋈part
        (q19_disjunctive_predicates, 0, 1),  # li⋈part
        (q15_top_supplier, 1, 1),  # max_rev hinted; ⋈supplier
    ]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q, n_bhj, n_smj in cases:
            df = q(spark, SF)
            assert count_nodes(df, "BroadcastHashJoin") == n_bhj, (
                q.__name__, plan_str(df))
            assert count_nodes(df, "SortMergeJoin") >= n_smj, (
                q.__name__, plan_str(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # ... and with the session defaults restored, the same joins DO broadcast
    # at test scale (size-based static planning; AQE re-plans at runtime too)
    for q, n_bhj, n_smj in cases:
        df = q(spark, SF)
        assert count_nodes(df, "BroadcastHashJoin") >= n_bhj + n_smj, (
            q.__name__, plan_str(df))


def test_ntile_bucketed_no_global_sort(spark):
    """The scale-safe global-decile query must contain NO Sort node at all —
    bucket assignment is approx-boundary + map-side expression, never an
    unpartitioned ranking window."""
    from ts_etl_spark.operators.relational import q_ntile_bucketed

    df = q_ntile_bucketed(spark, SF)
    assert count_nodes(df, "Sort") == 0, plan_str(df)


def test_ngram_prefix_join_bounded_shuffles(spark):
    """Prefix-filtered Jaccard join: DF count, per-doc prefix window,
    candidate join, verification joins — a fixed handful of exchanges.
    A regression here means the all-shingle quadratic join snuck back."""
    from ts_etl_spark.operators.dedup import q_dedup_ngram_topk

    df = q_dedup_ngram_topk(spark, SF)
    assert num_exchanges(df) <= 10, plan_str(df)
    assert count_nodes(df, "TakeOrderedAndProject") == 1  # top-k, no global sort


def test_neardup_blocking_plan_shape(spark):
    """IVF-blocked near-dup: the centroid assignment join must broadcast
    (the vector table never shuffles pre-assignment), and the whole plan
    stays within a fixed exchange budget — no all-pairs label self-join.
    The budget covers BOTH arms of the tagged union (pair blocking ≤10 +
    the SemDeDup arm's assignment window / cell self-join / argmax window
    / provenance left join)."""
    from ts_etl_spark.operators.similarity import q_embed_neardup_label

    df = q_embed_neardup_label(spark, SF)
    assert count_nodes(df, "BroadcastNestedLoopJoin") + count_nodes(
        df, "BroadcastHashJoin"
    ) >= 1, plan_str(df)
    assert count_nodes(df, "CartesianProduct") == 0, plan_str(df)
    assert num_exchanges(df) <= 24, plan_str(df)


def test_q2_single_fact_scan(spark):
    """Q2's window formulation exists to scan lineitem ONCE; the correlated
    subquery form scans it twice (CTE inlined into outer + subquery). Pin
    the single scan so a refactor back to the double-scan plan fails here."""
    from ts_etl_spark.operators.relational import q2_min_cost_supplier

    df = q2_min_cost_supplier(spark, SF)
    p = plan_str(df)
    assert len(re.findall(r"Scan parquet.*lineitem", p)) == 1 or p.count(
        "lineitem.parquet"
    ) == 1, p


def test_q20_all_semi_joins(spark):
    """The Q20 membership chain must plan as semi joins (no probe-row
    duplication, no distinct-then-join)."""
    from ts_etl_spark.operators.relational import q20_promo_share_suppliers

    df = q20_promo_share_suppliers(spark, SF)
    p = plan_str(df)
    n_semi = p.count("LeftSemi")
    assert n_semi >= 3, p


def test_window_functions_single_window_pass(spark):
    """The merged window query's selling point: row_number, lag, running
    sum and ntile share one (partition, order) spec → exactly ONE Window
    operator, ONE exchange, ONE sort."""
    from ts_etl_spark.operators.relational import q_window_functions

    df = q_window_functions(spark, SF)
    assert count_nodes(df, "Window") == 1, plan_str(df)
    assert num_exchanges(df) == 1, plan_str(df)
    assert count_nodes(df, "Sort") == 1, plan_str(df)


def test_group_extensions_expand_per_branch(spark):
    """Each grouping-extension branch plans as a single Expand + hash
    aggregate (one scan + one shuffle per branch — never a per-grouping
    re-scan)."""
    from ts_etl_spark.operators.relational import _grouping_extensions

    df = _grouping_extensions(spark, SF)
    assert count_nodes(df, "Expand") == 3, plan_str(df)
    assert num_exchanges(df) == 3, plan_str(df)


def test_pii_redaction_shuffle_free_codegen(spark):
    """PII counting + redaction + the INLINE blocklist signals must stay
    a pure map-side pass: zero exchanges, whole-stage codegen — at
    100 TB this runs at scan bandwidth or it doesn't run. The full
    registered entry additionally carries the >2048-term blocklist arm
    (round 11), whose explode/aggregate/join-back legitimately shuffles —
    bounded, and through a broadcast term probe, never a term-table
    shuffle."""
    from ts_etl_spark.operators.textops import (
        pii_blocklist_projection,
        q_text_pii_redaction,
    )
    from ts_etl_spark.sources.tables import load_table

    df = pii_blocklist_projection(load_table(spark, SF, "documents"))
    assert num_exchanges(df) == 0, plan_str(df)
    assert has_whole_stage_codegen(df)

    full = q_text_pii_redaction(spark, SF)
    assert num_exchanges(full) <= 6, plan_str(full)
    assert "BroadcastHashJoin" in plan_str(full)


def test_contamination_no_cartesian(spark):
    """The contamination join is an equi-join on the gram — never a
    cartesian product of real cardinality — and stays within a fixed
    exchange budget (gram join + per-doc aggregate + the bloom bitmap's
    word groupBy/1-row fold), not a self-join explosion. The ONLY
    nested-loop join allowed is the 1-row bitmap broadcast (a literal
    TRUE condition against a single-row build side is O(probe), not a
    blowup)."""
    from ts_etl_spark.operators.textops import q_text_contamination

    df = q_text_contamination(spark, SF)
    assert count_nodes(df, "CartesianProduct") == 0, plan_str(df)
    assert count_nodes(df, "BroadcastNestedLoopJoin") <= 1, plan_str(df)
    assert num_exchanges(df) <= 10, plan_str(df)


def test_aqe_converts_shuffle_join_to_broadcast_at_runtime(spark):
    """The adaptive half of the no-forced-hints story: with the STATIC
    broadcast threshold disabled the planner picks a sort-merge join, and
    AQE's runtime statistics convert it to a broadcast join during
    execution (isFinalPlan shows the converted operator) — exactly the
    fallback/upgrade behavior the unhinted scaling-table joins rely on."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "67108864")
    try:
        df = _join_broadcast_arm(spark, SF)
        assert count_nodes(df, "SortMergeJoin") >= 1  # static choice
        df.collect()  # execute THIS query execution so AQE finalizes it
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_runtime_bloom_filter_injected_for_selective_join(spark):
    """Runtime bloom-filter pruning (enabled in session.py, dormant below
    the 10 GiB application-side threshold): when forced active, a
    selective filtered dim side injects a bloom_filter_agg that prunes the
    fact side BEFORE its shuffle — the runtime-filter shape that cuts
    shuffle volume on multi-TB scans."""
    from ts_etl_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower(), plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Global anti-pattern sweep: EVERY registered query, not just the pinned ones
# ---------------------------------------------------------------------------

from ts_etl_spark.operators import all_queries

_SWEEP_SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_plan_antipatterns_any_query(spark, name):
    """The two anti-patterns that are NEVER acceptable at 100 TB, asserted
    over the whole registered surface so a new or edited query can't
    reintroduce them unnoticed:

    - ``CartesianProduct``: a non-broadcast cross join is quadratic I/O.
      (``BroadcastNestedLoopJoin`` is allowed — that's the bounded
      1-row-aggregate / centroid-set scalar-subquery pattern.)
    - ``BatchEvalPython``: a row-at-a-time Python UDF serializes every row
      through pickle; the only sanctioned Python path is Arrow-batched
      (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``).

    Plan-only (explain, no execution), so sweeping all 50 queries stays
    cheap."""
    df = all_queries()[name](spark, _SWEEP_SF)
    plan = plan_str(df)
    assert count_nodes(df, "CartesianProduct") == 0, f"{name}: cartesian join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
