"""Training-shard layout: deterministic membership and order, exact
one-file-per-shard layout, full coverage, balance, and composition with
sequence packing."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ts_etl_spark.pipelines.shards import assign_shards, write_training_shards

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def test_membership_is_deterministic_and_partition_independent(spark):
    docs = _docs(spark)
    a = {r.doc_id: r.shard for r in assign_shards(docs, 8, ["doc_id"]).collect()}
    b = {
        r.doc_id: r.shard
        for r in assign_shards(docs.repartition(13), 8, ["doc_id"]).collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(8))
    # a different seed reshuffles membership
    c = {
        r.doc_id: r.shard
        for r in assign_shards(docs, 8, ["doc_id"], seed="other").collect()
    }
    assert a != c
    with pytest.raises(ValueError):
        assign_shards(docs, 0, ["doc_id"])


def test_write_layout_coverage_balance_and_order(spark, tmp_path):
    docs = _docs(spark)
    n = docs.count()
    path = str(tmp_path / "shards")
    manifest = write_training_shards(docs, path, 8, ["doc_id"])
    assert sum(manifest.values()) == n
    # the manifest is dense over range(n_shards)
    assert sorted(manifest) == list(range(8))
    # every occupied shard dir holds EXACTLY one parquet file
    for k, cnt in manifest.items():
        files = glob.glob(os.path.join(path, f"shard={k}", "*.parquet"))
        assert len(files) == (1 if cnt else 0), k
    # roughly balanced (md5-uniform): no shard > 2x the fair share
    assert max(manifest.values()) <= 2 * (n / 8)
    # coverage: reading back equals the input
    back = spark.read.parquet(path)
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n
    # within-shard order is the sorted key order (read one file directly)
    f0 = glob.glob(os.path.join(path, "shard=0", "*.parquet"))[0]
    import pyarrow.parquet as pq

    ids = pq.read_table(f0, columns=["doc_id"])["doc_id"].to_pylist()
    assert ids == sorted(ids)


def test_rewrite_is_byte_stable(spark, tmp_path):
    """Two independent writes produce identical per-shard row sequences —
    the reproducible-training-run property."""
    docs = _docs(spark)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs, p1, 4, ["doc_id"])
    write_training_shards(docs.repartition(7), p2, 4, ["doc_id"])
    import pyarrow.parquet as pq

    for k in range(4):
        f1 = glob.glob(os.path.join(p1, f"shard={k}", "*.parquet"))
        f2 = glob.glob(os.path.join(p2, f"shard={k}", "*.parquet"))
        if not f1 and not f2:
            continue
        t1 = pq.read_table(f1[0], columns=["doc_id"])["doc_id"].to_pylist()
        t2 = pq.read_table(f2[0], columns=["doc_id"])["doc_id"].to_pylist()
        assert t1 == t2, k


def test_composes_with_sequence_packing(spark, tmp_path):
    """The trainer flow: pack documents into fixed-token bins, shard the
    bins — bin identity (pack_group, bin_idx) is the shard key, so a
    bin's documents travel together."""
    from ts_etl_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("n_tokens")
    )
    packed = pack_sequences(docs, 2048)
    path = str(tmp_path / "packed_shards")
    manifest = write_training_shards(
        packed, path, 4, ["pack_group", "bin_idx"],
        order_cols=["pack_group", "bin_idx", "doc_id"],
    )
    assert sum(manifest.values()) == packed.count()
    back = spark.read.parquet(path)
    # every bin lives wholly in one shard
    split_bins = (
        back.groupBy("pack_group", "bin_idx")
        .agg(F.count_distinct("shard").alias("n_shards"))
        .filter(F.col("n_shards") > 1)
        .count()
    )
    assert split_bins == 0


def test_cli_curate_pack_shard_flow(spark, tmp_path):
    """The full trainer-prep flow from the CLI surface: curate -> pack ->
    shard, each stage reading the previous stage's output."""
    from ts_etl_spark.cli import run_curate, run_pack, run_shard

    curated = str(tmp_path / "curated")
    packed = str(tmp_path / "packed")
    shards = str(tmp_path / "shards")
    run_curate(SF, curated, spark=spark)
    run_pack(curated, packed, 2048, spark=spark)
    manifest = run_shard(
        packed, shards, 4, ["pack_group", "bin_idx"],
        order=["pack_group", "bin_idx", "doc_id"], spark=spark,
    )
    total = sum(manifest.values())
    assert total == spark.read.parquet(packed).count() > 0
    for k, cnt in manifest.items():
        files = glob.glob(os.path.join(shards, f"shard={k}", "*.parquet"))
        assert len(files) == (1 if cnt else 0), k


def test_manifest_is_dense_when_shards_outnumber_rows(spark, tmp_path):
    """More shards than rows: every shard 0..n-1 still gets a manifest
    entry (0 for the empty ones), so a loader iterating the manifest
    never KeyErrors; empty shards have no directory by Hive-layout
    design."""
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id LONG, text STRING")
    path = str(tmp_path / "sparse")
    manifest = write_training_shards(docs, path, 16, ["doc_id"])
    assert sorted(manifest) == list(range(16))
    assert sum(manifest.values()) == 2
    empties = [k for k, c in manifest.items() if c == 0]
    assert empties, "16 shards over 2 rows must leave empty shards"
    for k in empties:
        assert not os.path.isdir(os.path.join(path, f"shard={k}"))


def test_cli_explain_prints_plan_and_registry(spark, capsys):
    import io

    from ts_etl_spark.cli import run_explain

    buf = io.StringIO()
    assert run_explain("q6_revenue_forecast", SF, spark=spark, out=buf) == 0
    plan = buf.getvalue()
    assert "Physical Plan" in plan and "PushedFilters" in plan
    buf2 = io.StringIO()
    assert run_explain("list", spark=spark, out=buf2) == 0
    names = buf2.getvalue().split()
    assert "q1_pricing_summary" in names and len(names) == 50
    assert run_explain("nope_not_a_query", SF, spark=spark) == 1


def test_cli_explain_leaves_no_caches_in_a_shared_session(spark):
    """corpus_quality_signals persists its token projection during plan
    CONSTRUCTION; explain on a caller-owned session must release exactly
    what plan-building persisted — no NEW persistent RDDs afterwards —
    while the caller's own caches survive untouched (a global clearCache
    would wipe them)."""
    import io

    from ts_etl_spark.cli import run_explain

    jsc = spark.sparkContext._jsc
    own = spark.range(3).select(F.col("id").alias("caller_own"))
    own.persist()
    own.count()
    spark.range(2).createOrReplaceTempView("__explain_keep")
    spark.catalog.cacheTable("__explain_keep")
    try:
        before = set(jsc.getPersistentRDDs().keySet())
        buf = io.StringIO()
        assert (
            run_explain("corpus_quality_signals", SF, spark=spark, out=buf) == 0
        )
        assert "Physical Plan" in buf.getvalue()
        after = set(jsc.getPersistentRDDs().keySet())
        assert after <= before, "explain left new caches behind"
        assert spark.catalog.isCached("__explain_keep"), (
            "explain wiped a caller-owned table cache"
        )
        assert own.storageLevel.useMemory, (
            "explain unpersisted a caller-owned DataFrame"
        )
    finally:
        own.unpersist()
        spark.catalog.uncacheTable("__explain_keep")
        spark.catalog.dropTempView("__explain_keep")


def test_cli_explain_preserves_application_lifetime_memo(spark):
    """The similarity memo caches frames for the application lifetime and
    its build lambdas never re-run; explain's cache release must skip
    them, or every later consumer silently recomputes the shared
    centroid-ranking/cell-edge subplans against unpersisted frames."""
    import io

    from ts_etl_spark.cli import run_explain
    from ts_etl_spark.execution import clear_memo, memo_entries

    # self-contained: the assertion below is "explain populated the memo
    # and left its frames persisted", so start from an empty memo — an
    # earlier test may have populated it and a later global clearCache
    # dropped those frames' blocks (storageLevel False), which is not
    # this surface's behavior under test (order-dependence surfaced when
    # the round-16 slow tier removed the test that happened to repopulate
    # the memo in between)
    clear_memo("ivf")
    buf = io.StringIO()
    assert run_explain("embed_neardup_label", SF, spark=spark, out=buf) == 0
    app = spark.sparkContext.applicationId
    vecs = memo_entries("ivf").get((app, SF, "vecs"))
    edges = memo_entries("ivf").get((app, SF, "neardup_edges"))
    assert vecs is not None and edges is not None, "explain populated the memo"
    assert vecs.storageLevel.useMemory, "explain unpersisted the memoized vecs"
    assert edges.storageLevel.useMemory, "explain unpersisted the memoized edges"
