"""Table maintenance: profile correctness vs DuckDB, compaction file
counts and content preservation."""

import glob

import duckdb
from pyspark.sql import functions as F

from ts_etl_spark.pipelines.maintenance import compact_parquet, profile_table
from ts_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_profile_matches_duckdb_exact_stats(spark):
    df = load_table(spark, SF, "orders")
    prof = {
        (r.column, r.metric): r.value for r in profile_table(df).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    n, nulls, lo, hi, nd = con.execute(
        "SELECT COUNT(*), SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),"
        " CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR),"
        " COUNT(DISTINCT o_custkey) FROM orders"
    ).fetchone()
    assert prof[("o_orderkey", "rows")] == str(n)
    assert prof[("o_orderpriority", "nulls")] == str(nulls or 0)
    assert prof[("o_totalprice", "min")] == lo
    assert prof[("o_totalprice", "max")] == hi
    approx = int(prof[("o_custkey", "approx_distinct")])
    assert abs(approx - nd) / nd < 0.1  # HLL++ within tolerance


def test_profile_single_aggregate_plan(spark):
    """The whole profile must be ONE aggregate job — no per-column
    re-scan."""
    df = load_table(spark, SF, "region")
    agg = df.agg(
        F.count(F.lit(1)).alias("r"),
        *[F.approx_count_distinct(c).alias(f"d_{c}") for c in df.columns],
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("filescan") + plan.lower().count("batchscan") <= 1


def test_cli_profile_streams_jsonl(spark, tmp_path, capsys):
    import io
    import json

    from ts_etl_spark.cli import run_profile

    buf = io.StringIO()
    n = run_profile(
        "/root/testdata/sf0.001/region.parquet", buf, spark=spark
    )
    lines = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert n == len(lines) > 0
    cols = {ln["column"] for ln in lines}
    assert "r_regionkey" in cols
    rows_metric = [
        ln for ln in lines if ln["metric"] == "rows" and ln["column"] == "r_regionkey"
    ]
    assert rows_metric and int(rows_metric[0]["value"]) == 5


def test_cli_leaves_a_running_session_live(spark, sf_smoke, monkeypatch):
    """A CLI call without ``spark`` in a process that already runs a
    session reuses that session as it is: it must neither stop it nor
    re-tune it."""
    from ts_etl_spark import cli

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    # a core count that get_spark would turn into a different setting
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(int(partitions) + 3))
    assert cli.main(["profile", f"{sf_smoke}/region.parquet"]) == 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert spark.range(3).count() == 3


def test_compaction_raises_on_empty_input(spark, tmp_path):
    """Zero parquet bytes (missing dir, or dir with no parquet) raises —
    on a non-local URI a silently-empty os.walk used to compute total=0."""
    import pytest

    from ts_etl_spark.pipelines.maintenance import compact_parquet

    with pytest.raises(ValueError, match="no parquet data"):
        compact_parquet(spark, str(tmp_path / "nope"), str(tmp_path / "out"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet data"):
        compact_parquet(spark, str(empty), str(tmp_path / "out"))


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    frag = str(tmp_path / "fragmented")
    docs = load_table(spark, SF, "documents")
    docs.repartition(40).write.parquet(frag)  # simulate small-file buildup
    assert len(glob.glob(f"{frag}/*.parquet")) == 40

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_file_bytes=10**9)
    files = glob.glob(f"{out}/*.parquet")
    assert n == 1 and len(files) == 1
    a = sorted(r.doc_id for r in spark.read.parquet(frag).select("doc_id").collect())
    b = sorted(r.doc_id for r in spark.read.parquet(out).select("doc_id").collect())
    assert a == b


def test_content_hash_order_partition_independent_and_sensitive(spark):
    from ts_etl_spark.pipelines.maintenance import table_content_hash

    df = spark.range(500).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 13).alias("b")
    )
    h1 = table_content_hash(df)
    h2 = table_content_hash(df.repartition(17).sortWithinPartitions(F.desc("b")))
    assert h1 == h2, "repartition/reorder must not move the hash"
    # any single changed value moves it
    mutated = df.withColumn(
        "b", F.when(F.col("a") == 250, F.col("b") + 1).otherwise(F.col("b"))
    )
    assert table_content_hash(mutated) != h1
    # a dropped row moves it; duplicate multiplicity counts
    assert table_content_hash(df.filter(F.col("a") != 0)) != h1
    assert table_content_hash(df.unionAll(df.limit(1))) != h1
    # NULL is distinct from the string 'null'
    n1 = spark.createDataFrame([(None,)], "x STRING")
    n2 = spark.createDataFrame([("null",)], "x STRING")
    assert table_content_hash(n1) != table_content_hash(n2)
    # empty table: stable zero
    assert table_content_hash(df.filter(F.lit(False))) == 0


def test_content_hash_duckdb_twin(spark, tmp_path):
    import duckdb

    from ts_etl_spark.pipelines.maintenance import (
        table_content_hash,
        table_content_hash_sql,
    )

    path = str(tmp_path / "t")
    spark.range(200).select(
        F.col("id").alias("a"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    got = table_content_hash(df, cols=["a", "s"])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = con.execute(table_content_hash_sql("t", ["a", "s"])).fetchone()[0]
    assert got == int(want)


def test_content_hash_attests_compaction(spark, tmp_path):
    """The intended use: a compaction rewrite preserves content
    exactly, and the hash proves it."""
    from ts_etl_spark.pipelines.maintenance import (
        compact_parquet,
        table_content_hash,
    )

    src = str(tmp_path / "small_files")
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(50).write.parquet(src)
    before = table_content_hash(spark.read.parquet(src))
    out = str(tmp_path / "compacted")
    compact_parquet(spark, src, out)
    assert table_content_hash(spark.read.parquet(out)) == before


def test_content_hash_field_rendering_is_injective(spark):
    """Length-prefixed rendering: values sliding across field boundaries
    must not collide (('a#b','c') vs ('a','b#c'))."""
    from ts_etl_spark.pipelines.maintenance import table_content_hash

    d1 = spark.createDataFrame([("a#b", "c")], "x STRING, y STRING")
    d2 = spark.createDataFrame([("a", "b#c")], "x STRING, y STRING")
    assert table_content_hash(d1) != table_content_hash(d2)
    d3 = spark.createDataFrame([("v1:a", None)], "x STRING, y STRING")
    d4 = spark.createDataFrame([("v1:a" + "n", None)], "x STRING, y STRING")
    assert table_content_hash(d3) != table_content_hash(d4)


def test_rewrite_attestation_uses_configured_staging_dir(spark, tmp_path):
    """Round-10 cluster-honest staging (r9 verdict #7 / ADVICE): with
    ``MAINT_STAGING_CONF`` set (the multi-node deployment shape — a
    shared-FS path executors can read, unlike the driver's /tmp), the
    attestation stages under a per-run subdirectory of THAT base, the
    verdicts still hold, and the staging is fully cleaned afterwards
    while the base survives."""
    import os

    from ts_etl_spark.operators.report import (
        MAINT_STAGING_CONF,
        _rewrite_attestation,
    )

    docs = load_table(spark, SF, "documents")
    base = str(tmp_path / "maint_base")
    os.makedirs(base)
    spark.conf.set(MAINT_STAGING_CONF, base)
    try:
        got = dict(_rewrite_attestation(spark, docs))
    finally:
        spark.conf.unset(MAINT_STAGING_CONF)
    assert got == {"compact": True, "zorder": True}
    assert os.path.isdir(base), "configured base never deleted"
    assert os.listdir(base) == [], "per-run staging subdirectory cleaned up"


def test_corpus_report_memoizes_attestation(spark):
    """Building the corpus_report entry twice must not re-run the
    attestation rewrites: the driver-side verdict list memoizes per
    (application, sf_dir) — the trainer_prep BPE-merge pattern."""
    from ts_etl_spark.execution import clear_memo, memo_entries
    from ts_etl_spark.operators import report as R

    clear_memo("maint")
    R.q_corpus_report(spark, SF)
    assert len(memo_entries("maint")) == 1
    (first,) = memo_entries("maint").values()
    R.q_corpus_report(spark, SF)
    (second,) = memo_entries("maint").values()
    assert second is first and len(memo_entries("maint")) == 1
    assert dict(first) == {"compact": True, "zorder": True}
    clear_memo("maint")
