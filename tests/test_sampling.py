"""Corpus-composition utilities: determinism, engine portability,
mixture math, and the shuffle-free plan shape."""

import duckdb
import pytest
from pyspark.sql import functions as F

from ts_etl_spark.pipelines.sampling import (
    assign_splits,
    mix_to_target,
    stratified_sample,
    target_mixture_fractions,
)
from ts_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_stratified_sample_deterministic_and_partition_independent(spark, docs):
    kw = dict(strata_col="lang", fractions={"en": 0.5}, key_cols=["doc_id"])
    a = {r.doc_id for r in stratified_sample(docs, **kw).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in stratified_sample(docs.repartition(13), **kw).select("doc_id").collect()
    }
    assert a == b and 0 < len(a) < docs.count()


def test_stratified_sample_membership_matches_duckdb(spark, docs):
    """Engine portability of the md5 membership rule: DuckDB re-derives the
    exact same sample — the property that lets an external auditor verify
    what went into a training run."""
    got = {
        r.doc_id
        for r in stratified_sample(
            docs, "lang", {"en": 0.25}, ["doc_id"], seed="aud"
        ).select("doc_id").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    want = {
        r[0]
        for r in con.execute(
            """
            WITH h AS (
                SELECT doc_id, lang,
                       md5('aud#' || CAST(doc_id AS VARCHAR)) AS d
                FROM documents
            )
            SELECT doc_id FROM h
            WHERE CAST(list_sum(
                      [(strpos('0123456789abcdef', substr(d, i, 1)) - 1)::BIGINT
                       << ((8 - i) * 4) for i in generate_series(1, 8)]
                  ) AS DOUBLE) / 4294967296.0
                  < CASE WHEN lang = 'en' THEN 0.25 ELSE 1.0 END
            """
        ).fetchall()
    }
    assert got == want


def test_stratified_sample_fraction_accuracy(spark, docs):
    n_en = docs.filter(F.col("lang") == "en").count()
    kept = stratified_sample(docs, "lang", {"en": 0.5}, ["doc_id"]).filter(
        F.col("lang") == "en"
    ).count()
    assert abs(kept / n_en - 0.5) < 0.1


def test_mix_to_target_shares(spark, docs):
    """Resampling hits the requested mixture and the binding stratum keeps
    fraction 1.0 (maximal data retention subject to the target)."""
    shares = {"en": 0.5, "de": 0.5}
    before = {
        r[0]: r[1] for r in docs.groupBy("lang").agg(F.count("*")).collect()
    }
    fracs = target_mixture_fractions(docs, "lang", shares)
    assert max(fracs.values()) == 1.0
    mixed = mix_to_target(docs, "lang", shares, ["doc_id"])
    after = {
        r[0]: r[1] for r in mixed.groupBy("lang").agg(F.count("*")).collect()
    }
    assert set(after) <= set(shares)
    total = sum(after.values())
    # realized share within sampling noise of the target
    for lang, share in shares.items():
        if before.get(lang):
            assert abs(after.get(lang, 0) / total - share) < 0.15


def test_assign_splits_disjoint_exhaustive_and_proportional(spark, docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = assign_splits(docs, w, ["doc_id"])
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    total = sum(counts.values())
    assert total == docs.count()  # every row in exactly one split
    assert set(counts) <= set(w)
    for name, share in w.items():
        assert counts.get(name, 0) / total == pytest.approx(share, abs=0.05)


def test_assign_splits_stable_under_dataset_growth(spark, docs):
    """The property randomSplit cannot give: a row's split is a pure
    function of its identity, so adding/removing OTHER rows never moves
    it between splits."""
    w = {"train": 0.8, "val": 0.2}
    full = {
        r.doc_id: r.split
        for r in assign_splits(docs, w, ["doc_id"]).select("doc_id", "split").collect()
    }
    subset = docs.filter(F.col("doc_id") % 7 == 0)
    for r in assign_splits(subset, w, ["doc_id"]).select("doc_id", "split").collect():
        assert full[r.doc_id] == r.split


def test_assign_splits_no_shuffle_and_validation(spark, docs):
    plan = (
        assign_splits(docs, {"a": 1.0, "b": 1.0}, ["doc_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        assign_splits(docs, {}, ["doc_id"])
    with pytest.raises(ValueError):
        assign_splits(docs, {"a": -1.0, "b": 2.0}, ["doc_id"])


def test_temperature_shares_math():
    import pytest as _pytest

    from ts_etl_spark.pipelines.sampling import temperature_shares

    counts = {"en": 800, "de": 150, "mi": 50}
    nat = temperature_shares(counts, 1.0)
    assert nat["en"] == _pytest.approx(0.8)
    uni = temperature_shares(counts, 0.0)
    assert all(v == _pytest.approx(1 / 3) for v in uni.values())
    half = temperature_shares(counts, 0.5)
    # flattening: tail strata gain share, head loses, order preserved
    assert half["en"] < nat["en"] and half["mi"] > nat["mi"]
    assert half["en"] > half["de"] > half["mi"]
    assert sum(half.values()) == _pytest.approx(1.0)
    assert temperature_shares({"x": 0}, 0.5) == {}
    with _pytest.raises(ValueError, match="tau"):
        temperature_shares(counts, 1.5)
