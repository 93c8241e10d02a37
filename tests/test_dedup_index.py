"""Materialized dedup index (round 10): ingest with the persisted
corpus-side relations (fingerprints / LSH bands / shingle sets) must
converge to exactly the same corpus as the derive-from-text path — which
itself equals one-shot recuration (tests/test_incremental.py) — while
never re-scanning corpus text in the dedup layers. Plus the crash-window
replay contracts the index's append ordering is designed around."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from ts_etl_spark.operators.dedup import dedup_incremental
from ts_etl_spark.streaming.ingest import (
    DEDUP_BANDS_SCHEMA,
    DEDUP_FP_SCHEMA,
    DEDUP_SETS_SCHEMA,
    dedup_index_paths,
    ingest_batch,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _rand_words(rng, n):
    return " ".join(f"w{rng.randrange(10_000)}" for _ in range(n))


@pytest.fixture()
def batches():
    """Three batches exercising every drop reason: exact_corpus,
    near_corpus (>= threshold 3-gram Jaccard), exact_batch, near_batch,
    and plain keeps."""
    rng = random.Random(11)
    base = _rand_words(rng, 60)
    uniq = [_rand_words(rng, 40) for _ in range(6)]
    return [
        [(1, base), (2, uniq[0])],
        [
            (10, base),  # exact_corpus
            (11, base + " tail"),  # near_corpus
            (12, uniq[1]),
            (13, uniq[1]),  # exact_batch
        ],
        [
            (20, uniq[2]),
            (21, uniq[2] + " x"),  # near_batch
            (22, uniq[3]),
        ],
    ]


def _corpus_rows(spark, path):
    return sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(path).collect()
    )


@pytest.mark.slow
def test_indexed_ingest_equals_unindexed(spark, tmp_path, batches):
    plain = str(tmp_path / "plain")
    indexed = str(tmp_path / "indexed")
    idx = str(tmp_path / "idx")
    for b in batches:
        ingest_batch(spark, _docs(spark, b), plain)
        ingest_batch(
            spark, _docs(spark, b), indexed, dedup_index_path=idx
        )
    got = _corpus_rows(spark, indexed)
    assert got == _corpus_rows(spark, plain)
    # every drop reason was actually exercised by the fixture:
    # 10 exact_corpus, 11 near_corpus, 13 exact_batch, 21 near_batch
    kept_ids = {d for d, _ in got}
    assert kept_ids == {1, 2, 12, 20, 22}, kept_ids


@pytest.mark.slow
def test_index_tables_equal_fresh_derivation(spark, tmp_path, batches):
    """After N batches the three persisted relations must be EXACTLY what
    deriving them from the final corpus text would produce — the index
    never drifts from the corpus it stands for."""
    from ts_etl_spark.operators.dedup import (
        canonical_fingerprint,
        minhash_bands,
        shingle_sets,
    )

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    for b in batches:
        ingest_batch(spark, _docs(spark, b), corpus, dedup_index_path=idx)
    stored = spark.read.parquet(corpus)
    p = dedup_index_paths(idx)
    want_fp = sorted(
        tuple(r)
        for r in stored.select(
            "doc_id", canonical_fingerprint().alias("fp")
        ).collect()
    )
    got_fp = sorted(
        tuple(r)
        for r in spark.read.schema(DEDUP_FP_SCHEMA).parquet(p["fp"]).collect()
    )
    assert got_fp == want_fp
    want_sets = sorted(
        (r.doc_id, tuple(sorted(r.shs)))
        for r in shingle_sets(stored).collect()
    )
    got_sets = sorted(
        (r.doc_id, tuple(sorted(r.shs)))
        for r in spark.read.schema(DEDUP_SETS_SCHEMA)
        .parquet(p["sets"])
        .collect()
    )
    assert got_sets == want_sets
    want_bands = sorted(
        tuple(r) for r in minhash_bands(shingle_sets(stored)).collect()
    )
    got_bands = sorted(
        tuple(r)
        for r in spark.read.schema(DEDUP_BANDS_SCHEMA)
        .parquet(p["bands"])
        .collect()
    )
    assert got_bands == want_bands


def test_bootstrap_from_preexisting_corpus(spark, tmp_path):
    """Adopting the index on a corpus built WITHOUT it: the first gated
    batch bootstraps all three tables from stored text, so duplicates of
    pre-index documents still drop."""
    rng = random.Random(23)
    text = _rand_words(rng, 50)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(spark, _docs(spark, [(1, text)]), corpus)  # no index
    ingest_batch(
        spark,
        _docs(spark, [(10, text), (11, text + " y"), (12, _rand_words(rng, 30))]),
        corpus,
        dedup_index_path=idx,
    )
    assert sorted(d for d, _ in _corpus_rows(spark, corpus)) == [1, 12], (
        "exact and near duplicates of the pre-index doc must drop"
    )


def test_completed_batch_replay_is_idempotent(spark, tmp_path):
    """Replay of a FULLY committed batch (checkpoint crashed after the
    corpus append): ids are in index AND corpus, so the batch's own index
    rows stay in the probes and the exact layer drops everything."""
    rng = random.Random(31)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    b = _docs(spark, [(1, _rand_words(rng, 40)), (2, _rand_words(rng, 40))])
    ingest_batch(spark, b, corpus, dedup_index_path=idx)
    before = _corpus_rows(spark, corpus)
    p = dedup_index_paths(idx)
    fp_before = spark.read.parquet(p["fp"]).count()
    ingest_batch(spark, b, corpus, dedup_index_path=idx)  # full replay
    assert _corpus_rows(spark, corpus) == before
    assert spark.read.parquet(p["fp"]).count() == fp_before, (
        "replay appended duplicate index rows"
    )


@pytest.mark.slow
def test_crash_window_ghost_replay_converges(spark, tmp_path):
    """Crash AFTER the index deltas, BEFORE the corpus append: the batch's
    ids are ghosts (indexed, uncommitted). The replay must NOT self-drop
    against its own leftover rows — the batch lands exactly once and the
    index holds no duplicate rows."""
    rng = random.Random(43)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(
        spark, _docs(spark, [(1, _rand_words(rng, 40))]), corpus,
        dedup_index_path=idx,
    )
    before = set(os.listdir(corpus))
    b2 = _docs(spark, [(2, _rand_words(rng, 40)), (3, _rand_words(rng, 40))])
    ingest_batch(spark, b2, corpus, dedup_index_path=idx)
    for name in set(os.listdir(corpus)) - before:  # ...crash here
        os.remove(os.path.join(corpus, name))
    assert sorted(d for d, _ in _corpus_rows(spark, corpus)) == [1]
    ingest_batch(spark, b2, corpus, dedup_index_path=idx)  # replay
    assert sorted(d for d, _ in _corpus_rows(spark, corpus)) == [1, 2, 3], (
        "ghost replay self-dropped or double-ingested"
    )
    p = dedup_index_paths(idx)
    fp = spark.read.schema(DEDUP_FP_SCHEMA).parquet(p["fp"])
    assert fp.count() == fp.select("doc_id").distinct().count() == 3


def test_out_of_order_batch_raises(spark, tmp_path):
    rng = random.Random(53)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(
        spark, _docs(spark, [(10, _rand_words(rng, 30))]), corpus,
        dedup_index_path=idx,
    )
    with pytest.raises(ValueError, match="ingest order"):
        ingest_batch(
            spark, _docs(spark, [(5, _rand_words(rng, 30))]), corpus,
            dedup_index_path=idx,
        )


def test_dedup_incremental_corpus_free_with_indexes(spark):
    """With the three materialized relations passed, ``corpus=None`` is
    legal — structural proof that the dedup layers cannot touch corpus
    text — and the verdicts equal the derive-from-text path."""
    rng = random.Random(61)
    base = _rand_words(rng, 60)
    corpus = _docs(spark, [(1, base), (2, _rand_words(rng, 40))])
    batch = _docs(
        spark, [(10, base), (11, base + " t"), (12, _rand_words(rng, 40))]
    )
    from ts_etl_spark.operators.dedup import (
        canonical_fingerprint,
        minhash_bands,
        shingle_sets,
    )

    sets = shingle_sets(corpus)
    caches = []
    got = dedup_incremental(
        None,
        batch,
        persisted=caches,
        corpus_fp=corpus.select("doc_id", canonical_fingerprint().alias("fp")),
        corpus_bands=minhash_bands(sets),
        corpus_sets=sets,
    )
    want = dedup_incremental(corpus, batch, persisted=caches)
    cols = ["doc_id", "kept", "drop_reason"]
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == sorted(
        tuple(r) for r in want.select(*cols).collect()
    )
    for df in caches:
        df.unpersist()
    with pytest.raises(ValueError, match="together"):
        dedup_incremental(None, batch, corpus_fp=corpus.select("doc_id"))
    with pytest.raises(ValueError, match="None"):
        dedup_incremental(None, batch)


@pytest.mark.slow
def test_indexed_ingest_composes_with_substring_gate(spark, tmp_path):
    """dedup_index + win_index together: the index derives from the
    STORED (post-mask) text, so a later batch's masked duplicate still
    drops at the exact layer against the index."""
    rng = random.Random(71)
    boiler = _rand_words(rng, 40)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    win = str(tmp_path / "win")
    kw = dict(dedup_index_path=idx, win_index_path=win)
    ingest_batch(
        spark, _docs(spark, [(1, f"{boiler} {_rand_words(rng, 80)}")]),
        corpus, **kw,
    )
    b2 = _docs(spark, [(2, f"{_rand_words(rng, 80)} {boiler}")])
    ingest_batch(spark, b2, corpus, **kw)
    stored = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert set(stored) == {1, 2}
    assert len(stored[2].split()) < 120, "doc 2 stored masked (precondition)"
    # index rows mirror STORED text: the fp of masked doc 2 is indexed
    from ts_etl_spark.operators.dedup import canonical_fingerprint

    p = dedup_index_paths(idx)
    idx_fps = {
        r.fp for r in spark.read.schema(DEDUP_FP_SCHEMA).parquet(p["fp"]).collect()
    }
    stored_fps = {
        r.fp
        for r in spark.read.parquet(corpus)
        .select(canonical_fingerprint().alias("fp"))
        .collect()
    }
    assert idx_fps == stored_fps
    ingest_batch(spark, b2, corpus, **kw)  # full replay through both gates
    assert {
        r.doc_id for r in spark.read.parquet(corpus).collect()
    } == {1, 2}


@pytest.mark.slow
def test_recrawl_of_masked_doc_drops_with_both_indexes(spark, tmp_path):
    """Round-10 self-review regression (variable shadowing): with BOTH
    win_index_path and dedup_index_path set, the ORIGINAL-fingerprint
    index must still receive the gate entrants' pre-mask fingerprints —
    the shadowed delta used to overwrite it with the dedup (doc_id, fp)
    frame aimed at orig_fp_index_path(None), a literal 'None_origfp'
    directory in the cwd, so a NEW-doc_id re-crawl of a masked document
    was re-admitted in exactly the composed configuration built to stop
    it."""
    from ts_etl_spark.streaming.ingest import orig_fp_index_path

    rng = random.Random(97)
    boiler = _rand_words(rng, 40)
    orig2 = f"{_rand_words(rng, 200)} {boiler}"
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    win = str(tmp_path / "win")
    kw = dict(dedup_index_path=idx, win_index_path=win)
    ingest_batch(
        spark, _docs(spark, [(1, f"{boiler} {_rand_words(rng, 200)}")]),
        corpus, **kw,
    )
    ingest_batch(spark, _docs(spark, [(2, orig2)]), corpus, **kw)
    stored = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert set(stored) == {1, 2}
    assert len(stored[2].split()) < 240, "doc 2 stored masked (precondition)"
    ingest_batch(spark, _docs(spark, [(30, orig2)]), corpus, **kw)
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {1, 2}, (
        "new-id re-crawl of a masked doc re-admitted under composed indexes"
    )
    # the orig-fp index holds STRING fingerprints only (1 column) — the
    # shadowing bug appended the 2-column dedup frame
    ofp = spark.read.parquet(orig_fp_index_path(win))
    assert ofp.columns == ["fp"], ofp.columns
    assert not os.path.exists("None_origfp"), "stray cwd artifact recreated"


@pytest.mark.slow
def test_replay_of_batch_with_dropped_lower_id_does_not_wedge(spark, tmp_path):
    """Round-10 self-review regression (out-of-order guard): the guard
    consults the ATTEMPTS listing, not the kept-only fp table. A batch
    that dropped its lower id, replayed after a crash (completed-batch
    redelivery AND the index-appended/corpus-uncommitted window), must
    re-judge cleanly — the old fp-based guard raised 'ingest order'
    forever, wedging the stream on its own recovery path."""
    rng = random.Random(101)
    base = _rand_words(rng, 50)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(spark, _docs(spark, [(1, base)]), corpus, dedup_index_path=idx)
    # doc 2 drops (exact_corpus), doc 3 kept: the fp table never sees 2
    b2 = _docs(spark, [(2, base), (3, _rand_words(rng, 40))])
    ingest_batch(spark, b2, corpus, dedup_index_path=idx)
    before = _corpus_rows(spark, corpus)
    ingest_batch(spark, b2, corpus, dedup_index_path=idx)  # completed replay
    assert _corpus_rows(spark, corpus) == before
    # crash-window variant: roll the corpus back to pre-b2, keep the index
    files_before = set(os.listdir(corpus))
    b3 = _docs(spark, [(4, base), (5, _rand_words(rng, 40))])
    ingest_batch(spark, b3, corpus, dedup_index_path=idx)
    for name in set(os.listdir(corpus)) - files_before:  # ...crash here
        os.remove(os.path.join(corpus, name))
    ingest_batch(spark, b3, corpus, dedup_index_path=idx)  # replay
    assert sorted(d for d, _ in _corpus_rows(spark, corpus)) == [1, 3, 5], (
        "ghost replay with a dropped lower id lost or duplicated docs"
    )


@pytest.mark.slow
def test_lens_table_makes_drift_baseline_text_scan_free(spark, tmp_path):
    """The drift monitor with the dedup index on must produce the same
    PSI rows as the corpus-text-scan path (the lens table IS the corpus
    length distribution), batch over batch. Values compare at 9 decimals:
    the per-bucket terms are deterministic, but the TOTAL row sums them
    in partition order, and the lens-table scan partitions differently
    from the corpus text scan — a last-ulp summation difference, not a
    distribution difference."""
    rng = random.Random(113)
    corpus_a = str(tmp_path / "a")  # plain: text-scan baseline
    corpus_b = str(tmp_path / "b")  # indexed: lens-table baseline
    idx = str(tmp_path / "idx")
    drift_a = str(tmp_path / "da")
    drift_b = str(tmp_path / "db")
    batches = [
        [(1, _rand_words(rng, 30)), (2, _rand_words(rng, 60))],
        [(10, _rand_words(rng, 90)), (11, _rand_words(rng, 10))],
        [(20, _rand_words(rng, 45))],
    ]
    for i, b in enumerate(batches):
        ingest_batch(
            spark, _docs(spark, b), corpus_a, drift_path=drift_a, batch_id=i
        )
        ingest_batch(
            spark, _docs(spark, b), corpus_b, drift_path=drift_b, batch_id=i,
            dedup_index_path=idx,
        )
    def rows(path):
        return sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in spark.read.parquet(path).collect()
        )

    for i in range(1, len(batches)):  # batch 0 has an empty baseline both ways
        a = rows(f"{drift_a}/batch={i}")
        b = rows(f"{drift_b}/batch={i}")
        assert a == b, f"batch {i}: lens-baseline PSI diverged from text scan"
    # and the lens table equals the derived corpus lengths
    lens = sorted(
        tuple(r)
        for r in spark.read.parquet(dedup_index_paths(idx)["lens"]).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(corpus_b)
        .select("doc_id", F.length(F.coalesce(F.col("text"), F.lit(""))).alias("v"))
        .collect()
    )
    assert lens == want


def test_bench_indexed_supplement_matches_plain(spark):
    """The indexed bench supplement must return exactly the verdicts of
    the derive-from-text supplement on the same 90/10 split — the bench
    delta between them is then attributable purely to the materialized
    index, not to a semantics difference."""
    from ts_etl_spark.execution import memo_entries
    from ts_etl_spark.operators.dedup import (
        q_dedup_incremental,
        q_dedup_incremental_indexed,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["doc_id", "kept", "drop_reason"]
    want = sorted(
        tuple(r) for r in q_dedup_incremental(spark, sf).select(*cols).collect()
    )
    got = sorted(
        tuple(r)
        for r in q_dedup_incremental_indexed(spark, sf).select(*cols).collect()
    )
    assert got == want
    # memoized staging: a second build reuses the staged directory
    n_memo = len(memo_entries("dedup_index"))
    q_dedup_incremental_indexed(spark, sf)
    assert len(memo_entries("dedup_index")) == n_memo


@pytest.mark.slow
def test_legacy_layout_backfills_missing_tables(spark, tmp_path):
    """Layout-upgrade path (round-10 self-review, CONFIRMED pre-fix): an
    index materialized by an older engine (fp/bands/sets only) must not
    wedge ingest — the missing seen/lens tables backfill from the corpus
    on first read, and ingest proceeds."""
    import shutil

    rng = random.Random(131)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(
        spark, _docs(spark, [(1, _rand_words(rng, 40))]), corpus,
        dedup_index_path=idx,
    )
    p = dedup_index_paths(idx)
    shutil.rmtree(p["seen"])  # simulate the pre-seen/lens layout
    shutil.rmtree(p["lens"])
    ingest_batch(
        spark, _docs(spark, [(2, _rand_words(rng, 40))]), corpus,
        dedup_index_path=idx,
    )
    assert sorted(d for d, _ in _corpus_rows(spark, corpus)) == [1, 2]
    assert {r.doc_id for r in spark.read.parquet(p["seen"]).collect()} == {1, 2}
    lens = {r.doc_id: r.v for r in spark.read.parquet(p["lens"]).collect()}
    assert set(lens) == {1, 2}


@pytest.mark.slow
def test_low_new_id_raises_even_for_duplicate_text(spark, tmp_path):
    """Deliberate round-10 hardening: the id-ordering contract is about
    IDS, not content — a never-attempted low id raises even when its
    text byte-duplicates a stored document (round 9's origfp pre-drop
    happened to swallow exactly that case)."""
    rng = random.Random(137)
    text = _rand_words(rng, 40)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    win = str(tmp_path / "win")
    kw = dict(dedup_index_path=idx, win_index_path=win)
    ingest_batch(spark, _docs(spark, [(10, text)]), corpus, **kw)
    with pytest.raises(ValueError, match="ingest order"):
        ingest_batch(spark, _docs(spark, [(5, text)]), corpus, **kw)


def test_lens_parquet_is_physically_int64(spark, tmp_path):
    """The lens writers cast to long so the parquet physical type matches
    DEDUP_LENS_SCHEMA's BIGINT on ANY reader — Spark 4 widens INT32 on
    read, Spark 3 throws, so relying on widening would pin the engine."""
    import pyarrow.parquet as pq

    rng = random.Random(139)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(
        spark, _docs(spark, [(1, _rand_words(rng, 30))]), corpus,
        dedup_index_path=idx,
    )
    part = next(
        f for f in os.listdir(dedup_index_paths(idx)["lens"])
        if f.endswith(".parquet")
    )
    schema = pq.read_schema(
        os.path.join(dedup_index_paths(idx)["lens"], part)
    )
    assert str(schema.field("v").type) == "int64", schema


@pytest.mark.slow
def test_redelivered_committed_id_keeps_drift_baseline_aligned(spark, tmp_path):
    """A later batch legally re-delivering an already-committed id: the
    lens baseline must still count that doc (it IS in the corpus-so-far),
    exactly as the text-scan path does — only GHOST rows are excluded."""
    rng = random.Random(149)
    t1, t2 = _rand_words(rng, 30), _rand_words(rng, 70)
    corpus_a = str(tmp_path / "a")
    corpus_b = str(tmp_path / "b")
    idx = str(tmp_path / "idx")
    da, db = str(tmp_path / "da"), str(tmp_path / "db")
    b0 = [(1, t1), (2, t2)]
    # batch 1 re-delivers committed doc 1 alongside a new doc
    b1 = [(1, t1), (10, _rand_words(rng, 50))]
    for i, b in enumerate([b0, b1]):
        ingest_batch(spark, _docs(spark, b), corpus_a, drift_path=da, batch_id=i)
        ingest_batch(
            spark, _docs(spark, b), corpus_b, drift_path=db, batch_id=i,
            dedup_index_path=idx,
        )

    def rows(path):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in spark.read.parquet(path).collect()
        )

    assert rows(f"{da}/batch=1") == rows(f"{db}/batch=1"), (
        "re-delivered committed id dropped from the lens baseline"
    )


@pytest.mark.parametrize("seed", [211, 223, 227])
@pytest.mark.slow
def test_indexed_equals_unindexed_random_batches(spark, tmp_path, seed):
    """Randomized batch-boundary robustness: docs with planted exact and
    near duplicate structure, split at random points into 1-4 batches —
    the indexed corpus must equal the derive-from-text corpus verdict
    for verdict, whatever the split (the crafted fixture above pins the
    drop reasons; this pins the boundary-independence)."""
    rng = random.Random(seed)
    texts = []
    pool = [_rand_words(rng, 40) for _ in range(6)]
    for i in range(14):
        r = rng.random()
        if r < 0.3 and texts:
            texts.append(rng.choice(texts))  # exact dup of something earlier
        elif r < 0.5:
            texts.append(rng.choice(pool) + f" tail{rng.randrange(3)}")  # near dup
        else:
            texts.append(_rand_words(rng, 40))
    docs = list(enumerate(texts))
    cuts = sorted(rng.sample(range(1, len(docs)), rng.randrange(1, 4)))
    batches = [
        docs[a:b] for a, b in zip([0] + cuts, cuts + [len(docs)])
    ]
    plain = str(tmp_path / "plain")
    indexed = str(tmp_path / "indexed")
    idx = str(tmp_path / "idx")
    for b in batches:
        ingest_batch(spark, _docs(spark, b), plain)
        ingest_batch(spark, _docs(spark, b), indexed, dedup_index_path=idx)
    assert _corpus_rows(spark, indexed) == _corpus_rows(spark, plain), (
        f"seed {seed}, cuts {cuts}: indexed verdicts diverged"
    )


def test_indexed_dedup_plan_reads_no_text_from_parquet(spark, tmp_path):
    """Plan-level evidence for the no-corpus-text-scan claim: in the
    indexed configuration every parquet scan in the dedup plan reads
    ONLY the skinny index columns — no scan's ReadSchema contains a
    text column (the batch's text enters via the in-memory batch frame,
    not a file scan)."""
    import re

    rng = random.Random(151)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ingest_batch(
        spark,
        _docs(spark, [(i, _rand_words(rng, 30)) for i in range(4)]),
        corpus,
        dedup_index_path=idx,
    )
    from ts_etl_spark.streaming.ingest import (
        DEDUP_BANDS_SCHEMA,
        DEDUP_SETS_SCHEMA,
        dedup_index_paths,
    )

    p = dedup_index_paths(idx)
    batch = _docs(spark, [(100, _rand_words(rng, 30))])
    out = dedup_incremental(
        None,
        batch,
        corpus_fp=spark.read.schema(DEDUP_FP_SCHEMA).parquet(p["fp"]),
        corpus_bands=spark.read.schema(DEDUP_BANDS_SCHEMA).parquet(p["bands"]),
        corpus_sets=spark.read.schema(DEDUP_SETS_SCHEMA).parquet(p["sets"]),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c}
        assert "text" not in cols, f"parquet scan reads text: {m.group(0)}"
    assert "ReadSchema" in plan, "expected at least one parquet scan"


@pytest.mark.slow
def test_all_four_gates_compose_with_dedup_index(spark, tmp_path):
    """The full gate stack with the materialized dedup index on: substring
    gate (text rewrite) → pre-mask exact orig-fp probe → indexed
    fingerprint/MinHash dedup → semantic gate, across two batches, each
    case landing at its documented gate (the three-gate composition proof
    of tests/test_substring_gate.py, now with the round-10 index
    underneath the fingerprint/MinHash layer)."""
    from pyspark.sql import functions as SF

    from ts_etl_spark.operators.embedding import embed_documents
    from ts_etl_spark.operators.similarity import (
        as_double,
        norm,
        train_ivf_centroids,
    )

    rng = random.Random(157)
    boiler = _rand_words(rng, 40)
    uniq1 = _rand_words(rng, 80)
    uniq2 = _rand_words(rng, 80)
    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    A_PARA = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    corpus_path = str(tmp_path / "corpus")
    kw = dict(
        dedup_index_path=str(tmp_path / "didx"),
        win_index_path=str(tmp_path / "win"),
        sem_index_path=str(tmp_path / "sem_idx"),
        sem_cents_path=str(tmp_path / "cents"),
        sem_threshold=0.999,
    )
    seed_docs = _docs(
        spark, [(i, f"seed doc {i} w{i} w{i+1}") for i in range(10)]
    )
    v = as_double(SF.col("embedding"))
    seed_vecs = (
        embed_documents(seed_docs)
        .filter(SF.col("embedding").isNotNull())
        .select(
            SF.col("doc_id").alias("vec_id"), v.alias("v"),
            norm(v).alias("nrm"),
        )
    )
    train_ivf_centroids(seed_vecs, k=3, seed=7, max_iter=2).write.parquet(
        kw["sem_cents_path"]
    )
    ingest_batch(
        spark, _docs(spark, [(1, f"{boiler} {uniq1}"), (2, A)]),
        corpus_path, **kw,
    )
    ingest_batch(
        spark,
        _docs(
            spark,
            [
                (10, f"{uniq2} {boiler}"),  # boilerplate: attenuated, kept
                (11, f"{boiler} {uniq1}"),  # full copy of 1 -> pre-mask exact drop
                (12, A_PARA),  # bag-equal paraphrase of 2 -> semantic gate
                (13, "totally novel words about entirely different topics"),
            ],
        ),
        corpus_path,
        **kw,
    )
    stored = {
        r.doc_id: r.text for r in spark.read.parquet(corpus_path).collect()
    }
    assert set(stored) == {1, 2, 10, 13}
    assert 80 <= len(stored[10].split()) <= 112, "boilerplate attenuated"
    # the dedup index mirrors the corpus; seen records every attempt
    p = dedup_index_paths(kw["dedup_index_path"])
    assert {r.doc_id for r in spark.read.parquet(p["fp"]).collect()} == {
        1, 2, 10, 13,
    }
    assert {r.doc_id for r in spark.read.parquet(p["seen"]).collect()} == {
        1, 2, 10, 11, 12, 13,
    }
    # full replay through all four gates: idempotent
    ingest_batch(
        spark,
        _docs(spark, [(10, f"{uniq2} {boiler}"), (13, "totally novel words about entirely different topics")]),
        corpus_path,
        **kw,
    )
    assert {
        r.doc_id for r in spark.read.parquet(corpus_path).collect()
    } == {1, 2, 10, 13}


def test_torn_origfp_bootstrap_rebuilds(spark, tmp_path):
    """Round-11 (advice): a crash mid-bootstrap of the original-
    fingerprint index leaves a directory WITHOUT its _SUCCESS marker; it
    must be rebuilt, not trusted — a partial bootstrap permanently seeds
    a weaker pre-mask gate for pre-existing corpus docs."""
    from ts_etl_spark.operators.dedup import canonical_fingerprint
    from ts_etl_spark.streaming.ingest import ORIG_FP_SCHEMA, _orig_fp_index

    corpus = _docs(
        spark, [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")]
    )
    want = {
        r.fp
        for r in corpus.select(canonical_fingerprint().alias("fp")).collect()
    }

    # torn shape A: the directory exists but is EMPTY (crash before any
    # part file landed)
    pa = str(tmp_path / "ofp_empty")
    os.makedirs(pa)
    got = {r.fp for r in _orig_fp_index(spark, pa, corpus).collect()}
    assert got == want
    assert os.path.exists(f"{pa}/_SUCCESS"), "rebuild committed the marker"

    # torn shape B: a PARTIAL write (some fingerprints present, no
    # _SUCCESS) — the dangerous case: path-exists heuristics would serve
    # the weaker gate silently
    pb = str(tmp_path / "ofp_partial")
    corpus.filter(F.col("doc_id") == 1).select(
        canonical_fingerprint().alias("fp")
    ).write.parquet(pb)
    os.remove(f"{pb}/_SUCCESS")
    got = {r.fp for r in _orig_fp_index(spark, pb, corpus).collect()}
    assert got == want, "torn partial bootstrap was trusted"

    # committed index: NOT rebuilt (bootstrap is one-time; later batches
    # append deltas the corpus does not contain)
    pc = str(tmp_path / "ofp_committed")
    _orig_fp_index(spark, pc, corpus)
    extra = spark.createDataFrame([("sentinel-fp",)], ORIG_FP_SCHEMA)
    extra.write.mode("append").parquet(pc)
    got = {
        r.fp
        for r in _orig_fp_index(
            spark, pc, corpus.filter(F.col("doc_id") == 1)
        ).collect()
    }
    assert "sentinel-fp" in got and got >= want, (
        "a committed index must be read as-is, never re-derived"
    )


def test_seen_admit_unwedges_pre_index_dropped_id(spark, tmp_path, batches):
    """Round-11 (advice): adopting the index on a pre-existing corpus
    seeds ``seen`` from corpus ids only, so a legal re-delivery of an id
    DROPPED pre-index wedges the stream. ``admit_seen_ids`` (CLI:
    seen-admit) is the documented recovery: append the known-attempted
    ids, re-run the batch, verdicts unchanged."""
    from ts_etl_spark.streaming.ingest import admit_seen_ids

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    # history WITHOUT the index: ids 10/11/13/21 are judged and dropped
    for b in batches:
        ingest_batch(spark, _docs(spark, b), corpus)
    kept = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 12, 20, 22}

    # adopt the index, then legally re-deliver a pre-index-dropped id:
    # the out-of-order guard cannot tell it from a contract violation
    redelivery = _docs(spark, [b for b in batches[1] if b[0] == 10])
    with pytest.raises(ValueError, match="seen-admit"):
        ingest_batch(spark, redelivery, corpus, dedup_index_path=idx)

    # the escape hatch: record the ids the operator knows were attempted
    assert admit_seen_ids(spark, idx, [10, 11]) == 2
    assert admit_seen_ids(spark, idx, [10, 11]) == 0, "idempotent"
    ingest_batch(spark, redelivery, corpus, dedup_index_path=idx)
    assert {
        r.doc_id for r in spark.read.parquet(corpus).collect()
    } == kept, "re-judged re-delivery must still drop (exact_corpus)"

    # guard rails: never seed state for an index that does not exist,
    # never accept non-integer ids into a LONG table
    with pytest.raises(ValueError, match="no committed dedup index"):
        admit_seen_ids(spark, str(tmp_path / "nowhere"), [1])
    with pytest.raises(ValueError, match="integers"):
        admit_seen_ids(spark, idx, [1, "x"])  # type: ignore[list-item]
    # round-11 review fix: an id ABOVE the max attempted would RAISE the
    # max and wedge every never-attempted id below it — the unwedging
    # tool must refuse to brick the stream
    with pytest.raises(ValueError, match="exceed the index's max"):
        admit_seen_ids(spark, idx, [999_999])


@pytest.mark.slow
def test_seen_admit_cli_roundtrip(spark, tmp_path, batches):
    """The CLI subcommand drives the same library path (shared session
    injected — the CLI owns its session in production)."""
    import ts_etl_spark.cli as cli

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    for b in batches:
        ingest_batch(spark, _docs(spark, b), corpus, dedup_index_path=idx)
    # 15 sits below the max attempted id (22) and was never attempted —
    # exactly the shape the escape hatch exists for
    assert cli.run_seen_admit(idx, [15], spark=spark) == 1
    seen = {
        r.doc_id
        for r in spark.read.parquet(dedup_index_paths(idx)["seen"]).collect()
    }
    assert 15 in seen


@pytest.mark.slow
def test_indexed_batch_cost_is_corpus_size_independent(spark, tmp_path):
    """Round-11 (verdict #4): the materialized index's headline claim —
    per-batch ingest cost flat as the corpus grows — measured, not just
    plan-asserted. A fixed 50-doc batch is timed against a small corpus
    and one 10x larger (both pre-indexed); if the per-batch path still
    re-derived fingerprints/bands/shingles from corpus text, the big
    corpus would cost ~10x. The 2.5x bound is generous machine-noise
    headroom, far below the linear-in-corpus signature (the two-SF
    guard's discipline: warmup first, min of two timed batches, each
    timed batch uses fresh ids so state mutation never reuses work)."""
    import time

    rng = random.Random(23)

    def corpus_rows(n):
        return [(i, _rand_words(rng, 60)) for i in range(n)]

    def batch(start):
        return _docs(
            spark, [(start + j, _rand_words(rng, 60)) for j in range(50)]
        )

    sizes = {"small": 400, "big": 4000}
    t = {}
    for name, n in sizes.items():
        corpus = str(tmp_path / f"corpus_{name}")
        idx = str(tmp_path / f"idx_{name}")
        _docs(spark, corpus_rows(n)).repartition(4).write.parquet(corpus)
        # unmeasured: index bootstrap + codegen/JIT warmup
        ingest_batch(
            spark, batch(1_000_000), corpus, dedup_index_path=idx
        )
        samples = []
        for k in range(2):
            b = batch(2_000_000 + 100 * k)
            t0 = time.perf_counter()
            ingest_batch(spark, b, corpus, dedup_index_path=idx)
            samples.append(time.perf_counter() - t0)
        t[name] = min(samples)
    assert t["big"] < 2.5 * t["small"] + 0.5, (
        f"per-batch cost grew with corpus size: small={t['small']:.2f}s "
        f"big={t['big']:.2f}s ({t['big'] / t['small']:.1f}x for 10x corpus)"
    )
