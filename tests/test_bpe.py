"""Distributed BPE learning vs an independent pure-Python reference
trainer: identical merge tables (including tiebreaks), encode consistency
with sequential merge application, and determinism."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from ts_etl_spark.operators.bpe import WORD_PAT, bpe_encode, learn_bpe

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wide wider widest wide wide wider"),
    (4, "low new wide low new"),
]


def _ref_word_freqs(rows):
    c: Counter = Counter()
    pat = re.compile(WORD_PAT)
    for _, text in rows:
        c.update(w for w in pat.findall(text.lower()) if len(w) >= 2)
    return c


def _ref_merge_word(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_learn(rows, n_merges, min_freq=2):
    words = {tuple(w): f for w, f in _ref_word_freqs(rows).items()}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, f in words.items():
            for p in zip(syms, syms[1:]):
                counts[p] += f
        if not counts:
            break
        # max count; ties break lexicographically smallest pair
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < min_freq:
            break
        merges.append(best)
        words = {
            _ref_merge_word(s, *best): f for s, f in words.items()
        }
    return merges


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id LONG, text STRING")


def test_learn_matches_reference_trainer(spark, docs):
    got = learn_bpe(docs, n_merges=12)
    want = _ref_learn(CORPUS, 12)
    assert got == want
    assert len(got) > 3  # the corpus supports a real merge sequence


def test_encode_consistent_with_sequential_merges(spark, docs):
    merges = learn_bpe(docs, n_merges=12)
    enc = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    pat = re.compile(WORD_PAT)
    for doc_id, text in CORPUS:
        want = []
        for w in pat.findall(text.lower()):
            syms = tuple(w)
            for a, b in merges:
                syms = _ref_merge_word(syms, a, b)
            want.extend(syms)
        assert list(enc[doc_id].tokens) == want
        assert enc[doc_id].n_tokens == len(want)


def test_learning_is_deterministic(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    a = learn_bpe(docs, n_merges=8)
    b = learn_bpe(docs, n_merges=8)
    assert a == b and len(a) == 8


def test_min_freq_stops_early_and_args_validated(spark):
    docs = spark.createDataFrame([(1, "ab ab xy")], "doc_id LONG, text STRING")
    merges = learn_bpe(docs, n_merges=10, min_freq=2)
    # only (a,b) reaches freq 2; (x,y) is singleton
    assert merges == [("a", "b")]
    with pytest.raises(ValueError):
        learn_bpe(docs, n_merges=0)


def test_no_leaked_caches_after_learning(spark, docs):
    before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    # max_driver_types=0 forces the distributed overflow path — the one
    # that checkpoints per iteration and must release its blocks
    learn_bpe(docs, n_merges=4, max_driver_types=0)
    after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert after <= before


def test_local_and_distributed_paths_agree(spark, docs):
    """The driver-local merge loop (default) and the distributed overflow
    path must produce IDENTICAL merge tables, tiebreaks included."""
    local = learn_bpe(docs, n_merges=12)
    distributed = learn_bpe(docs, n_merges=12, max_driver_types=0)
    assert local == distributed == _ref_learn(CORPUS, 12)


def test_local_paths_agree_on_real_data(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    assert learn_bpe(docs, n_merges=6) == learn_bpe(
        docs, n_merges=6, max_driver_types=0
    )


def test_large_merge_count_completes_fast(spark):
    """The round-3 weakness: 2 Spark jobs per merge ~ hours at a 32k
    vocabulary. The driver-local loop must handle a 1024-merge learn in
    seconds (the loop itself is sub-second; the budget covers the one
    distributed word-frequency pass)."""
    import time

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    t0 = time.perf_counter()
    merges = learn_bpe(docs, n_merges=1024, min_freq=2)
    elapsed = time.perf_counter() - t0
    assert elapsed < 30, f"1024-merge learn took {elapsed:.1f}s"
    # the synthetic corpus exhausts below 1024 merges (min_freq stops the
    # loop) — the point is the REQUESTED depth costs no per-merge jobs
    assert len(merges) > 50
    # priority order: no duplicate merges
    assert len(set(merges)) == len(merges)


def test_trainer_prep_memoizes_bpe_merges(spark):
    """Constructing the trainer_prep entry twice must not re-run the BPE
    word-frequency pass or the merge loop: the merge table memoizes per
    (application, sf_dir) — the bound that keeps the driver's repeated
    plan builds (sweep, oracle, soak, bench samples) from re-paying a
    corpus pass per build. Same-object check = the memo was hit."""
    from ts_etl_spark.execution import clear_memo, memo_entries
    from ts_etl_spark.pipelines import trainer_prep as tp

    clear_memo("bpe")
    tp.q_trainer_prep(spark, "/root/testdata/sf0.001")
    assert len(memo_entries("bpe")) == 1
    (first,) = memo_entries("bpe").values()
    tp.q_trainer_prep(spark, "/root/testdata/sf0.001")
    assert len(memo_entries("bpe")) == 1
    (second,) = memo_entries("bpe").values()
    assert second is first
    clear_memo("bpe")
