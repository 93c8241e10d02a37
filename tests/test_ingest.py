"""Streaming corpus ingestion: convergence with one-shot dedup and
replay idempotence."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ts_etl_spark.operators.dedup import dedup_incremental
from ts_etl_spark.streaming.ingest import ingest_batch, run_streaming_ingest

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon "
    "phi chi psi omega one two three four five six"
)
NOVEL = (
    "table chair lamp desk shelf couch rug curtain mirror clock "
    "vase frame plant book pen cup plate bowl fork spoon "
    "knife pot pan tray jar lid rack hook bin box"
)
THIRD = (
    "sun moon star cloud rain snow wind storm fog hail "
    "river lake sea ocean wave tide shore sand cliff cave "
    "hill valley peak ridge plain field forest grove marsh dune"
)


def _write(path, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, path)


def _batches(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    near_base = BASE.replace("one two three four five six",
                             "uno dos tres cuatro cinco seis")
    _write(str(d / "b0.parquet"), [(1, BASE), (2, NOVEL)])
    _write(str(d / "b1.parquet"), [(10, "  " + BASE.upper()), (11, THIRD)])
    _write(str(d / "b2.parquet"), [(20, near_base), (21, THIRD + " extra")])
    import os, time

    now = time.time()
    for i, name in enumerate(["b0.parquet", "b1.parquet", "b2.parquet"]):
        os.utime(d / name, (now - 60 + 20 * i, now - 60 + 20 * i))
    return d


def test_ingest_batch_releases_caches(spark, tmp_path):
    """ingest_batch unpersists the shingle-set frames dedup_incremental
    caches — a long-running foreachBatch stream must not accumulate cached
    blocks across micro-batches."""
    corpus_path = str(tmp_path / "corpus")
    batch = spark.createDataFrame([(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING")
    # compare RDD id SETS, not counts: the ContextCleaner may ASYNCHRONOUSLY
    # unpersist earlier tests' out-of-scope checkpointed RDDs between the
    # two measurements, so a count can legitimately shrink
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    ingest_batch(spark, batch, corpus_path)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert not (after - before), "ingest_batch left new cached RDDs behind"


def test_ingest_into_empty_and_existing_corpus_paths(spark, tmp_path):
    """The corpus existence check goes through the Hadoop FS API; both the
    fresh-corpus and the append paths work on a plain local path."""
    corpus_path = str(tmp_path / "corpus")
    b1 = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    b2 = spark.createDataFrame([(2, BASE), (3, NOVEL)], "doc_id LONG, text STRING")
    ingest_batch(spark, b1, corpus_path)
    ingest_batch(spark, b2, corpus_path)
    kept = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert kept == {1, 3}  # 2 is an exact dup of the corpus


def test_streaming_ingest_converges(spark, tmp_path):
    d = _batches(tmp_path)
    corpus_path = str(tmp_path / "corpus")
    run_streaming_ingest(
        spark, str(d), corpus_path, str(tmp_path / "cp"), max_files=1
    )
    got = {
        r.doc_id for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    }
    # 1,2 novel; 10 exact-dups BASE; 11 novel; 20 near-dups BASE;
    # 21 near-dups THIRD(11)
    assert got == {1, 2, 11}


def test_streaming_ingest_maintains_corpus_stats_sketch(spark, tmp_path):
    """With stats_path, each micro-batch max-merges its fingerprint HLL
    registers into the persisted 256-row state table. The merged state
    must equal the registers recomputed over the FINAL corpus (the
    merge-equals-recompute invariant applied across batches), and the
    estimate must come from the state table alone — no corpus scan."""
    from ts_etl_spark.operators.dedup import canonical_fingerprint
    from ts_etl_spark.operators.sketches import hll_registers
    from ts_etl_spark.streaming.ingest import (
        _latest_stats,
        _stats_generations,
        corpus_distinct_estimate,
    )

    d = _batches(tmp_path)
    corpus_path = str(tmp_path / "corpus")
    stats_path = str(tmp_path / "stats")
    run_streaming_ingest(
        spark, str(d), corpus_path, str(tmp_path / "cp"),
        max_files=1, stats_path=stats_path,
    )
    latest, _ = _latest_stats(spark, stats_path)
    merged = {r.bucket: r.rho for r in latest.collect()}
    # generation pruning keeps at most the current + previous recovery point
    assert 1 <= len(_stats_generations(spark, stats_path)) <= 2
    want = {
        r.bucket: r.rho
        for r in hll_registers(
            spark.read.parquet(corpus_path).select(
                canonical_fingerprint().alias("fp")
            ),
            "fp",
        ).collect()
    }
    assert merged == want
    # 3 surviving docs, linear-counting regime: estimate is near-exact
    est = corpus_distinct_estimate(spark, stats_path)
    assert abs(est - 3) < 0.5
    # and an absent state table estimates zero
    assert corpus_distinct_estimate(spark, str(tmp_path / "nope")) == 0.0


def test_corpus_stats_survive_a_crashed_swap(spark, tmp_path):
    """The round-3 durability hole, closed: an update that dies mid-write
    leaves only an UNCOMMITTED generation (no _SUCCESS marker), which
    every reader ignores — the corpus-lifetime sketch is never lost to a
    failed swap, and the next successful update carries on from the last
    committed state."""
    import os

    from ts_etl_spark.streaming.ingest import (
        corpus_distinct_estimate,
        update_corpus_stats,
    )

    stats_path = str(tmp_path / "stats")
    docs = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    update_corpus_stats(spark, docs, stats_path)
    est_before = corpus_distinct_estimate(spark, stats_path)
    assert est_before > 0

    # simulate a crash mid-swap: a partial next generation without _SUCCESS
    import glob
    import shutil

    gens = sorted(glob.glob(os.path.join(stats_path, "v*")))
    partial = os.path.join(stats_path, "v99")
    shutil.copytree(gens[-1], partial)
    os.remove(os.path.join(partial, "_SUCCESS"))

    # readers ignore the torn write; the committed sketch is intact
    assert corpus_distinct_estimate(spark, stats_path) == est_before

    # the next update commits past the torn generation and grows the count
    more = spark.createDataFrame(
        [(3, "an entirely different third document " * 3)],
        "doc_id LONG, text STRING",
    )
    update_corpus_stats(spark, more, stats_path)
    assert corpus_distinct_estimate(spark, stats_path) > est_before

    # and the commit CLEANED UP the torn v99 (an uncommitted generation
    # ABOVE the committed counter would otherwise linger as dead state
    # until the counter happened to reach it)
    assert not os.path.exists(partial)
    # only committed generations remain: current + the recovery point
    leftover = sorted(glob.glob(os.path.join(stats_path, "v*")))
    assert 1 <= len(leftover) <= 2
    for g in leftover:
        assert os.path.exists(os.path.join(g, "_SUCCESS"))


def test_streaming_ingest_records_per_batch_drift(spark, tmp_path):
    """With drift_path, every micro-batch logs its PSI against the
    corpus-so-far: n_buckets+1 rows per batch (detail + total) under
    batch=<id>, and replaying a batch REWRITES its partition instead of
    duplicating rows (same batch_id ⇒ same subdirectory, overwrite)."""
    from ts_etl_spark.streaming.ingest import run_streaming_ingest

    d = _batches(tmp_path)
    corpus_path = str(tmp_path / "corpus")
    drift_path = str(tmp_path / "drift")
    run_streaming_ingest(
        spark, str(d), corpus_path, str(tmp_path / "cp"),
        max_files=1, drift_path=drift_path,
    )
    log = spark.read.parquet(drift_path)
    batches = {r.batch for r in log.select("batch").distinct().collect()}
    assert len(batches) == 3  # one partition per micro-batch
    per_batch = {
        r.batch: r.n
        for r in log.groupBy("batch").agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 11 for n in per_batch.values())  # 10 buckets + total
    # every batch carries exactly one total row with a finite PSI
    totals = log.filter(F.col("bucket") == -1).collect()
    assert len(totals) == 3
    assert all(r.psi_term is not None and r.psi_term >= 0 for r in totals)

    # replay: same batch against the (now grown) corpus, same batch_id —
    # the partition is rewritten, never duplicated
    batch0 = spark.read.parquet(str(d / "b0.parquet"))
    ingest_batch(
        spark, batch0, corpus_path, drift_path=drift_path, batch_id=0
    )
    log2 = spark.read.parquet(drift_path)
    assert log2.count() == 33
    assert log2.filter(F.col("batch") == 0).count() == 11


def test_ingest_replay_is_idempotent(spark, tmp_path):
    """Re-running an already-ingested batch adds nothing: its documents
    fingerprint-match the corpus copies and drop in the exact layer."""
    corpus_path = str(tmp_path / "corpus")
    batch = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, batch, corpus_path)
    n1 = spark.read.parquet(corpus_path).count()
    ingest_batch(spark, batch, corpus_path)  # replay
    n2 = spark.read.parquet(corpus_path).count()
    assert (n1, n2) == (2, 2)


@pytest.mark.slow
def test_streamed_corpus_equals_sequential_batches(spark, tmp_path):
    """The streaming wrapper is exactly the sequential application of
    dedup_incremental — no extra or missing rows from micro-batch
    mechanics."""
    d = _batches(tmp_path)
    corpus_path = str(tmp_path / "corpus_stream")
    run_streaming_ingest(
        spark, str(d), corpus_path, str(tmp_path / "cp2"), max_files=1
    )
    streamed = {
        r.doc_id for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    }

    ref = spark.createDataFrame([], "doc_id LONG, text STRING")
    import pyarrow.parquet as pq2

    for name in ["b0.parquet", "b1.parquet", "b2.parquet"]:
        rows = pq2.read_table(str(d / name)).to_pylist()
        batch = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows], "doc_id LONG, text STRING"
        )
        kept = (
            dedup_incremental(ref, batch)
            .filter(F.col("kept"))
            .select("doc_id", "text")
        )
        ref = ref.unionByName(kept).persist()
    want = {r.doc_id for r in ref.select("doc_id").collect()}
    assert streamed == want


def test_streaming_ingest_tracks_attempt_heavyhitters(spark, tmp_path):
    """With hh_path, every micro-batch records count-min registers of its
    ATTEMPTED fingerprints under batch=<id>; heavyhitter_estimate merges
    the stream history and never underestimates a document's attempt
    count — BASE is submitted (canonically-equal) in batches 0 and 1, so
    its count is >= 2 even though dedup admitted it once."""
    import os

    from ts_etl_spark.operators.dedup import canonical_fingerprint
    from ts_etl_spark.streaming.ingest import (
        heavyhitter_estimate,
        update_attempt_heavyhitters,
    )

    d = _batches(tmp_path)
    corpus_path = str(tmp_path / "corpus")
    hh_path = str(tmp_path / "hh")
    run_streaming_ingest(
        spark,
        str(d),
        corpus_path,
        str(tmp_path / "ckpt"),
        hh_path=hh_path,
    )
    # one register directory per micro-batch
    assert len([n for n in os.listdir(hh_path) if n.startswith("batch=")]) == 3

    fps = {
        r.t: r.fp
        for r in spark.createDataFrame(
            [(BASE,), (THIRD,), ("never submitted at all",)], "t STRING"
        )
        .select("t", canonical_fingerprint(F.col("t")).alias("fp"))
        .collect()
    }
    est = heavyhitter_estimate(spark, hh_path, list(fps.values()))
    # BASE attempted in b0 (verbatim) and b1 (case/whitespace variant —
    # same canonical fingerprint)
    assert est[fps[BASE]] >= 2
    # THIRD attempted once (b1); b2's "THIRD extra" fingerprints differently
    assert est[fps[THIRD]] >= 1
    # absent path contract
    assert heavyhitter_estimate(spark, str(tmp_path / "nope"), ["x"]) == {"x": 0}

    # replay idempotence: re-recording batch 0 OVERWRITES its partition,
    # leaving history (and therefore estimates) unchanged
    b0 = spark.createDataFrame([(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING")
    update_attempt_heavyhitters(spark, b0, hh_path, 0)
    again = heavyhitter_estimate(spark, hh_path, list(fps.values()))
    assert again == est


def test_heavyhitter_estimate_skips_torn_batches(spark, tmp_path):
    """A crash mid-write leaves a batch directory without _SUCCESS; the
    estimator must skip it (torn-write discipline) instead of failing or
    merging a partial register set — and an hh_path with zero committed
    batches estimates zeros."""
    import os

    from ts_etl_spark.streaming.ingest import (
        heavyhitter_estimate,
        update_attempt_heavyhitters,
    )

    hh_path = str(tmp_path / "hh")
    docs = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    update_attempt_heavyhitters(spark, docs, hh_path, 0)
    update_attempt_heavyhitters(spark, docs, hh_path, 1)
    from ts_etl_spark.operators.dedup import canonical_fingerprint

    fp = docs.select(canonical_fingerprint(F.col("text")).alias("f")).first().f
    assert heavyhitter_estimate(spark, hh_path, [fp])[fp] >= 2

    # tear batch 1
    os.remove(os.path.join(hh_path, "batch=1", "_SUCCESS"))
    assert heavyhitter_estimate(spark, hh_path, [fp])[fp] >= 1

    # a directory with ONLY torn batches yields zeros, not an exception
    os.remove(os.path.join(hh_path, "batch=0", "_SUCCESS"))
    assert heavyhitter_estimate(spark, hh_path, [fp]) == {fp: 0}


@pytest.mark.slow
def test_cli_ingest_and_sem_train_end_to_end(spark, tmp_path):
    """The full operational story from the CLI layer: sem-train writes a
    centroid table, ingest drains the landing dir through the dedup
    stack with the semantic gate, and the paraphrase arriving in a LATER
    micro-batch drops against the earlier batch's indexed vector."""
    from ts_etl_spark.cli import run_ingest, run_sem_train

    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = tmp_path / "landing"
    d.mkdir()
    _write(str(d / "b0.parquet"), [(1, A), (2, THIRD)])
    _write(
        str(d / "b1.parquet"),
        [(10, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
         (11, NOVEL)],
    )
    import os as _os, time as _time

    now = _time.time()
    _os.utime(d / "b0.parquet", (now - 40, now - 40))
    _os.utime(d / "b1.parquet", (now - 20, now - 20))

    seed = tmp_path / "seed"
    seed.mkdir()
    _write(
        str(seed / "docs.parquet"),
        [(i, f"seed words w{i} w{i+1}") for i in range(10)],
    )
    n_cents = run_sem_train(
        str(seed / "docs.parquet"), str(tmp_path / "cents"), k=3,
        max_iter=2, spark=spark,
    )
    assert n_cents == 3
    out = run_ingest(
        str(d), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        sem_index_path=str(tmp_path / "idx"),
        sem_cents_path=str(tmp_path / "cents"),
        sem_threshold=0.8,
        len_hdr_path=str(tmp_path / "lenhdr"),
        spark=spark,
    )
    corpus = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert corpus == [1, 2, 11], "bag-of-words paraphrase 10 dropped cross-batch"
    assert out == {"corpus_docs": 3}
    # the length-quantile telemetry rode along: median of the three kept
    # docs' lengths, within the sketch's bound, from state alone
    from ts_etl_spark.streaming.ingest import corpus_length_quantiles

    qs = corpus_length_quantiles(spark, str(tmp_path / "lenhdr"))
    lens = sorted(
        len(r.text)
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert qs and qs[0.5] <= lens[1] <= qs[0.5] * (1 + 2**-4) + 1


def test_cli_ingest_with_substring_gate(spark, tmp_path):
    """--win-index from the CLI layer: boilerplate repeated across two
    micro-batches is attenuated in the later batch's stored text and the
    winnow index materializes. Construction is guarantee-based, not
    seed-based: the unique regions are large (80 tokens) so the two docs
    are NOT MinHash near-dups even unmasked (shared-shingle fraction far
    below the threshold), and the 40-token shared run is over the
    winnowing guarantee length, so at least one full k-token span of
    doc 2's boiler is provably removed."""
    import random

    from ts_etl_spark.cli import run_ingest

    rng = random.Random(17)
    boiler = " ".join(f"w{rng.randrange(10_000)}" for _ in range(40))
    uniq1 = " ".join(f"u{rng.randrange(10_000)}" for _ in range(80))
    uniq2 = " ".join(f"v{rng.randrange(10_000)}" for _ in range(80))
    d = tmp_path / "landing"
    d.mkdir()
    _write(str(d / "b0.parquet"), [(1, f"{boiler} {uniq1}")])
    _write(str(d / "b1.parquet"), [(2, f"{uniq2} {boiler}")])
    import os as _os, time as _time

    now = _time.time()
    _os.utime(d / "b0.parquet", (now - 40, now - 40))
    _os.utime(d / "b1.parquet", (now - 20, now - 20))
    out = run_ingest(
        str(d), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        win_index_path=str(tmp_path / "win"),
        spark=spark,
    )
    assert out == {"corpus_docs": 2}
    stored = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert len(stored[1].split()) == 120, "first batch saw no prior fps"
    # >= one shared selected fingerprint (winnow guarantee) => >= one
    # full 8-token span of doc 2's boiler removed; unique text survives
    n2 = len(stored[2].split())
    assert n2 <= 112, "cross-batch boilerplate attenuated"
    assert n2 >= 80, "unique region untouched"
    assert spark.read.parquet(str(tmp_path / "win")).count() > 0


@pytest.mark.slow
def test_cli_ingest_with_dedup_index(spark, tmp_path):
    """--dedup-index from the CLI/streaming layer: the four-gate stack
    drains two micro-batches maintaining the materialized corpus-side
    dedup relations; the second batch's exact and near duplicates drop
    against the INDEX (corpus text never re-derived — the batch-level
    structural proof lives in tests/test_dedup_index.py), and all five
    tables materialize id-consistently."""
    import random

    from ts_etl_spark.cli import run_ingest
    from ts_etl_spark.streaming.ingest import dedup_index_paths

    rng = random.Random(19)
    base = " ".join(f"w{rng.randrange(10_000)}" for _ in range(50))
    uniq = " ".join(f"u{rng.randrange(10_000)}" for _ in range(40))
    d = tmp_path / "landing"
    d.mkdir()
    _write(str(d / "b0.parquet"), [(1, base), (2, uniq)])
    _write(str(d / "b1.parquet"), [(10, base), (11, base + " x"), (12, uniq + " y z q")])
    import os as _os, time as _time

    now = _time.time()
    _os.utime(d / "b0.parquet", (now - 40, now - 40))
    _os.utime(d / "b1.parquet", (now - 20, now - 20))
    idx = str(tmp_path / "didx")
    out = run_ingest(
        str(d), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        dedup_index_path=idx,
        spark=spark,
    )
    # 10 exact-drops and 11 near-drops against the index; 12 is a
    # near-dup of 2 (3 extra tokens on 40) and drops too
    assert out == {"corpus_docs": 2}
    kept = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert kept == {1, 2}
    p = dedup_index_paths(idx)
    fp_ids = {r.doc_id for r in spark.read.parquet(p["fp"]).collect()}
    seen_ids = {r.doc_id for r in spark.read.parquet(p["seen"]).collect()}
    lens_ids = {r.doc_id for r in spark.read.parquet(p["lens"]).collect()}
    assert fp_ids == lens_ids == {1, 2}, "kept-doc tables mirror the corpus"
    assert seen_ids == {1, 2, 10, 11, 12}, "seen records every attempt"


def test_legacy_positional_config_raises_clear_typeerror(spark, tmp_path):
    """Round-12 hardening: a legacy caller still passing the old
    4th-positional float threshold must fail at ENTRY with a TypeError
    naming the IngestConfig migration, not later with an opaque
    "'float' object has no attribute 'threshold'"."""
    import pytest

    from ts_etl_spark.streaming.ingest import IngestConfig

    batch = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    with pytest.raises(TypeError, match="IngestConfig"):
        ingest_batch(spark, batch, str(tmp_path / "c1"), 0.8)
    with pytest.raises(TypeError, match="IngestConfig"):
        run_streaming_ingest(
            spark, str(tmp_path / "landing"), str(tmp_path / "c2"),
            str(tmp_path / "ckpt"), 0.8,
        )
    # both-at-once stays an error, and the keyword form still works
    with pytest.raises(ValueError, match="not both"):
        ingest_batch(
            spark, batch, str(tmp_path / "c3"),
            config=IngestConfig(), threshold=0.8,
        )
    ingest_batch(spark, batch, str(tmp_path / "c4"), threshold=0.8)
    assert spark.read.parquet(str(tmp_path / "c4")).count() == 1


def test_length_histogram_accumulates_and_reads_quantiles(spark, tmp_path):
    """The persisted HDR length histogram after N batches equals the
    registers of the FINAL corpus's lengths (only kept docs fold in),
    and the quantile read satisfies the sketch's relative-error bound
    without any corpus scan."""
    import math

    from ts_etl_spark.operators.sketches import HDR_S, hdr_registers
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        corpus_length_quantiles,
    )

    corpus_path = str(tmp_path / "corpus")
    hdr_path = str(tmp_path / "lenhdr")
    cfg = IngestConfig(len_hdr_path=hdr_path)
    b1 = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    b2 = spark.createDataFrame(
        [(3, BASE), (4, NOVEL + " extended with more words")],
        "doc_id LONG, text STRING",
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=0)
    ingest_batch(spark, b2, corpus_path, cfg, batch_id=1)
    corpus = spark.read.parquet(corpus_path)
    expected = sorted(
        (r.bucket, r.n)
        for r in hdr_registers(
            corpus.select(F.length("text").alias("len")), "len"
        ).collect()
    )
    from ts_etl_spark.streaming.ingest import _latest_len_hdr

    regs, gen, last_bid = _latest_len_hdr(spark, hdr_path)
    got = sorted((r.bucket, r.n) for r in regs.collect())
    assert got == expected
    assert last_bid == 1
    qs = corpus_length_quantiles(spark, hdr_path)
    lens = sorted(len(r.text) for r in corpus.collect())
    for phi, est in qs.items():
        truth = lens[max(int(math.ceil(phi * len(lens))), 1) - 1]
        assert est <= truth <= est * (1 + 2**-HDR_S) + 1, (phi, est, truth)
    # empty path reads as no data, not an error
    assert corpus_length_quantiles(spark, str(tmp_path / "nope")) == {}


def test_length_histogram_replay_rebases_not_double_counts(spark, tmp_path):
    """SUM-merge is not idempotent, so the replay contract is carried by
    the batch-id skip: re-running update_length_histogram under the
    SAME batch_id (the Structured Streaming crash-replay shape) must
    leave the registers exactly as a single run would."""
    from ts_etl_spark.streaming.ingest import (
        _latest_len_hdr,
        update_length_histogram,
    )

    hdr_path = str(tmp_path / "lenhdr")
    b0 = spark.createDataFrame([(1, "a" * 40), (2, "b" * 100)], "doc_id LONG, text STRING")
    b1 = spark.createDataFrame([(3, "c" * 700)], "doc_id LONG, text STRING")
    update_length_histogram(spark, b0, hdr_path, batch_id=0)
    update_length_histogram(spark, b1, hdr_path, batch_id=1)
    once = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, hdr_path)[0].collect()
    )
    # crash replay: batch 1 runs again under the same id — twice
    update_length_histogram(spark, b1, hdr_path, batch_id=1)
    update_length_histogram(spark, b1, hdr_path, batch_id=1)
    again = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, hdr_path)[0].collect()
    )
    assert again == once
    # and a replay of the FIRST batch into a fresh table (no previous
    # generation) rebases on empty
    fresh = str(tmp_path / "lenhdr2")
    update_length_histogram(spark, b0, fresh, batch_id=0)
    update_length_histogram(spark, b0, fresh, batch_id=0)
    first = sorted(
        (r.bucket, r.n) for r in _latest_len_hdr(spark, fresh)[0].collect()
    )
    b0_only = sorted(
        (r.bucket, r.n)
        for r in __import__(
            "ts_etl_spark.operators.sketches", fromlist=["hdr_registers"]
        ).hdr_registers(
            b0.select(F.length("text").alias("len")), "len"
        ).collect()
    )
    assert first == b0_only


def test_length_histogram_post_append_replay_keeps_the_batch(spark, tmp_path):
    """The crash window the first (rebase-and-rewrite) protocol got
    wrong, caught in review: a micro-batch replayed AFTER its corpus
    append has an EMPTY kept set (every doc fingerprint-matches its
    stored copy). The replay must be a no-op — recomputing base+empty
    and pruning the first attempt's generation would drop the batch
    from the histogram forever."""
    from ts_etl_spark.streaming.ingest import (
        _latest_len_hdr,
        update_length_histogram,
    )

    hdr_path = str(tmp_path / "lenhdr")
    b0 = spark.createDataFrame(
        [(1, "a" * 40), (2, "b" * 100)], "doc_id LONG, text STRING"
    )
    b1 = spark.createDataFrame([(3, "c" * 700)], "doc_id LONG, text STRING")
    update_length_histogram(spark, b0, hdr_path, batch_id=0)
    update_length_histogram(spark, b1, hdr_path, batch_id=1)
    before = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, hdr_path)[0].collect()
    )
    # post-append replay: same batch_id, zero kept docs
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    update_length_histogram(spark, empty, hdr_path, batch_id=1)
    after = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, hdr_path)[0].collect()
    )
    assert after == before, "post-append replay reverted the batch"


def test_ingest_batch_refuses_defaulted_batch_id_with_len_hdr(spark, tmp_path):
    """Length-histogram replay detection is keyed on the batch id, so a
    defaulted id (two distinct batches both looking like batch 0, the
    second silently skipped) refuses loudly; without the telemetry the
    historical default stays accepted."""
    import pytest as _pytest

    from ts_etl_spark.streaming.ingest import IngestConfig

    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    cfg = IngestConfig(len_hdr_path=str(tmp_path / "lenhdr"))
    with _pytest.raises(ValueError, match="explicit, unique batch_id"):
        ingest_batch(spark, b, str(tmp_path / "corpus"), cfg)
    # explicit id works; and the default stays legal without the gate
    ingest_batch(spark, b, str(tmp_path / "corpus"), cfg, batch_id=0)
    ingest_batch(
        spark,
        spark.createDataFrame([(2, NOVEL)], "doc_id LONG, text STRING"),
        str(tmp_path / "corpus2"),
    )


@pytest.mark.slow
def test_bm25_lexicon_matches_corpus_scan_exactly(spark, tmp_path):
    """After a multi-batch ingest, (N, avgdl, idf) derived from the
    incremental lexicon must equal operators.bm25.bm25_stats recomputed
    by scanning the final corpus — EXACTLY (additive integer statistics
    through the same math.log idf), and bm25_topk fed from the lexicon
    returns identical rankings."""
    from ts_etl_spark.operators.bm25 import bm25_stats, bm25_topk
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        bm25_stats_from_lexicon,
    )

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = IngestConfig(bm25_lexicon_path=lex)
    b1 = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    b2 = spark.createDataFrame(
        [(3, BASE), (4, THIRD)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=0)
    ingest_batch(spark, b2, corpus_path, cfg, batch_id=1)  # 3 exact-dups
    corpus = spark.read.parquet(corpus_path)
    queries = {0: "alpha table sun", 1: "omega lid dune missingterm"}
    want = bm25_stats(corpus, queries)
    got = bm25_stats_from_lexicon(spark, lex, queries)
    assert got == want  # exact: ints, one division, same libm log
    a = sorted(map(tuple, bm25_topk(corpus, queries, stats=got).collect()))
    b = sorted(map(tuple, bm25_topk(corpus, queries, stats=want).collect()))
    assert a == b and a


def test_bm25_lexicon_replay_and_torn_append_converge(spark, tmp_path):
    """The two crash windows: a replay under an already-recorded
    batch_id no-ops (including the post-corpus-append empty-kept shape),
    and a torn first attempt (terms appended, totals missing) re-appends
    duplicate-but-identical rows that the reader's DISTINCT collapses."""
    from pyspark.sql import functions as F

    from ts_etl_spark.operators.bm25 import _tokens, bm25_stats
    from ts_etl_spark.streaming.ingest import (
        bm25_lexicon_paths,
        bm25_stats_from_lexicon,
        update_bm25_lexicon,
    )

    lex = str(tmp_path / "lex")
    b0 = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    b1 = spark.createDataFrame([(2, NOVEL)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, b0, lex, batch_id=0)

    # torn first attempt for batch 1: term rows land, totals row doesn't
    toks = _tokens(b1, "text", "doc_id")
    (
        toks.select("doc_id", F.explode("ws").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("batch_id", F.lit(1).cast("long"))
        .write.mode("append")
        .parquet(bm25_lexicon_paths(lex)["terms"])
    )
    # the replay re-runs the whole update (same kept set)
    update_bm25_lexicon(spark, b1, lex, batch_id=1)
    queries = {0: "alpha table"}
    both = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        both, queries
    )
    # post-append replay: same id, empty kept — a no-op
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, empty, lex, batch_id=1)
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        both, queries
    )
    # zero-kept batches still record presence (else re-derived forever)
    update_bm25_lexicon(spark, empty, lex, batch_id=2)
    update_bm25_lexicon(spark, b0, lex, batch_id=2)  # replay sees presence
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        both, queries
    )


@pytest.mark.slow
def test_bm25_lexicon_compacts_under_the_manifest_protocol(spark, tmp_path):
    """compact_ingest_state treats the three lexicon tables as ordinary
    append-accumulated state: the attested rewrite collapses per-batch
    file sets and preserves the summed statistics exactly."""
    import glob

    from ts_etl_spark.streaming.ingest import (
        bm25_lexicon_paths,
        bm25_stats_from_lexicon,
        compact_ingest_state,
        update_bm25_lexicon,
    )

    lex = str(tmp_path / "lex")
    for i, text in enumerate((BASE, NOVEL, THIRD)):
        docs = spark.createDataFrame(
            [(i, text)], "doc_id LONG, text STRING"
        )
        update_bm25_lexicon(spark, docs, lex, batch_id=i)
    queries = {0: "alpha sun table"}
    before = bm25_stats_from_lexicon(spark, lex, queries)
    files_before = len(
        glob.glob(f"{bm25_lexicon_paths(lex)['terms']}/*.parquet")
    )
    out = compact_ingest_state(spark, bm25_lexicon_path=lex)
    assert set(out) == set(bm25_lexicon_paths(lex).values())
    files_after = len(
        glob.glob(f"{bm25_lexicon_paths(lex)['terms']}/*.parquet")
    )
    assert files_after < files_before
    assert bm25_stats_from_lexicon(spark, lex, queries) == before


@pytest.mark.slow
def test_bm25_lexicon_bootstraps_on_adoption(spark, tmp_path):
    """Enabling the lexicon on a deployment with a pre-existing corpus
    must fold the STORED corpus first (reserved bootstrap id), not
    silently cover only post-adoption batches (review finding) — and a
    torn bootstrap (terms landed, totals missing) re-runs to the same
    state."""
    from pyspark.sql import functions as F

    from ts_etl_spark.operators.bm25 import _tokens, bm25_stats
    from ts_etl_spark.streaming.ingest import (
        BM25_BOOTSTRAP_ID,
        IngestConfig,
        bm25_lexicon_paths,
        bm25_stats_from_lexicon,
    )

    corpus_path = str(tmp_path / "corpus")
    # two batches land BEFORE the lexicon exists
    ingest_batch(
        spark,
        spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING"),
        corpus_path,
    )
    ingest_batch(
        spark,
        spark.createDataFrame([(2, NOVEL)], "doc_id LONG, text STRING"),
        corpus_path,
    )
    # adoption: the lexicon is configured from batch 7 onward — and the
    # torn-bootstrap shape is simulated by pre-appending the bootstrap
    # term rows WITHOUT the totals row (whole-file duplicate-identical)
    lex = str(tmp_path / "lex")
    pre = spark.read.parquet(corpus_path)
    (
        _tokens(pre, "text", "doc_id")
        .select("doc_id", F.explode("ws").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("batch_id", F.lit(BM25_BOOTSTRAP_ID).cast("long"))
        .write.mode("append")
        .parquet(bm25_lexicon_paths(lex)["terms"])
    )
    cfg = IngestConfig(bm25_lexicon_path=lex)
    ingest_batch(
        spark,
        spark.createDataFrame([(3, THIRD)], "doc_id LONG, text STRING"),
        corpus_path,
        cfg,
        batch_id=7,
    )
    corpus = spark.read.parquet(corpus_path)
    queries = {0: "alpha table sun"}
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        corpus, queries
    ), "adopted lexicon must cover the pre-existing corpus exactly"


def test_bm25_lexicon_and_len_hdr_refuse_out_of_order_ids(spark, tmp_path):
    """A batch id BELOW the last folded one is a restarted id sequence
    (checkpoint reset against live state), not a replay — both SUM-based
    tables refuse loudly instead of silently skipping or double-folding
    (review finding), and rebuild_bm25_lexicon is the lexicon remedy."""
    from ts_etl_spark.operators.bm25 import bm25_stats
    from ts_etl_spark.streaming.ingest import (
        bm25_stats_from_lexicon,
        rebuild_bm25_lexicon,
        update_bm25_lexicon,
        update_length_histogram,
    )

    lex = str(tmp_path / "lex")
    hdr = str(tmp_path / "lenhdr")
    corpus_path = str(tmp_path / "corpus")
    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, b, lex, batch_id=5)
    update_length_histogram(spark, b, hdr, batch_id=5)
    with pytest.raises(RuntimeError, match="out-of-order batch 3"):
        update_bm25_lexicon(spark, b, lex, batch_id=3)
    with pytest.raises(RuntimeError, match="out-of-order batch 3"):
        update_length_histogram(spark, b, hdr, batch_id=3)
    # the lexicon remedy: rebuild from the stored corpus, then any id folds
    b.write.mode("overwrite").parquet(corpus_path)
    rebuild_bm25_lexicon(spark, corpus_path, lex)
    queries = {0: "alpha beta"}
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        spark.read.parquet(corpus_path), queries
    )
    update_bm25_lexicon(
        spark,
        spark.createDataFrame([(2, NOVEL)], "doc_id LONG, text STRING"),
        lex,
        batch_id=0,
    )  # post-rebuild ids restart legally (only the bootstrap id remains)


def test_ingest_batch_refuses_defaulted_batch_id_with_bm25_lexicon(
    spark, tmp_path
):
    """The refusal's bm25-only arm (review finding: only the len_hdr arm
    was covered)."""
    from ts_etl_spark.streaming.ingest import IngestConfig

    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    cfg = IngestConfig(bm25_lexicon_path=str(tmp_path / "lex"))
    with pytest.raises(ValueError, match="explicit, unique batch_id"):
        ingest_batch(spark, b, str(tmp_path / "corpus"), cfg)
    ingest_batch(spark, b, str(tmp_path / "corpus"), cfg, batch_id=0)


def test_bm25_postings_index_matches_scan_exactly(spark, tmp_path):
    """Round 13: bm25_topk_from_index answers from the persisted
    postings alone — stats from the skinny tables, candidates from the
    term-pruned postings, the SAME _bm25_rank body — and must be
    EXACT-frame-equal (scores, ranks, everything) to the corpus-scan
    bm25_topk over the stored corpus. A pre-postings lexicon refuses
    both ranking and further folding with the bm25-rebuild remedy, and
    the rebuild upgrades it in one scan."""
    import shutil

    from ts_etl_spark.operators.bm25 import bm25_topk
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        bm25_lexicon_paths,
        bm25_topk_from_index,
        rebuild_bm25_lexicon,
        update_bm25_lexicon,
    )

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = IngestConfig(bm25_lexicon_path=lex)
    b1 = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    b2 = spark.createDataFrame(
        [(3, THIRD), (4, BASE + " " + THIRD)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=0)
    ingest_batch(spark, b2, corpus_path, cfg, batch_id=1)
    corpus = spark.read.parquet(corpus_path)
    queries = {0: "alpha table sun", 1: "dune lid alpha"}
    want = sorted(map(tuple, bm25_topk(corpus, queries).collect()))
    got = sorted(
        map(tuple, bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert got == want and got

    # pre-postings layout: ranking and folding refuse with the remedy
    shutil.rmtree(bm25_lexicon_paths(lex)["postings"])
    with pytest.raises(ValueError, match="no postings index"):
        bm25_topk_from_index(spark, lex, queries)
    with pytest.raises(RuntimeError, match="pre-postings"):
        update_bm25_lexicon(spark, b1, lex, batch_id=2)
    rebuild_bm25_lexicon(spark, corpus_path, lex)
    got2 = sorted(
        map(tuple, bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert got2 == want


def test_bm25_postings_torn_append_collapses_on_read(spark, tmp_path):
    """A crash AFTER the postings append (before terms/totals) replays
    to duplicate-but-IDENTICAL postings rows; the index reader's
    DISTINCT collapses them, so index-backed ranking still equals the
    scan exactly."""
    from ts_etl_spark.operators.bm25 import _tokens, bm25_topk
    from ts_etl_spark.streaming.ingest import (
        bm25_lexicon_paths,
        bm25_topk_from_index,
        update_bm25_lexicon,
    )

    lex = str(tmp_path / "lex")
    b0 = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    b1 = spark.createDataFrame([(2, NOVEL)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, b0, lex, batch_id=0)
    # torn attempt for batch 1: postings rows land (in the real writer's
    # bucketed layout), nothing else does
    from ts_etl_spark.streaming.ingest import _term_bucket_col

    toks = _tokens(b1, "text", "doc_id")
    (
        toks.select("doc_id", "dl", F.explode("ws").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "dl")
        .withColumn("batch_id", F.lit(1).cast("long"))
        .withColumn("tbucket", _term_bucket_col())
        .write.partitionBy("tbucket")
        .mode("append")
        .parquet(bm25_lexicon_paths(lex)["postings"])
    )
    update_bm25_lexicon(spark, b1, lex, batch_id=1)  # the replay
    both = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    queries = {0: "alpha table"}
    want = sorted(map(tuple, bm25_topk(both, queries).collect()))
    got = sorted(
        map(tuple, bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert got == want and got


@pytest.mark.slow
def test_bm25_ghost_batch_detected_and_auto_rebuilt(spark, tmp_path):
    """Round 13 (r12 verdict #2): compact-state probes the lexicon's
    doc count against the corpus row count. A planted ghost batch
    (totals committed, corpus append never landed, checkpoint
    abandoned — previously invisible until someone noticed skewed idf)
    raises Bm25LexiconDriftError carrying both counts AND the completed
    compaction results; the CLI's --auto-rebuild-bm25 re-derives the
    lexicon from the corpus."""
    from ts_etl_spark.cli import run_compact_state
    from ts_etl_spark.operators.bm25 import bm25_stats
    from ts_etl_spark.streaming.ingest import (
        Bm25LexiconDriftError,
        IngestConfig,
        bm25_stats_from_lexicon,
        compact_ingest_state,
        update_bm25_lexicon,
    )

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = IngestConfig(bm25_lexicon_path=lex)
    b1 = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=0)
    # healthy deployment: probe passes silently
    assert compact_ingest_state(
        spark, corpus_path=corpus_path, bm25_lexicon_path=lex
    )
    # ghost: the lexicon folds a batch whose corpus append never lands
    ghost = spark.createDataFrame([(3, THIRD)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, ghost, lex, batch_id=1)
    with pytest.raises(Bm25LexiconDriftError, match="ghost") as exc:
        compact_ingest_state(
            spark, corpus_path=corpus_path, bm25_lexicon_path=lex
        )
    assert exc.value.lex_n == 3 and exc.value.corpus_n == 2
    assert exc.value.compacted  # the compaction work itself completed
    # auto-rebuild REQUIRES the lease (an unleased rebuild racing a
    # live drain can drop its in-flight batch — review finding)
    with pytest.raises(ValueError, match="requires lease_path"):
        compact_ingest_state(
            spark,
            corpus_path=corpus_path,
            bm25_lexicon_path=lex,
            auto_rebuild_bm25=True,
        )
    # CLI remediation (under the held lease; the returned dict carries
    # the -1 rebuild marker)
    lease = str(tmp_path / "lease")
    out = run_compact_state(
        corpus_path=corpus_path,
        bm25_lexicon_path=lex,
        auto_rebuild_bm25=True,
        lease_path=lease,
        spark=spark,
    )
    assert out[lex] == -1
    queries = {0: "alpha table"}
    assert bm25_stats_from_lexicon(spark, lex, queries) == bm25_stats(
        spark.read.parquet(corpus_path), queries
    )
    # and the probe passes again
    assert compact_ingest_state(
        spark, corpus_path=corpus_path, bm25_lexicon_path=lex
    )


@pytest.mark.slow
def test_compact_failures_do_not_mask_detected_drift(spark, tmp_path):
    """Round 14 (ADVICE): when a per-table compaction fails AND the
    ghost-batch probe detects drift, the failures RuntimeError must
    carry the drift finding instead of silently dropping the very
    signal the probe exists to surface."""
    import os

    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        compact_ingest_state,
        update_bm25_lexicon,
    )

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = IngestConfig(bm25_lexicon_path=lex)
    b1 = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=0)
    # plant a ghost batch (drift) AND tear the corpus table (failure)
    ghost = spark.createDataFrame([(3, THIRD)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, ghost, lex, batch_id=1)
    os.remove(f"{corpus_path}/_SUCCESS")
    with pytest.raises(RuntimeError, match="_SUCCESS") as exc:
        compact_ingest_state(
            spark, corpus_path=corpus_path, bm25_lexicon_path=lex
        )
    msg = str(exc.value)
    assert "ghost-batch probe detected drift" in msg
    assert "records 3 docs" in msg and "holds 2" in msg


def test_cli_lease_heartbeat_keeps_long_rebuild_held(spark, tmp_path, monkeypatch):
    """Round 14 (ADVICE): ``_with_ingest_lease`` heartbeats the lease
    at TTL/3 while the wrapped maintenance op runs, so a rebuild longer
    than the TTL never becomes stealable mid-refold."""
    import time

    import ts_etl_spark.streaming.ingest as ing
    from ts_etl_spark.cli import _with_ingest_lease

    calls = []
    real = ing.acquire_ingest_lease

    def counting(*a, **k):
        calls.append(time.time())
        return real(*a, **k)

    monkeypatch.setattr(ing, "INGEST_LEASE_TTL_S", 0.6)
    monkeypatch.setattr(ing, "acquire_ingest_lease", counting)
    lease = str(tmp_path / "lease")
    _with_ingest_lease(spark, lease, lambda: time.sleep(0.9))
    # 1 initial acquire + >=1 heartbeat refresh at TTL/3 = 0.2s cadence
    assert len(calls) >= 2
    # released on exit (owner-checked)
    from ts_etl_spark.fs import path_exists

    assert not path_exists(spark, lease)


@pytest.mark.slow
def test_postings_bucketed_layout_prunes_at_planning_time(spark, tmp_path):
    """Round 14 (r13 verdict #2): the postings table is hive-partitioned
    by term hash bucket, so a query term maps to ONE ``tbucket=<n>``
    directory and the scan plans over only that directory's files — at
    any batch count, without min/max luck. Asserted three ways: (a) the
    on-disk layout is bucketed and every row sits in its term's bucket;
    (b) the index-backed query's executed plan carries the bucket
    PartitionFilters and its scan reads only the probed buckets'
    files; (c) compaction rewrites per bucket — file count drops,
    layout and in-bucket term sort survive, ranking unchanged."""
    import glob
    import os

    import pyarrow.parquet as papq

    from ts_etl_spark.operators.bm25 import bm25_topk
    from ts_etl_spark.streaming.ingest import (
        bm25_lexicon_paths,
        bm25_topk_from_index,
        compact_ingest_state,
        term_bucket,
        update_bm25_lexicon,
    )

    lex = str(tmp_path / "lex")
    all_docs = []
    for b in range(3):  # multi-batch: files accumulate per bucket
        docs = [
            (b * 100 + i,
             " ".join([BASE, NOVEL, THIRD][i % 3].split()[: 20 + i]))
            for i in range(20)
        ]
        all_docs += docs
        update_bm25_lexicon(
            spark,
            spark.createDataFrame(docs, "doc_id LONG, text STRING"),
            lex,
            batch_id=b,
        )
    postings = bm25_lexicon_paths(lex)["postings"]

    # (a) bucketed layout; every row in its term's bucket; in-bucket sort
    def _bucket_dirs():
        return sorted(
            d for d in os.listdir(postings) if d.startswith("tbucket=")
        )

    def _check_rows_and_sort():
        for d in _bucket_dirs():
            want_bucket = int(d.split("=", 1)[1])
            for f in glob.glob(f"{postings}/{d}/*.parquet"):
                t = papq.read_table(f, columns=["term"])
                terms = t.column("term").to_pylist()
                assert all(term_bucket(x) == want_bucket for x in terms)
                assert terms == sorted(terms), "in-bucket term sort lost"

    assert _bucket_dirs(), "postings not bucketed"
    assert not glob.glob(f"{postings}/*.parquet"), "flat files present"
    _check_rows_and_sort()

    # (b) planning-time pruning: the plan carries the bucket
    # PartitionFilters, and BEHAVIORALLY a corrupted parquet file in an
    # unprobed bucket never trips the query — the scan does not even
    # open files outside the probed directories
    queries = {0: "alpha table", 1: "dune"}
    ranked = bm25_topk_from_index(spark, lex, queries)
    corpus = spark.createDataFrame(all_docs, "doc_id LONG, text STRING")
    want = sorted(map(tuple, bm25_topk(corpus, queries).collect()))
    assert sorted(map(tuple, ranked.collect())) == want and want
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan, plan
    probe_buckets = {term_bucket(t) for t in ("alpha", "table", "dune")}
    victim_dir = next(
        d for d in _bucket_dirs()
        if int(d.split("=", 1)[1]) not in probe_buckets
    )
    victim = sorted(glob.glob(f"{postings}/{victim_dir}/*.parquet"))[0]
    original = open(victim, "rb").read()
    try:
        with open(victim, "wb") as fh:
            fh.write(b"not parquet at all")
        got_pruned = sorted(
            map(tuple, bm25_topk_from_index(spark, lex, queries).collect())
        )
        assert got_pruned == want, "scan opened an unprobed bucket's file"
    finally:
        with open(victim, "wb") as fh:
            fh.write(original)

    # (c) per-bucket compaction: fewer files, same layout/sort/results
    files_before = len(glob.glob(f"{postings}/tbucket=*/*.parquet"))
    out = compact_ingest_state(spark, bm25_lexicon_path=lex)
    assert out[postings] >= 1
    files_after = len(glob.glob(f"{postings}/tbucket=*/*.parquet"))
    assert files_after < files_before
    assert files_after == len(_bucket_dirs())  # ~1 file per bucket
    _check_rows_and_sort()
    got2 = sorted(
        map(tuple, bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert got2 == want


def test_rebuilds_and_probe_refuse_missing_corpus_path(spark, tmp_path):
    """Review findings (round 13): a typo'd corpus path must not read
    as an EMPTY corpus — verify_bm25_lexicon would report fictitious
    drift, and the rebuilds would delete real state and 'rebuild'
    nothing while reporting success."""
    from ts_etl_spark.streaming.ingest import (
        bm25_stats_from_lexicon,
        bm25_lexicon_paths,
        rebuild_bm25_lexicon,
        rebuild_length_histogram,
        update_bm25_lexicon,
        update_length_histogram,
        verify_bm25_lexicon,
        _latest_len_hdr,
    )

    lex = str(tmp_path / "lex")
    hdr = str(tmp_path / "lenhdr")
    missing = str(tmp_path / "corpsu")  # the typo
    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    update_bm25_lexicon(spark, b, lex, batch_id=0)
    update_length_histogram(spark, b, hdr, batch_id=0)
    with pytest.raises(ValueError, match="no corpus at"):
        verify_bm25_lexicon(spark, missing, lex)
    with pytest.raises(ValueError, match="no corpus at"):
        rebuild_bm25_lexicon(spark, missing, lex)
    with pytest.raises(ValueError, match="no corpus at"):
        rebuild_length_histogram(spark, missing, hdr)
    # nothing was deleted by the refused rebuilds
    assert bm25_stats_from_lexicon(spark, lex, {0: "alpha"})
    assert _latest_len_hdr(spark, hdr)[0] is not None


@pytest.mark.slow
def test_len_hdr_bootstraps_on_adoption_and_rebuilds(spark, tmp_path):
    """Round 13 (r12 advice #1): enabling len_hdr_path on a deployment
    with a pre-existing corpus folds the STORED corpus first under the
    reserved bootstrap id, so the histogram covers the full history —
    not just post-adoption batches; rebuild_length_histogram re-derives
    the state from the corpus."""
    from ts_etl_spark.operators.sketches import hdr_registers
    from ts_etl_spark.streaming.ingest import (
        LEN_HDR_BOOTSTRAP_ID,
        IngestConfig,
        _latest_len_hdr,
        rebuild_length_histogram,
    )

    corpus_path = str(tmp_path / "corpus")
    # two batches land BEFORE the histogram exists
    for i, text in enumerate((BASE, NOVEL)):
        ingest_batch(
            spark,
            spark.createDataFrame([(i, text)], "doc_id LONG, text STRING"),
            corpus_path,
        )
    hdr = str(tmp_path / "lenhdr")
    cfg = IngestConfig(len_hdr_path=hdr)
    ingest_batch(
        spark,
        spark.createDataFrame([(7, THIRD)], "doc_id LONG, text STRING"),
        corpus_path,
        cfg,
        batch_id=7,
    )
    corpus = spark.read.parquet(corpus_path)
    want = sorted(
        (r.bucket, r.n)
        for r in hdr_registers(
            corpus.select(F.length("text").alias("len")), "len"
        ).collect()
    )
    regs, _, bid = _latest_len_hdr(spark, hdr)
    assert bid == 7
    assert sorted((r.bucket, r.n) for r in regs.collect()) == want, (
        "adopted histogram must cover the pre-existing corpus exactly"
    )
    # rebuild re-derives the identical registers under the bootstrap id
    rebuild_length_histogram(spark, corpus_path, hdr)
    regs, _, bid = _latest_len_hdr(spark, hdr)
    assert bid == LEN_HDR_BOOTSTRAP_ID
    assert sorted((r.bucket, r.n) for r in regs.collect()) == want


def test_len_hdr_empty_first_generation_keeps_batch_id(spark, tmp_path):
    """Round 13 (r12 advice #4): a first-ever fold with an empty kept
    set must still carry its batch id (zero-count sentinel register) —
    a zero-row generation would silently disable the replay no-op and
    the out-of-order guard for the next fold."""
    from ts_etl_spark.streaming.ingest import (
        _latest_len_hdr,
        _stats_generations,
        corpus_length_quantiles,
        update_length_histogram,
    )

    hdr = str(tmp_path / "lenhdr")
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    update_length_histogram(spark, empty, hdr, batch_id=5)
    regs, gen, bid = _latest_len_hdr(spark, hdr)
    assert bid == 5
    assert corpus_length_quantiles(spark, hdr) == {}  # sentinel is a no-op
    # replay of id 5 no-ops (no new generation)
    update_length_histogram(spark, empty, hdr, batch_id=5)
    assert _stats_generations(spark, hdr)[-1] == gen
    # an id below 5 is a restarted sequence — the guard still fires
    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    with pytest.raises(RuntimeError, match="out-of-order batch 3"):
        update_length_histogram(spark, b, hdr, batch_id=3)
    # a later real fold works and the sentinel contributes nothing
    update_length_histogram(spark, b, hdr, batch_id=6)
    assert corpus_length_quantiles(spark, hdr)


def test_length_quantile_drift_flags_shifted_batch(spark, tmp_path):
    """Round 13 (r12 verdict #6): the HDR length telemetry now has a
    consumer — per batch, the p50/p99 length-quantile ratio against the
    corpus histogram is logged next to the PSI drift rows and flagged
    outside the band. A same-distribution batch passes; a planted
    length-shifted batch flags."""
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        bootstrap_length_histogram,
        length_drift_path,
        monitor_length_quantile_drift,
    )

    hdr = str(tmp_path / "lenhdr")
    drift = str(tmp_path / "drift")
    corpus = spark.createDataFrame(
        [(i, BASE + f" w{i}") for i in range(8)], "doc_id LONG, text STRING"
    )
    assert bootstrap_length_histogram(spark, corpus, hdr)
    same = spark.createDataFrame(
        [(100, NOVEL), (101, THIRD)], "doc_id LONG, text STRING"
    )
    shifted = spark.createDataFrame(
        [(200 + i, "x " * 3000) for i in range(4)], "doc_id LONG, text STRING"
    )
    monitor_length_quantile_drift(spark, hdr, same, drift, 0)
    monitor_length_quantile_drift(spark, hdr, shifted, drift, 1)
    lenq = length_drift_path(drift)
    ok_rows = spark.read.parquet(f"{lenq}/batch=0").collect()
    bad_rows = spark.read.parquet(f"{lenq}/batch=1").collect()
    assert ok_rows and not any(r.flagged for r in ok_rows)
    assert bad_rows and all(r.flagged for r in bad_rows)
    assert all(r.ratio > 2.0 for r in bad_rows)
    # wired through ingest_batch: both paths configured => rows land
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    cfg = IngestConfig(len_hdr_path=hdr, drift_path=drift)
    ingest_batch(spark, same, corpus_path, cfg, batch_id=2)
    assert spark.read.parquet(f"{lenq}/batch=2").count() == 2


@pytest.mark.slow
def test_psi_baseline_comes_from_hdr_registers(spark, tmp_path):
    """Round 15 (ablation finding): with ``len_hdr_path`` configured the
    PSI drift baseline is the persisted HDR register table — O(≤960)
    rows per batch — not a corpus-linear lens scan. Proven by
    bit-identical recomputation: the batch's written PSI rows equal
    ``psi_drift_hist`` over exactly the registers that stood BEFORE the
    fold (the corpus-so-far histogram), mapped to bucket
    representatives; the lens-scan value over the same corpus differs
    at register resolution, so an accidental fallback would not match."""
    from ts_etl_spark.operators.drift import psi_drift_hist
    from ts_etl_spark.operators.sketches import hdr_lower, hdr_width
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        _latest_len_hdr,
        stored_doclen,
    )

    hdr = str(tmp_path / "lenhdr")
    drift = str(tmp_path / "drift")
    corpus_path = str(tmp_path / "corpus")
    cfg = IngestConfig(len_hdr_path=hdr, drift_path=drift)
    b1 = spark.createDataFrame(
        [(i, "alpha beta " * (3 + i % 17) + f"w{i}") for i in range(60)],
        "doc_id LONG, text STRING",
    )
    ingest_batch(spark, b1, corpus_path, cfg, batch_id=1)
    regs, _g, _b = _latest_len_hdr(spark, hdr)
    snapshot = [(float(r.v), int(r.n)) for r in regs.filter("n > 0").select(
        (
            hdr_lower(F.col("bucket")).cast("double")
            + (hdr_width(F.col("bucket")).cast("double") - 1.0) / 2.0
        ).alias("v"),
        F.col("n"),
    ).collect()]
    b2 = spark.createDataFrame(
        [(100 + i, "gamma delta " * (2 + i % 23) + f"x{i}") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    ingest_batch(spark, b2, corpus_path, cfg, batch_id=2)
    got = sorted(
        map(tuple, spark.read.parquet(f"{drift}/batch=2").collect())
    )
    hist = spark.createDataFrame(snapshot, "v DOUBLE, n BIGINT")
    want = sorted(
        map(
            tuple,
            psi_drift_hist(
                hist, b2.select(stored_doclen().alias("v")), "v"
            ).collect(),
        )
    )
    assert got == want


def test_postings_bucket_count_is_persisted_and_enforced(
    spark, tmp_path, monkeypatch
):
    """Round 14 (review): the bucket count is baked into the directory
    names AND the reader's term→bucket hash, so changing
    LEX_POSTINGS_BUCKETS against existing state must refuse loudly
    (historical postings would silently vanish from rankings) — the
    marker is written before the first append, validated by reads and
    folds, and a rebuild re-derives the layout under the new count."""
    import ts_etl_spark.streaming.ingest as ing

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = ing.IngestConfig(bm25_lexicon_path=lex)
    docs = spark.createDataFrame(
        [(1, BASE), (2, NOVEL)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, docs, corpus_path, cfg, batch_id=0)
    queries = {0: "alpha table"}
    want = sorted(
        map(tuple, ing.bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert want
    monkeypatch.setattr(ing, "LEX_POSTINGS_BUCKETS", 64)
    with pytest.raises(RuntimeError, match="32 term buckets"):
        ing.bm25_topk_from_index(spark, lex, queries)
    b2 = spark.createDataFrame([(3, THIRD)], "doc_id LONG, text STRING")
    with pytest.raises(RuntimeError, match="32 term buckets"):
        ing.update_bm25_lexicon(spark, b2, lex, batch_id=1)
    # the remedy re-derives layout + marker under the new count
    ing.rebuild_bm25_lexicon(spark, corpus_path, lex)
    got = sorted(
        map(tuple, ing.bm25_topk_from_index(spark, lex, queries).collect())
    )
    assert got == want


@pytest.mark.slow
def test_rebuild_clears_stale_compaction_siblings(spark, tmp_path):
    """Round 14 (review): a compaction manifest left by a crash AFTER
    its commit PUT would be rolled FORWARD by the next compact-state
    and resurrect the pre-rebuild generation's files into the rebuilt
    table — rebuild_bm25_lexicon must clear the staging/manifest
    siblings along with the tables."""
    import ts_etl_spark.streaming.ingest as ing
    from ts_etl_spark.fs import path_exists, write_text_file

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = ing.IngestConfig(bm25_lexicon_path=lex)
    docs = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    ingest_batch(spark, docs, corpus_path, cfg, batch_id=0)
    postings = ing.bm25_lexicon_paths(lex)["postings"]
    staging = ing._compact_staging(postings)
    manifest = ing._compact_manifest(postings)
    write_text_file(spark, f"{staging}/stale.parquet", "stale")
    write_text_file(
        spark, manifest, '{"table": "x", "hash": 0, "files": ["stale.parquet"]}'
    )
    ing.rebuild_bm25_lexicon(spark, corpus_path, lex)
    assert not path_exists(spark, staging)
    assert not path_exists(spark, manifest)
    # and compact-state runs clean over the rebuilt deployment
    assert ing.compact_ingest_state(
        spark, corpus_path=corpus_path, bm25_lexicon_path=lex
    )


def test_lease_steal_aborts_compaction_pass_loudly(
    spark, tmp_path, monkeypatch
):
    """Round 14 (review): a lease steal mid-pass must abort the WHOLE
    compaction as IngestLeaseError — never be swallowed into the
    per-table failures dict as an ordinary 'compaction failed' entry
    (a second live writer means every further mutation risks
    interleaving)."""
    import ts_etl_spark.streaming.ingest as ing

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = ing.IngestConfig(bm25_lexicon_path=lex)
    docs = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    ingest_batch(spark, docs, corpus_path, cfg, batch_id=0)

    calls = []
    real = ing.acquire_ingest_lease

    def stolen_mid_buckets(*a, **k):
        calls.append(1)
        # trip on the 4th acquire: (1) entry, (2) corpus heartbeat,
        # (3) postings heartbeat — all OUTSIDE the per-table try, where
        # a raise propagates trivially — (4) the FIRST per-bucket
        # heartbeat inside compact_bucketed_state_table, which runs
        # INSIDE the per-table try whose failure aggregation used to
        # swallow it (the path this test exists to guard)
        if len(calls) > 3:
            raise ing.IngestLeaseError("stolen by another writer")
        return real(*a, **k)

    monkeypatch.setattr(ing, "acquire_ingest_lease", stolen_mid_buckets)
    with pytest.raises(ing.IngestLeaseError, match="stolen"):
        ing.compact_ingest_state(
            spark,
            corpus_path=corpus_path,
            bm25_lexicon_path=lex,
            lease_path=str(tmp_path / "lease"),
        )
    assert len(calls) == 4  # the trip really was the in-try bucket beat


@pytest.mark.slow
def test_drift_report_cli_surfaces_flagged_batches(spark, tmp_path, capsys):
    """Round 14 (r13 verdict #5): the telemetry finally has an
    operational consumer — ``drift-report`` reads the PSI drift log,
    the ``_lenq`` length-quantile log and the attempt heavy-hitter
    registers, prints one line per (table, batch), and under
    ``--fail-on-flagged`` exits 1 when a planted drifted batch is
    visible end to end."""
    from ts_etl_spark import cli
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        bootstrap_length_histogram,
        ingest_batch,
    )

    hdr = str(tmp_path / "lenhdr")
    drift = str(tmp_path / "drift")
    hh = str(tmp_path / "hh")
    corpus_path = str(tmp_path / "corpus")
    corpus = spark.createDataFrame(
        [(i, BASE + f" w{i}") for i in range(8)], "doc_id LONG, text STRING"
    )
    corpus.write.parquet(corpus_path)
    assert bootstrap_length_histogram(spark, corpus, hdr)
    cfg = IngestConfig(len_hdr_path=hdr, drift_path=drift, hh_path=hh)
    same = spark.createDataFrame(
        [(100, NOVEL), (101, THIRD)], "doc_id LONG, text STRING"
    )
    shifted = spark.createDataFrame(
        [(200 + i, "x " * 3000) for i in range(4)], "doc_id LONG, text STRING"
    )
    ingest_batch(spark, same, corpus_path, cfg, batch_id=0)
    ingest_batch(spark, shifted, corpus_path, cfg, batch_id=1)

    report = cli.run_drift_report(
        drift_path=drift, hh_path=hh, spark=spark
    )
    out = capsys.readouterr().out
    # the shifted batch is flagged in the length-quantile log (its PSI
    # vs the by-then-mixed corpus may or may not clear the PSI band —
    # the lenq band is the planted signal) and every batch reports
    assert ("lenq", 1) in report["flagged"]
    # ONE signal per (table, batch) even when both quantiles flag
    assert report["flagged"].count(("lenq", 1)) == 1
    assert all(r[4] for r in report["lenq"][1])  # flagged column
    assert not any(r[4] for r in report["lenq"][0])
    assert set(report["psi"]) == {0, 1}
    assert report["hh"][0] == 2 and report["hh"][1] == 4  # exact attempts
    assert "lenq batch=1" in out and "FLAGGED" in out
    assert "hh batch=1 attempts=4" in out

    # CLI wiring: exit 0 without the flag gate, 1 with it
    assert cli.main(["drift-report", "--drift", drift, "--hh", hh]) == 0
    assert (
        cli.main(
            ["drift-report", "--drift", drift, "--hh", hh,
             "--fail-on-flagged"]
        )
        == 1
    )
    # --last bounds the report to the newest batch ids
    report2 = cli.run_drift_report(
        drift_path=drift, hh_path=hh, last=1, spark=spark
    )
    assert set(report2["psi"]) == {1} and set(report2["hh"]) == {1}
    assert cli.main(["drift-report"]) == 1  # no paths: usage error
    # --last 0 would slice to EVERYTHING and negatives drop the oldest —
    # both refuse (review finding)
    assert (
        cli.main(["drift-report", "--drift", drift, "--last", "0"]) == 1
    )


@pytest.mark.slow
def test_compact_state_refreshes_lease_per_table(spark, tmp_path, monkeypatch):
    """Round 13 (r12 verdict #7): compact_ingest_state refreshes the
    lease between tables, so a multi-hour pass over many tables never
    outlives the TTL mid-swap and becomes stealable — acquire runs once
    at entry plus once per state dir."""
    import ts_etl_spark.streaming.ingest as ing

    corpus_path = str(tmp_path / "corpus")
    lex = str(tmp_path / "lex")
    cfg = ing.IngestConfig(bm25_lexicon_path=lex)
    b = spark.createDataFrame([(1, BASE)], "doc_id LONG, text STRING")
    ingest_batch(spark, b, corpus_path, cfg, batch_id=0)

    calls = []
    real = ing.acquire_ingest_lease

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(ing, "acquire_ingest_lease", counting)
    lease = str(tmp_path / "lease")
    ing.compact_ingest_state(
        spark,
        corpus_path=corpus_path,
        bm25_lexicon_path=lex,
        lease_path=lease,
    )
    # 1 entry + 4 state dirs (corpus + postings/terms/totals) + 1 per
    # postings bucket dir (round 14 — the bucketed table compacts as
    # sequential per-bucket swaps, each behind a heartbeat) + 1 before
    # the ghost-batch probe (the probe and a potential auto-rebuild run
    # after the last per-table heartbeat)
    import os

    postings = ing.bm25_lexicon_paths(lex)["postings"]
    n_buckets = sum(
        1 for d in os.listdir(postings) if d.startswith("tbucket=")
    )
    assert n_buckets >= 1
    assert len(calls) == 6 + n_buckets
