"""Ingest-state compaction (round 11; manifest commit round 12):
per-batch appends leave one file set per micro-batch in every state
table, so after thousands of batches the per-batch cost stops being
batch-linear (file listing + footer reads grow with BATCH COUNT).
``compact_ingest_state`` rewrites each table under an ATTESTED,
manifest-committed swap that never renames or deletes the live
directory itself — safe on object stores where directory renames are
per-file copy+delete. These tests pin content preservation, the
attestation abort, the full crash matrix (every protocol step,
including a torn per-file copy+delete rename), the ingest-side
recovery hook, and the CLI surface."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from ts_etl_spark.fs import hadoop_fs
from ts_etl_spark.streaming.ingest import (
    IngestConfig,
    _compact_manifest,
    _compact_staging,
    compact_ingest_state,
    compact_state_table,
    dedup_index_paths,
    ingest_batch,
    ingest_state_dirs,
    recover_state_compaction,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _rand_words(rng, n):
    return " ".join(f"w{rng.randrange(10_000)}" for _ in range(n))


def _snapshot(spark, d):
    return sorted(tuple(str(x) for x in r) for r in spark.read.parquet(d).collect())


def count_files(spark, path: str) -> int:
    """Number of parquet files under ``path``, recursive; 0 if absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


@pytest.fixture()
def deployment(spark, tmp_path):
    """A four-batch full-stack deployment (dedup index + substring gate;
    the semantic gate needs trained centroids and adds nothing to the
    compaction surface beyond one more single-table dir)."""
    rng = random.Random(31)
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    win = str(tmp_path / "win")
    cfg = IngestConfig(dedup_index_path=idx, win_index_path=win)
    boiler = _rand_words(rng, 40)
    for k in range(4):
        ingest_batch(
            spark,
            _docs(
                spark,
                [
                    (100 * (k + 1) + j, f"{_rand_words(rng, 50)} {boiler}")
                    for j in range(3)
                ],
            ),
            corpus,
            cfg,
            batch_id=k,
        )
    return corpus, idx, win, cfg


@pytest.mark.slow
def test_compaction_preserves_content_and_shrinks_files(
    spark, deployment, tmp_path
):
    corpus, idx, win, cfg = deployment
    dirs = ingest_state_dirs(corpus, idx, win)
    before = {d: _snapshot(spark, d) for d in dirs}
    counts = {d: count_files(spark, d) for d in dirs}
    # appends really accumulated: at least one table has one file set
    # per batch (seen appends every batch)
    assert counts[dedup_index_paths(idx)["seen"]] >= 4
    out = compact_ingest_state(
        spark, corpus_path=corpus, dedup_index_path=idx, win_index_path=win
    )
    assert set(out) == set(dirs)
    for d in dirs:
        assert count_files(spark, d) == out[d] == 1  # tiny data -> 1 file
        assert _snapshot(spark, d) == before[d], f"{d} content changed"
        assert not os.path.exists(_compact_staging(d)), "staging left behind"
        assert not os.path.exists(_compact_manifest(d)), "manifest left behind"
    # the deployment still ingests and judges correctly post-compaction:
    # a replay of batch 0's first doc must drop at the exact layer
    first_id = 100
    ingest_batch(
        spark,
        _docs(spark, [(first_id, before[corpus][0][1])]),
        corpus,
        cfg,
        batch_id=99,
    )
    assert _snapshot(spark, corpus) == before[corpus]


@pytest.mark.slow
def test_attestation_failure_aborts_and_keeps_live(
    spark, deployment, monkeypatch
):
    """A rewrite that loses a row must abort BEFORE the swap: live table
    untouched, staging discarded, loud error."""
    import ts_etl_spark.pipelines.maintenance as maint

    corpus, idx, win, _ = deployment
    seen = dedup_index_paths(idx)["seen"]
    before = _snapshot(spark, seen)

    real = maint.compact_parquet

    def lossy(spark_, path, out_path, target, **kw):
        n = real(spark_, path, out_path, target, **kw)
        # corrupt the staged copy: rewrite it minus one row
        df = spark_.read.parquet(out_path).orderBy("doc_id").limit(
            len(before) - 1
        ).localCheckpoint(eager=True)
        df.write.mode("overwrite").parquet(out_path)
        return n

    monkeypatch.setattr(maint, "compact_parquet", lossy)
    with pytest.raises(RuntimeError, match="attestation failed"):
        compact_state_table(spark, seen)
    assert _snapshot(spark, seen) == before, "live table was touched"
    assert not os.path.exists(_compact_staging(seen)), "staging not discarded"


def _stage_and_commit(spark, table_dir, target=128 * 1024 * 1024):
    """Execute protocol steps 1-3 by hand (staging rewrite + manifest
    PUT) and return (staged, manifest, names) — the committed-swap
    starting state the crash tests interrupt from."""
    from ts_etl_spark.fs import list_data_files, write_text_file
    from ts_etl_spark.pipelines.maintenance import compact_parquet

    staged = _compact_staging(table_dir)
    manifest = _compact_manifest(table_dir)
    compact_parquet(spark, table_dir, staged, target)
    names = list_data_files(spark, staged)
    write_text_file(spark, manifest, json.dumps({"files": names}))
    return staged, manifest, names


@pytest.mark.slow
def test_manifest_rolls_forward_after_commit(spark, deployment):
    """Crash right after the manifest PUT (no file moved yet): recovery
    rolls the swap FORWARD — the live table ends as exactly the staged
    generation, content preserved, no swap artifacts left."""
    from ts_etl_spark.fs import list_data_files

    corpus, idx, win, _ = deployment
    lens = dedup_index_paths(idx)["lens"]
    before = _snapshot(spark, lens)
    staged, manifest, names = _stage_and_commit(spark, lens)
    recover_state_compaction(spark, lens)
    assert _snapshot(spark, lens) == before
    assert list_data_files(spark, lens) == names
    assert not os.path.exists(staged) and not os.path.exists(manifest)
    assert os.path.exists(f"{lens}/_SUCCESS")


@pytest.mark.slow
def test_crash_rollback_discards_stale_staging(spark, deployment):
    """Crash window before the swap (live still present): the staging is
    stale — discarded, live authoritative."""
    from ts_etl_spark.pipelines.maintenance import compact_parquet

    corpus, idx, win, _ = deployment
    fp = dedup_index_paths(idx)["fp"]
    before = _snapshot(spark, fp)
    staged = _compact_staging(fp)
    compact_parquet(spark, fp, staged, 128 * 1024 * 1024)
    recover_state_compaction(spark, fp)
    assert not os.path.exists(staged)
    assert _snapshot(spark, fp) == before


@pytest.mark.slow
def test_ingest_batch_recovers_interrupted_compaction(spark, deployment):
    """The per-batch recovery hook: an ingest arriving after a crashed
    committed swap (manifest present, files half-moved, old generation
    still in place) self-heals the table first, then judges normally."""
    corpus, idx, win, cfg = deployment
    bands = dedup_index_paths(idx)["bands"]
    before = _snapshot(spark, bands)
    _stage_and_commit(spark, bands)  # crash before any file move
    # next batch must self-heal, then ingest normally
    ingest_batch(
        spark,
        _docs(spark, [(9000, "totally novel words that match nothing")]),
        corpus,
        cfg,
        batch_id=50,
    )
    assert 9000 in {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert set(_snapshot(spark, bands)) >= set(before), "bands lost rows"
    assert not os.path.exists(_compact_staging(bands))
    assert not os.path.exists(_compact_manifest(bands))


@pytest.mark.slow
def test_compact_state_cli_roundtrip(spark, deployment):
    import ts_etl_spark.cli as cli

    corpus, idx, win, _ = deployment
    out = cli.run_compact_state(
        corpus_path=corpus, dedup_index_path=idx, spark=spark
    )
    # corpus + the five index tables; win not passed -> not compacted
    assert len(out) == 6
    assert all(n == 1 for n in out.values())


def test_missing_table_refused_and_absent_paths_skipped(spark, tmp_path):
    with pytest.raises(ValueError, match="no state table"):
        compact_state_table(spark, str(tmp_path / "nope"))
    assert compact_ingest_state(
        spark, dedup_index_path=str(tmp_path / "idx_absent")
    ) == {}


@pytest.mark.slow
def test_torn_objectstore_rename_recovers_without_row_loss(spark, deployment):
    """THE object-store crash shape (round-12 fix): a per-file rename on
    S3A is copy+delete, so a crash mid-move leaves the file in BOTH the
    staging and the live dir while other listed files moved fully and
    the old generation is still present — directory-existence inference
    cannot distinguish this; the manifest repairs it exactly: live ends
    as the manifest set, content preserved, zero row loss."""
    import shutil

    from ts_etl_spark.fs import list_data_files, rename_dir

    corpus, idx, win, _ = deployment
    sets = dedup_index_paths(idx)["sets"]
    before = _snapshot(spark, sets)
    # small target -> several staged files, so the torn states differ
    staged, manifest, names = _stage_and_commit(spark, sets, target=1024)
    assert len(names) >= 2, "need >=2 staged files for a meaningful tear"
    # file 0: fully moved; file 1: torn copy+delete (present in BOTH)
    rename_dir(spark, f"{staged}/{names[0]}", f"{sets}/{names[0]}")
    shutil.copyfile(f"{staged}/{names[1]}", f"{sets}/{names[1]}")
    recover_state_compaction(spark, sets)
    assert _snapshot(spark, sets) == before, "rows lost/duplicated"
    assert sorted(list_data_files(spark, sets)) == sorted(names)
    assert not os.path.exists(staged) and not os.path.exists(manifest)


@pytest.mark.slow
def test_stale_staging_cannot_resurrect_a_deleted_table(spark, deployment):
    """ADVICE round-11 #4: a committed-looking staging dir WITHOUT a
    manifest must never roll forward into a missing live table — an
    operator who deliberately deleted a table would silently get it
    back on the next ingest otherwise. The manifest is the only
    roll-forward evidence; pre-commit staging is always discarded."""
    from ts_etl_spark.fs import delete_dir
    from ts_etl_spark.pipelines.maintenance import compact_parquet

    corpus, idx, win, _ = deployment
    lens = dedup_index_paths(idx)["lens"]
    staged = _compact_staging(lens)
    compact_parquet(spark, lens, staged, 128 * 1024 * 1024)
    delete_dir(spark, lens)  # deliberate operator delete; staging is stale
    recover_state_compaction(spark, lens)
    assert not os.path.exists(lens), "deleted table was resurrected"
    assert not os.path.exists(staged)


def test_sibling_paths_preserve_root_and_relative_forms():
    """ADVICE round-11 #1: a root-level table dir must get ROOT-level
    siblings, not CWD-relative ones ('/corpus' -> '/_compact_corpus');
    nested and relative forms keep their parent."""
    assert _compact_staging("/corpus") == "/_compact_corpus"
    assert _compact_manifest("/corpus") == "/_compact_manifest_corpus"
    assert _compact_staging("/a/b/corpus/") == "/a/b/_compact_corpus"
    assert _compact_staging("corpus") == "_compact_corpus"
    assert _compact_staging("rel/corpus") == "rel/_compact_corpus"


@pytest.mark.slow
def test_partitioned_layout_refused(spark, deployment, tmp_path):
    """A hive-partitioned table must refuse the round-robin rewrite —
    it would destroy the partition layout readers prune on."""
    part = str(tmp_path / "part_table")
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "doc_id LONG, text STRING, p STRING"
    ).write.partitionBy("p").parquet(part)
    with pytest.raises(ValueError, match="partitioned layout"):
        compact_state_table(spark, part)


@pytest.mark.slow
def test_torn_table_refuses_compaction(spark, deployment):
    """Round-11 review fix: compacting a table WITHOUT its _SUCCESS
    marker would stamp a fresh marker via the staging write and launder
    a torn write (e.g. a crashed orig-fp bootstrap) into a
    committed-looking table — refused loudly instead."""
    corpus, idx, win, _ = deployment
    fp = dedup_index_paths(idx)["fp"]
    os.remove(f"{fp}/_SUCCESS")
    with pytest.raises(ValueError, match="no _SUCCESS marker"):
        compact_state_table(spark, fp)


@pytest.mark.slow
def test_disabled_success_markers_refused(spark, deployment):
    """Round-11 review fix: with marksuccessfuljobs=false the whole
    _SUCCESS-gated state machine (generations, bootstrap commit checks,
    torn-table refusal) silently degrades — ingest and compaction refuse
    the configuration loudly."""
    corpus, idx, win, cfg = deployment
    hconf = spark._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    hconf.set(key, "false")
    try:
        with pytest.raises(ValueError, match="marksuccessfuljobs"):
            compact_ingest_state(spark, corpus_path=corpus)
        with pytest.raises(ValueError, match="marksuccessfuljobs"):
            ingest_batch(
                spark,
                _docs(spark, [(99_000, "words here")]),
                corpus,
                cfg,
            )
    finally:
        hconf.set(key, "true")


def test_cli_ingest_compact_after(spark, tmp_path):
    """--compact-after: the drain is followed by the attested compaction
    while the process still holds the single-writer role — the next
    drain starts from 1 file per state table."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    import ts_etl_spark.cli as cli

    rng = random.Random(17)
    landing = tmp_path / "landing"
    landing.mkdir()
    now = _time.time()
    for k in range(3):
        rows = [(100 * (k + 1) + j, _rand_words(rng, 30)) for j in range(4)]
        p = str(landing / f"b{k}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (now - 90 + 30 * k, now - 90 + 30 * k))
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    out = cli.run_ingest(
        str(landing),
        corpus,
        str(tmp_path / "ckpt"),
        dedup_index_path=idx,
        compact_after=True,
        spark=spark,
    )
    assert out["corpus_docs"] == 12
    for d in ingest_state_dirs(corpus, idx):
        assert count_files(spark, d) == 1, d


@pytest.mark.slow
def test_one_torn_table_does_not_block_the_rest(spark, deployment):
    """Round-11 second review pass: compact_ingest_state attempts every
    table and raises ONE summary error at the end — a torn table must
    not leave the rest of the deployment uncompacted or silently hide
    which tables did compact."""
    corpus, idx, win, _ = deployment
    fp = dedup_index_paths(idx)["fp"]
    os.remove(f"{fp}/_SUCCESS")
    with pytest.raises(RuntimeError, match="no _SUCCESS") as ei:
        compact_ingest_state(
            spark, corpus_path=corpus, dedup_index_path=idx, win_index_path=win
        )
    assert "compacted successfully" in str(ei.value)
    # everything except fp really did compact
    for d in ingest_state_dirs(corpus, idx, win):
        if d != fp:
            assert count_files(spark, d) == 1, d


def test_seen_admit_on_attemptless_index_says_nothing_wedged(spark, tmp_path):
    """An index whose seen table records no attempts cannot wedge — the
    refusal must say that, not 'exceeds max (None)'."""
    from ts_etl_spark.streaming.ingest import admit_seen_ids

    idx = str(tmp_path / "idx")
    p = dedup_index_paths(idx)
    empty = spark.createDataFrame([], "doc_id LONG")
    empty.selectExpr("CAST(doc_id AS STRING) AS fp").write.parquet(p["fp"])
    empty.write.parquet(p["seen"])
    with pytest.raises(ValueError, match="records no attempts"):
        admit_seen_ids(spark, idx, [1])


@pytest.mark.parametrize("crash_after", [1, 2, 3, 4, 5, 6, 7, 8])
@pytest.mark.slow
def test_every_protocol_interruption_point_recovers(
    spark, deployment, crash_after
):
    """The full crash matrix: execute the REAL protocol steps up to each
    interruption point (1 = staging write, 2 = attest, 3 = manifest
    PUT, 4 = one listed file moved, 5 = all listed files moved, 6 = old
    generation deleted, 7 = staging deleted, 8 = manifest deleted, i.e.
    completed), then recover — the table content must equal the
    original and no swap artifacts remain, whichever instruction the
    crash followed. Guards future edits to the protocol ordering."""
    from ts_etl_spark.fs import (
        delete_dir,
        list_data_files,
        rename_dir,
        write_text_file,
    )
    from ts_etl_spark.pipelines.maintenance import (
        compact_parquet,
        table_content_hash,
    )

    corpus, idx, win, _ = deployment
    lens = dedup_index_paths(idx)["lens"]
    before = _snapshot(spark, lens)
    old_names = set(list_data_files(spark, lens))
    staged, manifest = _compact_staging(lens), _compact_manifest(lens)

    compact_parquet(spark, lens, staged, 1024)                       # step 1
    names = list_data_files(spark, staged)
    assert len(names) >= 2, "need >=2 staged files for the partial move"
    if crash_after >= 2:
        assert table_content_hash(
            spark.read.parquet(lens)
        ) == table_content_hash(spark.read.parquet(staged))          # step 2
    if crash_after >= 3:
        write_text_file(spark, manifest, json.dumps({"files": names}))
    if crash_after >= 4:
        rename_dir(spark, f"{staged}/{names[0]}", f"{lens}/{names[0]}")
    if crash_after >= 5:
        for n in names[1:]:
            rename_dir(spark, f"{staged}/{n}", f"{lens}/{n}")
    if crash_after >= 6:
        for n in old_names:
            delete_dir(spark, f"{lens}/{n}")
    if crash_after >= 7:
        delete_dir(spark, staged)
    if crash_after >= 8:
        delete_dir(spark, manifest)

    recover_state_compaction(spark, lens)
    assert _snapshot(spark, lens) == before, f"content lost at {crash_after}"
    assert not os.path.exists(staged) and not os.path.exists(manifest)
    assert os.path.exists(f"{lens}/_SUCCESS")
    live_files = set(list_data_files(spark, lens))
    if crash_after >= 3:
        assert live_files == set(names), "roll-forward must land the manifest set"
    else:
        assert live_files == old_names, "pre-commit crash must keep live as-is"
    # and the recovered table is still compactable + ingestible
    assert compact_state_table(spark, lens) == 1
    assert _snapshot(spark, lens) == before


@pytest.mark.slow
def test_repeated_cycles_stay_stable(spark, deployment):
    """Compaction is idempotent and composes with further ingests:
    compact -> compact (no-op rewrite) -> ingest -> compact, content
    tracked exactly throughout."""
    corpus, idx, win, cfg = deployment
    dirs = ingest_state_dirs(corpus, idx, win)
    compact_ingest_state(
        spark, corpus_path=corpus, dedup_index_path=idx, win_index_path=win
    )
    snap1 = {d: _snapshot(spark, d) for d in dirs}
    compact_ingest_state(
        spark, corpus_path=corpus, dedup_index_path=idx, win_index_path=win
    )
    assert {d: _snapshot(spark, d) for d in dirs} == snap1, "second pass changed content"
    ingest_batch(
        spark,
        _docs(spark, [(10_000, "fresh words after maintenance cycle")]),
        corpus,
        cfg,
        batch_id=77,
    )
    out = compact_ingest_state(
        spark, corpus_path=corpus, dedup_index_path=idx, win_index_path=win
    )
    assert all(n == 1 for n in out.values())
    assert 10_000 in {r.doc_id for r in spark.read.parquet(corpus).collect()}


# --------------------------------------------------------------------------
# Telemetry retention (round 12): drift prune + heavy-hitter rollup
# --------------------------------------------------------------------------


def _fps(spark, texts):
    from ts_etl_spark.operators.dedup import canonical_fingerprint

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    return [r.fp for r in df.select(canonical_fingerprint().alias("fp")).collect()]


@pytest.fixture()
def telemetry(spark, tmp_path):
    """10 batches of attempt registers + drift rows: doc 'hot' attempted
    every batch, 'cold<k>' once each — known lifetime counts to preserve
    across retention."""
    from ts_etl_spark.streaming.ingest import (
        monitor_batch_drift,
        update_attempt_heavyhitters,
    )

    hh = str(tmp_path / "hh")
    drift = str(tmp_path / "drift")
    corpus = spark.createDataFrame(
        [(i, f"base doc {i} some words") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    for k in range(10):
        batch = _docs(spark, [(100 + k, "hot doc text"), (200 + k, f"cold{k}")])
        update_attempt_heavyhitters(spark, batch, hh, k)
        monitor_batch_drift(spark, corpus, batch, drift, k)
    return hh, drift


@pytest.mark.slow
def test_telemetry_retention_bounds_dirs_and_preserves_counts(
    spark, telemetry
):
    from ts_etl_spark.fs import list_subdirs
    from ts_etl_spark.streaming.ingest import (
        HH_ROLLUP_DIR,
        heavyhitter_estimate,
        prune_ingest_telemetry,
        update_attempt_heavyhitters,
    )

    hh, drift = telemetry
    keys = _fps(spark, ["hot doc text", "cold0", "cold7"])
    before = heavyhitter_estimate(spark, hh, keys)
    assert before[keys[0]] >= 10  # never underestimates
    out = prune_ingest_telemetry(spark, drift_path=drift, hh_path=hh, horizon=3)
    assert out == {drift: 7, hh: 7}
    # drift: only the last 3 batch ids survive, nothing else
    assert sorted(list_subdirs(spark, drift)) == [f"batch={i}" for i in (7, 8, 9)]
    # hh: last 3 + the consolidated rollup; lifetime estimates unchanged
    assert sorted(list_subdirs(spark, hh)) == sorted(
        [f"batch={i}" for i in (7, 8, 9)] + [HH_ROLLUP_DIR]
    )
    assert heavyhitter_estimate(spark, hh, keys) == before
    # idempotent: a second pass with the same horizon removes nothing
    assert prune_ingest_telemetry(
        spark, drift_path=drift, hh_path=hh, horizon=3
    ) == {drift: 0, hh: 0}
    assert heavyhitter_estimate(spark, hh, keys) == before
    # more batches, another pass: the EXISTING rollup merges in, counts
    # keep accumulating — dir count stays bounded by horizon + 1
    for k in range(10, 14):
        update_attempt_heavyhitters(
            spark, _docs(spark, [(100 + k, "hot doc text")]), hh, k
        )
    grown = heavyhitter_estimate(spark, hh, keys)
    assert grown[keys[0]] == before[keys[0]] + 4
    prune_ingest_telemetry(spark, hh_path=hh, horizon=3)
    assert sorted(list_subdirs(spark, hh)) == sorted(
        [f"batch={i}" for i in (11, 12, 13)] + [HH_ROLLUP_DIR]
    )
    assert heavyhitter_estimate(spark, hh, keys) == grown


@pytest.mark.slow
def test_telemetry_rollup_crash_matrix(spark, telemetry):
    """Interrupt the rollup at each protocol point; the reader-side
    roll-forward must keep lifetime estimates exact throughout — no
    batch lost, none double-counted."""
    import json as _json

    from ts_etl_spark.fs import list_data_files, list_subdirs, write_text_file
    from ts_etl_spark.streaming.ingest import (
        CM_SCHEMA,
        HH_ROLLUP_DIR,
        _compact_manifest,
        heavyhitter_estimate,
        recover_hh_rollup,
    )

    hh, _ = telemetry
    keys = _fps(spark, ["hot doc text", "cold0"])
    before = heavyhitter_estimate(spark, hh, keys)
    rollup = f"{hh}/{HH_ROLLUP_DIR}"
    staged = _compact_staging(rollup)
    victims = [f"batch={i}" for i in range(7)]

    # crash BEFORE the manifest PUT: staging discarded, victims intact
    merged = (
        spark.read.schema(CM_SCHEMA)
        .parquet(*[f"{hh}/{v}" for v in victims])
        .groupBy("d", "slot")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=True)
    )
    merged.coalesce(1).write.mode("overwrite").parquet(staged)
    recover_hh_rollup(spark, hh)
    assert not os.path.exists(staged)
    assert heavyhitter_estimate(spark, hh, keys) == before
    assert all(os.path.exists(f"{hh}/{v}") for v in victims)

    # crash AFTER the manifest PUT: reader rolls forward exactly once
    merged.coalesce(1).write.mode("overwrite").parquet(staged)
    write_text_file(
        spark,
        _compact_manifest(rollup),
        _json.dumps({"files": list_data_files(spark, staged),
                     "consumed": victims}),
    )
    assert heavyhitter_estimate(spark, hh, keys) == before  # recovers inline
    assert not os.path.exists(staged)
    assert not os.path.exists(_compact_manifest(rollup))
    assert not any(os.path.exists(f"{hh}/{v}") for v in victims)
    assert sorted(list_subdirs(spark, hh)) == sorted(
        [f"batch={i}" for i in (7, 8, 9)] + [HH_ROLLUP_DIR]
    )
    # the completed pass is stable: further recover calls are no-ops
    recover_hh_rollup(spark, hh)
    assert heavyhitter_estimate(spark, hh, keys) == before
    assert sorted(list_subdirs(spark, hh)) == sorted(
        [f"batch={i}" for i in (7, 8, 9)] + [HH_ROLLUP_DIR]
    )


# --------------------------------------------------------------------------
# Single-writer lease (round 12)
# --------------------------------------------------------------------------


def test_lease_refuses_second_writer_and_allows_refresh_steal(spark, tmp_path):
    from ts_etl_spark.streaming.ingest import (
        acquire_ingest_lease,
        release_ingest_lease,
    )

    lease = str(tmp_path / "lease")
    assert acquire_ingest_lease(spark, lease, owner="w1") == "w1"
    # fresh foreign lease: refused, loudly naming the holder
    with pytest.raises(RuntimeError, match="leased by 'w1'"):
        acquire_ingest_lease(spark, lease, owner="w2")
    # the holder refreshes freely
    acquire_ingest_lease(spark, lease, owner="w1")
    # past the TTL the lease is stealable (a crashed writer must not
    # wedge the deployment forever)
    acquire_ingest_lease(spark, lease, owner="w2", ttl_s=0.0)
    with pytest.raises(RuntimeError, match="leased by 'w2'"):
        acquire_ingest_lease(spark, lease, owner="w1")
    # release is owner-guarded: the usurped writer must not delete the
    # new holder's record; the holder's release does
    release_ingest_lease(spark, lease, owner="w1")
    assert os.path.exists(lease)
    release_ingest_lease(spark, lease, owner="w2")
    assert not os.path.exists(lease)
    # releasing an absent lease is a no-op
    release_ingest_lease(spark, lease, owner="w2")


def test_ingest_and_maintenance_honor_the_lease(spark, tmp_path):
    """A drain and a maintenance pass pointed at the same lease file
    exclude each other; a garbled lease file counts as stale (taken)."""
    from ts_etl_spark.fs import write_text_file
    from ts_etl_spark.streaming.ingest import (
        acquire_ingest_lease,
        release_ingest_lease,
    )

    corpus = str(tmp_path / "corpus")
    lease = str(tmp_path / "lease")
    cfg = IngestConfig(lease_path=lease)
    batch = _docs(spark, [(1, "some fresh words"), (2, "other words too")])
    # a foreign writer holds the lease: both entries refuse
    acquire_ingest_lease(spark, lease, owner="other-drain")
    with pytest.raises(RuntimeError, match="leased by 'other-drain'"):
        ingest_batch(spark, batch, corpus, cfg)
    with pytest.raises(RuntimeError, match="leased by 'other-drain'"):
        compact_ingest_state(spark, corpus_path=corpus, lease_path=lease)
    release_ingest_lease(spark, lease, owner="other-drain")
    # with the lease free, ingest proceeds (acquiring as this process)
    ingest_batch(spark, batch, corpus, cfg)
    assert spark.read.parquet(corpus).count() == 2
    # ...and the same process's maintenance refreshes rather than refuses
    out = compact_ingest_state(spark, corpus_path=corpus, lease_path=lease)
    assert out[corpus] == 1
    # a garbled lease file is treated as stale and taken, not a wedge
    write_text_file(spark, lease, "not json {{{")
    ingest_batch(
        spark, _docs(spark, [(5, "novel unique phrasing")]), corpus, cfg,
        batch_id=1,
    )
    assert spark.read.parquet(corpus).count() == 3


@pytest.mark.slow
def test_torn_manifest_treated_as_uncommitted(spark, deployment):
    """A manifest whose PUT itself crashed (partial/garbled bytes) proves
    the swap never started: recovery must treat it like no manifest —
    live authoritative, staging and the torn manifest discarded — not
    wedge every subsequent ingest on a JSON error. Same for the
    heavy-hitter rollup manifest."""
    from ts_etl_spark.fs import write_text_file
    from ts_etl_spark.pipelines.maintenance import compact_parquet

    corpus, idx, win, cfg = deployment
    lens = dedup_index_paths(idx)["lens"]
    before = _snapshot(spark, lens)
    staged = _compact_staging(lens)
    compact_parquet(spark, lens, staged, 128 * 1024 * 1024)
    write_text_file(spark, _compact_manifest(lens), '{"files": ["par')  # torn
    recover_state_compaction(spark, lens)
    assert _snapshot(spark, lens) == before
    assert not os.path.exists(staged)
    assert not os.path.exists(_compact_manifest(lens))
    # and the next ingest proceeds normally
    ingest_batch(
        spark, _docs(spark, [(7000, "post torn manifest words")]), corpus,
        cfg, batch_id=60,
    )
    assert 7000 in {r.doc_id for r in spark.read.parquet(corpus).collect()}


@pytest.mark.slow
def test_torn_hh_rollup_manifest_keeps_victims(spark, telemetry):
    from ts_etl_spark.fs import write_text_file
    from ts_etl_spark.streaming.ingest import (
        HH_ROLLUP_DIR,
        heavyhitter_estimate,
        recover_hh_rollup,
    )

    hh, _ = telemetry
    keys = _fps(spark, ["hot doc text", "cold3"])
    before = heavyhitter_estimate(spark, hh, keys)
    rollup = f"{hh}/{HH_ROLLUP_DIR}"
    write_text_file(spark, _compact_manifest(rollup), "{nope")
    recover_hh_rollup(spark, hh)
    assert not os.path.exists(_compact_manifest(rollup))
    assert heavyhitter_estimate(spark, hh, keys) == before
    assert all(os.path.exists(f"{hh}/batch={i}") for i in range(10))
