"""Structured Streaming ingest: the kill-and-restart soak of
``run_streaming_ingest`` through a real file-source stream."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Kill/restart soak (round 12): the checkpoint-recovery claim of
# run_streaming_ingest, proven end to end through a REAL file-source
# stream with a checkpointLocation — killed mid-drain, restarted, final
# state identical to the uninterrupted run's.
# --------------------------------------------------------------------------


def _ingest_landing(tmp_path, name, texts_per_file):
    import os as _os
    import time as _time

    d = tmp_path / name
    d.mkdir()
    now = _time.time()
    for k, rows in enumerate(texts_per_file):
        p = str(d / f"b{k}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        _os.utime(p, (now - 90 + 30 * k,) * 2)
    return str(d)


def _snap(spark, path):
    return sorted(tuple(map(str, r)) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("crash_point", ["mid_batch", "post_commit"])
@pytest.mark.slow
def test_stream_killed_mid_drain_restarts_to_identical_corpus(
    spark, tmp_path, monkeypatch, crash_point
):
    """Kill the drain during micro-batch 1 — either MID-batch (after the
    seen append, before the index deltas and corpus append) or AFTER the
    batch fully committed but before the streaming checkpoint recorded
    it (the replay-of-committed-batch window) — then restart the stream
    on the same checkpoint. The restarted drain must converge to exactly
    the uninterrupted run's corpus and dedup index: no lost documents,
    no duplicates, the idempotent-replay property through the real
    Structured Streaming recovery path, not a hand-driven replay."""
    import random

    from pyspark.errors.exceptions.captured import StreamingQueryException

    import ts_etl_spark.streaming.ingest as ing
    from ts_etl_spark.streaming.ingest import (
        IngestConfig,
        dedup_index_paths,
        run_streaming_ingest,
    )

    rng = random.Random(41)
    words = lambda n: " ".join(f"w{rng.randrange(9999)}" for _ in range(n))  # noqa: E731
    base = words(40)
    files = [
        [(1, f"{words(30)} {base}"), (2, words(35))],
        [(10, f"{words(30)} {base}"), (11, base)],  # 11 near-dups vs corpus
        [(20, words(33)), (21, f"{words(30)} {base}")],
    ]
    landing = _ingest_landing(tmp_path, "landing", files)

    # reference: the uninterrupted drain (round 12: the two SUM-based
    # state tables ride along, so their replay contracts are proven
    # through the REAL recovery path — the post_commit window is exactly
    # the empty-kept replay the review found the naive protocols losing)
    cfg_a = IngestConfig(
        dedup_index_path=str(tmp_path / "idx_a"),
        stats_path=str(tmp_path / "stats_a"),
        len_hdr_path=str(tmp_path / "lenhdr_a"),
        bm25_lexicon_path=str(tmp_path / "lex_a"),
        ann_index_path=str(tmp_path / "ann_a"),
    )
    run_streaming_ingest(
        spark, landing, str(tmp_path / "corpus_a"), str(tmp_path / "ckpt_a"),
        cfg_a,
    )
    corpus_a = _snap(spark, str(tmp_path / "corpus_a"))

    # interrupted: inject ONE crash during batch 1, then restart
    cfg_b = IngestConfig(
        dedup_index_path=str(tmp_path / "idx_b"),
        stats_path=str(tmp_path / "stats_b"),
        len_hdr_path=str(tmp_path / "lenhdr_b"),
        bm25_lexicon_path=str(tmp_path / "lex_b"),
        ann_index_path=str(tmp_path / "ann_b"),
        lease_path=str(tmp_path / "lease_b"),
    )
    crashed = {"done": False}
    real_ingest = ing.ingest_batch
    real_stats = ing.update_corpus_stats

    if crash_point == "post_commit":

        def crashing(spark_, batch_df, corpus_path, config=None, batch_id=0, **kw):
            real_ingest(spark_, batch_df, corpus_path, config, batch_id, **kw)
            if batch_id == 1 and not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected kill AFTER batch commit")

        monkeypatch.setattr(ing, "ingest_batch", crashing)
    else:

        def crashing_stats(spark_, new_docs, stats_path):
            # runs inside ingest_batch AFTER the seen append + gates,
            # BEFORE the dedup-index deltas and the corpus append — a
            # genuine mid-batch tear
            if "stats_b" in stats_path and not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected kill MID batch")
            real_stats(spark_, new_docs, stats_path)

        monkeypatch.setattr(ing, "update_corpus_stats", crashing_stats)

    with pytest.raises(
        (StreamingQueryException, Exception), match="injected kill"
    ):
        run_streaming_ingest(
            spark, landing, str(tmp_path / "corpus_b"),
            str(tmp_path / "ckpt_b"), cfg_b,
        )
    assert crashed["done"], "the injected crash never fired"
    # the crashed drain's finally released the lease; the restart
    # resumes from the SAME checkpoint and replays the torn batch
    run_streaming_ingest(
        spark, landing, str(tmp_path / "corpus_b"), str(tmp_path / "ckpt_b"),
        cfg_b,
    )
    corpus_b = _snap(spark, str(tmp_path / "corpus_b"))
    assert corpus_b == corpus_a, "restarted corpus diverged"
    # the dedup index converged too: identical kept-doc tables, and the
    # seen listing recorded every attempt exactly once
    for t in ("fp", "lens"):
        assert _snap(spark, dedup_index_paths(str(tmp_path / "idx_b"))[t]) == \
            _snap(spark, dedup_index_paths(str(tmp_path / "idx_a"))[t]), t
    seen_b = [
        r.doc_id
        for r in spark.read.parquet(
            dedup_index_paths(str(tmp_path / "idx_b"))["seen"]
        ).collect()
    ]
    assert sorted(seen_b) == sorted(set(seen_b)) == [1, 2, 10, 11, 20, 21]
    # the SUM-based state tables converged too: the length histogram's
    # registers and the lexicon-derived stats equal the uninterrupted
    # run's (a double-count or a dropped batch shows up exactly here)
    from ts_etl_spark.streaming.ingest import (
        _latest_len_hdr,
        bm25_stats_from_lexicon,
    )

    regs_a = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, str(tmp_path / "lenhdr_a"))[0].collect()
    )
    regs_b = sorted(
        (r.bucket, r.n)
        for r in _latest_len_hdr(spark, str(tmp_path / "lenhdr_b"))[0].collect()
    )
    assert regs_b == regs_a, "length histogram diverged across the crash"
    probe = {0: f"{base.split()[0]} w1 w42"}
    assert bm25_stats_from_lexicon(
        spark, str(tmp_path / "lex_b"), probe
    ) == bm25_stats_from_lexicon(spark, str(tmp_path / "lex_a"), probe), (
        "BM25 lexicon diverged across the crash"
    )
    # round 13: the postings table converged too — the full inverted
    # index (distinct of the append-only rows, minus the batch id),
    # not just the aggregated stats, is identical across the crash
    from ts_etl_spark.streaming.ingest import bm25_lexicon_paths

    def _postings(base_dir):
        return sorted(
            (r.term, r.doc_id, r.tf, r.dl)
            for r in spark.read.parquet(
                bm25_lexicon_paths(str(tmp_path / base_dir))["postings"]
            )
            .distinct()
            .collect()
        )

    assert _postings("lex_b") == _postings("lex_a"), (
        "postings index diverged across the crash"
    )
    # round 15: the ANN serving index converged too — identical encoded
    # corpus (distinct of the append-only rows, minus the batch id; the
    # model is deterministic so identical codes imply identical serving
    # behavior), plus matching coverage totals
    from ts_etl_spark.streaming.ann_index import (
        ANN_TOTALS_SCHEMA,
        ann_index_paths,
    )

    def _codes(base_dir):
        return sorted(
            (r.vec_id, tuple(r.codes), r.qerr, r.nrm, r.cell)
            for r in spark.read.parquet(
                ann_index_paths(str(tmp_path / base_dir))["codes"]
            )
            .distinct()
            .collect()
        )

    assert _codes("ann_b") == _codes("ann_a"), (
        "ANN codes diverged across the crash"
    )

    def _ann_totals(base_dir):
        return (
            spark.read.schema(ANN_TOTALS_SCHEMA)
            .parquet(ann_index_paths(str(tmp_path / base_dir))["totals"])
            .distinct()
            .agg(F.sum("n_docs"), F.sum("n_vecs"))
            .first()
        )

    assert tuple(_ann_totals("ann_b")) == tuple(_ann_totals("ann_a")), (
        "ANN coverage totals diverged across the crash"
    )
