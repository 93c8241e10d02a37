"""Multimodal plumbing beyond the oracle-gated entries: audio-style
overlapping windows vs a python reference, and the pluggable decode seam."""

import pytest

from ts_etl_spark.operators.multimodal import (
    AUDIO_HOP,
    AUDIO_WIN,
    audio_windows,
    fake_decode,
    q_multimodal_meta_resize,
    resolve_decoder,
)
from ts_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_decoder_seam_explicit_callable_wins():
    custom = lambda payload: (7, 9)  # noqa: E731
    assert resolve_decoder(custom) is custom


def test_decoder_seam_default_resolution():
    """Without an explicit callable the seam resolves to Pillow, or raises
    loudly when no imaging library exists — never silently to fake dims."""
    try:
        import PIL  # noqa: F401

        from ts_etl_spark.operators.multimodal import pil_decode

        assert resolve_decoder() is pil_decode
    except ImportError:
        with pytest.raises(NotImplementedError, match="decode"):
            resolve_decoder()


def test_meta_resize_injected_decoder(spark):
    """The injected decoder flows through mapInPandas to the executors:
    constant fake dims show up in every output row; the rest of the
    metadata (byte counts, hashes) is decoder-independent."""
    injected = q_multimodal_meta_resize(spark, SF, decoder=lambda p: (7, 9))
    rows = injected.select("doc_id", "width", "height", "n_bytes").collect()
    assert rows and all(r.width == 7 and r.height == 9 for r in rows)

    default = {
        r.doc_id: r.n_bytes
        for r in q_multimodal_meta_resize(spark, SF).select(
            "doc_id", "n_bytes"
        ).collect()
    }
    assert {r.doc_id: r.n_bytes for r in rows} == default


def test_default_registry_decoder_is_deterministic_fake(spark):
    df = q_multimodal_meta_resize(spark, SF).select("n_bytes", "width", "height")
    for r in df.collect():
        assert (r.width, r.height) == fake_decode(b"x" * r.n_bytes)


def _py_windows(payload: bytes, win: int, hop: int):
    n = len(payload)
    n_wins = max((n - win) // hop + 1, 0) if n >= win else (1 if n else 0)
    out = []
    for i in range(n_wins):
        w = payload[i * hop : i * hop + win]
        out.append((i, len(w), sum(b * b for b in w), max(w)))
    return out


def test_audio_windows_match_python_reference(spark):
    docs = {
        r.doc_id: r.text.encode("utf-8")
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    got = {}
    for r in audio_windows(spark, SF).collect():
        got.setdefault(r.doc_id, []).append(
            (r.win_idx, r.n_samples, r.energy, r.peak)
        )
    n_with_windows = 0
    for doc_id, payload in docs.items():
        want = _py_windows(payload, AUDIO_WIN, AUDIO_HOP)
        have = sorted(got.get(doc_id, []))
        assert have == want, doc_id
        n_with_windows += bool(want)
    assert n_with_windows > 0


def test_audio_windows_overlap(spark):
    """With hop < win the windows overlap — a sample is covered by up to
    win/hop windows (the defining property of hop-windowed analysis)."""
    docs = {
        r.doc_id: r.text.encode("utf-8")
        for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()
    }
    got = {}
    for r in audio_windows(spark, SF, win=100, hop=40).collect():
        got.setdefault(r.doc_id, []).append(
            (r.win_idx, r.n_samples, r.energy, r.peak)
        )
    assert any(len(v) >= 3 for v in got.values())
    for doc_id, payload in docs.items():
        assert sorted(got.get(doc_id, [])) == _py_windows(payload, 100, 40), doc_id
