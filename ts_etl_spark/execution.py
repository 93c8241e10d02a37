"""The engine's driver-side execution core, one home per mechanism: the
application-lifetime construction memo (``memo``) and the helper that
overlaps independent driver actions (``overlap``). The scan-spread guard
lives beside the loader (``sources.tables.narrow_scan``)."""

from __future__ import annotations

import sys
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager

#: key -> Future of the build; a pending future makes concurrent callers
#: of the SAME key wait for the one build while other keys build freely
_MEMO: dict = {}
_LOCK = threading.Lock()


def memo(spark, sf_dir: str, kind: str, build):
    """Return ``build()`` memoized per ``(application, sf_dir, kind)``:
    trained centroids, persisted frames, merge tables and staged indexes
    are built once per application and reused by every later plan
    build. ``kind`` carries a family prefix (``"ivf/vecs"``) so one
    family can be listed or dropped alone (``memo_entries`` /
    ``clear_memo``). Builds are deterministic per corpus, so reuse
    cannot change results; ``clearCache()`` only drops blocks, memoized
    frames recompute lazily. A failed build is not memoized: its
    exception reaches every caller waiting on it, and the next call
    builds afresh."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    with _LOCK:
        fut = _MEMO.get(key)
        owner = fut is None
        if owner:
            fut = _MEMO[key] = Future()
    if owner:
        try:
            fut.set_result(build())
        except BaseException as e:
            # fail the future BEFORE dropping it: a caller arriving in
            # between sees the failure instead of starting a second build
            fut.set_exception(e)
            with _LOCK:
                del _MEMO[key]
            raise
    return fut.result()


def _built() -> dict:
    with _LOCK:
        futs = dict(_MEMO)
    return {k: f.result() for k, f in futs.items() if f.done() and not f.exception()}


def memo_entries(family: str) -> dict:
    """One family's built entries, keyed ``(application, sf_dir, kind)``
    with the family prefix stripped from ``kind``."""
    pre = family + "/"
    return {
        (app, sf, kind[len(pre):]): v
        for (app, sf, kind), v in _built().items()
        if kind.startswith(pre)
    }


def clear_memo(family: str) -> None:
    """Drop one family's entries; its next call builds again."""
    with _LOCK:
        for key in [k for k in _MEMO if k[2].startswith(family + "/")]:
            del _MEMO[key]


def memoized_frame_ids() -> set[int]:
    """``id()`` of every value the memo holds. Cache-releasing callers
    that tracked persist() calls during plan construction
    (``cli.run_explain``) MUST skip these: the memo keeps returning the
    same frame objects and the build never re-runs, so unpersisting one
    silently downgrades every later consumer to recomputing the shared
    subplan the memo exists to amortize."""
    return {id(v) for v in _built().values()}


@contextmanager
def overlap():
    """Run independent driver actions concurrently with the calling
    thread. Yields ``submit(fn, *args) -> Future``; each thunk starts at
    once on its own worker while the caller keeps building. On exit all
    thunks are joined and the first failure (in submission order)
    re-raises. If the body raises, thunks not yet started are cancelled
    and running ones joined before the exception propagates.

    Ordering between thunks is the caller's: submit a dependent action
    only after the futures it depends on have resolved, and materialize
    a shared persisted frame on the calling thread before submitting its
    consumers (a lazy persist read by concurrent threads computes once
    per thread until its blocks land)."""
    pool = ThreadPoolExecutor(max_workers=sys.maxsize, thread_name_prefix="overlap")
    futs: list[Future] = []

    def submit(fn, *args) -> Future:
        futs.append(pool.submit(fn, *args))
        return futs[-1]

    try:
        yield submit
    except BaseException:
        pool.shutdown(cancel_futures=True)
        raise
    pool.shutdown()
    for f in futs:
        f.result()
