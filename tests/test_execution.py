"""Spark-free tests for the execution core (``ts_etl_spark.execution``):
the construction memo's failure path, ``overlap``'s failure paths, and a
source tripwire that keeps each mechanism in its one home."""

import re
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from ts_etl_spark import execution
from ts_etl_spark.execution import memo, memo_entries, overlap

PKG = Path(__file__).resolve().parent.parent / "ts_etl_spark"


def _fake_spark(app="app-test-execution"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def _overlap_threads():
    return [t for t in threading.enumerate() if t.name.startswith("overlap")]


def _race(n, target):
    threads = [threading.Thread(target=target) for _ in range(n)]
    for t in threads:
        t.start()
    return threads


def _join_all(threads):
    for t in threads:
        t.join(10)
        assert not t.is_alive()


def test_memo_failed_build_reaches_every_waiter_then_rebuilds_once():
    spark = _fake_spark()
    n = 16  # more threads than cores
    key = ("app-test-execution", "sf", "test/race")
    arrived, builds, errors, values = [], [], [], []
    release = threading.Event()

    def failing():
        builds.append(1)
        assert release.wait(10)
        raise RuntimeError("build failed")

    def call_failing():
        arrived.append(1)
        try:
            memo(spark, "sf", "test/race", failing)
        except RuntimeError as e:
            errors.append(e)

    def ok():
        builds.append(1)
        time.sleep(0.05)  # a window any unlocked check-then-set would hit
        return 42

    def call_ok():
        values.append(memo(spark, "sf", "test/race", ok))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = _race(n, call_failing)
        deadline = time.monotonic() + 10
        while len(arrived) < n and time.monotonic() < deadline:
            time.sleep(0.01)
        time.sleep(0.1)  # let the last arrivals reach the pending future
        release.set()
        _join_all(threads)
        assert len(errors) == n, "every waiter gets the build's exception"
        assert len(builds) == 1, "waiters wait on the one build, none rebuild"
        assert key not in execution._MEMO, "no pending entry survives the failure"

        builds.clear()
        _join_all(_race(n, call_ok))
    finally:
        sys.setswitchinterval(old)
    assert values == [42] * n
    assert len(builds) == 1, "the next call builds exactly once"
    execution.clear_memo("test")
    assert memo_entries("test") == {}


def test_memo_families_clear_independently():
    spark = _fake_spark()
    memo(spark, "sf", "fa/x", lambda: 1)
    memo(spark, "sf", "fb/x", lambda: 2)
    assert memo_entries("fa") == {("app-test-execution", "sf", "x"): 1}
    execution.clear_memo("fa")
    assert memo_entries("fa") == {}
    assert memo_entries("fb") == {("app-test-execution", "sf", "x"): 2}
    execution.clear_memo("fb")


def test_overlap_body_raise_joins_started_and_skips_unstarted():
    started = threading.Event()
    finished = []
    ran_late = []

    with pytest.raises(ValueError, match="body"):
        with overlap() as submit:

            def slow():
                started.set()
                time.sleep(0.2)
                finished.append(1)

            submit(slow)
            assert started.wait(10)
            burst = [submit(lambda: ran_late.append(1)) for _ in range(20)]
            raise ValueError("body")

    assert finished == [1], "a started thunk is joined before the re-raise"
    assert not _overlap_threads(), "no worker thread outlives the block"
    # every burst thunk either was cancelled before starting and never
    # ran, or started and was joined
    assert len(ran_late) == sum(not f.cancelled() for f in burst)


def test_overlap_thunk_raise_joins_started_and_skips_unstarted():
    ran_late = []
    with pytest.raises(KeyError, match="thunk"):
        with overlap() as submit:

            def bad():
                raise KeyError("thunk")

            f_bad = submit(bad)
            f_bad.exception(10)  # wait until it has failed
            burst = [submit(lambda: ran_late.append(1)) for _ in range(20)]
            f_bad.result()

    assert not _overlap_threads(), "no worker thread outlives the block"
    assert len(ran_late) == sum(not f.cancelled() for f in burst)


def test_overlap_unobserved_thunk_failure_raises_on_exit():
    with pytest.raises(RuntimeError, match="unobserved"):
        with overlap() as submit:
            submit(lambda: (_ for _ in ()).throw(RuntimeError("unobserved")))
    assert not _overlap_threads()


def test_overlap_returns_results_and_runs_concurrently():
    barrier = threading.Barrier(3, timeout=10)
    with overlap() as submit:
        futs = [submit(lambda i=i: (barrier.wait(), i)[1]) for i in range(2)]
        barrier.wait()  # the caller builds while both thunks run
    assert [f.result() for f in futs] == [0, 1]
    assert not _overlap_threads()


#: construct → its one home under ts_etl_spark/
TRIPWIRES = {
    "ThreadPoolExecutor": (re.compile(r"ThreadPoolExecutor"), "execution.py"),
    "module-level memo dict": (
        re.compile(r"^_\w*MEMO\w*\s*(:\s*dict\s*)?=", re.M),
        "execution.py",
    ),
    "getNumPartitions()": (
        re.compile(r"getNumPartitions\(\)"),
        "sources/tables.py",
    ),
    ".repartition(par": (re.compile(r"\.repartition\(par\b"), "sources/tables.py"),
    "spark.stop()": (re.compile(r"spark\.stop\(\)"), "session.py"),
    "spark.readStream": (re.compile(r"spark\.readStream"), "streaming/ingest.py"),
    "monotonically_increasing_id": (
        re.compile(r"monotonically_increasing_id"),
        "sources/prn_source.py",
    ),
}


def test_execution_mechanisms_live_in_one_home():
    """Thread pools, construction memos, scan-width guards, session
    stops, streaming reads and row-position ids each have one home; a
    copy anywhere else fails here."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        for what, (pat, home) in TRIPWIRES.items():
            if rel != home and pat.search(src):
                stray.append(f"{what} in ts_etl_spark/{rel} (home: {home})")
    assert not stray, stray
