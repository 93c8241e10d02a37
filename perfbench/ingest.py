"""``ingest``: seeded landing files drained through
``streaming.ingest.run_streaming_ingest``, one file per micro-batch,
each drain followed by ``compact_ingest_state`` (what ``ingest
--compact-after`` does). Batch latency is ``triggerExecution`` from a
``StreamingQueryListener`` the benchmark registers."""

from __future__ import annotations

import os
import time
from datetime import datetime

from perfbench import gen
from perfbench.trace import median

BOOT_FILES, BOOT_DOCS = 1, 200
PASS_FILES, BATCH_DOCS = 1, 150
MAX_PASSES = 6

LAYERS = {
    "ingest.bootstrap_s": "s",
    "ingest.batch.add_s": "s",
    "ingest.batch.jobs": "count",
    "ingest.batch.offstage_s": "s",
    "ingest.batch.stream_s": "s",
    "ingest.batch.shuffle_bytes": "bytes",
    "ingest.compact_s": "s",
    "ingest.state_files": "count",
    "ingest.state_files_compacted": "count",
    "ingest.state_bytes": "bytes",
    "ingest.bytes_per_doc": "B/doc",
    "ingest.kept_ratio": "ratio",
}


def _progress_listener():
    """A ``StreamingQueryListener`` that records each micro-batch's
    ``triggerExecution`` and ``addBatch``. It is built in set-up, so that
    pyspark is first imported inside ``setup_s`` as on the other workloads."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.events.append({
                "start": start,
                "end": start + p.durationMs.get("triggerExecution", 0) / 1000.0,
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "add_s": p.durationMs.get("addBatch", 0) / 1000.0,
            })

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _tree(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Ingest:
    max_passes = MAX_PASSES
    batch_kind = "batch"

    def __init__(self, seed: int, work: str):
        base = os.path.join(work, "ingest")
        self.staged = os.path.join(base, "staged")
        self.landing = os.path.join(base, "landing")
        self.corpus = os.path.join(base, "corpus")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.dedup = os.path.join(base, "dedup")
        self.lease = os.path.join(base, "lease")
        os.makedirs(self.staged)
        os.makedirs(self.landing)
        traffic = gen.IngestTraffic(seed)
        self.files: list[tuple[str, list[int], list[int]]] = []  # name, kept, dropped
        mtime = time.time() - 3600
        for i in range(BOOT_FILES + PASS_FILES * MAX_PASSES):
            boot = i < BOOT_FILES
            k0, d0 = len(traffic.kept), len(traffic.dropped)
            rows = traffic.batch(BOOT_DOCS if boot else BATCH_DOCS, duplicates=not boot)
            name = f"part-{i:04d}.parquet"
            gen.write_landing_file(os.path.join(self.staged, name), rows, mtime + i)
            self.files.append((name, traffic.kept[k0:], traffic.dropped[d0:]))
        self.next_file = 0
        self.batches: list[dict] = []  # one per timed micro-batch
        self.layer: dict[str, list[float]] = {}

    def _land(self, n: int) -> list[int]:
        first = self.next_file
        for name, _, _ in self.files[first:first + n]:
            os.rename(os.path.join(self.staged, name), os.path.join(self.landing, name))
        self.next_file += n
        return list(range(first, first + n))

    def _state_dirs(self) -> list[str]:
        from ts_etl_spark.streaming.ingest import ingest_state_dirs

        return ingest_state_dirs(corpus_path=self.corpus, dedup_index_path=self.dedup)

    def _drain(self, spark, n_files: int) -> list[dict]:
        from ts_etl_spark.streaming.ingest import IngestConfig, run_streaming_ingest

        seen = len(self.listener.events)
        run_streaming_ingest(
            spark, self.landing, self.corpus, self.checkpoint,
            IngestConfig(dedup_index_path=self.dedup, lease_path=self.lease),
            max_files=1,
        )
        # progress events reach the listener asynchronously
        deadline = time.monotonic() + 30
        while len(self.listener.events) < seen + n_files and time.monotonic() < deadline:
            time.sleep(0.02)
        return self.listener.events[seen:]

    def _compact(self, spark) -> None:
        from ts_etl_spark.streaming.ingest import compact_ingest_state

        compact_ingest_state(
            spark, corpus_path=self.corpus, dedup_index_path=self.dedup, lease_path=self.lease
        )

    def setup(self, spark, tracer) -> None:
        self.listener = _progress_listener()
        spark.streams.addListener(self.listener)
        t0 = time.perf_counter()
        self._drain(spark, len(self._land(BOOT_FILES)))
        self._compact(spark)
        self.bootstrap_s = time.perf_counter() - t0

    def run_pass(self, spark, tracer) -> list[tuple[str, float]]:
        landed = self._land(PASS_FILES)
        before_files, before_bytes = _tree(self._state_dirs())
        with tracer.span("ingest.drain"):
            events = self._drain(spark, len(landed))
        drained_files, drained_bytes = _tree(self._state_dirs())
        t0 = time.perf_counter()
        with tracer.span("ingest.compact"):
            self._compact(spark)
        compact_s = time.perf_counter() - t0
        if len(events) != len(landed):
            raise RuntimeError(f"expected {len(landed)} micro-batches, saw {len(events)}")
        for ev, i in zip(events, landed):
            ev.update(file=i, tracing=tracer.enabled, id=-1 - len(self.batches))
            self.batches.append(ev)
        docs = sum(len(self.files[i][1]) + len(self.files[i][2]) for i in landed)
        after_files, _ = _tree(self._state_dirs())
        for key, value in (
            ("state_files", drained_files),
            ("state_files_compacted", after_files),
            ("state_bytes", drained_bytes - before_bytes),
            ("bytes_per_doc", (drained_bytes - before_bytes) / docs),
        ):
            self.layer.setdefault(key, []).append(value)
        return [("batch", ev["trigger_s"]) for ev in events] + [("compact", compact_s)]

    def extra_records(self) -> list[dict]:
        """Traced micro-batches, for attributing the streaming thread's jobs."""
        return [b for b in self.batches if b["tracing"]]

    def check(self, spark) -> int:
        """Failed micro-batches: a planted novel document missing from the
        corpus, or a planted duplicate present in it."""
        kept_ids = {r.doc_id for r in spark.read.parquet(self.corpus).select("doc_id").collect()}
        failed = attempted = kept = 0
        for b in self.batches:
            _, planted_kept, planted_dropped = self.files[b["file"]]
            ids = planted_kept + planted_dropped
            attempted += len(ids)
            kept += sum(1 for i in ids if i in kept_ids)
            if not all(i in kept_ids for i in planted_kept) or any(
                i in kept_ids for i in planted_dropped
            ):
                failed += 1
        self.kept_ratio = kept / attempted
        return failed

    def layer_metrics(self, med) -> dict[str, float]:
        traced = self.extra_records()
        return {
            "ingest.bootstrap_s": self.bootstrap_s,
            "ingest.batch.add_s": median([b["add_s"] for b in traced]),
            "ingest.batch.jobs": median([b["attr"]["jobs"] for b in traced]),
            "ingest.batch.offstage_s": median([b["attr"]["offstage_s"] for b in traced]),
            "ingest.batch.stream_s": median([b["trigger_s"] - b["add_s"] for b in traced]),
            "ingest.batch.shuffle_bytes": median([b["attr"]["shuffle_bytes"] for b in traced]),
            "ingest.compact_s": med("ingest.compact", "wall_s"),
            **{f"ingest.{k}": median(v) for k, v in self.layer.items()},
            "ingest.kept_ratio": self.kept_ratio,
        }
