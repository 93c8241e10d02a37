"""Spans, Spark event-log attribution and driver process counters.

A span is (name, start, end, parent) recorded around a call into the
program from the benchmark's own files. Each span also sets a Spark job
group, so its jobs carry its id in the event log. Jobs that start on a
thread with no span group (overlap pools, the streaming thread) are
given to the innermost span open at their submission time: the
benchmark is a closed loop with one client, so at most one leaf span is
open at any instant.

Spans stay in memory; ``write`` dumps them at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"


def median(values) -> float:
    """Median, or 0.0 for a layer the run never entered."""
    return statistics.median(values) if values else 0.0


class Tracer:
    """Records spans when ``enabled``; a disabled tracer only yields."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                parent = self.spans[self._open[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# --- Spark's event log -------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs and completed stages from the uncompressed rolling event log."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev["Stage IDs"],
                        "group": props.get("spark.jobGroup.id"),
                    })
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
                    stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1000.0,
                        "end": info["Completion Time"] / 1000.0,
                        "cpu_s": int(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9,
                        "shuffle_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                    }
    return jobs, stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: list[dict], stages: dict[int, dict],
              extra: list[dict] = ()) -> dict[int, dict]:
    """Per span id (spans plus ``extra`` interval records, which are
    matched by time only): jobs, stages, the union of executed stage
    intervals, executor CPU and shuffle bytes, over the span's subtree."""
    by_group = {f"{GROUP_PREFIX}{s['id']}": s["id"] for s in spans}
    records = sorted(list(spans) + list(extra), key=lambda s: s["start"])
    own: dict[int, list[dict]] = {}
    for job in jobs:
        sid = by_group.get(job["group"])
        if sid is None:
            # innermost record open at submission time (the latest-started
            # one that contains it)
            for rec in records:
                if rec["start"] <= job["submit"] <= rec.get("end", float("inf")):
                    sid = rec["id"]
        if sid is not None:
            own.setdefault(sid, []).append(job)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree_jobs(sid):
        out = list(own.get(sid, []))
        for c in children.get(sid, []):
            out += subtree_jobs(c)
        return out

    result = {}
    for rec in list(spans) + list(extra):
        js = subtree_jobs(rec["id"]) if rec["id"] >= 0 else own.get(rec["id"], [])
        done = [stages[i] for j in js for i in j["stages"] if i in stages]
        exec_s = union_length([(st["start"], st["end"]) for st in done])
        result[rec["id"]] = {
            "wall_s": rec["end"] - rec["start"],
            "jobs": len(js),
            "stages": sum(len(j["stages"]) for j in js),
            "exec_s": exec_s,
            "offstage_s": max(0.0, rec["end"] - rec["start"] - exec_s),
            "executor_cpu_s": sum(st["cpu_s"] for st in done),
            "shuffle_bytes": sum(st["shuffle_bytes"] for st in done),
        }
    return result


# --- driver process counters ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant (the JVM and the
    Python workers it forks), plus children it has already reaped."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is None:
            continue
        total += sum(int(x) for x in st[11:15 if pid == root else 13]) / _TICK
        todo += [p for p, pp in parent.items() if pp == pid]
    return total


def driver_cpu_s(jvm_pid: int) -> float:
    t = os.times()
    return t.user + t.system + tree_cpu_s(jvm_pid)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
