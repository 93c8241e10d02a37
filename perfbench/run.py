"""Benchmark entry point.

    python3 perfbench/run.py --workload translate --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed`` (outside the timed
set-up), starts one driver process on ``local[nproc]`` with a fixed
heap, warms up, then runs the workload's fixed pass in a closed loop
until ``--seconds`` have passed and at least one pass (three when
traced) is done, checks every output, and prints one JSON object as the
last line of stdout. With ``--trace 1`` the run
reports the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"

sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.trace import median  # noqa: E402

WORKLOADS = ("translate", "query", "ingest")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
    "geomean_s": "s",
    "batch_p50_s": "s",
}


def workload_module(name: str):
    return importlib.import_module(f"perfbench.{name}")


def workload_class(name: str):
    return getattr(workload_module(name), name.capitalize())


def layer_names() -> dict[str, str]:
    """Every per-layer metric name and its unit, in a fixed order."""
    names = {"session.start_s": "s", "trace.wall_s": "s", "trace.overhead_s": "s"}
    for name in WORKLOADS:
        names.update(workload_module(name).LAYERS)
    return names


def launch_settings(work: str, cores: int) -> None:
    """Session settings owned by the benchmark: a fixed heap size and every
    scratch path inside the run's work directory. The heap is not
    pre-touched, so resident memory follows the pages the program uses."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = (
        f"-Xms{HEAP} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    )
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })


def start_session(work: str, cores: int, traced: bool):
    from ts_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    w = workload_class(workload)(seed, work)

    t_setup = time.perf_counter()  # input generation is done
    launch_settings(work, cores)
    spark = start_session(work, cores, traced)
    try:
        session_start_s = time.perf_counter() - t_setup
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        print(f"perfbench: session started, VmHWM {trace.vm_hwm_mb(jvm_pid):.0f} MB (JVM) "
              f"+ {trace.vm_hwm_mb():.0f} MB (Python)", file=sys.stderr)
        tracer = trace.Tracer(spark.sparkContext, enabled=False)
        w.setup(spark, tracer)
        setup_s = time.perf_counter() - t_setup
        print(f"perfbench: set-up done, JVM VmHWM {trace.vm_hwm_mb(jvm_pid):.0f} MB", file=sys.stderr)

        # closed loop, one client: whole passes until the time is up; a
        # traced run alternates untraced and traced passes, so the two sets
        # sit at the same point of the JIT's warm-up and their difference
        # is the tracing overhead
        passes: list[dict] = []
        t_loop = time.perf_counter()
        min_passes = 3 if traced else 1
        max_passes = getattr(w, "max_passes", 10**9)
        while len(passes) < max_passes and (
            len(passes) < min_passes or time.perf_counter() - t_loop < seconds
        ):
            tracer.enabled = traced and len(passes) % 2 == 1
            cpu0, t0 = trace.driver_cpu_s(jvm_pid), time.perf_counter()
            samples = w.run_pass(spark, tracer)
            passes.append({
                "wall_s": time.perf_counter() - t0,
                "cpu_s": trace.driver_cpu_s(jvm_pid) - cpu0,
                "samples": samples,
                "traced": tracer.enabled,
            })
            print(f"perfbench: pass {len(passes)} wall {passes[-1]['wall_s']:.3f} s, "
                  f"cpu {passes[-1]['cpu_s']:.2f} s, JVM VmHWM {trace.vm_hwm_mb(jvm_pid):.0f} MB, "
                  f"traced {tracer.enabled}, "
                  + ", ".join(f"{k} {v:.3f}" for k, v in samples), file=sys.stderr)
        rss_mb = trace.vm_hwm_mb(jvm_pid) + trace.vm_hwm_mb()
        tracer.enabled = traced
        if traced and hasattr(w, "layer_probes"):
            w.layer_probes(spark, tracer)
        tracer.enabled = False
        failed = w.check(spark)
    finally:
        stop_session(spark)

    samples = [s for p in passes for s in p["samples"]]
    if traced:
        metrics = layer_metrics(w, work, tracer, passes, session_start_s)
    else:
        by_kind: dict[str, list[float]] = {}
        for kind, secs in samples:
            by_kind.setdefault(kind, []).append(secs)
        kind_medians = [median(v) for v in by_kind.values()]
        # the unit operation batch_p50_s reports: the median kind, unless
        # the workload names one (ingest: the micro-batch, not compaction)
        batch_kind = getattr(w, "batch_kind", None)
        values = {
            "setup_s": setup_s,
            "wall_s": median([p["wall_s"] for p in passes]),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "peak_rss_mb": rss_mb,
            "ok_ratio": 1.0 - failed / len(samples),
            "geomean_s": statistics.geometric_mean(kind_medians),
            "batch_p50_s": median(by_kind[batch_kind]) if batch_kind else median(kind_medians),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": len(samples), "failed": failed, "metrics": metrics}


def layer_metrics(w, work: str, tracer, passes, session_start_s: float) -> dict:
    jobs, stages = trace.read_event_log(os.path.join(work, "eventlog"))
    extra = w.extra_records() if hasattr(w, "extra_records") else []
    attributed = trace.attribute(tracer.spans, jobs, stages, extra)
    for rec in extra:
        rec["attr"] = attributed[rec["id"]]
    tracer.write(os.path.join(work, "spans.jsonl"))

    def med(span_name: str, field: str) -> float:
        return median([attributed[s["id"]][field] for s in tracer.spans if s["name"] == span_name])

    traced_wall = median([p["wall_s"] for p in passes if p["traced"]])
    untraced_wall = median([p["wall_s"] for p in passes if not p["traced"]])
    units = layer_names()
    values = {k: 0.0 for k in units}
    values.update(w.layer_metrics(med))
    values.update({
        "session.start_s": session_start_s,
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
    })
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
