"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The traced-run test starts the benchmark twice per workload, so the
whole file takes several minutes.
"""

from __future__ import annotations

import filecmp
import io
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, query, run  # noqa: E402
from perfbench.ingest import Ingest  # noqa: E402
from perfbench.query import multiset  # noqa: E402
from perfbench.translate import KINDS, failed_kinds  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not (mismatch or errors or cmp.left_only or cmp.right_only) and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_inputs_follow_the_seed(tmp_path, workload):
    def make(seed, name):
        d = str(tmp_path / name)
        os.makedirs(d)
        run.workload_class(workload)(seed, d)
        return d

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ts_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    s.stop()


def _convert_all(spark, csv_path, prn_path) -> dict[str, str]:
    from ts_etl_spark.cli import run_conversion_path

    outs = {}
    for src, dst in KINDS:
        buf = io.StringIO()
        run_conversion_path(src, dst, csv_path if src == "csv" else prn_path, buf, spark=spark)
        outs[f"{src}_{dst}"] = buf.getvalue()
    return outs


def test_generated_pair_passes_the_differencing_check(spark, tmp_path):
    csv_path, prn_path, canonical = gen.write_translate_pair(5, 60, str(tmp_path))
    outs = _convert_all(spark, csv_path, prn_path)
    assert failed_kinds(outs, canonical) == set()


def test_corrupted_output_is_a_failure(spark, tmp_path):
    """What the run reports as ``failed`` (and so as ``ok_ratio`` < 1)."""
    csv_path, prn_path, canonical = gen.write_translate_pair(6, 30, str(tmp_path))
    outs = _convert_all(spark, csv_path, prn_path)
    one_byte = dict(outs, prn_html=outs["prn_html"].replace("<td>", "<td> ", 1))
    assert failed_kinds(one_byte, canonical) == {"prn_html"}
    wrong_row = dict(outs, csv_json=outs["csv_json"].replace(canonical[0]["Phone"], "0", 1))
    assert failed_kinds(wrong_row, canonical) == {"csv_json", "prn_json"}
    # the query check's multiset comparison
    rows = [(1, "a"), (2, "b")]
    assert multiset(rows, ["k", "v"]) == multiset(rows[::-1], ["k", "v"])
    assert multiset(rows, ["k", "v"]) != multiset([(1, "a"), (2, "c")], ["k", "v"])


def test_wrong_query_result_is_a_failure(spark, tmp_path, monkeypatch):
    """``Query.check`` against the DuckDB oracle: the entry as built
    passes, and the same result with one row altered fails."""
    import pyspark.sql.functions as F
    from ts_etl_spark.operators import all_queries

    name = "q1_pricing_summary"
    monkeypatch.setattr(query, "ENTRIES", (name,))
    q = query.Query(4, str(tmp_path))
    q.samples = [(name, 1.0)]
    q.last[name] = all_queries()[name](spark, q.dir)
    assert q.failed_entries(spark) == set() and q.check(spark) == 0
    first = q.last[name].orderBy("l_returnflag", "l_linestatus").first()
    q.last[name] = q.last[name].withColumn(
        "count_order",
        F.when(
            (F.col("l_returnflag") == first["l_returnflag"])
            & (F.col("l_linestatus") == first["l_linestatus"]),
            F.col("count_order") + 1,
        ).otherwise(F.col("count_order")),
    )
    assert q.failed_entries(spark) == {name} and q.check(spark) == 1


def test_wrong_corpus_is_a_failure(spark, tmp_path):
    """``Ingest.check`` on a corpus written by hand: the planted truth
    passes; a lost novel document or a kept duplicate fails the batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    w = Ingest(4, str(tmp_path))
    _, kept, dropped = w.files[1]  # the first timed file
    assert kept and dropped
    w.batches = [{"file": 1}]

    def check_corpus(ids) -> int:
        os.makedirs(w.corpus, exist_ok=True)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(w.corpus, "part-0.parquet"))
        return w.check(spark)

    assert check_corpus(kept) == 0
    assert check_corpus(kept[1:]) == 1
    assert check_corpus(kept + dropped[:1]) == 1


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


COUNTS = {
    "translate": ("translate.csv_json.jobs", "translate.prn_html.stages"),
    "query": ("query.trainer_prep.jobs", "query.q1_pricing_summary.shuffle_bytes"),
    "ingest": ("ingest.batch.jobs", "ingest.state_files", "ingest.state_files_compacted"),
}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_count_metrics_repeat_across_traced_runs(workload):
    results = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    for r in results:
        assert r["correct"] and r["failed"] == 0
        assert set(r["metrics"]) == set(run.layer_names())
    for name in COUNTS[workload]:
        values = [r["metrics"][name]["value"] for r in results]
        assert values[0] > 0 and values[0] == values[1], (name, values)
