"""``query``: read-only analytical entries of ``operators.all_queries()``, each
forced with the noop writer, over seeded tables in the repository's
parquet layout. The check compares every entry with its DuckDB
``oracle_sql()`` as an order-insensitive multiset."""

from __future__ import annotations

import math
import os
import time
from collections import Counter

from perfbench import gen

ENTRIES = (
    "q1_pricing_summary",
    "embed_neardup_label",
    "trainer_prep",
)
# (metric, span suffix, attributed field, unit); the entry span covers
# construction plus the noop write
LAYER_FIELDS = (
    ("construct_s", ".construct", "wall_s", "s"),
    ("jobs", "", "jobs", "count"),
    ("offstage_s", "", "offstage_s", "s"),
    ("exec_s", "", "exec_s", "s"),
    ("executor_cpu_s", "", "executor_cpu_s", "s"),
    ("shuffle_bytes", "", "shuffle_bytes", "bytes"),
)
LAYERS = {f"query.{n}.{m}": u for n in ENTRIES for m, _, _, u in LAYER_FIELDS}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


class Query:
    def __init__(self, seed: int, work: str):
        self.dir = os.path.join(work, "query")
        gen.write_query_tables(seed, self.dir)
        self.samples: list[tuple[str, float]] = []
        self.last: dict = {}  # entry -> the DataFrame the latest pass forced

    def _force(self, spark, name: str, tracer) -> None:
        from ts_etl_spark.operators import all_queries

        with tracer.span(f"query.{name}"):
            with tracer.span(f"query.{name}.construct"):
                df = all_queries()[name](spark, self.dir)
            df.write.format("noop").mode("overwrite").save()
        self.last[name] = df

    def setup(self, spark, tracer) -> None:
        # same tables as the timed work, so the per-session construction
        # memos (keyed by application and table dir) are as it sees them
        for name in ENTRIES:
            self._force(spark, name, tracer)
            spark.catalog.clearCache()

    def run_pass(self, spark, tracer) -> list[tuple[str, float]]:
        samples = []
        for name in ENTRIES:
            t0 = time.perf_counter()
            self._force(spark, name, tracer)
            samples.append((name, time.perf_counter() - t0))
            spark.catalog.clearCache()  # no entry runs against another's persists
        self.samples += samples
        return samples

    def failed_entries(self, spark) -> set[str]:
        import duckdb
        from ts_etl_spark.operators import all_oracle

        con = duckdb.connect()
        try:
            for t in os.listdir(self.dir):
                name = t.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.dir}/{t}'")
            bad = set()
            for name in ENTRIES:
                df = self.last[name]  # re-executes the plan the timed pass forced
                got = multiset([tuple(r) for r in df.collect()], df.columns)
                res = con.execute(all_oracle()[name])
                cols = [d[0] for d in res.description]
                want = multiset(res.fetchall(), cols)
                spark.catalog.clearCache()
                if sorted(df.columns) != sorted(cols) or got != want:
                    bad.add(name)
            return bad
        finally:
            con.close()

    def check(self, spark) -> int:
        bad = self.failed_entries(spark)
        return sum(1 for name, _ in self.samples if name in bad)

    def layer_metrics(self, med) -> dict[str, float]:
        return {
            f"query.{name}.{metric}": med(f"query.{name}{sub}", field)
            for name in ENTRIES
            for metric, sub, field, _ in LAYER_FIELDS
        }
