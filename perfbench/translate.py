"""``translate``: the reference's own job. A seeded CSV file and a PRN file
holding the same rows go through ``cli.run_conversion_path`` into JSON
and into HTML: four conversions per pass."""

from __future__ import annotations

import io
import json
import os
import time

from perfbench import gen

KINDS = (("csv", "json"), ("csv", "html"), ("prn", "json"), ("prn", "html"))
# At this size about 60% of a pass grows with the row count (per-row
# parsing and rendering), the rest is fixed per-job cost. The sort's
# shuffle still coalesces to one partition, so a conversion runs 4 jobs;
# the 7-job shape of large inputs (one toLocalIterator job per coalesced
# partition) needs about 60k rows, which the time budget rules out.
N_ROWS = 6000

LAYERS = {
    "cli.validate_s": "s",
    **{f"sources.{k}.{m}": "s" for k in ("csv", "prn") for m in ("construct_s", "scan_s")},
    **{f"sinks.{k}.render_s": "s" for k in ("json", "html")},
    **{
        f"translate.{src}_{dst}.{m}": u
        for src, dst in KINDS
        for m, u in (("s", "s"), ("jobs", "count"), ("stages", "count"))
    },
}


def failed_kinds(outs: dict[str, str], canonical: list[dict]) -> set[str]:
    """Conversions whose output is wrong: the differencing property (a
    PRN-sourced output is byte-identical to its CSV-sourced twin), the
    JSON parsed back against the generator's canonical rows, and one HTML
    table row per input row plus the header row."""
    bad = set()
    try:
        if json.loads(outs["csv_json"]) != canonical:
            bad.add("csv_json")
    except ValueError:
        bad.add("csv_json")
    for fmt in ("json", "html"):
        if outs[f"prn_{fmt}"] != outs[f"csv_{fmt}"]:
            bad.add(f"prn_{fmt}")
    if outs["csv_html"].count("      <tr>\n") != len(canonical) + 1:
        bad.add("csv_html")
    return bad


class Translate:
    def __init__(self, seed: int, work: str):
        d = os.path.join(work, "translate")
        self.csv, self.prn, self.canonical = gen.write_translate_pair(seed, N_ROWS, d)
        self.outputs: list[dict[str, str]] = []

    def _convert(self, spark, src: str, dst: str) -> str:
        from ts_etl_spark.cli import run_conversion_path

        buf = io.StringIO()
        run_conversion_path(src, dst, self.csv if src == "csv" else self.prn, buf, spark=spark)
        return buf.getvalue()

    def setup(self, spark, tracer) -> None:
        # one pass over the timed inputs: Spark's codegen would be the same
        # on a small pair, but the JVM's JIT compiles the per-row parse and
        # render paths only once they have run for thousands of rows
        for src, dst in KINDS:
            self._convert(spark, src, dst)

    def run_pass(self, spark, tracer) -> list[tuple[str, float]]:
        samples, outs = [], {}
        for src, dst in KINDS:
            kind = f"{src}_{dst}"
            t0 = time.perf_counter()
            with tracer.span(f"translate.{kind}"):
                outs[kind] = self._convert(spark, src, dst)
            samples.append((kind, time.perf_counter() - t0))
        self.outputs.append(outs)
        return samples

    def layer_probes(self, spark, tracer) -> None:
        """Each translate layer on its own, through its public function."""
        from ts_etl_spark.sinks import write_html, write_json
        from ts_etl_spark.sources import read_csv, read_prn
        from ts_etl_spark.sources.csv_source import validate_csv_text

        with open(self.csv, "rb") as f:
            text = f.read().decode("latin1")
        with tracer.span("cli.validate"):
            validate_csv_text(text)
        for kind, reader, path in (("csv", read_csv, self.csv), ("prn", read_prn, self.prn)):
            with tracer.span(f"sources.{kind}.construct"):
                df = reader(spark, path)
            with tracer.span(f"sources.{kind}.scan"):
                df.write.format("noop").mode("overwrite").save()
        canon = read_csv(spark, self.csv).cache()
        canon.count()
        for kind, sink in (("json", write_json), ("html", write_html)):
            with tracer.span(f"sinks.{kind}.render"):
                sink(canon, io.StringIO())
        canon.unpersist()

    def check(self, spark) -> int:
        """Failed conversions over every timed pass."""
        return sum(len(failed_kinds(outs, self.canonical)) for outs in self.outputs)

    def layer_metrics(self, med) -> dict[str, float]:
        out = {"cli.validate_s": med("cli.validate", "wall_s")}
        for kind in ("csv", "prn"):
            out[f"sources.{kind}.construct_s"] = med(f"sources.{kind}.construct", "wall_s")
            out[f"sources.{kind}.scan_s"] = med(f"sources.{kind}.scan", "wall_s")
        for kind in ("json", "html"):
            out[f"sinks.{kind}.render_s"] = med(f"sinks.{kind}.render", "wall_s")
        for src, dst in KINDS:
            k = f"translate.{src}_{dst}"
            out.update({f"{k}.s": med(k, "wall_s"), f"{k}.jobs": med(k, "jobs"),
                        f"{k}.stages": med(k, "stages")})
        return out
