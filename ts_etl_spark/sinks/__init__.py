"""Sink adapters + registry (reference renderers/index.ts:12-58, O20).

The rendered sinks stream rows in the frame's own order. A source frame is
an unshuffled scan, so its partition-then-row order is input order; a
caller that shuffles must restore its own order before rendering.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import IO

from pyspark.sql import DataFrame

from ts_etl_spark.sinks.csv_sink import write_csv
from ts_etl_spark.sinks.html_sink import write_html
from ts_etl_spark.sinks.json_sink import write_json

SinkFn = Callable[[DataFrame, IO], None]

SINKS: dict[str, SinkFn] = {
    "json": write_json,
    "html": write_html,
    # extension renderer (no reference counterpart; SURVEY §2.3 registry point)
    "csv": write_csv,
}


def register_sink(name: str, fn: SinkFn) -> None:
    key = name.lower()
    if key in SINKS:
        print(f"Warning: Overwriting existing renderer for type: {key}", file=sys.stderr)
    SINKS[key] = fn


def create_sink(name: str) -> SinkFn:
    key = name.lower()
    if key not in SINKS:
        raise ValueError(f"No renderer registered for output type: {name}")
    return SINKS[key]


__all__ = [
    "SINKS",
    "register_sink",
    "create_sink",
    "write_csv",
    "write_json",
    "write_html",
]
