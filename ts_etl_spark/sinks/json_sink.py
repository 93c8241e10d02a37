"""JSON sink with the reference's exact framing (O16).

Reference src/renderers/jsonRenderer.ts:4-49: a pretty JSON array —
``[\\n  {row},\\n  {row}\\n]\\n`` with compact ``JSON.stringify`` rows in
canonical key order; empty input renders ``[]`` (no newline).

Spark-first split of the work (SURVEY.md §4.1 hard part 1):
- per-row JSON strings are computed DISTRIBUTED via ``to_json(struct(...))``
  (Jackson, codegen; same minimal-escaping behavior as ``JSON.stringify``),
- only the final framing/concatenation runs on the driver via
  ``toLocalIterator`` in the frame's own order — O(1) driver memory,
  no ``collect()`` of the whole dataset.

The contract is a single ordered text artifact, so a single writer is
inherent to the format, not a scalability bug; the relational surface uses
normal distributed writers instead.
"""

from __future__ import annotations

from typing import IO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_etl_spark.schema import EXPECTED_HEADERS


def json_rows(df: DataFrame) -> DataFrame:
    """Distributed per-row JSON rendering, input-ordered."""
    cols = [c for c in EXPECTED_HEADERS if c in df.columns]
    return df.select(
        F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols])).alias("js")
    )


def write_json(df: DataFrame, out: IO) -> None:
    """Stream the framed array to ``out`` (text mode)."""
    first = True
    for row in json_rows(df).toLocalIterator():
        out.write("[\n  " if first else ",\n  ")
        out.write(row["js"])
        first = False
    out.write("[]" if first else "\n]\n")
