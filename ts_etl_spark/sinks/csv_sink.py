"""CSV sink — an EXTENSION renderer (no reference counterpart; the
reference registry ships json + html only, renderers/index.ts:12 — this
plugs a third renderer into the same O20 registry, closing the round-trip:
any registered source → canonical frame → csv → re-read gives the identical
canonical frame, tested in tests/test_sinks.py).

RFC4180 quoting: fields containing the delimiter, a quote or a newline are
wrapped in double quotes with inner quotes doubled — exactly what the CSV
SOURCE parses back (quote='"', escape='"').

Same driver split as the other rendered sinks: per-row CSV lines are
computed DISTRIBUTED (pure codegen string expressions), only the ordered
concatenation streams through the driver via ``toLocalIterator``.
"""

from __future__ import annotations

from typing import IO

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ts_etl_spark.schema import EXPECTED_HEADERS

DELIM = ","


def _quoted(c: Column) -> Column:
    """RFC4180 field encoding as a codegen expression."""
    needs = (
        c.contains(DELIM) | c.contains('"') | c.contains("\n") | c.contains("\r")
    )
    escaped = F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))
    return F.when(needs, escaped).otherwise(c)


def csv_rows(df: DataFrame) -> DataFrame:
    """Distributed per-row CSV rendering, input-ordered."""
    cols = [c for c in EXPECTED_HEADERS if c in df.columns]
    line = F.concat_ws(DELIM, *[_quoted(F.col(f"`{c}`")) for c in cols])
    return df.select(line.alias("line"))


def write_csv(df: DataFrame, out: IO) -> None:
    """Stream header + rows to ``out`` (text mode)."""
    cols = [c for c in EXPECTED_HEADERS if c in df.columns]
    out.write(DELIM.join(cols) + "\n")
    for row in csv_rows(df).toLocalIterator():
        out.write(row["line"] + "\n")
