"""PRN fixed-width source adapter (reference operators O5/O6/O7/O11).

The reference (src/parsers/prnParser.ts:16-187) derives column byte ranges
from the positions of the canonical header names in the header line
(processHeaderLine, prnParser.ts:36-110), then slices every data line by
``[start, min(end, len(line)))`` and trims (processDataLine, 116-143).
Credit Limit is stored as integer cents and pre-scaled to units
(prnParser.ts:130-137) before the shared normalizers run.

Spark has no fixed-width reader, so the adapter is:

    spark.read.csv(sep='\\x01', quote disabled, encoding=ISO-8859-1)
        -> one string column per line (splittable, latin1-correct)
    driver inspects the first non-blank line -> ColumnSpec list
        (the reference does the same single-pass header specialization;
         the spans become `substring` literals Catalyst constant-folds)
    data lines -> select(substring/trim per span) -> normalize_row_exprs

Line assembly (reference O6, _transform/_flush chunk re-buffering) is free:
the line-oriented reader already handles trailing partial lines.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_etl_spark.functions.normalize import js_trim, normalize_row_exprs
from ts_etl_spark.schema import EXPECTED_HEADERS, H_CREDIT_LIMIT

#: leading-integer prefix, JS ``parseInt(v, 10)`` semantics
_INT_PREFIX = r"^[+-]?\d+"


@dataclass(frozen=True)
class ColumnSpec:
    """A fixed-width column span (reference prnParser.ts:9-13)."""

    name: str
    start: int
    end: int


def infer_specs(header_line: str, warn: bool = True) -> list[ColumnSpec]:
    """Mirror ``processHeaderLine`` (prnParser.ts:36-110): locate each
    canonical header by substring search with an advancing offset, warn on
    stderr for missing ones, sort by start; each span ends at the next
    span's start, the last at the trimmed header line's length."""
    trimmed = header_line.rstrip()
    found: list[tuple[str, int]] = []
    offset = 0
    for name in EXPECTED_HEADERS:
        idx = trimmed.find(name, offset)
        if idx != -1:
            found.append((name, idx))
            offset = idx + 1
        elif warn:
            print(
                f'PRN Parser Warning: Expected header "{name}" not found in '
                f'header line: "{trimmed}".',
                file=sys.stderr,
            )
    found.sort(key=lambda t: t[1])
    specs = [
        ColumnSpec(name, start, found[i + 1][1] if i + 1 < len(found) else len(trimmed))
        for i, (name, start) in enumerate(found)
    ]
    if not specs and trimmed:
        raise ValueError(
            "PRN Error: Could not derive any column specifications from PRN "
            "header line. Ensure headers match EXPECTED_HEADERS."
        )
    if warn and specs and len(specs) < len(EXPECTED_HEADERS):
        missing = [h for h in EXPECTED_HEADERS if not any(s.name == h for s in specs)]
        print(
            "Not all EXPECTED_HEADERS were found or mapped. "
            f"Missing/unmapped: {', '.join(missing)}",
            file=sys.stderr,
        )
    return specs


def _slice(line: Column, spec: ColumnSpec) -> Column:
    """``processDataLine`` slice+trim (prnParser.ts:121-128): substring is
    1-based in Spark; out-of-range slices yield '' exactly like the JS
    guard ``spec.start < line.length ? ... : ''``."""
    return js_trim(F.substring(line, spec.start + 1, spec.end - spec.start))


def _prescale_cents(raw: Column) -> Column:
    """Integer-cents -> units pre-scale (prnParser.ts:130-137):
    ``parseInt`` (leading-integer prefix), /100, 2-decimal string; non-
    numeric -> '' so the shared money normalizer applies the default."""
    prefix = F.regexp_extract(raw, _INT_PREFIX, 0)
    # try_cast: an out-of-range cents value degrades to the default instead
    # of an ANSI overflow error killing the job
    as_units = (prefix.try_cast(T.DecimalType(18, 0)) / 100).cast(T.DecimalType(18, 2))
    return F.when(prefix == "", F.lit("")).otherwise(
        F.coalesce(as_units.cast(T.StringType()), F.lit(""))
    )


def _read_lines(spark: SparkSession, path: str, encoding: str) -> DataFrame:
    """Read a text file as one string column per line, latin1-correct.

    ``spark.read.text`` assumes UTF-8, so the CSV reader is used with an
    unused separator and quoting disabled — splittable and encoding-aware
    (SURVEY.md §7.4 hard part 4)."""
    return (
        spark.read.schema("line STRING")  # explicit: empty files read as 0 rows
        .option("header", False)
        .option("delimiter", "\x01")
        .option("quote", "")
        .option("encoding", encoding)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def read_prn(
    spark: SparkSession,
    path: str,
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Read a PRN fixed-width file into the canonical normalized frame.

    The header is the first non-blank line (reference handleLine,
    prnParser.ts:148-158 skips blanks before the header); everything after
    it is data; blank data lines are dropped (O7). ``pos`` exists only to
    find the lines after the header and is dropped by the final select."""
    lines = _read_lines(spark, path, encoding).select(
        F.monotonically_increasing_id().alias("pos"), "line"
    )
    # Driver-side header fetch: one tiny job reading the file head — the
    # same "prepared plan" specialization the reference does once per run.
    # limit(1) scans partitions in index order, so this is the first
    # non-blank line of the file.
    head = lines.filter(js_trim(F.col("line")) != "").limit(1).collect()
    if not head:
        return empty_canonical(spark)
    header_id, header_line = head[0][0], head[0][1]
    specs = infer_specs(header_line)

    data = lines.filter(
        (F.col("pos") > header_id) & (js_trim(F.col("line")) != "")
    )
    present: dict[str, Column] = {}
    for spec in specs:
        raw = _slice(F.col("line"), spec)
        if spec.name == H_CREDIT_LIMIT:
            raw = _prescale_cents(raw)
        present[spec.name] = raw
    return data.select(normalize_row_exprs(present))


def empty_canonical(spark: SparkSession) -> DataFrame:
    """Zero-row canonical frame (empty-input path, prnParser.ts:180-184)."""
    fields = [T.StructField(h, T.StringType()) for h in EXPECTED_HEADERS]
    return spark.createDataFrame([], T.StructType(fields))
