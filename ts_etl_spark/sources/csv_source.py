"""CSV source adapter (reference operators O2/O3/O4/O7).

The reference's CSV parser (src/parsers/csvParser.ts:8-88) is the csv-parse
library configured with ``columns:true, skip_empty_lines:true, trim:false``
plus a per-cell normalization cast (csvParser.ts:24-29) and a canonical
projection with case-insensitive header matching, extra-column dropping and
per-column defaults (csvParser.ts:30-43). All of that is native to Spark's
CSV datasource plus one narrow ``select``:

    spark.read.csv(header, delimiter, quote='"', escape='"',
                   encoding=ISO-8859-1)            # O1+O2
      -> select(normalize_row_exprs(matched cols))  # O3+O4+O8..O15

Scale notes: the scan is splittable (multiLine=False by default), all
normalization is a single whole-stage-codegen projection, and column pruning
reaches the scan because the canonical projection is declared, not computed
row-by-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.functions.normalize import normalize_row_exprs
from ts_etl_spark.schema import EXPECTED_HEADERS


def match_headers(actual: list[str]) -> dict[str, str]:
    """Case-insensitive header reconciliation (csvParser.ts:32-35,
    normalization.ts:37-42): canonical header -> actual column name.
    First case-insensitive match wins; unmatched canonicals are absent
    (filled with defaults); extra actual columns are dropped."""
    out: dict[str, str] = {}
    lowered = [(a.lower(), a) for a in actual]
    for canonical in EXPECTED_HEADERS:
        for low, a in lowered:
            if low == canonical.lower():
                out[canonical] = a
                break
    return out


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    encoding: str = "ISO-8859-1",
    multi_line: bool = False,
) -> DataFrame:
    """Read a CSV file into the canonical normalized 6-column string frame.

    The plan is a scan plus one projection with no shuffle, so the frame's
    partition-then-row order is input order, which the rendered sinks
    stream as is.
    """
    raw = (
        spark.read.option("header", True)
        .option("delimiter", delimiter)
        .option("quote", '"')
        .option("escape", '"')  # RFC4180 doubled quotes, like csv-parse
        .option("encoding", encoding)
        .option("multiLine", multi_line)
        .option("inferSchema", False)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("enforceSchema", False)
        .csv(path)
    )
    mapping = match_headers(raw.columns)
    exprs = normalize_row_exprs({h: F.col(f"`{a}`") for h, a in mapping.items()})
    return raw.select(exprs)


def validate_csv_text(text: str, delimiter: str = ",") -> None:
    """Strict RFC4180 quote validation for the CLI/stdin path, mirroring the
    reference's hard error on malformed CSV (csvParser.ts:55-57; reference
    test csvParser.test.ts:220-230).

    Driver-side only: the input is already materialized as one blob there.
    The distributed file reader stays permissive (quotes may legitimately
    span partition boundaries only in multiLine mode).
    """
    in_quotes = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_quotes:
            if ch == '"':
                if i + 1 < n and text[i + 1] == '"':
                    i += 1  # escaped quote
                else:
                    in_quotes = False
                    # a closing quote must be followed by delimiter/EOL
                    if i + 1 < n and text[i + 1] not in (delimiter, "\n", "\r"):
                        raise ValueError(
                            "CSV parsing error: Invalid closing quote at "
                            f"character {i + 1}"
                        )
        else:
            if ch == '"':
                # only a quote at field start opens a quoted field
                prev = text[i - 1] if i > 0 else delimiter
                if prev in (delimiter, "\n", "\r"):
                    in_quotes = True
        i += 1
    if in_quotes:
        raise ValueError("CSV parsing error: Quote is not closed at end of input")
