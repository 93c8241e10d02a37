"""JSON-Lines source adapter — an EXTENSION format (no reference
counterpart; the reference registry ships csv + prn only, parsers/index.ts:8
— this plugs a third format into the same O19 registry to demonstrate the
extension point end-to-end).

One JSON object per line, keys matched to the canonical headers
case-insensitively (same reconciliation rule as the CSV path), values run
through the SAME normalizer expressions — so a dataset converted losslessly
between csv/prn/jsonl renders byte-identical output through any sink (the
reference's differencing property, extended to the new format; proven in
tests/test_sources.py).

Scale notes: ``spark.read.json`` with an explicit all-string schema is a
splittable scan (one JSON doc per line) with no schema inference pass; the
normalization stays one whole-stage-codegen projection, exactly like the
CSV path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_etl_spark.functions.normalize import normalize_row_exprs
from ts_etl_spark.sources.csv_source import match_headers


def read_jsonl(
    spark: SparkSession,
    path: str,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Read a JSON-Lines file into the canonical normalized 6-column frame.

    The first pass samples keys (driver-side schema listing via a 1-row
    read); the real scan then uses an explicit all-string schema so no
    type inference ever runs on the data path.
    """
    # key discovery: read schema from Spark's own sampling, but force every
    # discovered field to string for the actual scan (normalizers expect the
    # reference's all-strings model)
    sampled = spark.read.option("encoding", encoding).json(path).schema
    schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in sampled.fields]
    )
    raw = (
        spark.read.option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .json(path)
    )
    mapping = match_headers(raw.columns)
    exprs = normalize_row_exprs({h: F.col(f"`{a}`") for h, a in mapping.items()})
    return raw.select(exprs)
