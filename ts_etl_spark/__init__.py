"""ts_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL pipeline (adaschevici/ts-etl),
re-expressed Spark-first.

Layout:
    session.py      SparkSession factory with scale-tuned defaults
    schema.py       canonical 6-column schema and defaults
    functions/      pure Column->Column scalar functions (normalizers, text, vectors)
    sources/        source adapters (CSV, PRN fixed-width, parquet tables) + registry
    sinks/          sink adapters (byte-exact JSON / HTML) + registry
    operators/      relational / dedup / similarity / text / multimodal operators
    streaming/      Structured Streaming ingest (dedup-on-ingest, ANN serving index)
    cli.py          `python -m ts_etl_spark <in> <out>` front end

Design stance (SURVEY.md §7.1): typed core, formatted edges; everything is a
DataFrame->DataFrame or Column->Column function; registries are plain dicts;
no custom Catalyst rules — built-ins cover the whole surface.
"""

__version__ = "0.1.0"
