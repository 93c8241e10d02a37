"""Source adapter tests — edge-case matrix from FIXTURES.md §5
(cases E1-E14, E22), golden rows from §4."""

import pytest

from tests.golden import CSV_FIXTURE, GOLDEN_ROWS, PRN_FIXTURE
from ts_etl_spark.schema import EXPECTED_HEADERS
from ts_etl_spark.sources.csv_source import read_csv, validate_csv_text
from ts_etl_spark.sources.prn_source import infer_specs, read_prn


def rows_of(df):
    return [tuple(r) for r in df.collect()]


def write_tmp(tmp_path, name, text, encoding="latin1"):
    p = tmp_path / name
    p.write_bytes(text.encode(encoding))
    return str(p)


# ---------------------------------------------------------------- CSV


def test_csv_golden(spark):
    assert rows_of(read_csv(spark, CSV_FIXTURE)) == GOLDEN_ROWS


def test_csv_custom_delimiter(spark, tmp_path):  # E1
    text = (
        "Name;Address;Postcode;Phone;Credit Limit;Birthday\n"
        '"Johnson, John";Voorstraat 32;3122gg;020 3849381;10000;01/01/1987\n'
    )
    df = read_csv(spark, write_tmp(tmp_path, "d.csv", text), delimiter=";")
    assert rows_of(df) == [GOLDEN_ROWS[0]]


def test_csv_header_casing(spark, tmp_path):  # E2
    text = (
        "name,ADDRESS,postcode,pHone,Credit limit,BIRTHDAY\n"
        "A,B,1234 ab,06-1,54.5,01/01/1987\n"
    )
    df = read_csv(spark, write_tmp(tmp_path, "c.csv", text))
    assert df.columns == list(EXPECTED_HEADERS)
    assert rows_of(df) == [("A", "B", "1234AB", "061", "54.50", "1987-01-01")]


def test_csv_missing_columns_defaulted(spark, tmp_path):  # E3
    text = "Name,Postcode,Credit Limit,Birthday\nA,1234 ab,54.5,01/01/1987\n"
    df = read_csv(spark, write_tmp(tmp_path, "m.csv", text))
    assert rows_of(df) == [("A", "", "1234AB", "", "54.50", "1987-01-01")]


def test_csv_extra_columns_dropped(spark, tmp_path):  # E4
    text = (
        "Name,Address,ExtraInfoCol,Postcode,Phone,Credit Limit,Hobby,Birthday\n"
        "A,B,IGNORED,1234 ab,06-1,54.5,chess,01/01/1987\n"
    )
    df = read_csv(spark, write_tmp(tmp_path, "x.csv", text))
    assert df.columns == list(EXPECTED_HEADERS)
    assert rows_of(df) == [("A", "B", "1234AB", "061", "54.50", "1987-01-01")]


def test_csv_header_only(spark, tmp_path):  # E6
    df = read_csv(spark, write_tmp(tmp_path, "h.csv", "Name,Address\n"))
    assert rows_of(df) == []


def test_csv_quoted_fields_keep_commas(spark, tmp_path):
    text = 'Name,Address\n"Last, First","Street 1, Apt 2"\n'
    df = read_csv(spark, write_tmp(tmp_path, "q.csv", text))
    assert rows_of(df)[0][:2] == ("Last, First", "Street 1, Apt 2")


def test_csv_latin1_encoding(spark):
    names = [r[0] for r in rows_of(read_csv(spark, CSV_FIXTURE))]
    assert "Smith, John" in names
    addrs = [r[1] for r in rows_of(read_csv(spark, CSV_FIXTURE))]
    assert "Børkestraße 32" in addrs


def test_csv_malformed_quote_error():  # E7
    with pytest.raises(ValueError, match="CSV parsing error"):
        validate_csv_text('Name,Address\n"Unclosed,B\n')
    with pytest.raises(ValueError, match="CSV parsing error"):
        validate_csv_text('Name,Address\n"bad"x,B\n')
    validate_csv_text('Name,Address\n"ok ""q""",B\n')  # doubled quotes fine


def test_csv_multipartition_equivalence(spark, tmp_path):  # E22 analogue
    text = "Name,Credit Limit\n" + "".join(f"P{i},{i}.5\n" for i in range(200))
    path = write_tmp(tmp_path, "big.csv", text)
    whole = set(rows_of(read_csv(spark, path)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
        split = read_csv(spark, path)
        assert split.rdd.getNumPartitions() > 1
        assert set(rows_of(split)) == whole
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# ---------------------------------------------------------------- PRN


def test_prn_golden(spark):
    assert rows_of(read_prn(spark, PRN_FIXTURE)) == GOLDEN_ROWS


def test_prn_differential_vs_csv(spark):
    """The reference's core invariant (README.md:35-44)."""
    assert rows_of(read_prn(spark, PRN_FIXTURE)) == rows_of(read_csv(spark, CSV_FIXTURE))


def test_infer_specs_spans():
    header = "Name            Address               Postcode Phone         Credit Limit Birthday"
    specs = infer_specs(header, warn=False)
    assert [(s.name, s.start, s.end) for s in specs] == [
        ("Name", 0, 16),
        ("Address", 16, 38),
        ("Postcode", 38, 47),
        ("Phone", 47, 61),
        ("Credit Limit", 61, 74),
        ("Birthday", 74, len(header)),
    ]


def test_infer_specs_unparsable():  # E11
    with pytest.raises(ValueError, match="PRN Error"):
        infer_specs("ColumnA ColumnB ColumnC", warn=False)


def test_prn_missing_headers_warn_and_default(spark, tmp_path, capsys):  # E9
    text = "Name      Postcode  Credit Limit\nJo        1234 ab   5450\n"
    df = read_prn(spark, write_tmp(tmp_path, "m.prn", text))
    err = capsys.readouterr().err
    assert 'Expected header "Address" not found' in err
    assert "Missing/unmapped: Address, Phone, Birthday" in err
    assert rows_of(df) == [("Jo", "", "1234AB", "", "54.50", "")]


def test_prn_short_data_line(spark, tmp_path):  # E12
    text = (
        "Name            Address               Postcode Phone         Credit Limit Birthday\n"
        "OnlyName\n"
    )
    df = read_prn(spark, write_tmp(tmp_path, "s.prn", text))
    assert rows_of(df) == [("OnlyName", "", "", "", "0.00", "")]


def test_prn_non_numeric_money(spark, tmp_path):  # E13
    text = "Name  Credit Limit\nJo    NOTANUMBER\n"
    df = read_prn(spark, write_tmp(tmp_path, "n.prn", text))
    assert rows_of(df)[0][4] == "0.00"


def test_prn_blank_lines_skipped(spark, tmp_path):  # E10/E14
    text = "Name  Credit Limit\n\nJo    5450\n   \nBo    100\n"
    df = read_prn(spark, write_tmp(tmp_path, "b.prn", text))
    assert [r[0] for r in rows_of(df)] == ["Jo", "Bo"]


def test_prn_empty_input(spark, tmp_path):  # E5
    assert rows_of(read_prn(spark, write_tmp(tmp_path, "e.prn", ""))) == []
    assert rows_of(read_prn(spark, write_tmp(tmp_path, "w.prn", "   \n \n"))) == []


def test_prn_header_only(spark, tmp_path):  # E6
    df = read_prn(spark, write_tmp(tmp_path, "h.prn", "Name  Address\n"))
    assert rows_of(df) == []


def test_prn_data_wider_than_header(spark, tmp_path):  # E8
    # last column is capped at the header line's trimmed length
    # (prnParser.ts:76-79 + Math.min at 123-128)
    text = "Name  Birthday\nJo    19870101EXTRA\n"
    df = read_prn(spark, write_tmp(tmp_path, "wdr.prn", text))
    assert rows_of(df)[0][5] == "1987-01-01"


def test_source_sink_registries():
    """Registry contracts (reference O19/O20): unknown types raise, custom
    registrations resolve, overwrites warn."""
    import io

    import pytest as pt

    from ts_etl_spark import sinks, sources

    with pt.raises(ValueError, match="No parser registered"):
        sources.create_source("xml", None, "/nope")
    with pt.raises(ValueError, match="No renderer registered"):
        sinks.create_sink("pdf")

    calls = []
    sources.register_source("fake", lambda spark, path: calls.append(path))
    try:
        sources.create_source("FAKE", None, "p1")  # case-insensitive
        assert calls == ["p1"]
    finally:
        sources.SOURCES.pop("fake", None)

    def fake_sink(df, out):
        out.write("ok")

    sinks.register_sink("txt", fake_sink)
    try:
        buf = io.StringIO()
        sinks.create_sink("TXT")(None, buf)
        assert buf.getvalue() == "ok"
    finally:
        sinks.SINKS.pop("txt", None)


def test_jsonl_source_matches_csv_differential(spark, tmp_path):
    """Differencing property extended to the jsonl format: the same logical
    dataset as CSV and as JSON-Lines (raw, un-normalized values) must render
    byte-identical JSON output."""
    import csv as _csv
    import io
    import json as _json

    from tests.golden import CSV_FIXTURE
    from ts_etl_spark.cli import run_conversion_path

    with open(CSV_FIXTURE, encoding="latin1") as f:
        rows = list(_csv.DictReader(f))
    jsonl_path = tmp_path / "fixture.jsonl"
    with open(jsonl_path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(_json.dumps(r, ensure_ascii=False) + "\n")

    out_csv, out_jsonl = io.StringIO(), io.StringIO()
    run_conversion_path("csv", "json", str(CSV_FIXTURE), out_csv, spark=spark)
    run_conversion_path("jsonl", "json", str(jsonl_path), out_jsonl, spark=spark)
    assert out_jsonl.getvalue() == out_csv.getvalue()
    assert out_jsonl.getvalue()


def test_jsonl_missing_and_extra_keys(spark, tmp_path):
    """Canonical reconciliation on jsonl: extra keys dropped, missing
    canonicals defaulted (Credit Limit -> '0.00', others -> '')."""
    import json as _json

    from ts_etl_spark.sources.jsonl_source import read_jsonl

    p = tmp_path / "part.jsonl"
    with open(p, "w", encoding="utf-8") as f:
        f.write(_json.dumps({"name": "A", "ignored": "x"}) + "\n")
    (row,) = read_jsonl(spark, str(p)).collect()
    assert row["Name"] == "A"
    assert row["Credit Limit"] == "0.00"
    assert row["Birthday"] == ""
    assert "ignored" not in row.asDict()
