"""End-to-end differential acceptance (the reference's true acceptance test,
README.md:35-44): the same logical dataset in CSV and PRN dialects must
produce BYTE-IDENTICAL JSON and HTML output. Also CLI arg validation
(E20/E21)."""

import io
import json

import pytest

from tests.golden import CSV_FIXTURE, GOLDEN_ROWS, PRN_FIXTURE
from ts_etl_spark.cli import main, run_conversion
from ts_etl_spark.schema import EXPECTED_HEADERS


@pytest.fixture(scope="module")
def outputs(spark):
    out = {}
    for in_type, path in (("csv", CSV_FIXTURE), ("prn", PRN_FIXTURE)):
        data = open(path, "rb").read()
        for out_type in ("json", "html"):
            buf = io.StringIO()
            run_conversion(in_type, out_type, data, buf, spark=spark)
            out[(in_type, out_type)] = buf.getvalue()
    return out


def test_differencing_property_json(outputs):
    assert outputs[("csv", "json")] == outputs[("prn", "json")]


def test_differencing_property_html(outputs):
    assert outputs[("csv", "html")] == outputs[("prn", "html")]


def test_json_matches_golden(outputs):
    rows = [
        json.dumps(dict(zip(EXPECTED_HEADERS, r)), separators=(",", ":"), ensure_ascii=False)
        for r in GOLDEN_ROWS
    ]
    expected = "[\n  " + ",\n  ".join(rows) + "\n]\n"
    assert outputs[("csv", "json")] == expected


def test_html_contains_golden_in_order(outputs):
    html = outputs[("csv", "html")]
    names = [r[0] for r in GOLDEN_ROWS]
    positions = [html.index(f"<td>{n}</td>") for n in names]
    assert positions == sorted(positions)
    assert "Børkestraße 32" in html


def test_cli_rejects_invalid_types(capsys):  # E21
    assert main(["xml", "json"]) == 1
    assert "Invalid input type" in capsys.readouterr().err
    assert main(["csv", "pdf"]) == 1
    assert "Invalid output type" in capsys.readouterr().err


def test_malformed_csv_errors(spark):  # E7 end-to-end
    buf = io.StringIO()
    with pytest.raises(ValueError, match="CSV parsing error"):
        run_conversion("csv", "json", b'Name,Address\n"Unclosed,B\n', buf, spark=spark)


@pytest.mark.parametrize(
    "in_type,out_type",
    [("csv", "json"), ("prn", "json"), ("prn", "html")],
    ids=["csv", "prn", "prn-html"],
)
def test_json_order_preserved_across_partitions(spark, tmp_path, in_type, out_type):
    """The rendered sinks must emit rows in input order even when the file
    splits into multiple scan partitions (the scan's own partition-then-row
    order; no sort)."""
    import io
    import re

    from tests.test_differential_generated import _prn_bytes
    from ts_etl_spark.sinks import SINKS
    from ts_etl_spark.sources import SOURCES

    if in_type == "csv":
        text = "Name,Credit Limit\n" + "".join(f"P{i:04d},{i}\n" for i in range(300))
        data = text.encode()
    else:
        data = _prn_bytes(
            [
                (f"P{i:04d}", f"Straße {i}", "1234 AB", "020 1234567", i, (1990, 1, 1 + i % 28))
                for i in range(300)
            ]
        )
    path = tmp_path / f"big.{in_type}"
    path.write_bytes(data)
    read, write = SOURCES[in_type], SINKS[out_type]

    def render(df):
        buf = io.StringIO()
        write(df, buf)
        return buf.getvalue()

    single = render(read(spark, str(path)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
        multi_df = read(spark, str(path))
        assert multi_df.rdd.getNumPartitions() > 1
        multi = render(multi_df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert multi == single
    if out_type == "json":
        names = [i["Name"] for i in json.loads(single)]
    else:
        names = re.findall(r"<td>(P\d{4})</td>", single)
    assert names == [f"P{i:04d}" for i in range(300)]


def test_cli_path_mode_matches_stdin_mode(tmp_path):
    """`python -m ts_etl_spark csv json <path>` must produce byte-identical
    output to the stdin pipe mode on the same file."""
    import io

    from ts_etl_spark.cli import run_conversion, run_conversion_path
    from tests.golden import CSV_FIXTURE
    from ts_etl_spark.session import get_spark

    spark = get_spark(app_name="cli-path-test")
    with open(CSV_FIXTURE, "rb") as f:
        data = f.read()
    out_stdin, out_path = io.StringIO(), io.StringIO()
    run_conversion("csv", "json", data, out_stdin, spark=spark)
    run_conversion_path("csv", "json", str(CSV_FIXTURE), out_path, spark=spark)
    assert out_path.getvalue() == out_stdin.getvalue()
    assert out_path.getvalue()  # non-empty


def test_sql_subcommand_jsonl(spark):
    """The sql entry point: views registered, result streamed as JSON
    lines, row count returned."""
    import io as _io

    from ts_etl_spark.cli import run_sql

    buf = _io.StringIO()
    n = run_sql(
        "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name ORDER BY r_name",
        "/root/testdata/sf0.001",
        buf,
        spark=spark,
    )
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert n == len(lines) > 0
    assert all(set(x) == {"r_name", "n"} for x in lines)


def test_sql_subcommand_matches_duckdb(spark):
    """An ad-hoc aggregate through the sql entry point hash-matches the
    same SQL run by DuckDB over the same files."""
    import io as _io

    import duckdb

    from ts_etl_spark.cli import run_sql

    q = (
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    buf = _io.StringIO()
    run_sql(q, "/root/testdata/sf0.001", buf, spark=spark)
    got = [json.loads(x) for x in buf.getvalue().splitlines()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM '/root/testdata/sf0.001/orders.parquet'"
    )
    want = [
        {"o_orderstatus": s, "n": n} for s, n in con.execute(q).fetchall()
    ]
    assert got == want
