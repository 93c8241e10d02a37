"""Sink framing/escaping tests (reference jsonRenderer/htmlRenderer suites;
FIXTURES.md §4 sink contracts, cases E5/E15/E16)."""

import io
import json

from ts_etl_spark.schema import EXPECTED_HEADERS
from ts_etl_spark.sinks.html_sink import escape_html, write_html
from ts_etl_spark.sinks.json_sink import write_json
from ts_etl_spark.sources.prn_source import empty_canonical


def canonical_df(spark, rows):
    return spark.createDataFrame(rows, list(EXPECTED_HEADERS))


ROW1 = ("A", "B", "1234AB", "061", "54.50", "1987-01-01")
ROW2 = ("C", "D", "9999ZZ", "+4412", "0.00", "")


def render_json(spark, rows):
    buf = io.StringIO()
    write_json(canonical_df(spark, rows) if rows else empty_canonical(spark), buf)
    return buf.getvalue()


def render_html(spark, rows):
    buf = io.StringIO()
    write_html(canonical_df(spark, rows) if rows else empty_canonical(spark), buf)
    return buf.getvalue()


def test_json_framing_two_rows(spark):
    out = render_json(spark, [ROW1, ROW2])
    r1 = '{"Name":"A","Address":"B","Postcode":"1234AB","Phone":"061","Credit Limit":"54.50","Birthday":"1987-01-01"}'
    r2 = '{"Name":"C","Address":"D","Postcode":"9999ZZ","Phone":"+4412","Credit Limit":"0.00","Birthday":""}'
    assert out == f"[\n  {r1},\n  {r2}\n]\n"


def test_json_empty_is_bare_brackets(spark):  # E5
    assert render_json(spark, []) == "[]"


def test_json_always_parseable(spark):
    parsed = json.loads(render_json(spark, [ROW1, ROW2]))
    assert [p["Name"] for p in parsed] == ["A", "C"]
    assert json.loads(render_json(spark, [])) == []


def test_json_non_ascii_not_escaped(spark):
    row = ("Smith", "Børkestraße 32", "", "", "0.00", "")
    assert "Børkestraße" in render_json(spark, [row])


def test_escape_html():  # reference string.ts:1-11
    assert escape_html("Data <>&\"'") == "Data &lt;&gt;&amp;&quot;&#039;"
    assert escape_html("&<") == "&amp;&lt;"  # '&' replaced first


def test_html_document_shape(spark):
    out = render_html(spark, [ROW1])
    assert out.startswith("<!DOCTYPE html>\n")
    assert out.endswith("    </tbody>\n  </table>\n</body>\n</html>\n")
    for h in EXPECTED_HEADERS:
        assert f"        <th>{h}</th>\n" in out
    assert "        <td>54.50</td>\n" in out
    assert "No data available" not in out


def test_html_empty_no_data_row(spark):  # E5
    out = render_html(spark, [])
    assert (
        '      <tr><td colspan="6" style="text-align:center;">No data available</td></tr>\n'
        in out
    )


def test_html_escapes_values(spark):  # E15
    row = ("Data <>&\"'", "B", "", "", "0.00", "")
    assert "<td>Data &lt;&gt;&amp;&quot;&#039;</td>" in render_html(spark, [row])


def test_html_missing_column_renders_empty(spark):  # E16
    df = spark.createDataFrame([("A", "B")], ["Name", "Address"])
    buf = io.StringIO()
    write_html(df, buf)
    out = buf.getvalue()
    assert out.count("        <td></td>\n") == 4  # 4 absent canonical columns


def test_csv_sink_round_trip(spark, tmp_path):
    """Extension renderer round-trip: canonical frame -> csv sink -> csv
    source reproduces the identical canonical frame (RFC4180 quoting
    survives the trip), for BOTH input formats of the differencing pair."""
    import io

    from tests.golden import CSV_FIXTURE, PRN_FIXTURE
    from ts_etl_spark.schema import EXPECTED_HEADERS
    from ts_etl_spark.sinks.csv_sink import write_csv
    from ts_etl_spark.sources.csv_source import read_csv
    from ts_etl_spark.sources.prn_source import read_prn

    for name, reader, fixture in (
        ("csv", read_csv, CSV_FIXTURE),
        ("prn", read_prn, PRN_FIXTURE),
    ):
        canonical = reader(spark, str(fixture))
        buf = io.StringIO()
        write_csv(canonical, buf)
        p = tmp_path / f"roundtrip_{name}.csv"
        p.write_text(buf.getvalue(), encoding="latin1")
        back = read_csv(spark, str(p), encoding="ISO-8859-1")
        want = [tuple(r[h] for h in EXPECTED_HEADERS) for r in canonical.collect()]
        got = [tuple(r[h] for h in EXPECTED_HEADERS) for r in back.collect()]
        assert got == want and len(got) > 0, name
