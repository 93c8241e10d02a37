"""HTML table sink with the reference's exact document template (O17/O18).

Reference src/renderers/htmlRenderer.ts:6-136 emits a fixed HTML5 document:
doctype/head/style, a <thead> from EXPECTED_HEADERS, one <tr> per row in
canonical order (missing keys -> ''), a "No data available" colspan row for
empty input, closing tags. Values are HTML-escaped (src/utils/string.ts:1-11,
``&#039;`` for the single quote).

Like the JSON sink, row <tr> fragments could be rendered distributed, but the
contract is one ordered document, so rows stream through ``toLocalIterator``
and are escaped/assembled driver-side — O(1) driver memory.
"""

from __future__ import annotations

from typing import IO

from pyspark.sql import DataFrame

from ts_etl_spark.schema import EXPECTED_HEADERS


def escape_html(unsafe: str) -> str:
    """Exact ``escapeHtml`` (string.ts:1-11); '&' must be replaced first."""
    return (
        str(unsafe)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#039;")
    )


_HEAD = (
    "<!DOCTYPE html>\n"
    '<html lang="en">\n'
    "<head>\n"
    '  <meta charset="UTF-8">\n'
    '  <meta name="viewport" content="width=device-width, initial-scale=1.0">\n'
    "  <title>Data Output</title>\n"
    "  <style>\n"
    "    body { font-family: sans-serif; margin: 20px; }\n"
    "    table { border-collapse: collapse; width: 100%; margin-top: 20px; }\n"
    "    th, td { border: 1px solid #ddd; padding: 8px; text-align: left; }\n"
    "    th { background-color: #f2f2f2; }\n"
    "    tr:nth-child(even) { background-color: #f9f9f9; }\n"
    "  </style>\n"
    "</head>\n"
    "<body>\n"
    "  <h1>Processed Data</h1>\n"
    "  <table>\n"
)

_FOOT = "    </tbody>\n  </table>\n</body>\n</html>\n"


def write_html(df: DataFrame, out: IO) -> None:
    """Stream the full document to ``out`` (text mode)."""
    out.write(_HEAD)
    out.write("    <thead>\n      <tr>\n")
    for header in EXPECTED_HEADERS:
        out.write(f"        <th>{escape_html(header)}</th>\n")
    out.write("      </tr>\n    </thead>\n    <tbody>\n")

    cols = [c for c in EXPECTED_HEADERS if c in df.columns]
    any_rows = False
    for row in df.select(*[f"`{c}`" for c in cols]).toLocalIterator():
        any_rows = True
        d = row.asDict()
        out.write("      <tr>\n")
        for header in EXPECTED_HEADERS:
            value = d.get(header, "")
            value = "" if value is None else value
            out.write(f"        <td>{escape_html(str(value))}</td>\n")
        out.write("      </tr>\n")
    if not any_rows:
        colspan = len(EXPECTED_HEADERS) or 1
        out.write(
            f'      <tr><td colspan="{colspan}" style="text-align:center;">'
            "No data available</td></tr>\n"
        )
    out.write(_FOOT)
