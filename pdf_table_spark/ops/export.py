"""Table export formats over extraction output — the reference's
export fan-out (``TableList.export`` / ``Table.to_csv/to_markdown/
to_json``, ``table_core.py:720-826``) re-expressed as columnar
transforms: parse the emitted table HTML back to a cell grid
(``core.html.parse_table_html``) and render CSV / Markdown / JSON-rows
/ SQL / SpreadsheetML / db-HTML strings, one row per extracted table.

Runs as one Arrow stage over the ``kind='table_html'`` rows: the
requested input columns pass through as Arrow columns and the rendered
columns are appended, so a caller that wants the table HTML and its
quality metrics next to the exports (``api.extract_tables``) gets them
from the same stage — no join back to the extraction output, no
persist, no extra shuffle. ``export_tables`` keeps only
``(doc_id, offset)``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.export_render import render_table_html as _render

# the columns render_table_html returns, in its tuple order
RENDERED_SCHEMA = ("n_rows int, n_cols int, csv string, markdown string, "
                   "json_rows string, sqlite_sql string, excel_xml string, "
                   "html_db string")

_RENDERED_ARROW = pa.schema([
    ("n_rows", pa.int32()), ("n_cols", pa.int32()),
    ("csv", pa.string()), ("markdown", pa.string()),
    ("json_rows", pa.string()), ("sqlite_sql", pa.string()),
    ("excel_xml", pa.string()), ("html_db", pa.string())])


def _make_export_batches(html_col: str, keep: Sequence[str]):
    def _export_batches(
            batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rendered = [_render(h or "")
                        for h in batch.column(html_col).to_pylist()]
            cols = list(zip(*rendered)) or [()] * len(_RENDERED_ARROW)
            schema = pa.schema([batch.schema.field(n) for n in keep]
                               + list(_RENDERED_ARROW))
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in keep]
                + [pa.array(c, f.type)
                   for c, f in zip(cols, _RENDERED_ARROW)],
                schema=schema)
    return _export_batches


def render_exports(tables: DataFrame, html_col: str,
                   keep: Sequence[str]) -> DataFrame:
    """One row per row of ``tables``: the ``keep`` columns as they
    are, then n_rows, n_cols and the formats rendered from the HTML in
    ``html_col``."""
    passed = ", ".join(f"{n} {tables.schema[n].dataType.simpleString()}"
                       for n in keep)
    return tables.mapInArrow(_make_export_batches(html_col, keep),
                             schema=f"{passed}, {RENDERED_SCHEMA}")


def export_tables(flat_out: DataFrame) -> DataFrame:
    """extraction output (doc_id, offset, kind, text, media_ref) →
    one row per table: doc_id, offset and the rendered formats."""
    tables = flat_out.filter(F.col("kind") == "table_html") \
        .select("doc_id", "offset", "text")
    return render_exports(tables, "text", ("doc_id", "offset"))
