"""WebTables-style relational extraction from crawl HTML.

The classic web-table corpus pipeline (Cafarella et al., VLDB 2008;
the WDC Web Table Corpus): every ``<table>`` on every page becomes
rows of (page, table, row, col, is_header, text). The reference's DOM
backend builds exact table geometry with span handling
(docling/docling/backend/html_backend.py table path); this operator is
the crawl-scale statistical sibling — regex extraction as pure column
expressions, no DOM build, for corpus-level harvesting where a
malformed table should yield malformed cells, not a parse job.

Known (documented) simplification, identical in both twins: non-greedy
matching does not recurse into nested tables — the inner table's cells
surface under the outer row's cell text stripped of tags. The DOM path
is the answer when geometry must be exact; this path is the answer
when 10^12 pages must be swept.

Scale shape: three chained explodes (table → row → cell) with all
regex work in scan-stage codegen; no shuffle at all — the output is a
narrow projection of the input split. Column pruning pushes ``html``
decode next to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TABLE_RE = r"(?is)<table[^>]*>(.*?)</table>"
_TR_RE = r"(?is)<tr[^>]*>(.*?)</tr>"
_CELL_TAG_RE = r"(?is)<(t[dh])[^>]*>.*?</t[dh]>"
_CELL_TXT_RE = r"(?is)<t[dh][^>]*>(.*?)</t[dh]>"


def web_tables(df: DataFrame) -> DataFrame:
    """(id, table_idx, row_idx, col_idx, is_header, cell_text) per cell.

    ``is_header`` is true for ``<th>`` cells; ``cell_text`` is the
    cell's visible text (inner tags stripped, whitespace collapsed,
    trimmed — may be empty for genuinely empty cells).
    """
    tables = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(html, '{_TABLE_RE}', 1)"
            )
        ).alias("table_idx", "tbody"),
    )
    rows = tables.select(
        "id",
        "table_idx",
        F.posexplode(
            F.expr(f"regexp_extract_all(tbody, '{_TR_RE}', 1)")
        ).alias("row_idx", "rowhtml"),
    )
    # tag names and cell bodies extracted in lockstep (one group per
    # regexp_extract_all call), zipped back into (tag, body) pairs
    zipped = F.arrays_zip(
        F.expr(f"regexp_extract_all(rowhtml, '{_CELL_TAG_RE}', 1)").alias(
            "tag"
        ),
        F.expr(f"regexp_extract_all(rowhtml, '{_CELL_TXT_RE}', 1)").alias(
            "body"
        ),
    )
    cells = rows.select(
        "id",
        "table_idx",
        "row_idx",
        F.posexplode(zipped).alias("col_idx", "cell"),
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("cell.body"), "<[^>]*>", " "),
            r"\s+",
            " ",
        )
    )
    return cells.select(
        "id",
        F.col("table_idx").cast("int"),
        F.col("row_idx").cast("int"),
        F.col("col_idx").cast("int"),
        (F.lower(F.col("cell.tag")) == "th").alias("is_header"),
        text.alias("cell_text"),
    )


def web_tables_sql(
    id_expr: str = "doc_id", html_expr: str = "html", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`web_tables`."""
    return rf"""
WITH tabs AS (
  SELECT {id_expr} AS id, ti - 1 AS table_idx, tb[ti] AS tbody
  FROM (
    SELECT {id_expr},
           regexp_extract_all({html_expr}, '{_TABLE_RE}', 1) AS tb
    FROM {table}
  ), unnest(range(1, len(tb) + 1)) AS u(ti)
),
trs AS (
  SELECT id, table_idx, ri - 1 AS row_idx, rw[ri] AS rowhtml
  FROM (
    SELECT id, table_idx,
           regexp_extract_all(tbody, '{_TR_RE}', 1) AS rw
    FROM tabs
  ), unnest(range(1, len(rw) + 1)) AS u(ri)
),
cells AS (
  SELECT id, table_idx, row_idx, ci - 1 AS col_idx,
         tags[ci] AS tag, bodies[ci] AS body
  FROM (
    SELECT id, table_idx, row_idx,
           regexp_extract_all(rowhtml, '{_CELL_TAG_RE}', 1) AS tags,
           regexp_extract_all(rowhtml, '{_CELL_TXT_RE}', 1) AS bodies
    FROM trs
  ), unnest(range(1, len(tags) + 1)) AS u(ci)
)
SELECT id, table_idx::int AS table_idx, row_idx::int AS row_idx,
       col_idx::int AS col_idx,
       lower(tag) = 'th' AS is_header,
       trim(regexp_replace(regexp_replace(body, '<[^>]*>', ' ', 'g'),
            '\s+', ' ', 'g')) AS cell_text
FROM cells
"""


def web_table_shapes(df: DataFrame) -> DataFrame:
    """(id, table_idx, n_rows, n_cols, n_header_cells, rectangular) —
    the corpus-level table census (the WDC corpus's relational-table
    filter starts from exactly these shape statistics)."""
    cells = web_tables(df)
    per_row = cells.groupBy("id", "table_idx", "row_idx").agg(
        F.count("*").alias("row_cells")
    )
    shapes = per_row.groupBy("id", "table_idx").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("row_cells").cast("long").alias("n_cols"),
        (F.count_distinct("row_cells") == 1).alias("rectangular"),
    )
    headers = cells.groupBy("id", "table_idx").agg(
        F.sum(F.when(F.col("is_header"), 1).otherwise(0))
        .cast("long")
        .alias("n_header_cells")
    )
    return shapes.join(headers, ["id", "table_idx"]).select(
        "id", "table_idx", "n_rows", "n_cols", "n_header_cells", "rectangular"
    )


def web_table_shapes_sql(
    id_expr: str = "doc_id", html_expr: str = "html", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`web_table_shapes`."""
    cells = web_tables_sql(id_expr, html_expr, table)
    return f"""
WITH cells AS ({cells}),
per_row AS (
  SELECT id, table_idx, row_idx, count(*) AS row_cells
  FROM cells GROUP BY id, table_idx, row_idx
),
shapes AS (
  SELECT id, table_idx, count(*)::bigint AS n_rows,
         max(row_cells)::bigint AS n_cols,
         count(DISTINCT row_cells) = 1 AS rectangular
  FROM per_row GROUP BY id, table_idx
),
headers AS (
  SELECT id, table_idx,
         sum(CASE WHEN is_header THEN 1 ELSE 0 END)::bigint
           AS n_header_cells
  FROM cells GROUP BY id, table_idx
)
SELECT s.id, s.table_idx AS table_idx, n_rows, n_cols, n_header_cells,
       rectangular
FROM shapes s JOIN headers h ON s.id = h.id AND s.table_idx = h.table_idx
"""
