"""Image–text pair mining from crawl HTML (LAION-style).

The multimodal training-data pipeline's first step (Schuhmann et al.
2021, LAION-400M): harvest every ``<img>`` with usable alt text from
every page, resolve the source URL against the page URL, and keep
pairs whose alt text looks like a caption. Pure column expressions —
the regex work stays in scan-stage codegen, no shuffle; the CLIP
filtering stage that follows in the real pipeline is the embedding
side this repo covers with ann/semdedup operators.

Reference tie-in: the DOM path treats ``<img>`` as picture items with
resolved URIs (docling html_backend picture handling); this operator
is its crawl-scale statistical sibling for corpus building.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_IMG_RE = r"(?is)<img\b[^>]*>"
_SRC_RE = r"""(?is)\bsrc\s*=\s*["']([^"']+)["']"""
_ALT_RE = r"""(?is)\balt\s*=\s*["']([^"']*)["']"""

#: LAION's alt-text gate: at least this many characters after trim
MIN_ALT_CHARS = 5


def image_alt_pairs(df: DataFrame) -> DataFrame:
    """(id, img_idx, image_url, alt_text) — caption-bearing images.

    ``image_url`` is resolved: absolute kept, protocol-relative gets
    https, root-relative joins the page origin, path-relative joins
    the page directory. Images without ``src`` or with alt text
    shorter than ``MIN_ALT_CHARS`` (LAION's gate) are dropped;
    ``img_idx`` is the image's position among the page's kept images.

    Resolution is deliberately local (not links.py's ``_resolve_href``)
    so this operator and its SQL twin stay a verbatim pair — the two
    resolvers agree on semantics; keep them in sync if either changes.
    """
    tags = df.select(
        F.col("doc_id").alias("id"),
        F.col("url").alias("page_url"),
        # F.lit pattern (not an F.expr SQL literal): the regex contains
        # \b, which a Spark SQL single-quoted string would eat as a
        # backspace escape
        F.posexplode(
            F.regexp_extract_all(F.col("html"), F.lit(_IMG_RE), F.lit(0))
        ).alias("raw_idx", "tag"),
    )
    src = F.regexp_extract(F.col("tag"), _SRC_RE, 1)
    alt = F.trim(
        F.regexp_replace(
            F.regexp_extract(F.col("tag"), _ALT_RE, 1), r"\s+", " "
        )
    )
    # (?i) on the origin/absolute checks: scheme case must not decide
    # between the absolute branch and a failed origin extraction
    origin = F.regexp_extract(F.col("page_url"), r"(?i)^([a-z]+://[^/]+)", 1)
    base_dir = F.regexp_replace(F.col("page_url"), r"[^/]*$", "")
    resolved = (
        F.when(src.rlike("^[a-zA-Z][a-zA-Z0-9+.\\-]*://"), src)
        .when(src.startswith("//"), F.concat(F.lit("https:"), src))
        .when(src.startswith("/"), F.concat(origin, src))
        .otherwise(F.concat(base_dir, src))
    )
    kept = tags.select(
        "id",
        "raw_idx",
        resolved.alias("image_url"),
        alt.alias("alt_text"),
        src.alias("src"),
    ).where(
        (F.length("src") > 0) & (F.length("alt_text") >= MIN_ALT_CHARS)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("raw_idx")
    return kept.select(
        "id",
        (F.row_number().over(w) - 1).cast("int").alias("img_idx"),
        "image_url",
        "alt_text",
    )


def image_alt_pairs_sql(url_expr: str = "url", html_expr: str = "html") -> str:
    """DuckDB twin of :func:`image_alt_pairs`."""
    src_re = _SRC_RE.replace("'", "''")
    alt_re = _ALT_RE.replace("'", "''")
    return rf"""
WITH tags AS (
  SELECT doc_id AS id, {url_expr} AS page_url, i - 1 AS raw_idx,
         tg[i] AS tag
  FROM (
    SELECT doc_id, {url_expr},
           regexp_extract_all({html_expr}, '{_IMG_RE}') AS tg
    FROM documents
  ), unnest(range(1, len(tg) + 1)) AS u(i)
),
ex AS (
  SELECT id, page_url, raw_idx,
         regexp_extract(tag, '{src_re}', 1) AS src,
         trim(regexp_replace(regexp_extract(tag, '{alt_re}', 1),
              '\s+', ' ', 'g')) AS alt_text
  FROM tags
),
kept AS (
  SELECT id, raw_idx,
         CASE WHEN regexp_matches(src, '^[a-zA-Z][a-zA-Z0-9+.\-]*://')
                THEN src
              WHEN starts_with(src, '//') THEN 'https:' || src
              WHEN starts_with(src, '/')
                THEN regexp_extract(page_url, '(?i)^([a-z]+://[^/]+)', 1) || src
              ELSE regexp_replace(page_url, '[^/]*$', '') || src
         END AS image_url,
         alt_text
  FROM ex
  WHERE length(src) > 0 AND length(alt_text) >= {MIN_ALT_CHARS}
)
SELECT id,
       (row_number() OVER (PARTITION BY id ORDER BY raw_idx) - 1)::int
         AS img_idx,
       image_url, alt_text
FROM kept
"""
