"""Block-level boilerplate classification (jusText-style, simplified).

The reference's HTML pipeline strips boilerplate structurally (nav/
footer tags, link-list heuristics — docling/docling/backend/
html_backend.py furniture handling); at crawl scale the complementary
signal is *statistical* block classification: jusText (Pomikalek 2011)
rates each block by stopword density and link density, then lets
context resolve the uncertain blocks. This module is that algorithm as
pure column expressions — per-block features from regexes, the context
pass as two window scans — so Catalyst keeps the whole plan in
codegen; the only shuffle is the per-document window partition.

Scale shape: one hash shuffle on doc id (the window partition); block
rows carry (id, pos, 3 doubles, label) — never the html. At 10^12 docs
the partition key is the doc id, so skew equals document count per id
(1) — no hot keys.

Simplifications vs full jusText, applied identically in the Spark and
DuckDB twins: the neighbour pass is one ffill/bfill of *certain*
labels (good/bad) instead of the iterative paragraph-merge loop, and a
``short`` block resolves good only when BOTH neighbours are good while
``near_good`` resolves good when EITHER is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: block-splitting tags (jusText's default block set, lowercased input)
_BLOCK_TAG_RE = (
    r"</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|pre|"
    r"section|article|header|footer|nav|aside|form)[^>]*>"
)

#: English stoplist slice (jusText ships per-language stoplists; the
#: twin contract needs a fixed literal list, identical in both engines)
STOPWORDS = (
    "the of and a to in is it that was for on are with as be at by this "
    "had not but from or have an they which one you were her all she "
    "there would their we him been has when who will more no if out so "
    "said what up its about into than them can only other new some "
    "could time these two may then do first any my now such like our "
    "over man me even most made after also did many before must"
).split()

# jusText defaults (length_low/high in chars, stopwords_low/high,
# max_link_density)
LEN_LOW = 70
STOP_LOW = 0.30
MAX_LINK_DENSITY = 0.20


def _block_features(html: Column) -> Column:
    """array<struct<pos,text>> — lowercased block texts in order."""
    lowered = F.lower(html)
    # split at block tags; inline tags survive inside each chunk
    return F.split(lowered, _BLOCK_TAG_RE)


def boilerplate_blocks(df: DataFrame) -> DataFrame:
    """(id, pos, n_chars, link_density, stop_density, label) per block.

    ``label`` ∈ good | bad: the jusText two-pass result. Pass 1 rates
    each block: bad if link_density > 0.20, short if < 70 chars,
    good if stopword density ≥ 0.30, else near_good. Pass 2 resolves
    short/near_good from the nearest *certain* neighbours (see module
    docstring). Empty blocks (no visible text) are dropped before
    positions are assigned, exactly as jusText drops whitespace-only
    paragraphs.
    """
    blocks = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(_block_features(F.col("html"))).alias("i", "chunk"),
    )
    # anchor text chars (inline <a> survives the block split),
    # normalized EXACTLY like the block text (tags → space, whitespace
    # collapsed, trimmed) so link_density is a true subset ratio ≤ 1 —
    # raw anchor lengths would over-weight whitespace-padded anchors
    # the tag-name boundary (?:\s[^>]*)? is load-bearing: a bare
    # '<a[^>]*>' would also match <abbr>/<area>/<address>/<audio> opens
    # and inflate link_chars with non-anchor text
    link_chars = F.aggregate(
        F.expr(r"regexp_extract_all(chunk, '<a(?:\\s[^>]*)?>(.*?)</a>', 1)"),
        F.lit(0),
        lambda acc, s: acc
        + F.length(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(s, "<[^>]*>", " "), r"\s+", " "
                )
            )
        ),
    )
    text = F.trim(F.regexp_replace(F.col("chunk"), "<[^>]*>", " "))
    text = F.regexp_replace(text, r"\s+", " ")
    words = F.filter(F.split(text, " "), lambda w: F.length(w) > 0)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    feats = blocks.select(
        "id",
        "i",
        F.length(text).alias("n_chars"),
        link_chars.cast("double").alias("link_chars"),
        F.size(words).alias("n_words"),
        n_stop.alias("n_stop"),
    ).where(F.col("n_chars") > 0)
    rated = feats.select(
        "id",
        "i",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.col("link_chars") / F.greatest(F.col("n_chars"), F.lit(1)), 6
        ).alias("link_density"),
        F.round(
            F.col("n_stop") / F.greatest(F.col("n_words"), F.lit(1)), 6
        ).alias("stop_density"),
    )
    raw = F.when(
        F.col("link_density") > MAX_LINK_DENSITY, F.lit("bad")
    ).when(
        F.col("n_chars") < LEN_LOW,
        F.lit("short"),
    ).when(
        F.col("stop_density") >= STOP_LOW, F.lit("good")
    ).otherwise(F.lit("near_good"))
    rated = rated.withColumn("raw", raw)
    certain = F.when(
        F.col("raw").isin("good", "bad"), F.col("raw")
    )
    wp = Window.partitionBy("id").orderBy("i")
    prev = F.last(certain, ignorenulls=True).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.first(certain, ignorenulls=True).over(
        wp.rowsBetween(1, Window.unboundedFollowing)
    )
    p = F.coalesce(prev, F.lit("bad"))
    n = F.coalesce(nxt, F.lit("bad"))
    label = (
        F.when(F.col("raw").isin("good", "bad"), F.col("raw"))
        .when(
            F.col("raw") == "near_good",
            F.when((p == "good") | (n == "good"), "good").otherwise("bad"),
        )
        .otherwise(  # short
            F.when((p == "good") & (n == "good"), "good").otherwise("bad")
        )
    )
    # pos re-ranked over surviving blocks so the twin needs no knowledge
    # of which raw split indices were dropped
    pos = F.row_number().over(wp) - 1
    return (
        rated.withColumn("label", label)
        .withColumn("pos", pos.cast("int"))
        .select("id", "pos", "n_chars", "link_density", "stop_density", "label")
    )


def boilerplate_blocks_sql(html_expr: str = "html") -> str:
    """DuckDB twin of :func:`boilerplate_blocks`."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return rf"""
WITH chunks AS (
  SELECT doc_id AS id, i - 1 AS i, ch[i] AS chunk
  FROM (
    SELECT doc_id,
           string_split_regex(lower({html_expr}), '{_BLOCK_TAG_RE}') AS ch
    FROM documents
  ), unnest(range(1, len(ch) + 1)) AS u(i)
),
feats AS (
  SELECT id, i,
         length(t) AS n_chars,
         list_sum(list_transform(
           regexp_extract_all(chunk, '<a(?:\s[^>]*)?>(.*?)</a>', 1),
           s -> length(trim(regexp_replace(
                regexp_replace(s, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))
         )) AS link_chars,
         len(w) AS n_words,
         len(list_filter(w, x -> x IN ({stop_list}))) AS n_stop
  FROM (
    SELECT id, i, chunk,
           trim(regexp_replace(regexp_replace(chunk, '<[^>]*>', ' ', 'g'),
                '\s+', ' ', 'g')) AS t,
           list_filter(string_split(
             trim(regexp_replace(regexp_replace(chunk, '<[^>]*>', ' ', 'g'),
                  '\s+', ' ', 'g')), ' '), x -> length(x) > 0) AS w
    FROM chunks
  )
  WHERE length(t) > 0
),
rated AS (
  SELECT id, i, n_chars::bigint AS n_chars,
         round(coalesce(link_chars, 0)::double / greatest(n_chars, 1), 6)
           AS link_density,
         round(n_stop::double / greatest(n_words, 1), 6) AS stop_density
  FROM feats
),
raw AS (
  SELECT *,
         CASE WHEN link_density > {MAX_LINK_DENSITY} THEN 'bad'
              WHEN n_chars < {LEN_LOW} THEN 'short'
              WHEN stop_density >= {STOP_LOW} THEN 'good'
              ELSE 'near_good' END AS raw
  FROM rated
),
ctx AS (
  SELECT *,
         coalesce(last_value(CASE WHEN raw IN ('good','bad') THEN raw END
             IGNORE NULLS) OVER (PARTITION BY id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad') AS p,
         coalesce(first_value(CASE WHEN raw IN ('good','bad') THEN raw END
             IGNORE NULLS) OVER (PARTITION BY id ORDER BY i
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad') AS n
  FROM raw
)
SELECT id, (row_number() OVER (PARTITION BY id ORDER BY i) - 1)::int AS pos,
       n_chars, link_density, stop_density,
       CASE WHEN raw IN ('good','bad') THEN raw
            WHEN raw = 'near_good' THEN
              CASE WHEN p = 'good' OR n = 'good' THEN 'good' ELSE 'bad' END
            ELSE
              CASE WHEN p = 'good' AND n = 'good' THEN 'good' ELSE 'bad' END
       END AS label
FROM ctx
"""


def main_content(df: DataFrame) -> DataFrame:
    """(id, main_text, n_good, n_bad) — good blocks joined in order.

    The consumer view of :func:`boilerplate_blocks`: the extracted
    main content per document, the statistical complement of the DOM
    path's furniture split.
    """
    blocks = boilerplate_blocks(df)
    # re-derive block text (features-only table avoids shuffling text;
    # here the consumer explicitly asks for it, so re-split and join on
    # (id, rank) — both sides partition on id). The split is the SAME
    # case-insensitive tag regex over the ORIGINAL html, so extracted
    # main content keeps its case (lowercasing is a classification
    # detail, not an output transform); block positions align because
    # the split boundaries and the empty filter are case-invariant.
    src = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.col("html"), "(?i)" + _BLOCK_TAG_RE)
        ).alias("i", "chunk"),
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("chunk"), "<[^>]*>", " "), r"\s+", " "
        )
    )
    wp = Window.partitionBy("id").orderBy("i")
    texts = (
        src.select("id", "i", text.alias("btext"))
        .where(F.length("btext") > 0)
        .withColumn("pos", (F.row_number().over(wp) - 1).cast("int"))
    )
    joined = blocks.join(texts, ["id", "pos"])
    return joined.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("label") == "good",
                            F.struct("pos", "btext"),
                        )
                    )
                ),
                lambda s: s["btext"],
            ),
            "\n",
        ).alias("main_text"),
        F.sum(F.when(F.col("label") == "good", 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("label") == "bad", 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
    )


def main_content_sql(html_expr: str = "html") -> str:
    """DuckDB twin of :func:`main_content`."""
    blocks = boilerplate_blocks_sql(html_expr)
    return rf"""
WITH blocks AS ({blocks}),
chunks AS (
  SELECT doc_id AS id, i - 1 AS i, ch[i] AS chunk
  FROM (
    SELECT doc_id,
           string_split_regex({html_expr}, '(?i){_BLOCK_TAG_RE}') AS ch
    FROM documents
  ), unnest(range(1, len(ch) + 1)) AS u(i)
),
texts AS (
  SELECT id, (row_number() OVER (PARTITION BY id ORDER BY i) - 1)::int
           AS pos, btext
  FROM (
    SELECT id, i,
           trim(regexp_replace(regexp_replace(chunk, '<[^>]*>', ' ', 'g'),
                '\s+', ' ', 'g')) AS btext
    FROM chunks
  ) WHERE length(btext) > 0
)
SELECT b.id,
       coalesce(string_agg(CASE WHEN b.label = 'good' THEN t.btext END,
           chr(10) ORDER BY b.pos), '') AS main_text,
       count(CASE WHEN b.label = 'good' THEN 1 END)::bigint AS n_good,
       count(CASE WHEN b.label = 'bad' THEN 1 END)::bigint AS n_bad
FROM blocks b JOIN texts t ON b.id = t.id AND b.pos = t.pos
GROUP BY b.id
"""
