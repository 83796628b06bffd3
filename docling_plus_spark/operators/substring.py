"""Exact duplicate-substring removal (Lee et al., ACL 2022).

"Deduplicating Training Data Makes Language Models Better" removes
every *span* of >= k tokens that occurs more than once in the corpus,
keeping one canonical occurrence — a finer tool than whole-document or
whole-paragraph dedup (boilerplate sentences, license headers, and
quoted passages are stripped even when the surrounding documents are
unique). The paper builds a monolithic suffix array; that is a
single-machine construction. The distributed reformulation here keys
on the equivalent observation that every duplicated span of length
>= k is a union of duplicated k-grams:

1. hash every token k-gram with its position — one narrow projection,
   then an explode (no text leaves the row until the very end);
2. one hash-shuffle groups k-gram occurrences: hashes seen once are
   dropped *before* any join (the overwhelming majority — map-side
   partial aggregation means the shuffle carries (hash, count, min)
   partials, never the full occurrence list);
3. every non-canonical occurrence (canonical = lexicographic min
   (doc_id, pos) — deterministic, engine-independent) marks its token
   span [pos, pos+k) for removal;
4. per document: merge overlapping spans and re-emit the text with
   the marked tokens cut out — all array HOF expressions, no Python.

Shuffle ledger: one groupBy on the k-gram hash + one join back on the
same hash (both carry ~16-byte rows, never text) + one groupBy doc_id
to fold spans. At 100 TB the hash groupBy dominates; its key space is
uniform by construction (md5), so no salting is needed — the skew
guard that LSH buckets require (operators/dedup.py) does not apply
because the *group output* here is a count + min, not a pairs blowup.

Reassembly normalizes inter-token whitespace to single spaces (the
paper operates on token sequences; byte-faithful splicing would need
character offsets, which the tokenizer here — whitespace — discards).

Reference scope note: docling (the reference) converts documents and
does not curate; this operator extends the engine along the
training-data axis like operators/dedup.py. Hash primitive:
functions/expressions.py:md5_long, so the DuckDB oracle reproduces
values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_plus_spark.functions.expressions import md5_long


def _tokens(text_col: Column) -> Column:
    return F.split(F.trim(text_col), "\\s+")


def kgram_occurrences(df: DataFrame, k: int) -> DataFrame:
    """(id, pos, h): one row per token k-gram occurrence.

    ``pos`` is the 0-based token index of the k-gram's first token;
    documents shorter than ``k`` tokens emit nothing (they cannot
    contain a duplicated k-token span).
    """
    toks = _tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(k)),
        lambda i: F.struct(
            i.alias("pos"),
            md5_long(F.concat_ws(" ", F.slice(toks, i + 1, k))).alias("h"),
        ),
    )
    return (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.when(F.size(toks) >= k, grams).otherwise(
                    F.array().cast("array<struct<pos:int,h:bigint>>")
                )
            ).alias("g"),
        )
        .select("id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )


def duplicate_spans(occ: DataFrame, k: int) -> DataFrame:
    """(id, start, end): token spans to remove.

    Every occurrence of a k-gram whose corpus frequency is > 1 is
    marked, EXCEPT the global canonical one (min (id, pos)) — so one
    copy of every duplicated passage survives, matching the paper's
    keep-one semantics at k-gram granularity.
    """
    dup = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("id", "pos")).alias("canon"),
        )
        .where(F.col("cnt") > 1)
        .select("h", "canon")
    )
    return (
        occ.join(dup, "h")
        .where(
            (F.col("id") != F.col("canon.id"))
            | (F.col("pos") != F.col("canon.pos"))
        )
        .select(
            "id",
            F.col("pos").alias("start"),
            (F.col("pos") + F.lit(k)).alias("end"),
        )
    )


def _merge_spans(spans_sorted: Column) -> Column:
    """Fold sorted (start,end) structs into disjoint merged spans."""
    empty = F.array().cast("array<struct<start:int,end:int>>")
    return F.aggregate(
        spans_sorted,
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1)["end"] >= s["start"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        F.greatest(
                            F.element_at(acc, -1)["end"], s["end"]
                        ).alias("end"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def strip_duplicate_substrings(df: DataFrame, k: int = 10) -> DataFrame:
    """(id, clean_text, n_tokens, removed_tokens, dup_spans).

    Documents with no duplicated >=k-token span pass through with
    whitespace-normalized text and removed_tokens = 0.
    """
    occ = kgram_occurrences(df, k)
    spans = (
        duplicate_spans(occ, k)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("start", "end"))).alias("spans"))
    )
    toks = _tokens(F.col("text"))
    base = df.select(F.col("doc_id").alias("id"), toks.alias("toks"))
    merged = _merge_spans(
        F.coalesce(
            F.col("spans"), F.array().cast("array<struct<start:int,end:int>>")
        )
    )
    n = F.size(F.col("toks"))
    # gap ranges between merged spans = the kept token index ranges
    starts = F.concat(
        F.array(F.lit(0)), F.transform(F.col("merged"), lambda m: m["end"])
    )
    ends = F.concat(
        F.transform(F.col("merged"), lambda m: m["start"]), F.array(n)
    )
    kept = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        lambda r: r["b"] > r["a"],
    )
    kept_toks = F.flatten(
        F.transform(
            F.col("kept"),
            lambda r: F.slice(F.col("toks"), r["a"] + 1, r["b"] - r["a"]),
        )
    )
    return (
        base.join(spans, "id", "left")
        .withColumn("merged", merged)
        .withColumn("kept", kept)
        .select(
            "id",
            F.concat_ws(" ", kept_toks).alias("clean_text"),
            n.alias("n_tokens"),
            (n - F.size(kept_toks)).alias("removed_tokens"),
            F.size("merged").alias("dup_spans"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB twins


def kgram_occurrences_sql(k: int) -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
SELECT doc_id AS id, p AS pos,
       ('0x' || substr(md5(array_to_string(toks[p+1:p+{k}], ' ')), 1, 15))::bigint AS h
FROM (SELECT doc_id, {toks} AS toks, text FROM documents),
     unnest(range(0, greatest(0, len(toks) - {k} + 1))) AS u(p)
"""


def strip_duplicate_substrings_sql(k: int = 10) -> str:
    """DuckDB twin of :func:`strip_duplicate_substrings`.

    The oracle marks removed token indices with an exploded
    index-level anti-set instead of span merging (same result, simpler
    SQL; the oracle does not need to scale).
    """
    occ = kgram_occurrences_sql(k)
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
WITH occ AS ({occ}),
dup AS (
  SELECT h, min(struct_pack(id := id, pos := pos)) AS canon
  FROM occ GROUP BY h HAVING count(*) > 1
),
removed AS (
  SELECT o.id, ti AS tok_idx
  FROM occ o JOIN dup d USING (h),
       unnest(range(o.pos, o.pos + {k})) AS u(ti)
  WHERE o.id <> d.canon.id OR o.pos <> d.canon.pos
  GROUP BY o.id, ti
),
rm_counts AS (
  SELECT id, count(*) AS n_removed FROM removed GROUP BY id
),
span_totals AS (
  -- merged disjoint spans = runs of consecutive removed indices
  SELECT id, count(DISTINCT grp) AS dup_spans FROM (
    SELECT id,
           tok_idx - row_number() OVER (PARTITION BY id ORDER BY tok_idx) AS grp
    FROM removed
  ) GROUP BY id
),
base AS (
  SELECT doc_id AS id, {toks} AS toks FROM documents
),
tok AS (
  SELECT b.id, idx, b.toks[idx + 1] AS t
  FROM base b, unnest(range(0, len(b.toks))) AS u(idx)
),
kept AS (
  SELECT t.id, string_agg(t.t, ' ' ORDER BY t.idx) AS clean_text
  FROM tok t
  LEFT JOIN removed r ON r.id = t.id AND r.tok_idx = t.idx
  WHERE r.id IS NULL
  GROUP BY t.id
)
SELECT b.id,
       coalesce(kp.clean_text, '') AS clean_text,
       len(b.toks) AS n_tokens,
       coalesce(rc.n_removed, 0) AS removed_tokens,
       coalesce(st.dup_spans, 0) AS dup_spans
FROM base b
LEFT JOIN kept kp ON kp.id = b.id
LEFT JOIN rm_counts rc ON rc.id = b.id
LEFT JOIN span_totals st ON st.id = b.id
"""
