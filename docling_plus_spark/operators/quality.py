"""Heuristic document-quality signals for training-data curation.

Not present in the reference (docling converts; it does not curate) —
this is the standard repetition/quality rule family (Gopher, Rae et al.
2021, "Scaling Language Models", table A1; also used by RefinedWeb,
Dolma, FineWeb) that a web-scale extraction pipeline applies right
after main-content extraction:

* word-count bounds, mean word length bounds
* symbol-to-word ratio (``#`` and ellipsis)
* fraction of lines that start with a bullet / end with an ellipsis
* fraction of words containing an alphabetic character
* stop-word presence (>= 2 of the canonical 8)
* duplicate-line fraction and duplicate-line *character* fraction

Everything is a JVM-side column expression over let-bound token arrays
(see :func:`..operators.dedup.winnow_fingerprints` for why intermediates
must be bound as HOF lambda variables: CollapseProject inlines a
used-once projection alias into every lambda invocation, turning the
split into O(len^2) per document). No Python, no shuffle, one
projection — at 10^12 documents this runs entirely inside the scan
stage. The DuckDB oracle twin replays the identical arithmetic on list
functions, so signals match to the bit (ratios are exact IEEE divisions
of the same integers on both engines).

Tokenization contract (identical on both engines, stated once):
words = non-empty runs after splitting on ``\\s+``; lines = non-empty
values after trimming each ``\\n``-separated raw line.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The canonical Gopher stop-word list (Rae et al. 2021, A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Gopher rule thresholds (A1.1 quality + A1.2 repetition subset that is
# computable from a single document without n-gram tables).
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1
MAX_BULLET_FRAC = 0.9
MAX_ELLIPSIS_FRAC = 0.3
MIN_ALPHA_FRAC = 0.8
MIN_STOP_HITS = 2
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_CHAR_FRAC = 0.20


def _nonzero(c: Column) -> Column:
    return F.when(c == 0, F.lit(1)).otherwise(c)


def gopher_signals(df: DataFrame) -> DataFrame:
    """Per-document Gopher quality/repetition signals + pass verdict.

    Output: (id, word_count, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, stop_hits, dup_line_frac, dup_char_frac,
    gopher_pass). Pure column expressions; the words and lines arrays
    are let-bound so each is computed once per row.
    """
    t = F.col("text")

    words_expr = F.filter(
        F.split(t, r"\s+"), lambda w: F.length(w) > 0
    )
    lines_expr = F.filter(
        F.transform(F.split(t, r"\n"), F.trim), lambda l: F.length(l) > 0
    )

    def _sig(ws: Column, ls: Column) -> Column:
        wc = F.size(ws)
        char_sum = F.aggregate(
            ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        mean_wl = char_sum.cast("double") / _nonzero(wc).cast("double")
        low = F.lower(t)
        n_hash = F.length(low) - F.length(F.replace(low, F.lit("#")))
        # non-overlapping '...' occurrences + one per '…'
        n_dots = (
            F.length(low) - F.length(F.replace(low, F.lit("...")))
        ) / F.lit(3)
        n_ell = F.length(low) - F.length(F.replace(low, F.lit("…")))
        symbol_ratio = (
            (n_hash + n_dots + n_ell).cast("double")
            / _nonzero(wc).cast("double")
        )
        lc = F.size(ls)
        bullets = F.size(
            F.filter(
                ls,
                lambda l: l.startswith("- ")
                | l.startswith("* ")
                | l.startswith("•"),
            )
        )
        ellipsis_ends = F.size(
            F.filter(ls, lambda l: l.endswith("...") | l.endswith("…"))
        )
        alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
        stop_hits = F.aggregate(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            F.lit(0),
            lambda acc, s: acc
            + F.when(F.array_contains(F.transform(ws, F.lower), s), 1).otherwise(0),
        )
        dl = F.array_distinct(ls)
        dup_line_frac = (
            (lc - F.size(dl)).cast("double") / _nonzero(lc).cast("double")
        )
        line_chars = F.aggregate(
            ls, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        )
        distinct_chars = F.aggregate(
            dl, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        )
        dup_char_frac = (
            (line_chars - distinct_chars).cast("double")
            / _nonzero(line_chars).cast("double")
        )
        gopher_pass = (
            wc.between(MIN_WORDS, MAX_WORDS)
            & mean_wl.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
            & (symbol_ratio < MAX_SYMBOL_RATIO)
            & (
                bullets.cast("double") / _nonzero(lc).cast("double")
                < MAX_BULLET_FRAC
            )
            & (
                ellipsis_ends.cast("double") / _nonzero(lc).cast("double")
                < MAX_ELLIPSIS_FRAC
            )
            & (
                alpha_words.cast("double") / _nonzero(wc).cast("double")
                > MIN_ALPHA_FRAC
            )
            & (stop_hits >= MIN_STOP_HITS)
            & (dup_line_frac < MAX_DUP_LINE_FRAC)
            & (dup_char_frac < MAX_DUP_CHAR_FRAC)
        )
        return F.struct(
            wc.cast("long").alias("word_count"),
            mean_wl.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            (
                bullets.cast("double") / _nonzero(lc).cast("double")
            ).alias("bullet_frac"),
            (
                ellipsis_ends.cast("double") / _nonzero(lc).cast("double")
            ).alias("ellipsis_frac"),
            (
                alpha_words.cast("double") / _nonzero(wc).cast("double")
            ).alias("alpha_frac"),
            stop_hits.cast("long").alias("stop_hits"),
            dup_line_frac.alias("dup_line_frac"),
            dup_char_frac.alias("dup_char_frac"),
            gopher_pass.alias("gopher_pass"),
        )

    sig = F.element_at(
        F.transform(
            F.array(words_expr),
            lambda ws: F.element_at(
                F.transform(F.array(lines_expr), lambda ls: _sig(ws, ls)), 1
            ),
        ),
        1,
    )
    return df.select(F.col("doc_id").alias("id"), sig.alias("s")).select(
        "id", "s.*"
    )


def gopher_signals_sql() -> str:
    """DuckDB twin of :func:`gopher_signals` (full SELECT, same names)."""
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id AS id, text AS t,
    list_filter(regexp_split_to_array(text, '\\s+'),
                w -> length(w) > 0) AS ws,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                l -> length(l) > 0) AS ls
  FROM documents
),
m AS (
  SELECT id, t, ws, ls,
    len(ws) AS wc,
    list_sum(list_prepend(0::bigint,
      list_transform(ws, w -> length(w)::bigint))) AS char_sum,
    len(ls) AS lc,
    list_distinct(ls) AS dl,
    length(lower(t)) - length(replace(lower(t), '#', '')) AS n_hash,
    (length(lower(t)) - length(replace(lower(t), '...', ''))) / 3 AS n_dots,
    length(lower(t)) - length(replace(lower(t), '…', '')) AS n_ell,
    len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %'
                          OR l LIKE '•%')) AS bullets,
    len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS ellipsis_ends,
    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
    len(list_filter([{stop_list}],
        s -> list_contains(list_transform(ws, w -> lower(w)), s))) AS stop_hits,
    list_sum(list_prepend(0::bigint,
      list_transform(ls, l -> length(l)::bigint))) AS line_chars,
    list_sum(list_prepend(0::bigint,
      list_transform(list_distinct(ls), l -> length(l)::bigint))) AS distinct_chars
  FROM base
)
SELECT id,
  wc::bigint AS word_count,
  char_sum::double / greatest(wc, 1) AS mean_word_len,
  (n_hash + n_dots + n_ell)::double / greatest(wc, 1) AS symbol_ratio,
  bullets::double / greatest(lc, 1) AS bullet_frac,
  ellipsis_ends::double / greatest(lc, 1) AS ellipsis_frac,
  alpha_words::double / greatest(wc, 1) AS alpha_frac,
  stop_hits::bigint AS stop_hits,
  (lc - len(dl))::double / greatest(lc, 1) AS dup_line_frac,
  (line_chars - distinct_chars)::double / greatest(line_chars, 1)
    AS dup_char_frac,
  (wc BETWEEN {MIN_WORDS} AND {MAX_WORDS}
   AND char_sum::double / greatest(wc, 1)
       BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
   AND (n_hash + n_dots + n_ell)::double / greatest(wc, 1) < {MAX_SYMBOL_RATIO}
   AND bullets::double / greatest(lc, 1) < {MAX_BULLET_FRAC}
   AND ellipsis_ends::double / greatest(lc, 1) < {MAX_ELLIPSIS_FRAC}
   AND alpha_words::double / greatest(wc, 1) > {MIN_ALPHA_FRAC}
   AND stop_hits >= {MIN_STOP_HITS}
   AND (lc - len(dl))::double / greatest(lc, 1) < {MAX_DUP_LINE_FRAC}
   AND (line_chars - distinct_chars)::double / greatest(line_chars, 1)
       < {MAX_DUP_CHAR_FRAC}) AS gopher_pass
FROM m
"""


# ---------------------------------------------------------------------------
# C4-style line/page cleaning (Raffel et al. 2020, §2.2 "a number of
# heuristics"). Deterministic restatement: sentence counting is the
# count of terminal-punctuation characters in the retained text (the
# original used an English sentence splitter; a char count is the
# standard splitter-free proxy and is replayed exactly by the oracle).

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_BAD_PAGE = ["lorem ipsum", "{"]
C4_BAD_LINE = ["javascript"]
_TERMINAL = ['.', '!', '?', '"']


def c4_clean(df: DataFrame) -> DataFrame:
    """C4 cleaning: keep lines that end in terminal punctuation, have
    >= 5 words, and don't mention javascript; keep the page iff the
    retained text has >= 3 sentences and the raw page has no
    'lorem ipsum' and no curly brace.

    Output: (id, clean_text, lines_kept, lines_total, c4_keep). One
    projection of let-bound HOF column expressions — no Python, no
    shuffle; DuckDB twin :func:`c4_clean_sql` matches bit-for-bit.
    """
    t = F.col("text")
    lines_expr = F.filter(
        F.transform(F.split(t, r"\n"), F.trim), lambda l: F.length(l) > 0
    )

    def _line_ok(l: Column) -> Column:
        words = F.size(
            F.filter(F.split(l, r"\s+"), lambda w: F.length(w) > 0)
        )
        ends = F.lit(False)
        for p in _TERMINAL:
            ends = ends | l.endswith(p)
        bad = F.lit(False)
        for b in C4_BAD_LINE:
            bad = bad | F.lower(l).contains(b)
        return (words >= C4_MIN_LINE_WORDS) & ends & ~bad

    def _out(ls: Column) -> Column:
        kept = F.filter(ls, _line_ok)
        clean = F.array_join(kept, "\n")
        sentences = F.lit(0)
        for p in _TERMINAL:
            sentences = sentences + (
                F.length(clean) - F.length(F.replace(clean, F.lit(p)))
            )
        page_bad = F.lit(False)
        for b in C4_BAD_PAGE:
            page_bad = page_bad | F.lower(t).contains(b)
        keep = (sentences >= C4_MIN_SENTENCES) & ~page_bad & (
            F.size(kept) > 0
        )
        return F.struct(
            clean.alias("clean_text"),
            F.size(kept).cast("long").alias("lines_kept"),
            F.size(ls).cast("long").alias("lines_total"),
            keep.alias("c4_keep"),
        )

    out = F.element_at(F.transform(F.array(lines_expr), _out), 1)
    return df.select(F.col("doc_id").alias("id"), out.alias("s")).select(
        "id", "s.*"
    )


def c4_clean_sql() -> str:
    """DuckDB twin of :func:`c4_clean` (full SELECT, same names)."""
    line_ok = (
        f"len(list_filter(regexp_split_to_array(l, '\\s+'), "
        f"w -> length(w) > 0)) >= {C4_MIN_LINE_WORDS} "
        "AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"') "
        "AND lower(l) NOT LIKE '%javascript%'"
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, text AS t,
    list_filter(list_transform(string_split(text, chr(10)),
                l -> trim(l)), l -> length(l) > 0) AS ls
  FROM documents
),
k AS (
  SELECT id, t, ls, list_filter(ls, l -> {line_ok}) AS kept
  FROM base
),
j AS (
  SELECT id, t, ls, kept, list_aggregate(kept, 'string_agg', chr(10)) AS joined
  FROM k
),
m AS (
  SELECT id, t, ls, kept, coalesce(joined, '') AS clean,
    length(coalesce(joined, ''))
      - length(replace(coalesce(joined, ''), '.', ''))
    + length(coalesce(joined, ''))
      - length(replace(coalesce(joined, ''), '!', ''))
    + length(coalesce(joined, ''))
      - length(replace(coalesce(joined, ''), '?', ''))
    + length(coalesce(joined, ''))
      - length(replace(coalesce(joined, ''), '"', '')) AS sentences
  FROM j
)
SELECT id,
  clean AS clean_text,
  len(kept)::bigint AS lines_kept,
  len(ls)::bigint AS lines_total,
  (sentences >= {C4_MIN_SENTENCES}
   AND lower(t) NOT LIKE '%lorem ipsum%'
   AND lower(t) NOT LIKE '%{{%'
   AND len(kept) > 0) AS c4_keep
FROM m
"""


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity bucketing (Wenzek et al., LREC 2020)


def ccnet_buckets(scored: DataFrame) -> DataFrame:
    """``(id, lang, score, bucket)`` — head / middle / tail thirds.

    CCNet's curation core: within each language, order documents by LM
    perplexity (here the char-bigram NLL from
    :func:`..operators.textstats.char_bigram_logprob`) and cut into
    thirds — ``head`` is the most-fluent third, ``tail`` the least.
    The total order is (score, id), so ties are deterministic and the
    DuckDB twin reproduces buckets exactly. Bucket index is the plain
    rank formula ``floor(3*(rn-1)/n)`` (engine-independent, unlike
    NTILE's remainder-spreading details).

    Scale: the window sorts per language — with O(100) languages on a
    10^12-doc corpus each partition is huge, so this exact variant is
    for the ≤ per-executor-sortable regime (tests, oracle). The 100 TB
    path is :func:`ccnet_buckets_by_cutpoints`: two tiny broadcastable
    aggregates instead of a global per-lang sort.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("mean_nll", "id")
    n = Window.partitionBy("lang")
    rn = F.row_number().over(w)
    cnt = F.count("*").over(n)
    idx = F.floor(F.lit(3) * (rn - 1) / cnt)
    return scored.select(
        F.col("id"),
        F.col("lang"),
        F.col("mean_nll").alias("score"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            (idx + 1).cast("int"),
        ).alias("bucket"),
    )


def ccnet_buckets_by_cutpoints(scored: DataFrame) -> DataFrame:
    """Scale variant: approx-quantile cutpoints, broadcast-joined.

    One map-side-combined aggregation computes the per-language 1/3 and
    2/3 approximate percentiles (GK sketch, accuracy 10,000 inverse-eps);
    the cutpoint table is O(#languages) rows, broadcast back, and
    bucket assignment is a narrow comparison — no per-lang sort
    anywhere, so the plan is two scans + one broadcast join at any
    corpus size. Buckets near the cutpoints may differ from the exact
    variant by the sketch's rank error (1/10,000 of the population).
    """
    cuts = scored.groupBy("lang").agg(
        F.percentile_approx("mean_nll", [1.0 / 3, 2.0 / 3], 10_000).alias("cuts")
    )
    s = F.col("mean_nll")
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select(
            "id",
            "lang",
            s.alias("score"),
            F.when(s <= F.element_at("cuts", 1), F.lit("head"))
            .when(s <= F.element_at("cuts", 2), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def ccnet_buckets_sql(scored_cte: str) -> str:
    """DuckDB twin of :func:`ccnet_buckets` over a scored CTE body."""
    return f"""
WITH scored AS ({scored_cte})
SELECT id AS id, lang AS lang, mean_nll AS score,
       (['head', 'middle', 'tail'])[
         (floor(3.0 * (row_number() OVER (
             PARTITION BY lang ORDER BY mean_nll, id) - 1)
           / count(*) OVER (PARTITION BY lang)))::int + 1
       ] AS bucket
FROM scored
"""


# ---------------------------------------------------------------------------
# Gopher A1.2 n-gram repetition signals (the cross-n-gram half; the
# line-level half lives in gopher_signals)

#: (threshold per n) — Rae et al. 2021 table A1.2: "fraction of
#: characters in the most common n-gram" for n=2..4, "fraction of
#: characters in duplicated n-grams" for n=5..10.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_ngram_repetition(df: DataFrame) -> DataFrame:
    """``(id, top2..top4, dup5..dup10, repetition_pass)`` per document.

    Character-fraction convention (stated once, shared with the DuckDB
    twin): an n-gram's character length is the length of its tokens
    joined by single spaces, and the doc's character total is the
    length of all tokens joined by single spaces — so fractions are
    exact rational numbers of the same integers on both engines.
    ``top_n`` = count(most frequent n-gram) × its char length / total;
    ``dup_n`` = Σ over n-grams seen >1 of count × char length / total
    (the Dolma/NeMo-Curator accounting: overlaps double-count, which
    upper-bounds the covered-position fraction). Fractions are capped
    at 1.0. Docs with < n+1 tokens contribute 0 for that n.

    Scale shape: one explode over 9 n sizes (≈9 rows per token), one
    (id, n, gram) partial-agg shuffle — counts, never text, cross the
    wire twice more ((id,n) stats, then per-id pivot). Tokenization:
    whitespace runs, matching gopher_signals' contract.
    """
    toks = F.split(F.trim(F.col("text")), "\\s+")
    base = df.select(
        F.col("doc_id").alias("id"),
        toks.alias("toks"),
        F.length(F.concat_ws(" ", toks)).alias("total_chars"),
    )
    # all 9 n sizes in ONE projection + ONE explode (not a 9-way union,
    # which would scan the input nine times)
    empty = F.array().cast("array<struct<n:int,gram:string>>")

    # NB: the lambda must take exactly ONE parameter — F.transform
    # passes (element, index) to two-parameter lambdas, which would
    # silently rebind a `_n=n` capture-default to the array index
    def _gram_at(n: int):
        return lambda i: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", F.slice(F.col("toks"), i, n)).alias("gram"),
        )

    arrs = []
    for n in range(2, 11):
        arrs.append(
            F.when(
                F.size("toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    _gram_at(n),
                ),
            ).otherwise(empty)
        )
    grams = base.select(
        "id", F.explode(F.flatten(F.array(*arrs))).alias("g")
    ).select("id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    cnt = grams.groupBy("id", "n", "gram").agg(F.count("*").alias("c"))
    stats = (
        cnt.select("id", "n", "c", F.length("gram").alias("glen"))
        .groupBy("id", "n")
        .agg(
            F.max(F.struct("c", "glen")).alias("top"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("glen")).otherwise(
                    F.lit(0)
                )
            ).alias("dupchars"),
        )
    )

    def frac(num: Column) -> Column:
        return F.round(
            F.least(
                F.lit(1.0), num / F.greatest(F.col("total_chars"), F.lit(1))
            ),
            6,
        )

    agg_cols, pass_checks = [], []
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        col = F.max(
            F.when(F.col("n") == n, F.col("top.c") * F.col("top.glen"))
        )
        agg_cols.append(col.alias(f"_t{n}"))
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        col = F.max(F.when(F.col("n") == n, F.col("dupchars")))
        agg_cols.append(col.alias(f"_d{n}"))
    pivoted = (
        base.select("id", "total_chars")
        .join(stats, "id", "left")
        .groupBy("id", "total_chars")
        .agg(*agg_cols)
    )
    out_cols = [F.col("id")]
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        f = frac(F.coalesce(F.col(f"_t{n}"), F.lit(0)))
        out_cols.append(f.alias(f"top{n}"))
        pass_checks.append(f <= thr)
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        f = frac(F.coalesce(F.col(f"_d{n}"), F.lit(0)))
        out_cols.append(f.alias(f"dup{n}"))
        pass_checks.append(f <= thr)
    ok = pass_checks[0]
    for c in pass_checks[1:]:
        ok = ok & c
    return pivoted.select(*out_cols, ok.alias("repetition_pass"))


def gopher_ngram_repetition_sql() -> str:
    """DuckDB twin of :func:`gopher_ngram_repetition`."""
    gram_selects = []
    for n in range(2, 11):
        gram_selects.append(f"""
  SELECT id, {n} AS n,
         array_to_string(toks[i:i+{n - 1}], ' ') AS gram
  FROM base, unnest(range(1, len(toks) - {n} + 2)) AS u(i)
  WHERE len(toks) >= {n}""")
    grams = "\nUNION ALL".join(gram_selects)
    top_cols, dup_cols, checks = [], [], []
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        e = (
            f"round(least(1.0, coalesce(max(CASE WHEN n = {n} "
            f"THEN topchars END), 0)::double / greatest(total_chars, 1)), 6)"
        )
        top_cols.append(f"{e} AS top{n}")
        checks.append(f"{e} <= {thr}")
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        e = (
            f"round(least(1.0, coalesce(max(CASE WHEN n = {n} "
            f"THEN dupchars END), 0)::double / greatest(total_chars, 1)), 6)"
        )
        dup_cols.append(f"{e} AS dup{n}")
        checks.append(f"{e} <= {thr}")
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(array_to_string(string_split_regex(trim(text), '\\s+'), ' ')) AS total_chars
  FROM documents
),
grams AS ({grams}
),
cnt AS (
  SELECT id, n, gram, count(*) AS c, length(gram) AS glen
  FROM grams GROUP BY id, n, gram
),
stats AS (
  SELECT id, n,
         max(struct_pack(c := c, glen := glen)) AS top,
         sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END) AS dupchars
  FROM cnt GROUP BY id, n
),
j AS (
  SELECT b.id, b.total_chars, s.n,
         s.top.c * s.top.glen AS topchars, s.dupchars
  FROM base b LEFT JOIN stats s ON s.id = b.id
)
SELECT id,
       {", ".join(top_cols)},
       {", ".join(dup_cols)},
       ({" AND ".join(checks)}) AS repetition_pass
FROM j GROUP BY id, total_chars
"""


# ---------------------------------------------------------------------------
# Model-based quality scoring: a fastText-shaped hashed linear classifier
# (the FineWeb-Edu / DCLM filtering stage — Penedo et al. 2024, Li et al.
# 2024 — reduced to its Spark-relevant skeleton: hash words into a fixed
# bucket space, look the bucket weight up in a model table that needs NO
# join because the weight is a pure function of the bucket, average, and
# squash). At 100 TB this is the exact plan a real model gives: the
# ~10^6-float weight vector is a broadcast (here: a closed-form formula so
# the DuckDB twin is exact), the document side is one narrow projection
# inside the scan stage, no shuffle, no Python.

HASH_DIM = 1 << 20
_MIX = 2654435761  # Knuth multiplicative constant
_MOD = 1000003


def _bucket(w: Column) -> Column:
    """md5-based word bucket, identical on Spark/DuckDB/Python:
    int(md5(w)[:6], 16) % HASH_DIM."""
    return F.pmod(
        F.conv(F.substring(F.md5(w), 1, 6), 16, 10).cast("long"),
        F.lit(HASH_DIM),
    )


def _weight(w: Column) -> Column:
    """Deterministic stand-in for a trained weight: an exact-integer
    affine scramble of the bucket mapped to [-0.5, 0.5)."""
    return (
        F.pmod(_bucket(w) * F.lit(_MIX), F.lit(_MOD)).cast("double")
        / F.lit(float(_MOD))
        - F.lit(0.5)
    )


#: sigmoid gain of both hash classifiers
CLASSIFIER_GAIN = 4.0


def hash_classifier(df: DataFrame) -> DataFrame:
    """Score = sigmoid(4 * mean word weight); label = score >= 0.5.

    Output: (id, n_words, score, label) for documents with >= 1 word.
    Pure column expressions (split -> filter -> transform -> aggregate),
    so the whole operator runs inside WholeStageCodegen in the scan
    stage. Score rounded to 6 decimals to absorb cross-engine float
    sum-order noise (weights themselves are exact rationals k/1000003).
    """
    ws = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    # let-bind the token array (CollapseProject would otherwise inline
    # the split into every downstream use — see module docstring)
    out = df.select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.transform(
                F.array(ws),
                lambda toks: F.struct(
                    F.size(toks).alias("n_words"),
                    (
                        F.aggregate(
                            F.transform(toks, _weight),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        # greatest(..,1): ANSI-safe for the 0-word rows
                        # that the n_words > 0 filter later drops
                        / F.greatest(F.size(toks), F.lit(1))
                    ).alias("m"),
                ),
            ),
            1,
        ).alias("s"),
    ).select("id", F.col("s.n_words").alias("n_words"), F.col("s.m").alias("m"))
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(CLASSIFIER_GAIN) * F.col("m"))), 6
    )
    return (
        out.filter(F.col("n_words") > 0)
        .select(
            "id",
            F.col("n_words").cast("long").alias("n_words"),
            score.alias("score"),
            (score >= 0.5).alias("label"),
        )
    )


def hash_classifier_sql(id_expr: str, text_expr: str) -> str:
    """DuckDB twin of :func:`hash_classifier` (identical hash, weight
    formula, mean, sigmoid, rounding)."""
    return rf"""
WITH w AS (
  SELECT {id_expr} AS id,
         list_filter(string_split_regex(lower({text_expr}), '\s+'),
                     x -> length(x) > 0) AS ws
  FROM documents
),
s AS (
  SELECT id, len(ws) AS n_words,
    list_aggregate(
      list_transform(ws, w ->
        ((list_reduce(
            list_transform(string_split_regex(substr(md5(w), 1, 6), ''),
                           c -> strpos('0123456789abcdef', c) - 1),
            (a, b) -> a * 16 + b) % {HASH_DIM}) * {_MIX} % {_MOD}
        ) / {_MOD}.0 - 0.5),
      'avg') AS m
  FROM w
)
SELECT id, n_words::bigint AS n_words,
       round(1.0 / (1.0 + exp(-{CLASSIFIER_GAIN} * m)), 6) AS score,
       round(1.0 / (1.0 + exp(-{CLASSIFIER_GAIN} * m)), 6) >= 0.5 AS label
FROM s WHERE n_words > 0
"""


# ---------------------------------------------------------------------------
# Unicode script composition (the CCNet/fastText-langid precursor signal:
# which writing system dominates a document). Pure regexp-count columns —
# the per-script counters run inside the scan stage; the twin uses RE2
# codepoint-class syntax for the same ranges.

# (name, Java-regex char class, RE2 char class)
SCRIPT_CLASSES = [
    ("latin", r"[A-Za-zÀ-ɏ]", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[Ѐ-ӿ]", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[Ͱ-Ͽ]", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[؀-ۿ]", r"[\x{0600}-\x{06FF}]"),
    ("cjk", r"[一-鿿぀-ヿ가-힯]",
     r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]"),
    ("digit", r"[0-9]", r"[0-9]"),
]


def script_composition(df: DataFrame) -> DataFrame:
    """(id, n_chars, latin_frac, …, digit_frac, main_script): per-script
    character fractions over non-whitespace chars plus the argmax script
    ('other' when nothing matches). Fractions are exact integer ratios
    rounded to 6 — bit-stable across engines."""
    t = F.col("text")
    nws = F.length(F.regexp_replace(t, r"\s", ""))
    counts = {
        name: F.regexp_count(t, F.lit(java)).cast("long")
        for name, java, _ in SCRIPT_CLASSES
    }
    denom = F.greatest(nws, F.lit(1))
    cols = [F.col("doc_id").alias("id"), nws.cast("long").alias("n_chars")]
    cols += [
        F.round(counts[name].cast("double") / denom, 6).alias(f"{name}_frac")
        for name, _, _ in SCRIPT_CLASSES
    ]
    cols.append(main_script_expr(t).alias("main_script"))
    return df.select(*cols)


def main_script_expr(t: Column) -> Column:
    """Argmax writing system by per-script char count, ties by
    SCRIPT_CLASSES declaration order; all-zero → 'other'."""
    counts = {
        name: F.regexp_count(t, F.lit(java)).cast("long")
        for name, java, _ in SCRIPT_CLASSES
    }
    best = F.greatest(*[counts[n] for n, _, _ in SCRIPT_CLASSES])
    main = F.lit("other")
    for name, _, _ in reversed(SCRIPT_CLASSES):
        main = F.when(
            (best > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(main)
    return main


def script_composition_sql(id_expr: str, text_expr: str) -> str:
    """DuckDB twin of :func:`script_composition`."""
    cnt = {
        name: rf"len(regexp_extract_all({text_expr}, '{re2}'))::bigint"
        for name, _, re2 in SCRIPT_CLASSES
    }
    nws = rf"length(regexp_replace({text_expr}, '\s', '', 'g'))"
    fracs = ",\n       ".join(
        f"round({cnt[name]} / greatest({nws}, 1)::double, 6) AS {name}_frac"
        for name, _, _ in SCRIPT_CLASSES
    )
    return f"""
SELECT {id_expr} AS id,
       {nws}::bigint AS n_chars,
       {fracs},
       {main_script_sql(text_expr)} AS main_script
FROM documents
"""


def main_script_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`main_script_expr`."""
    cnt = {
        name: rf"len(regexp_extract_all({text_expr}, '{re2}'))::bigint"
        for name, _, re2 in SCRIPT_CLASSES
    }
    best = f"greatest({', '.join(cnt[n] for n, _, _ in SCRIPT_CLASSES)})"
    main = f"CASE WHEN {best} = 0 THEN 'other' "
    for name, _, _ in SCRIPT_CLASSES:
        main += f"WHEN {cnt[name]} = {best} THEN '{name}' "
    main += "ELSE 'other' END"
    return main


# ---------------------------------------------------------------------------
# Declared-language vs content consistency (corpus-hygiene audit).
# Crawl metadata lies: Common Crawl's `content-language` and page
# `lang=` attributes routinely disagree with the text (CCNet fits its
# fastText langid precisely because declared labels can't be trusted).
# This gate cross-checks the table's declared `lang` column against two
# content signals already in this module's family — the stopword langid
# and the dominant writing system — and emits one verdict per document.
# Pure codegen columns, zero shuffle.

# declared lang → the writing system its text must dominate in
EXPECTED_SCRIPT = {
    "en": "latin", "es": "latin", "de": "latin", "fr": "latin",
    "ru": "cyrillic", "el": "greek", "ar": "arabic",
    "zh": "cjk", "ja": "cjk", "ko": "cjk",
}
# languages the stopword langid can actually discriminate
LANGID_SUPPORTED = ("en", "es", "de", "fr")


def lang_consistency(df: DataFrame) -> DataFrame:
    """(id, lang, lang_pred, main_script, verdict): per-document audit
    of the declared language against the text.  Verdict precedence
    (deterministic, twin-replayed):

    * ``script_mismatch`` — declared lang maps to a known writing
      system and the dominant script is a different one (the strongest
      signal: no stopword list needed, works for all languages); text
      with no script evidence (``main_script == 'other'``) never does;
    * ``undetermined`` — langid covers the declared lang but found no
      stopword hits at all (too short / non-linguistic);
    * ``langid_mismatch`` — langid covers the declared lang and
      confidently predicts a different supported language;
    * ``agree`` — everything else (including langs the heuristics
      cannot check; absence of evidence is not a mismatch).
    """
    from docling_plus_spark.functions.expressions import langid_expr

    t = F.col("text")
    lang = F.col("lang")
    expected = F.lit(None).cast("string")
    for lg, sc in EXPECTED_SCRIPT.items():
        expected = F.when(lang == lg, F.lit(sc)).otherwise(expected)
    supported = lang.isin(*LANGID_SUPPORTED)

    # let-bind langid + script as HOF lambda variables: inlined, the
    # verdict CASE re-expands both subtrees per reference and the
    # single projection blows the JVM's 64 KB codegen method limit —
    # WholeStageCodegen then falls back to interpreted evaluation
    # (measured 3-12 s vs ~1 s at sf0.1; same pitfall gopher_signals
    # documents at the top of this module)
    def _sig(pred: Column, script: Column) -> Column:
        verdict = (
            F.when(
                expected.isNotNull() & (script != "other")
                & (script != expected),
                F.lit("script_mismatch"),
            )
            .when(supported & (pred == "und"), F.lit("undetermined"))
            .when(supported & (pred != lang), F.lit("langid_mismatch"))
            .otherwise(F.lit("agree"))
        )
        return F.struct(
            pred.alias("lang_pred"),
            script.alias("main_script"),
            verdict.alias("verdict"),
        )

    sig = F.element_at(
        F.transform(
            F.array(langid_expr(t)),
            lambda pred: F.element_at(
                F.transform(
                    F.array(main_script_expr(t)),
                    lambda script: _sig(pred, script),
                ),
                1,
            ),
        ),
        1,
    )
    return df.select(
        F.col("doc_id").alias("id"), lang, sig.alias("s")
    ).select("id", "lang", "s.*")


def lang_consistency_sql(langid_sql_expr: str) -> str:
    """DuckDB twin of :func:`lang_consistency`.  ``langid_sql_expr`` is
    the caller-supplied SQL twin of ``langid_expr`` over the same text
    (it lives with the langid oracle, not here)."""
    expected = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN '{sc}'"
        for lg, sc in EXPECTED_SCRIPT.items()
    ) + " ELSE NULL END"
    # evaluated in the outer SELECT, over sig's aliased `lang` column
    supported = "(" + " OR ".join(
        f"lang = '{lg}'" for lg in LANGID_SUPPORTED
    ) + ")"
    return f"""
WITH sig AS (
  SELECT doc_id AS id, lang AS lang,
         {langid_sql_expr} AS lang_pred,
         {main_script_sql("text")} AS main_script,
         {expected} AS expected
  FROM documents
)
SELECT id, lang, lang_pred, main_script,
       CASE WHEN expected IS NOT NULL AND main_script != 'other'
                 AND main_script != expected
                 THEN 'script_mismatch'
            WHEN {supported} AND lang_pred = 'und'
                 THEN 'undetermined'
            WHEN {supported} AND lang_pred != lang
                 THEN 'langid_mismatch'
            ELSE 'agree'
       END AS verdict
FROM sig
"""


# ---------------------------------------------------------------------------
# Flesch reading ease (Flesch 1948; Kincaid's constants) — the classic
# readability feature (WebText/GPT-2-era corpora filtered on it).
# Syllables ≈ vowel-group runs (min 1/word), sentences ≈ [.!?]+ runs
# (min 1) — the standard heuristics, all exact integer counts so the
# twin matches bit-for-bit.


def flesch_reading_ease(df: DataFrame) -> DataFrame:
    """(id, n_words, n_sentences, n_syllables, flesch): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), round 4."""
    t = F.lower(F.col("text"))
    ws = F.filter(F.split(t, r"\s+"), lambda w: F.length(w) > 0)
    out = df.select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.transform(
                F.array(ws),
                lambda toks: F.struct(
                    F.size(toks).alias("n_words"),
                    F.aggregate(
                        F.transform(
                            toks,
                            lambda w: F.greatest(
                                F.regexp_count(w, F.lit("[aeiouy]+")),
                                F.lit(1),
                            ),
                        ),
                        F.lit(0),
                        lambda a, x: a + x,
                    ).alias("n_syllables"),
                ),
            ),
            1,
        ).alias("s"),
        F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)).alias(
            "n_sentences"
        ),
    ).select(
        "id",
        F.col("s.n_words").cast("long").alias("n_words"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.col("s.n_syllables").cast("long").alias("n_syllables"),
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables") / F.greatest(F.col("n_words"), F.lit(1))),
        4,
    )
    return out.filter(F.col("n_words") > 0).withColumn("flesch", flesch)


def flesch_reading_ease_sql() -> str:
    return r"""
WITH w AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> length(x) > 0) AS ws,
         greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
           AS n_sentences
  FROM documents
),
m AS (
  SELECT id, len(ws) AS n_words, n_sentences,
         list_aggregate(
           list_transform(ws,
             x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)),
           'sum') AS n_syllables
  FROM w
)
SELECT id, n_words::bigint AS n_words, n_sentences::bigint AS n_sentences,
       n_syllables::bigint AS n_syllables,
       round(206.835 - 1.015 * (n_words::double / n_sentences)
             - 84.6 * (n_syllables::double / greatest(n_words, 1)), 4)
         AS flesch
FROM m WHERE n_words > 0
"""
