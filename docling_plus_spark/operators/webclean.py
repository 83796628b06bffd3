"""Web-corpus cleaning operators: PII redaction, URL canonicalization
and dedup, global paragraph dedup, stratified sampling, BPE-style token
accounting.

Not present in the reference (docling converts; it does not curate) —
this is the standard post-extraction scrub a 10^12-document web corpus
goes through before training (the C4 / RefinedWeb / BigCode pipelines).
Everything is pure JVM column expressions or plain groupBy/join plans —
no Python UDFs anywhere — and every operator has a DuckDB twin that
replays values exactly.

Regex portability rule: Spark compiles Java regex, DuckDB compiles RE2.
Every pattern in this module avoids the constructs where the two
diverge — no backreferences, no lookaround, and alternations whose
branches cannot shadow a longer match of a later branch (Java is
leftmost-first, RE2 leftmost-longest; the patterns here are constructed
so both pick the same match — verified by the oracle gate over the
whole corpus).

Scale notes (100 TB):
* pii_redact / url_canonicalize / bpe_token_stats are narrow
  projections — zero shuffle, whole-stage codegen.
* url_dedup is one hash shuffle on the canonical url (row_number per
  key), the same shape as exact_dedup.
* paragraph_dedup is the only multi-shuffle plan: explode lines →
  two-stage distinct-doc count per line hash (map-side partial agg; the
  shuffle carries (hash, id) pairs, never the text) → join back (hash
  is high-cardinality, skew-free) → re-assemble per doc. The line text
  itself rides only the final per-doc groupBy, bounded by document
  size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_plus_spark.functions.expressions import md5_long

# ---------------------------------------------------------------------------
# PII redaction (BigCode/StarCoder-style regex scrub)

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# international-format phone: leading +, 9..15 digits with -/space
# separators; the leading + keeps false-positive rate near zero and the
# pattern identical under leftmost-first vs leftmost-longest matching
PHONE_RE = r"\+\d[\d\- ]{7,14}\d"

_PII_STAGES = [
    ("n_emails", EMAIL_RE, "<EMAIL>"),
    ("n_ips", IPV4_RE, "<IP>"),
    ("n_phones", PHONE_RE, "<PHONE>"),
]


def pii_redact(df: DataFrame) -> DataFrame:
    """Sequential e-mail → IPv4 → phone redaction.

    Output: (id, redacted, n_emails, n_ips, n_phones). Counts are taken
    on each stage's *input* (so an e-mail containing an IP-shaped host
    is counted once, as an e-mail). Narrow projection, no shuffle.
    """
    cur: Column = F.col("text")
    counts: list[Column] = []
    for name, pat, rep in _PII_STAGES:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(name))
        cur = F.regexp_replace(cur, pat, rep)
    return df.select(
        F.col("doc_id").alias("id"), cur.alias("redacted"), *counts
    )


def pii_redact_sql(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`pii_redact` (full SELECT, same names)."""

    def esc(p: str) -> str:
        # DuckDB single-quoted strings are raw: never double backslashes
        return p.replace("'", "''")

    cur = text_expr
    count_cols = []
    for name, pat, rep in _PII_STAGES:
        count_cols.append(
            f"len(regexp_extract_all({cur}, '{esc(pat)}'))::bigint AS {name}"
        )
        cur = f"regexp_replace({cur}, '{esc(pat)}', '{rep}', 'g')"
    return (
        f"SELECT doc_id AS id, {cur} AS redacted, "
        + ", ".join(count_cols)
        + " FROM documents"
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup

#: query parameters that never change page identity (tracking)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=.*)?$"

_SCHEME_HOST_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def canonical_url(url: Column) -> Column:
    """Canonical form of a web URL, as column expressions only:

    1. strip the fragment (``#...``);
    2. lowercase the scheme://host[:port] part (path/query untouched);
    3. drop default ports (``:80`` for http, ``:443`` for https);
    4. drop tracking query parameters (utm_*, fbclid, gclid, msclkid,
       ref), removing the ``?`` when none survive.
    """
    u = F.regexp_replace(url, "#.*", "")
    head = F.regexp_extract(u, _SCHEME_HOST_RE, 1)
    rest = F.substring(u, F.length(head) + 1, F.lit(1 << 30))
    lh = F.lower(head)
    lh = F.when(
        lh.startswith("http://"), F.regexp_replace(lh, ":80$", "")
    ).when(
        lh.startswith("https://"), F.regexp_replace(lh, ":443$", "")
    ).otherwise(lh)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.substring(rest, F.length(path) + 2, F.lit(1 << 30))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & (F.regexp_count(p, F.lit(TRACKING_PARAM_RE)) == 0),
    )
    tail = F.when(
        (F.length(query) > 0) & (F.size(kept) > 0),
        F.concat(F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(F.lit(""))
    return F.concat(lh, path, tail)


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` (expression, not a SELECT)."""
    track = TRACKING_PARAM_RE.replace("'", "''")
    u = f"regexp_replace({url_expr}, '#.*', '')"
    head = f"regexp_extract({u}, '{_SCHEME_HOST_RE}', 1)"
    rest = f"substr({u}, length({head}) + 1)"
    lh = f"lower({head})"
    lh = (
        f"CASE WHEN starts_with({lh}, 'http://') THEN regexp_replace({lh}, ':80$', '') "
        f"WHEN starts_with({lh}, 'https://') THEN regexp_replace({lh}, ':443$', '') "
        f"ELSE {lh} END"
    )
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"substr({rest}, length({path}) + 2)"
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> length(p) > 0 AND NOT regexp_matches(p, '{track}'))"
    )
    tail = (
        f"CASE WHEN length({query}) > 0 AND len({kept}) > 0 "
        f"THEN '?' || list_aggregate({kept}, 'string_agg', '&') ELSE '' END"
    )
    return f"({lh} || {path} || {tail})"


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the Common
    Crawl CDX index sort key (``com,example)/path?a=1&b=2``): all URLs
    of one registered domain become one contiguous key range, which is
    what makes per-domain range scans over a 10^12-row index possible.

    Applied on top of :func:`canonical_url` (fragment / default-port /
    tracking-param strip), then, per the ``surt`` library's default
    canonicalization used by Common Crawl's indexer:

    1. drop the scheme, drop one leading ``www\\d*.`` (``www.``, ``www2.``);
    2. reverse the host labels and join with commas (port kept);
    3. lowercase path and query; empty path becomes ``/``;
    4. sort query parameters bytewise.

    Pure column expressions — whole-stage codegen, zero Python.
    Userinfo (``user:pass@``) is not handled (absent from crawl data).
    """
    u = canonical_url(url)
    after = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")
    hostport = F.regexp_extract(after, r"^([^/?]*)", 1)
    rest = F.substring(after, F.length(hostport) + 1, F.lit(1 << 30))
    host = F.regexp_replace(hostport, r":[0-9]+$", "")
    port = F.substring(hostport, F.length(host) + 1, F.lit(1 << 30))
    host = F.regexp_replace(host, r"^www\d*\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.regexp_extract(rest, r"^([^?]*)", 1))
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    query = F.lower(
        F.substring(rest, F.length(F.regexp_extract(rest, r"^([^?]*)", 1)) + 2,
                    F.lit(1 << 30))
    )
    params = F.array_sort(
        F.filter(F.split(query, "&"), lambda p: F.length(p) > 0)
    )
    tail = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(rev, port, F.lit(")"), path, tail)


def surt_key_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`surt_key` (expression, not a SELECT)."""
    u = canonical_url_sql(url_expr)
    after = f"regexp_replace({u}, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', '')"
    hostport = f"regexp_extract({after}, '^([^/?]*)', 1)"
    rest = f"substr({after}, length({hostport}) + 1)"
    host = f"regexp_replace({hostport}, ':[0-9]+$', '')"
    port = f"substr({hostport}, length({host}) + 1)"
    host = f"regexp_replace({host}, '^www\\d*\\.', '')"
    rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    rawpath = f"regexp_extract({rest}, '^([^?]*)', 1)"
    path = f"CASE WHEN length({rawpath}) = 0 THEN '/' ELSE lower({rawpath}) END"
    query = f"lower(substr({rest}, length({rawpath}) + 2))"
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> length(p) > 0))"
    )
    tail = (
        f"CASE WHEN len({params}) > 0 "
        f"THEN '?' || list_aggregate({params}, 'string_agg', '&') "
        f"ELSE '' END"
    )
    return f"({rev} || {port} || ')' || {path} || {tail})"


def url_dedup(df: DataFrame) -> DataFrame:
    """One row per canonical URL: the lowest-id exemplar + dupe count.

    One hash shuffle on the canonical url (same shape as exact dedup —
    high-cardinality key, map-side partial count).
    """
    from pyspark.sql.window import Window

    canon = df.select(
        F.col("doc_id").alias("id"), canonical_url(F.col("url")).alias("canon_url")
    )
    w = Window.partitionBy("canon_url").orderBy("id")
    return (
        canon.withColumn("rk", F.row_number().over(w))
        .withColumn("n_dupes", F.count("*").over(Window.partitionBy("canon_url")))
        .filter(F.col("rk") == 1)
        .select("canon_url", F.col("id").alias("keep_id"), F.col("n_dupes").cast("long"))
    )


def url_dedup_sql(id_expr: str, url_expr: str, table: str) -> str:
    canon = canonical_url_sql(url_expr)
    return f"""
WITH c AS (
  SELECT {id_expr} AS id, {canon} AS canon_url FROM {table}
),
r AS (
  SELECT canon_url, id,
         row_number() OVER (PARTITION BY canon_url ORDER BY id) AS rk,
         count(*) OVER (PARTITION BY canon_url) AS n_dupes
  FROM c
)
SELECT canon_url, id AS keep_id, n_dupes::bigint AS n_dupes
FROM r WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Global paragraph dedup (RefinedWeb §3.3 "line-wise corrections" /
# ccnet-style: drop lines that repeat across too many documents)

#: distinct documents a line may occur in before paragraph dedup drops it
PARAGRAPH_MAX_DOCS = 10


def paragraph_dedup(df: DataFrame) -> DataFrame:
    """Remove lines that occur (trimmed) in more than
    ``PARAGRAPH_MAX_DOCS`` distinct documents of ``df``'s (doc_id, text);
    reassemble the survivors in document order.

    Output: (id, clean_text, lines_kept, lines_dropped). Plan: explode →
    distinct-doc count per line *hash* (the shuffle carries 16-byte
    hashes, not text) → join back on the high-cardinality hash →
    per-document reassembly (the only stage that shuffles text, bounded
    by document size). Boilerplate mega-lines ("all rights reserved")
    hit the count cap at the partial-agg stage, not as join skew: the
    count table has exactly one row per distinct line.
    """
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).filter(F.length(F.trim(F.col("line"))) > 0)
    hashed = lines.withColumn("h", md5_long(F.trim(F.col("line"))))
    freq = hashed.groupBy("h").agg(
        F.count_distinct("id").alias("_docs")
    )
    tagged = hashed.join(freq, "h").withColumn(
        "_keep", F.col("_docs") <= PARAGRAPH_MAX_DOCS
    )
    return (
        tagged.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0))
            .cast("long")
            .alias("lines_kept"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1))
            .cast("long")
            .alias("lines_dropped"),
        )
    )


def paragraph_dedup_sql(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`paragraph_dedup` (full SELECT)."""
    return f"""
WITH lines AS (
  SELECT doc_id AS id, u.pos, u.line
  FROM documents,
       LATERAL (SELECT unnest(string_split({text_expr}, chr(10))) AS line,
                       generate_subscripts(string_split({text_expr}, chr(10)), 1) AS pos) u
  WHERE length(trim(u.line)) > 0
),
hashed AS (
  SELECT id, pos, line,
         ('0x'||substr(md5(trim(line)),1,15))::bigint AS h
  FROM lines
),
freq AS (
  SELECT h, count(DISTINCT id) AS docs FROM hashed GROUP BY h
),
tagged AS (
  SELECT hashed.*, freq.docs <= {PARAGRAPH_MAX_DOCS} AS keep
  FROM hashed JOIN freq USING (h)
)
SELECT id,
  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
    AS clean_text,
  sum(CASE WHEN keep THEN 1 ELSE 0 END)::bigint AS lines_kept,
  sum(CASE WHEN keep THEN 0 ELSE 1 END)::bigint AS lines_dropped
FROM tagged GROUP BY id
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling

SAMPLE_MOD = 1_000_000


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    ``md5(id) mod 1e6 < rate(stratum) * 1e6``.

    The standard domain/language-mixing primitive: reproducible across
    runs and engines (hash-derived, no RNG state), embarrassingly
    parallel (zero shuffle), and exact in expectation per stratum.
    Output: the kept (id, stratum, bucket) rows.
    """
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(SAMPLE_MOD))
    rate: Column = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == value, F.lit(r)).otherwise(rate)
    return (
        df.select(
            F.col("doc_id").alias("id"),
            F.col("lang").alias("stratum"),
            bucket.cast("long").alias("bucket"),
            rate.alias("_rate"),
        )
        .filter(F.col("bucket") < F.col("_rate") * SAMPLE_MOD)
        .drop("_rate")
    )


def stratified_sample_sql(
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> str:
    """DuckDB twin of :func:`stratified_sample` (full SELECT)."""
    whens = " ".join(
        f"WHEN lang = '{v}' THEN {r}" for v, r in sorted(rates.items())
    )
    rate = f"(CASE {whens} ELSE {default_rate} END)"
    bucket = f"(('0x'||substr(md5(doc_id::VARCHAR),1,15))::bigint % {SAMPLE_MOD})"
    return f"""
SELECT doc_id AS id, lang AS stratum, {bucket}::bigint AS bucket
FROM documents
WHERE {bucket} < {rate} * {SAMPLE_MOD}
"""


# ---------------------------------------------------------------------------
# BPE-style token accounting

#: GPT-2 pre-tokenizer split, minus the ``\s+(?!\S)`` lookahead (RE2 has
#: no lookaround; the trailing-space refinement only moves one token
#: boundary and both engines agree on this lookahead-free form).
BPE_SPLIT_RE = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(df: DataFrame) -> DataFrame:
    """(id, bpe_tokens, ws_tokens, chars_per_token) — corpus token
    accounting with a GPT-2-style pre-tokenizer regex. Narrow, no
    shuffle, one regexp pass."""
    t = F.col("text")
    bpe = F.regexp_count(t, F.lit(BPE_SPLIT_RE)).cast("long")
    ws = F.size(
        F.filter(F.split(F.trim(t), r"\s+"), lambda w: F.length(w) > 0)
    ).cast("long")
    return df.select(
        F.col("doc_id").alias("id"),
        bpe.alias("bpe_tokens"),
        ws.alias("ws_tokens"),
        F.round(
            F.length(t).cast("double") / F.greatest(bpe, F.lit(1)).cast("double"), 4
        ).alias("chars_per_token"),
    )


def bpe_token_stats_sql() -> str:
    """DuckDB twin of :func:`bpe_token_stats` (full SELECT)."""
    pat = BPE_SPLIT_RE.replace("'", "''")
    bpe = f"len(regexp_extract_all(text, '{pat}'))"
    ws = (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"w -> length(w) > 0))"
    )
    return f"""
SELECT doc_id AS id,
  {bpe}::bigint AS bpe_tokens,
  {ws}::bigint AS ws_tokens,
  round(length(text)::double / greatest({bpe}, 1), 4) AS chars_per_token
FROM documents
"""


# ---------------------------------------------------------------------------
# Per-domain rollup (blocklist / domain-mix precursor)

_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)"


def host_stats(df: DataFrame) -> DataFrame:
    """(host, n_docs, total_tokens, min_id) per canonical host.

    The per-domain accounting every curation pipeline runs before
    domain blocklists / mixing weights. One hash shuffle on the host
    (map-side partial agg); all outputs are exact integers, so the
    DuckDB twin matches bit-for-bit.
    """
    from docling_plus_spark.functions.expressions import token_count

    canon = canonical_url(F.col("url"))
    host = F.regexp_extract(canon, _HOST_RE, 1)
    return (
        df.select(
            host.alias("host"),
            F.col("doc_id").alias("id"),
            token_count(F.col("text")).cast("long").alias("toks"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.min("id").alias("min_id"),
        )
    )


def host_stats_sql(url_expr: str = "url") -> str:
    """DuckDB twin of :func:`host_stats` (full SELECT)."""
    canon = canonical_url_sql(url_expr)
    toks = (
        f"CASE WHEN trim(text) = '' THEN 0 ELSE "
        f"len(string_split_regex(trim(text), '\\s+')) END"
    )
    return f"""
WITH c AS (
  SELECT regexp_extract({canon}, '{_HOST_RE}', 1) AS host,
         doc_id AS id, ({toks})::bigint AS toks
  FROM documents
)
SELECT host, count(*) AS n_docs, sum(toks)::bigint AS total_tokens,
       min(id) AS min_id
FROM c GROUP BY host
"""


def crawl_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """``(url, change, old_hash, new_hash)`` between two crawl snapshots.

    The monthly-snapshot question every incremental pipeline asks
    before spending conversion compute: which urls are ``new``, which
    are ``gone``, which re-fetched ``changed`` (content hash differs),
    which are ``unchanged`` (skip them — the previous epoch's output is
    still valid, see plans/incremental.py for the resume machinery this
    feeds). One full-outer shuffle join on url; at 10^12 urls both
    sides bucket by url on disk so the join is co-located with zero
    exchange — and the shuffle rows carry two hashes, never content.
    """
    o = old.select("url", F.col("doc_hash").alias("old_hash"))
    n = new.select("url", F.col("doc_hash").alias("new_hash"))
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url",
        F.when(F.col("old_hash").isNull(), F.lit("new"))
        .when(F.col("new_hash").isNull(), F.lit("gone"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "old_hash",
        "new_hash",
    )


#: merge pairs the DuckDB twin ranks (the Spark operator's default)
BPE_MERGE_TOP_K = 20


def bpe_merge_pairs(df: DataFrame, top_k: int = BPE_MERGE_TOP_K) -> DataFrame:
    """``(rank, left, right, pair_count)`` — one BPE merge round's
    candidate table (Sennrich et al., ACL 2016, over character symbols).

    The distributed heart of tokenizer training. The scale trick is the
    same one every BPE trainer uses and the one that matters at 100 TB:
    aggregate the corpus to a **distinct-word frequency table first**
    (one shuffle whose key space is the vocabulary, ~10^7 rows under
    Zipf — not the 10^12-document corpus), then count symbol pairs over
    distinct words weighted by frequency. Pair counting therefore
    touches each distinct word once regardless of corpus size; the
    per-word char-pair explode is narrow; the final pair aggregation is
    a second vocabulary-sized shuffle. Ties rank deterministically
    (count desc, then (left, right) asc), so the merge chosen is
    engine-independent.

    Lowercased whitespace tokenization (the BPE pre-tokenizer contract
    here; the GPT-2 regex variant lives in :func:`bpe_token_stats`).
    """
    from pyspark.sql.window import Window

    words = (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.split(F.col("word"), "")
    pairs = words.select(
        "freq",
        F.explode(
            F.when(
                F.size(chars) >= 2,
                F.zip_with(
                    F.slice(chars, 1, F.size(chars) - 1),
                    F.slice(chars, 2, F.size(chars) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        ).alias("p"),
    )
    counts = pairs.groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right")).agg(
        F.sum("freq").alias("pair_count")
    )
    # TakeOrdered top-k (per-partition heaps over the vocabulary-sized
    # pair table), not a global row_number window; the rank window then
    # runs over the top_k-row result only
    w = Window.orderBy(
        F.col("pair_count").desc(), F.col("left"), F.col("right")
    )
    return (
        counts.orderBy(
            F.col("pair_count").desc(), F.col("left"), F.col("right")
        )
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "left", "right", "pair_count")
    )


def bpe_merge_pairs_sql() -> str:
    """DuckDB twin of :func:`bpe_merge_pairs`."""
    return f"""
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(w)
  WHERE w <> ''
  GROUP BY w
),
pairs AS (
  SELECT freq, chars[i + 1] AS l, chars[i + 2] AS r
  FROM (SELECT freq, string_split(word, '') AS chars FROM words),
       unnest(range(0, len(chars) - 1)) AS u(i)
  WHERE len(chars) >= 2
),
counts AS (
  SELECT l AS "left", r AS "right", sum(freq)::bigint AS pair_count
  FROM pairs GROUP BY l, r
)
SELECT rank, "left", "right", pair_count FROM (
  SELECT row_number() OVER (ORDER BY pair_count DESC, "left", "right") AS rank,
         "left", "right", pair_count
  FROM counts
) WHERE rank <= {BPE_MERGE_TOP_K}
"""


#: occurrences from which a sentence counts as duplicated
SENTENCE_MIN_COUNT = 2


def sentence_dedup(df: DataFrame) -> DataFrame:
    """``(id, clean_text, n_sentences, removed_sentences)`` — global
    sentence-level dedup, the C4 policy (Raffel et al. 2020 §2.2
    removed any three-sentence span occurring more than once; here the
    unit is the single sentence, threshold ``SENTENCE_MIN_COUNT``).

    Keep-one semantics: the canonical occurrence (min (id, sent_idx))
    of each over-represented sentence survives; other occurrences are
    cut. Sentences come from
    :func:`..operators.spans.sentence_spans` — spans over the original
    text, so the counting shuffle carries (md5, id, idx, two ints) and
    never sentence text; reassembly slices the original text with the
    kept spans (``clean_text`` = kept sentences joined by a single
    space — the same normalization contract as
    :func:`..operators.substring.strip_duplicate_substrings`).
    """
    from docling_plus_spark.operators.spans import sentence_spans

    # eager checkpoint: sp feeds the frequency count, the keep-mark
    # join, and the per-doc stats — without the pin the sentence-split
    # pass over the corpus ran three times (runtime plan audit); pinned
    # rows are (id, idx, span ints, md5), never sentence text
    sp = sentence_spans(df).localCheckpoint(eager=True)
    freq = (
        sp.groupBy("sent_md5")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct(F.col("id"), F.col("sent_idx"))).alias("canon"),
        )
        .where(F.col("cnt") >= SENTENCE_MIN_COUNT)
    )
    # NOT broadcast: the over-threshold sentence table scales with the
    # corpus's boilerplate volume — this is a hash join on sent_md5
    # whose rows are (md5, two ints) on both sides
    marked = sp.join(freq.select("sent_md5", "canon"), "sent_md5", "left")
    kept = marked.where(
        F.col("canon").isNull()
        | (
            (F.col("id") == F.col("canon.id"))
            & (F.col("sent_idx") == F.col("canon.sent_idx"))
        )
    )
    stats = sp.groupBy("id").agg(F.count("*").alias("n_sentences"))
    kept_per_doc = kept.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.struct("sent_idx", "char_start", "char_end"))
        ).alias("ks")
    )
    base = df.select(F.col("doc_id").alias("id"), F.col("text").alias("_t"))
    slices = F.transform(
        F.coalesce(
            F.col("ks"),
            F.array().cast(
                "array<struct<sent_idx:int,char_start:int,char_end:int>>"
            ),
        ),
        lambda k: F.col("_t").substr(
            k["char_start"] + 1, k["char_end"] - k["char_start"]
        ),
    )
    return (
        base.join(kept_per_doc, "id", "left")
        .join(stats, "id", "left")
        .select(
            "id",
            F.concat_ws(" ", slices).alias("clean_text"),
            F.coalesce(F.col("n_sentences"), F.lit(0)).alias("n_sentences"),
            (
                F.coalesce(F.col("n_sentences"), F.lit(0))
                - F.size(F.coalesce(F.col("ks"), F.array()))
            ).alias("removed_sentences"),
        )
    )


# ---------------------------------------------------------------------------
# URL-level filtering (RefinedWeb §3.1 / the UT1-blocklist stage): a host
# blocklist joined broadcast + a soft keyword score over the URL string.
# The blocklist is a small dim table (UT1 ships ~4.6M hosts ~ tens of MB:
# broadcast territory); the corpus side is one narrow projection, so at
# 100 TB the only wide op is... nothing. Scoring thresholds follow the
# RefinedWeb recipe: block if the host is listed OR >= `BLOCKLIST_MAX_HITS`
# flagged keywords appear in the URL.

URL_FLAG_WORDS = ["casino", "poker", "bet", "xxx", "porn", "webcam"]
BLOCKLIST_MAX_HITS = 2


def url_blocklist_filter(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """(url, host, blocked_host, kw_hits, allowed) per input row.

    ``blocklist`` is a 1-column (``host``) DataFrame; the join is an
    explicit ``broadcast`` left join. Keyword hits are counted on the
    lowercased URL with word boundaries so ``better.test`` does not
    match ``bet``.
    """
    host = F.lower(
        F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1)
    )
    kw = sum(
        (
            F.regexp_count(
                F.lower(F.col("url")), F.lit(rf"\b{w}\b")
            )
            for w in URL_FLAG_WORDS
        ),
        F.lit(0),
    )
    marked = df.select(
        "url",
        host.alias("host"),
        kw.cast("long").alias("kw_hits"),
    ).join(
        F.broadcast(
            blocklist.select(F.lower(F.col("host")).alias("host"))
            .distinct()
            .withColumn("blocked_host", F.lit(True))
        ),
        "host",
        "left",
    )
    blocked_host = F.coalesce(F.col("blocked_host"), F.lit(False))
    return marked.select(
        "url",
        "host",
        blocked_host.alias("blocked_host"),
        "kw_hits",
        (~blocked_host & (F.col("kw_hits") < BLOCKLIST_MAX_HITS)).alias("allowed"),
    )


def url_blocklist_filter_sql(url_expr: str, table: str, blocklist_values: str) -> str:
    """DuckDB twin; ``blocklist_values`` is a SQL ``(VALUES ...)`` list of
    1-tuples of hosts."""
    kw = " + ".join(
        rf"len(regexp_extract_all(lower({url_expr}), '\b{w}\b'))"
        for w in URL_FLAG_WORDS
    )
    return rf"""
WITH bl AS (SELECT DISTINCT lower(host) AS host
            FROM (VALUES {blocklist_values}) AS t(host)),
m AS (
  SELECT {url_expr} AS url,
         lower(regexp_extract({url_expr},
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)) AS host,
         ({kw})::bigint AS kw_hits
  FROM {table}
)
SELECT m.url, m.host,
       bl.host IS NOT NULL AS blocked_host,
       m.kw_hits,
       (bl.host IS NULL AND m.kw_hits < {BLOCKLIST_MAX_HITS}) AS allowed
FROM m LEFT JOIN bl ON m.host = bl.host
"""


#: normal quantile of the Wilson bound: 1.96, a 95% interval
WILSON_Z = 1.96


def host_quality_wilson(df: DataFrame) -> DataFrame:
    """Per-host quality rate with its Wilson-score lower bound — the
    statistically honest way to rank/blocklist domains (a 2/2 host must
    not outrank a 95/100 host; the lower bound handles small n).

    wilson_low = (p + z²/2n − z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n).
    Exact integer counts → one closed-form float per host, round 6 —
    bit-stable across engines. One host-keyed count shuffle.
    """
    agg = df.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("quality_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
    )
    n = F.col("n_docs").cast("double")
    p = F.col("n_pass").cast("double") / n
    z2 = WILSON_Z * WILSON_Z
    low = (
        p
        + F.lit(z2) / (2 * n)
        - F.lit(WILSON_Z) * F.sqrt(p * (1 - p) / n + F.lit(z2) / (4 * n * n))
    ) / (1 + F.lit(z2) / n)
    return agg.select(
        "host",
        "n_docs",
        "n_pass",
        F.round(p, 6).alias("pass_rate"),
        F.round(low, 6).alias("wilson_low"),
    )


def host_quality_wilson_sql(host_expr: str, pass_expr: str, table: str) -> str:
    """DuckDB twin of :func:`host_quality_wilson` (same operation
    order)."""
    z2 = WILSON_Z * WILSON_Z
    return f"""
WITH agg AS (
  SELECT {host_expr} AS host, count(*)::bigint AS n_docs,
         sum(CASE WHEN {pass_expr} THEN 1 ELSE 0 END)::bigint AS n_pass
  FROM {table} GROUP BY 1
)
SELECT host, n_docs, n_pass,
       round(n_pass::double / n_docs, 6) AS pass_rate,
       round((n_pass::double / n_docs + {z2} / (2 * n_docs::double)
              - {WILSON_Z} * sqrt((n_pass::double / n_docs)
                           * (1 - n_pass::double / n_docs) / n_docs::double
                           + {z2} / (4 * n_docs::double * n_docs::double)))
             / (1 + {z2} / n_docs::double), 6) AS wilson_low
FROM agg
"""
