"""Corpus-level text statistics: TF-IDF term ranking and character
n-gram language-model scoring.

Training-data-pipeline operators beyond the reference's own surface
(the reference converts documents; a 100 TB curation pipeline also
ranks and scores them). Both are pure DataFrame plans — explode,
aggregate, join, window — with exact DuckDB twins, and both follow the
two-level aggregation discipline: per-document statistics are computed
map-side (explode + partial agg) before anything joins a corpus-level
table, and the corpus-level tables (document frequency, character
counts) are tiny relative to the corpus, so their joins broadcast.

Scale notes (100 TB):
* tf: one shuffle on (doc_id, term) — unavoidable and key-balanced.
* df/idf: the vocabulary table is ~10^6-10^8 rows (Zipf), broadcast-
  or shuffle-joinable by term; N (corpus size) is a 1-row broadcast.
* char model: the model table is ≤ a few thousand rows — broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"

#: the values the DuckDB twins use, which their Spark operators default
#: to: top terms per document (TF-IDF), smallest document frequency kept
#: in the inverted index, count-min rows, columns and top terms, PMI
#: following-token window, smallest pair count and top pairs,
#: vocab-growth prefixes, and the novelty n-gram size
TFIDF_K = 3
INVERTED_MIN_DF = 2
CMS_D = 4
CMS_W = 1024
CMS_TOPK = 20
PMI_WINDOW = 2
PMI_MIN_COUNT = 5
PMI_TOPK = 20
VOCAB_POINTS = 10
NOVELTY_N = 3


def _terms(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(text_col), TOKEN_SPLIT), lambda t: t != ""
    )


def tfidf_topk(df: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF (natural-log IDF
    ``ln(N/df)``, raw term counts); ties broken by term text so the
    output is total-order deterministic."""
    terms = df.select(
        F.col("doc_id").alias("id"), F.explode(_terms(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(F.col("doc_id")).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id", "rk", "term", "tfidf")
    )


def tfidf_topk_sql() -> str:
    """DuckDB twin of :func:`tfidf_topk`."""
    return f"""
WITH terms AS (
  SELECT doc_id AS id, t.term
  FROM documents,
       unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                          x -> x <> '')) AS t(term)
),
tf AS (
  SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.id, tf.term,
         round(tf.tf * ln(n.n::double / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT id, term, tfidf,
         row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT id, rk, term, tfidf FROM ranked WHERE rk <= {TFIDF_K}
"""


def char_bigram_logprob(df: DataFrame) -> DataFrame:
    """Per-document mean character-bigram negative log-likelihood under
    a model fitted on the corpus itself (add-one smoothing over the
    observed unigram vocabulary) — the KenLM-perplexity-style quality
    signal used by CCNet-class pipelines, reduced to its n-gram core.
    Lower = more typical of the corpus; gibberish scores high.

    Shape (this is what holds at 100 TB): the raw bigram stream is
    exploded ONCE and immediately reduced to per-document bigram counts
    (map-side partial agg makes the shuffle carry distinct-per-doc keys,
    not raw characters). Every corpus-level model table — bigram counts,
    unigram counts, vocabulary size, and the final per-bigram NLL — is
    derived from that reduced table, so the model is a single tiny
    broadcast (≤ |charset|² rows under Zipf) with the smoothed NLL
    precomputed per bigram; the scoring pass is one broadcast join plus
    a weighted average. Two key-shuffles total, and the heavy explode
    lineage runs once: the reduced per-doc counts are pinned with an
    eager checkpoint (exchange reuse alone does not survive the
    optimizer here — verified by runtime scan counts).
    """
    s = F.lower(F.col("text"))
    docs = (
        df.select(F.col("doc_id").alias("id"), s.alias("s"))
        .where(F.length("s") >= 2)
    )
    # one explode of character positions; substr(i, 2) builds the bigram
    # in codegen without materializing a per-char array
    bg = docs.select(
        "id",
        "s",
        F.explode(F.sequence(F.lit(1), F.length("s") - 1)).alias("i"),
    ).select("id", F.col("s").substr(F.col("i"), F.lit(2)).alias("bg"))
    # eager checkpoint: model chain AND scoring both read pair_counts;
    # without the pin, exchange reuse does NOT survive optimization
    # (observed: 4 runtime scans of the corpus at sf0.001) — the corpus
    # must be read exactly once at 100 TB
    pair_counts = (
        bg.groupBy("id", "bg")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    bg_counts = pair_counts.groupBy("bg").agg(F.sum("c").alias("c_bg"))
    uni_counts = bg_counts.groupBy(
        F.substring("bg", 1, 1).alias("u")
    ).agg(F.sum("c_bg").alias("c_u"))
    vocab = uni_counts.select(F.count("*").alias("v"))
    model = (
        bg_counts.withColumn("u", F.substring("bg", 1, 1))
        .join(uni_counts, "u")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            (-F.log((F.col("c_bg") + 1) / (F.col("c_u") + F.col("v")))).alias("nll"),
        )
    )
    return (
        pair_counts.join(F.broadcast(model), "bg")
        .groupBy("id")
        .agg(
            F.round(F.sum(F.col("c") * F.col("nll")) / F.sum("c"), 6).alias("mean_nll"),
            F.sum("c").alias("n_bigrams"),
        )
    )


def char_bigram_logprob_sql() -> str:
    """DuckDB twin of :func:`char_bigram_logprob`."""
    return f"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS s FROM documents
),
bg AS (
  SELECT id, substr(s, i, 2) AS bg
  FROM docs, unnest(range(1, length(s)::int)) AS t(i)
  WHERE length(s) >= 2
),
bgc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
unic AS (SELECT substr(bg, 1, 1) AS u, count(*) AS c_u FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT u) AS v FROM unic)
SELECT bg.id,
       round(avg(-ln((bgc.c_bg + 1)::double / (unic.c_u + v.v))), 6) AS mean_nll,
       count(*) AS n_bigrams
FROM bg JOIN bgc USING (bg)
JOIN unic ON substr(bg.bg, 1, 1) = unic.u
CROSS JOIN v
GROUP BY 1
"""


def inverted_index(df: DataFrame, min_df: int = INVERTED_MIN_DF) -> DataFrame:
    """``(term, id, tf, first_pos, df)`` — scalarized posting lists.

    The index-construction half of a corpus search layer (the shape
    every batch indexer from the original MapReduce paper onward
    builds): one explode of ``posexplode``-numbered terms, one partial-
    agg shuffle to per-(term, doc) postings (tf + first occurrence
    position), and one term-level aggregate for document frequency,
    joined back on term. ``min_df`` prunes hapax terms before the
    df join — at web scale the tail of df=1 terms dominates vocabulary
    size (Zipf) while being useless for retrieval.

    Rows are one per posting (term × doc), all scalar columns — a real
    engine would route this to a partitioned sink bucketed by term;
    the DataFrame here IS that sink's input, already term-shuffled.
    """
    toks = (
        df.select(F.col("doc_id").alias("id"), _terms(F.col("text")).alias("ts"))
        .select("id", F.posexplode("ts").alias("pos", "term"))
    )
    postings = toks.groupBy("term", "id").agg(
        F.count("*").alias("tf"), F.min("pos").alias("first_pos")
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    return postings.join(dfreq, "term").select(
        "term", "id", "tf", "first_pos", "df"
    )


def inverted_index_sql() -> str:
    """DuckDB twin of :func:`inverted_index` (same tokenizer contract
    as :data:`TOKEN_SPLIT`)."""
    return f"""
WITH raw AS (
  SELECT doc_id AS id,
         string_split_regex(lower(text), '[^a-z0-9]+') AS ts
  FROM documents
),
-- position numbering over NON-EMPTY tokens only (split can emit ''
-- at the boundaries): filter first, renumber with a window
toks0 AS (
  SELECT id, ts[i + 1] AS term, i
  FROM raw, unnest(range(0, len(ts))) AS u(i)
  WHERE ts[i + 1] <> ''
),
toks AS (
  SELECT id, term,
         row_number() OVER (PARTITION BY id ORDER BY i) - 1 AS pos
  FROM toks0
),
postings AS (
  SELECT term, id, count(*) AS tf, min(pos) AS first_pos
  FROM toks GROUP BY term, id
),
dfreq AS (
  SELECT term, count(*) AS df FROM postings GROUP BY term
  HAVING count(*) >= {INVERTED_MIN_DF}
)
SELECT p.term, p.id, p.tf, p.first_pos, d.df
FROM postings p JOIN dfreq d USING (term)
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
# fixed-memory frequent-items structure a 100 TB term-frequency job uses
# when the exact (term, count) table itself is too hot to materialize:
# the sketch is a d×w integer grid, each row a map-side-combinable
# aggregate, merged associatively across partitions/epochs; estimates
# only ever overestimate (est >= exact, est <= exact + εN w.h.p.).
# Hash family is md5(row_salt || term) — deterministic, engine-shared.


def _cms_col(term: Column, row: int, w: int) -> Column:
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}|"), term)), 1, 6), 16, 10
        ).cast("long"),
        F.lit(w),
    )


def countmin_heavy_hitters(
    df: DataFrame,
    d: int = CMS_D,
    w: int = CMS_W,
    topk: int = CMS_TOPK,
) -> DataFrame:
    """(rank, term, exact_count, cms_estimate) for the exact top-k terms.

    Plan: one explode → d×w counter grid (tiny, map-side combined) +
    one exact term count (for the verification column and the candidate
    set; a pure-sketch deployment would take candidates from per-
    partition local top-k instead). Estimate = min over d rows of the
    counter at that row's hash column — computed with a d-way join on
    (row, col) that moves only integers.
    """
    terms = df.select(
        F.explode(_terms(F.lower(F.col("text")))).alias("term")
    )
    counters = (
        terms.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("row"),
                            _cms_col(F.col("term"), j, w).alias("col"),
                        )
                        for j in range(d)
                    ]
                )
            ).alias("rc")
        )
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count("*").alias("c"))
    )
    exact = terms.groupBy("term").agg(F.count("*").alias("exact_count"))
    # top-k via orderBy().limit() (TakeOrderedAndProject: per-partition
    # heaps, never a partition-less Window sorting the full vocab in one
    # task); the rank window then runs over the k-row result only
    wnd = Window.orderBy(F.desc("exact_count"), F.asc("term"))
    top = (
        exact.orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(topk)
        .withColumn("rank", F.row_number().over(wnd))
    )
    probes = top.select(
        "rank",
        "term",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_col(F.col("term"), j, w).alias("col"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("rc"),
    ).select("rank", "term", "exact_count", "rc.row", "rc.col")
    est = (
        probes.join(F.broadcast(counters), ["row", "col"])
        .groupBy("rank", "term", "exact_count")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
    )
    return est.select(
        "rank", "term", F.col("exact_count").cast("long"), "cms_estimate"
    )


def countmin_heavy_hitters_sql() -> str:
    """DuckDB twin of :func:`countmin_heavy_hitters`."""
    def col_of(term: str, j: int) -> str:
        return (
            f"list_reduce(list_transform(string_split_regex("
            f"substr(md5('{j}|' || {term}), 1, 6), ''), "
            f"c -> strpos('0123456789abcdef', c) - 1), "
            f"(a, b) -> a * 16 + b) % {CMS_W}"
        )

    rows_union = "\n    UNION ALL\n    ".join(
        f"SELECT {j} AS row, {col_of('term', j)} AS col, term FROM terms"
        for j in range(CMS_D)
    )
    return rf"""
WITH terms AS (
  SELECT t AS term
  FROM documents,
       unnest(string_split_regex(lower(text), '{TOKEN_SPLIT}')) AS u(t)
  WHERE t <> ''
),
rc AS (
    {rows_union}
),
counters AS (SELECT row, col, count(*) AS c FROM rc GROUP BY 1, 2),
exact AS (SELECT term, count(*) AS exact_count FROM terms GROUP BY 1),
top AS (
  SELECT term, exact_count,
         row_number() OVER (ORDER BY exact_count DESC, term) AS rank
  FROM exact QUALIFY rank <= {CMS_TOPK}
),
probes AS (
    {rows_union.replace('FROM terms', 'FROM (SELECT term FROM top) AS terms')}
)
SELECT t.rank, t.term, t.exact_count::bigint AS exact_count,
       min(c.c)::bigint AS cms_estimate
FROM top t JOIN probes p USING (term) JOIN counters c USING (row, col)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Corpus-linguistics signals: per-document character entropy (gibberish /
# encoding-noise detector — low entropy = repeated junk, very high =
# random bytes), windowed PMI co-occurrence (collocation mining), and the
# Heaps-law vocabulary growth curve (sublinear vocab growth is the
# classic sanity check that a corpus is natural language, not templated
# spam). All exact integer counting + one final log/ratio rounded to 6,
# so the DuckDB twins match bit-for-bit.


def char_entropy(df: DataFrame) -> DataFrame:
    """(id, n_chars, entropy): Shannon entropy in bits over each
    ``doc_id``'s character distribution of ``text``. Explode → (id, char)
    counts → per-id entropy; the shuffle carries (id, char, count)
    triples."""
    chars = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.col("text"), "")).alias("c"),
    ).filter(F.col("c") != "")
    counts = chars.groupBy("id", "c").agg(F.count("*").alias("k"))
    tot = counts.groupBy("id").agg(F.sum("k").alias("n"))
    ent = (
        counts.join(tot, "id")
        .groupBy("id", "n")
        .agg(
            F.sum(
                -(F.col("k") / F.col("n"))
                * F.log2(F.col("k") / F.col("n"))
            ).alias("h")
        )
    )
    return ent.select(
        "id",
        F.col("n").cast("long").alias("n_chars"),
        F.round("h", 6).alias("entropy"),
    )


def char_entropy_sql() -> str:
    return """
WITH ch AS (
  SELECT doc_id AS id, c, count(*) AS k
  FROM documents, unnest(string_split(text, '')) AS u(c)
  WHERE c <> '' GROUP BY 1, 2
),
tot AS (SELECT id, sum(k) AS n FROM ch GROUP BY 1)
SELECT ch.id, max(tot.n)::bigint AS n_chars,
       round(sum(-(ch.k::double / tot.n) * log2(ch.k::double / tot.n)), 6)
         AS entropy
FROM ch JOIN tot ON ch.id = tot.id
GROUP BY ch.id
"""


def pmi_pairs(
    df: DataFrame,
    min_count: int = PMI_MIN_COUNT,
    topk: int = PMI_TOPK,
) -> DataFrame:
    """Top-k pointwise mutual information collocations: co-occurrence
    within ``PMI_WINDOW`` following tokens, PMI = log2(c_xy·N / (c_x·c_y)).

    Ordered pairs (x before y) so counting is single-pass; vocabulary-
    keyed shuffles only (same scale shape as bpe_merge_pairs). Ties:
    PMI desc, then (x, y) asc.
    """
    toks = df.select(
        F.filter(
            F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != ""
        ).alias("ws")
    )
    pairs = toks.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ws"),
                    lambda w, i: F.transform(
                        F.slice(
                            F.col("ws"),
                            i + 2,
                            F.least(
                                F.lit(PMI_WINDOW),
                                F.size(F.col("ws")) - i - 1,
                            ),
                        ),
                        lambda v: F.struct(w.alias("x"), v.alias("y")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    cxy = pairs.groupBy("x", "y").agg(F.count("*").alias("cxy"))
    n_pairs = pairs.count()
    words = toks.select(F.explode("ws").alias("w"))
    cw = words.groupBy("w").agg(F.count("*").alias("cw"))
    n_words = words.count()
    scored = (
        cxy.filter(F.col("cxy") >= min_count)
        .join(cw.select(F.col("w").alias("x"), F.col("cw").alias("cx")), "x")
        .join(cw.select(F.col("w").alias("y"), F.col("cw").alias("cy")), "y")
        .select(
            "x",
            "y",
            F.col("cxy").cast("long").alias("cxy"),
            F.round(
                F.log2(
                    (F.col("cxy").cast("double") / F.lit(float(n_pairs)))
                    / (
                        (F.col("cx").cast("double") / F.lit(float(n_words)))
                        * (F.col("cy").cast("double") / F.lit(float(n_words)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # TakeOrdered top-k (per-partition heaps), not a global row_number
    # window over the full collocation table; rank runs over k rows only
    w = Window.orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
    return (
        scored.orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
        .limit(topk)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "x", "y", "cxy", "pmi")
    )


def pmi_pairs_sql() -> str:
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                     t -> t <> '') AS ws
  FROM documents
),
pairs AS (
  SELECT ws[i + 1] AS x, ws[i + 1 + d] AS y
  FROM toks,
       unnest(range(0, len(ws))) AS t(i),
       unnest(range(1, {PMI_WINDOW} + 1)) AS u(d)
  WHERE i + 1 + d <= len(ws)
),
cxy AS (SELECT x, y, count(*) AS cxy FROM pairs GROUP BY 1, 2),
np AS (SELECT count(*)::double AS n FROM pairs),
words AS (SELECT w FROM toks, unnest(ws) AS v(w)),
cw AS (SELECT w, count(*) AS cw FROM words GROUP BY 1),
nw AS (SELECT count(*)::double AS n FROM words),
scored AS (
  SELECT c.x, c.y, c.cxy::bigint AS cxy,
         round(log2((c.cxy / (SELECT n FROM np))
                    / ((a.cw / (SELECT n FROM nw))
                       * (b.cw / (SELECT n FROM nw)))), 6) AS pmi
  FROM cxy c JOIN cw a ON a.w = c.x JOIN cw b ON b.w = c.y
  WHERE c.cxy >= {PMI_MIN_COUNT}
)
SELECT rank, x, y, cxy, pmi FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, x, y) AS rank FROM scored
) WHERE rank <= {PMI_TOPK}
"""


def vocab_growth(df: DataFrame, n_points: int = VOCAB_POINTS) -> DataFrame:
    """Heaps-law curve: cumulative (tokens_seen, distinct_words) of
    ``text`` at ``n_points`` ``doc_id``-ordered corpus prefixes.

    Distributed form: a word's first occurrence is the min doc id that
    contains it (one vocabulary-keyed shuffle); cumulative sums over the
    per-doc (token_count, first_occurrences) table use the two-phase
    distributed prefix sum from ``packing.distributed_prefix_sum`` —
    never a cross join of prefixes and never a partition-less window
    collapsing the per-doc table into one task.
    """
    from .packing import distributed_prefix_sum
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.filter(
            F.split(F.lower(F.col("text")), TOKEN_SPLIT), lambda t: t != ""
        ).alias("ws"),
    )
    per_doc = toks.select("id", F.size("ws").alias("n_toks"))
    first = (
        toks.select("id", F.explode(F.array_distinct("ws")).alias("w"))
        .groupBy("w")
        .agg(F.min("id").alias("fid"))
        .groupBy(F.col("fid").alias("id"))
        .agg(F.count("*").alias("new_words"))
    )
    cum = distributed_prefix_sum(
        per_doc.join(first, "id", "left").select(
            "id",
            "n_toks",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        ),
        ["id"],
        ["n_toks", "new_words"],
        inclusive=True,
    ).select(
        "id",
        F.col("cum_n_toks").alias("tokens_seen"),
        F.col("cum_new_words").alias("vocab"),
    )
    n_docs = df.count()
    step = max(n_docs // n_points, 1)
    return (
        cum.filter((F.col("id") + 1) % step == 0)
        .select(
            F.col("id").cast("long").alias("last_doc_id"),
            F.col("tokens_seen").cast("long"),
            F.col("vocab").cast("long"),
        )
    )


def vocab_growth_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                     t -> t <> '') AS ws
  FROM documents
),
per_doc AS (SELECT id, len(ws) AS n_toks FROM toks),
first AS (
  SELECT fid AS id, count(*) AS new_words FROM (
    SELECT w, min(id) AS fid
    FROM (SELECT id, unnest(list_distinct(ws)) AS w FROM toks)
    GROUP BY w) GROUP BY 1
),
cum AS (
  SELECT p.id,
         sum(p.n_toks) OVER (ORDER BY p.id
             ROWS UNBOUNDED PRECEDING) AS tokens_seen,
         sum(coalesce(f.new_words, 0)) OVER (ORDER BY p.id
             ROWS UNBOUNDED PRECEDING) AS vocab
  FROM per_doc p LEFT JOIN first f ON f.id = p.id
),
nn AS (SELECT greatest(count(*) // {VOCAB_POINTS}, 1) AS step FROM documents)
SELECT id::bigint AS last_doc_id, tokens_seen::bigint AS tokens_seen,
       vocab::bigint AS vocab
FROM cum WHERE (id + 1) % (SELECT step FROM nn) = 0
"""


def ngram_novelty(df: DataFrame) -> DataFrame:
    """(id, n_grams, novel_frac): fraction of a document's distinct
    n-grams whose FIRST corpus occurrence (min doc id) is this document
    — the corpus-order novelty curve (late documents full of already-
    seen n-grams are near-duplicates or boilerplate; a training-data
    staleness proxy). One vocabulary-keyed min-id shuffle, one join
    back on the gram — same shape as vocab_growth."""
    from docling_plus_spark.operators.dedup import shingles

    g = df.select(
        F.col("doc_id").alias("id"),
        F.explode(shingles(F.col("text"), NOVELTY_N)).alias("gram"),
    )
    first = g.groupBy("gram").agg(F.min("id").alias("fid"))
    per = (
        g.join(first, "gram")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("fid") == F.col("id"), 1).otherwise(0)).alias(
                "novel"
            ),
        )
    )
    return per.select(
        "id",
        "n_grams",
        F.round(
            F.col("novel").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
            6,
        ).alias("novel_frac"),
    )


def ngram_novelty_sql() -> str:
    from docling_plus_spark.operators.dedup import shingles_sql

    return f"""
WITH g AS (
  SELECT doc_id AS id, gram
  FROM documents, unnest({shingles_sql("text", NOVELTY_N)}) AS u(gram)
),
first AS (SELECT gram, min(id) AS fid FROM g GROUP BY 1)
SELECT g.id, count(*)::bigint AS n_grams,
       round(sum(CASE WHEN f.fid = g.id THEN 1 ELSE 0 END)::double
             / greatest(count(*), 1), 6) AS novel_frac
FROM g JOIN first f ON f.gram = g.gram
GROUP BY g.id
"""


#: Kneser-Ney absolute discount D of both bigram models
KN_DISCOUNT = 0.75


def kn_bigram_nll(df: DataFrame) -> DataFrame:
    """(id, n_bigrams, mean_nll) — per-``doc_id`` ``text`` bigram NLL under
    interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999's
    interpolated form with a fixed discount), fitted on the corpus
    itself. The proper-smoothing upgrade of the add-one char model in
    :func:`char_bigram_logprob` — this is the actual CCNet-class
    perplexity-filter shape (KenLM's smoothing family) at the bigram
    order:

        P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1·)
                   + D · N1+(w1 ·)/c(w1·) · P_cont(w2)
        P_cont(w2) = N1+(· w2) / N1+(· ·)

    Every scored bigram was observed in fitting (same corpus), so the
    formula never needs the unseen-context fallback.

    Scale shape: one explode to per-(doc, bigram) counts, pinned with
    an eager checkpoint (model tables AND scoring read it — the
    single-scan discipline); model tables are (word-key, counts)
    aggregates whose shuffles carry words + longs; the scoring pass is
    two key-joins plus a weighted average. N1+(··) is a broadcast
    scalar.
    """
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    d = df.select(F.col("doc_id").alias("id"), words.alias("ws")).where(
        F.size("ws") >= 2
    )
    bg = d.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    doc_bg = (
        bg.groupBy("id", "w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    # model tables (all derived from the pinned reduction)
    pair = doc_bg.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    left = pair.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1plus_fw")
    )
    cont = pair.groupBy("w2").agg(F.count("*").alias("n1plus_bw"))
    total_types = pair.agg(F.count("*").alias("n_types"))
    dlit = F.lit(KN_DISCOUNT)
    model = (
        pair.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(total_types))
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    F.greatest(F.col("c12") - dlit, F.lit(0.0)) / F.col("c1")
                    + dlit
                    * F.col("n1plus_fw")
                    / F.col("c1")
                    * F.col("n1plus_bw")
                    / F.col("n_types")
                )
            ).alias("nll"),
        )
    )
    return (
        doc_bg.join(model, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.col("nll")) / F.sum("c"), 6).alias(
                "mean_nll"
            ),
        )
    )


def kn_bigram_nll_sql() -> str:
    """DuckDB twin of :func:`kn_bigram_nll`."""
    return rf"""
WITH d AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS ws
  FROM documents
),
bg AS (
  SELECT id, ws[i] AS w1, ws[i + 1] AS w2
  FROM d, unnest(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
),
doc_bg AS (SELECT id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
pair AS (SELECT w1, w2, sum(c)::bigint AS c12 FROM doc_bg GROUP BY 1, 2),
lft AS (
  SELECT w1, sum(c12)::bigint AS c1, count(*) AS n1plus_fw
  FROM pair GROUP BY 1
),
cont AS (SELECT w2, count(*) AS n1plus_bw FROM pair GROUP BY 1),
tot AS (SELECT count(*) AS n_types FROM pair),
model AS (
  SELECT p.w1, p.w2,
         -ln(greatest(p.c12 - {KN_DISCOUNT!r}, 0.0) / l.c1
             + {KN_DISCOUNT!r} * l.n1plus_fw / l.c1
               * c.n1plus_bw / t.n_types) AS nll
  FROM pair p JOIN lft l ON p.w1 = l.w1
  JOIN cont c ON p.w2 = c.w2
  CROSS JOIN tot t
)
SELECT b.id, sum(b.c)::bigint AS n_bigrams,
       round(sum(b.c * m.nll) / sum(b.c), 6) AS mean_nll
FROM doc_bg b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
GROUP BY b.id
"""
