"""Corpus-curation operators: intra-document repetition stripping,
DSIR importance weighting, Bloom-filter membership dedup, and
distribution-matching sampling.

These are training-data-pipeline stages a 100 TB curation run needs on
top of document conversion (reference scope ends at conversion —
docling/docling/document_converter.py — so these are extensions, same
tier as `operators/webclean.py`). Every operator is a pure DataFrame
plan with an exact DuckDB twin; all corpus-level model tables (feature
histograms, stratum counts, Bloom position sets) are tiny relative to
the corpus and broadcast back onto it.

Scale notes (100 TB):
* repetition_strip: explode + window on (id, line) + re-assemble on id.
  Two shuffles, both keyed by doc id (+line) — key-balanced; a giant
  document is still one doc's worth of lines in the final re-assembly
  task, and the explode keys carry line hashes' worth of data, not the
  full document, until re-assembly.
* dsir_weights: the hashed-feature histograms are fixed-size (B
  buckets) regardless of corpus size — broadcast; one shuffle to build
  them (map-side partial agg), zero extra shuffles to score.
* bloom_dedup: the position set is ≤ m rows (the filter's bits) —
  broadcast; at real scale you would fold it into a bitset with
  Spark's BloomFilter aggregate, but the position-set join is the
  engine-portable, exactly-checkable prototype of the same plan.
* distribution_match: stratum counts are |strata| rows — broadcast;
  the keep decision is the same zero-shuffle hash-Bernoulli as
  `webclean.stratified_sample`, with the rates derived from the data
  instead of passed in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_plus_spark.functions.expressions import md5_long

# ---------------------------------------------------------------------------
# Intra-document repetition stripping (RefinedWeb-style line dedup)


def repetition_strip(df: DataFrame) -> DataFrame:
    """Remove repeated lines *within* each document, keeping the first
    occurrence (blank lines always survive — they are layout, not
    content). The intra-document counterpart of the cross-corpus
    ``paragraph_dedup``: boilerplate that repeats inside one page
    (nav strips, cookie banners duplicated per section) inflates
    n-gram counts and LM loss exactly like cross-doc duplication.

    Output: (id, clean_text, n_lines, n_removed) — ``clean_text``
    preserves original line order.
    """
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    w = Window.partitionBy("id", "line").orderBy("pos")
    kept = lines.withColumn("rk", F.row_number().over(w)).filter(
        (F.trim(F.col("line")) == "") | (F.col("rk") == 1)
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
        .join(
            df.select(
                F.col("doc_id").alias("id"),
                F.size(F.split(F.col("text"), "\n")).cast("long").alias("n_lines"),
            ),
            "id",
        )
        .select(
            "id",
            "clean_text",
            "n_lines",
            (F.col("n_lines") - F.col("n_kept")).cast("long").alias("n_removed"),
        )
    )


def repetition_strip_sql() -> str:
    """DuckDB twin of :func:`repetition_strip` (full SELECT)."""
    return f"""
WITH split AS (
  SELECT doc_id AS id, string_split(text, chr(10)) AS parts
  FROM documents
),
lines AS (
  SELECT id, u.i AS pos, parts[u.i] AS line
  FROM split, unnest(range(1, len(parts) + 1)) AS u(i)
),
kept AS (
  SELECT id, pos, line
  FROM (
    SELECT id, pos, line,
           row_number() OVER (PARTITION BY id, line ORDER BY pos) AS rk
    FROM lines
  )
  WHERE trim(line) = '' OR rk = 1
),
reassembled AS (
  SELECT id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY id
),
sizes AS (
  SELECT doc_id AS id,
         len(string_split(text, chr(10)))::bigint AS n_lines
  FROM documents
)
SELECT r.id, coalesce(r.clean_text, '') AS clean_text, s.n_lines,
       (s.n_lines - r.n_kept)::bigint AS n_removed
FROM reassembled r JOIN sizes s USING (id)
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram log-likelihood ratio)

DSIR_BUCKETS = 1024
_WORD_SPLIT = "[^a-z0-9]+"


def _words(text_col: Column) -> Column:
    return F.filter(F.split(F.lower(text_col), _WORD_SPLIT), lambda t: t != "")


def _dsir_features(text_col: Column) -> Column:
    """Hashed uni+bigram bucket ids (DSIR's bag-of-hashed-ngrams),
    computed with the engine-portable md5 hash so the oracle matches."""
    words = _words(text_col)
    unis = F.transform(words, lambda w: F.pmod(md5_long(w), F.lit(DSIR_BUCKETS)))
    bis = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.pmod(
                md5_long(
                    F.concat(
                        F.element_at(words, i), F.lit(" "), F.element_at(words, i + 1)
                    )
                ),
                F.lit(DSIR_BUCKETS),
            ),
        ),
    ).otherwise(F.array())
    return F.concat(unis, bis)


def dsir_weights(df: DataFrame, target_filter: Column) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS'23)
    reduced to its n-gram core: hash the word uni+bigrams of ``text``
    into ``DSIR_BUCKETS`` buckets, fit add-one-smoothed bucket
    distributions over the target subset (``target_filter``) and the raw
    corpus, and score each ``doc_id`` by the mean log-likelihood ratio
    of its features.
    Positive = looks like the target distribution.

    Output: (id, n_feats, weight). Documents with no features are
    dropped (they have no evidence either way); the SQL twin agrees.
    """
    feats = df.select(
        F.col("doc_id").alias("id"),
        target_filter.alias("is_target"),
        F.explode(_dsir_features(F.col("text"))).alias("b"),
    )
    # reduce ONCE to per-(doc, bucket) counts: every downstream table —
    # raw/target bucket histograms, corpus totals, and the scoring pass
    # — derives from this same aggregate. ReuseExchange alone does NOT
    # keep this single-pass: the target branch's is_target filter (a
    # grouping key) pushes below the aggregate into its own scan, so
    # the explode+md5 lineage ran 4× (8 parquet scans at sf0.1,
    # observed). The eager checkpoint pins one materialization — at
    # 100 TB this is the difference between 1 and 4 corpus scans.
    doc_b = (
        feats.groupBy("id", "is_target", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    raw = doc_b.groupBy("b").agg(F.sum("c").alias("c_raw"))
    tgt = (
        doc_b.filter("is_target").groupBy("b").agg(F.sum("c").alias("c_tgt"))
    )
    hist = (
        raw.join(tgt, "b", "left")
        .na.fill({"c_tgt": 0})
        .crossJoin(
            F.broadcast(
                doc_b.agg(
                    F.sum("c").alias("n_raw"),
                    F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("n_tgt"),
                )
            )
        )
        .select(
            "b",
            (
                F.log((F.col("c_tgt") + 1) / (F.col("n_tgt") + DSIR_BUCKETS))
                - F.log((F.col("c_raw") + 1) / (F.col("n_raw") + DSIR_BUCKETS))
            ).alias("llr"),
        )
    )
    return (
        doc_b.join(F.broadcast(hist), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.round(
                F.sum(F.col("c") * F.col("llr")) / F.sum("c"), 6
            ).alias("weight"),
        )
    )


def dsir_weights_sql(target_pred: str) -> str:
    """DuckDB twin of :func:`dsir_weights` (full SELECT)."""
    words = (
        f"list_filter(string_split_regex(lower(text), '{_WORD_SPLIT}'),"
        f" x -> x <> '')"
    )
    h = "('0x'||substr(md5({v}),1,15))::ubigint % {b}"
    uni = h.format(v="t.w", b=DSIR_BUCKETS)
    bi = h.format(v="(w.ws[t.i] || ' ' || w.ws[t.i + 1])", b=DSIR_BUCKETS)
    return f"""
WITH w AS (
  SELECT doc_id AS id, ({target_pred}) AS is_target, {words} AS ws FROM documents
),
feats AS (
  SELECT id, is_target, ({uni})::bigint AS b
  FROM w, unnest(w.ws) AS t(w)
  UNION ALL
  SELECT id, is_target, ({bi})::bigint AS b
  FROM w, unnest(range(1, len(w.ws))) AS t(i)
  WHERE len(w.ws) >= 2
),
raw AS (SELECT b, count(*) AS c_raw FROM feats GROUP BY 1),
tgt AS (SELECT b, count(*) AS c_tgt FROM feats WHERE is_target GROUP BY 1),
tot AS (
  SELECT count(*) AS n_raw, count(*) FILTER (is_target) AS n_tgt FROM feats
),
hist AS (
  SELECT raw.b,
         ln((coalesce(tgt.c_tgt, 0) + 1)::double / (tot.n_tgt + {DSIR_BUCKETS}))
         - ln((raw.c_raw + 1)::double / (tot.n_raw + {DSIR_BUCKETS})) AS llr
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
)
SELECT feats.id, count(*) AS n_feats, round(avg(hist.llr), 6) AS weight
FROM feats JOIN hist USING (b)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup

BLOOM_M = 1 << 18  #: filter bits
BLOOM_K = 4  #: probes per key


def _bloom_positions(key: Column) -> Column:
    """``BLOOM_K`` deterministic bit positions for a key — md5 of the key
    salted with the probe index, engine-portable."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(BLOOM_K)),
        lambda j: F.pmod(
            md5_long(F.concat(key, F.lit("#"), j.cast("string"))), F.lit(BLOOM_M)
        ),
    )


def bloom_dedup(df: DataFrame, build_filter: Column) -> DataFrame:
    """Flag probe-side documents whose text *may* already exist in the
    build-side subset, via a Bloom filter over ``md5(text)`` keys — the
    cross-snapshot dedup primitive (build = previously ingested
    snapshot, probe = new crawl) when the build side is too large to
    broadcast as an exact key set but its ≤``BLOOM_M``-bit filter is not.

    The filter is materialized as its set-bit positions (a ≤``BLOOM_M``-row
    table, broadcast); a probe key is a *maybe*-duplicate iff all
    ``BLOOM_K`` of its positions are set — the standard one-sided
    guarantee (no false negatives, false-positive rate
    (set_bits/BLOOM_M)^BLOOM_K).

    Output: (id, hits, maybe_dup) for probe-side rows only.
    """
    key = F.md5(F.col("text"))
    pos = F.explode(_bloom_positions(key)).alias("p")
    bits = df.filter(build_filter).select(pos).distinct()
    probe = df.filter(~build_filter).select(F.col("doc_id").alias("id"), pos)
    return (
        probe.join(F.broadcast(bits.withColumn("set", F.lit(1))), "p", "left")
        .groupBy("id")
        .agg(F.count_if(F.col("set").isNotNull()).alias("hits"))
        .select("id", "hits", (F.col("hits") == BLOOM_K).alias("maybe_dup"))
    )


def bloom_dedup_sql(build_pred: str) -> str:
    """DuckDB twin of :func:`bloom_dedup` (full SELECT)."""
    p = (
        f"(('0x'||substr(md5(md5(text) || '#' || j.j::varchar),1,15))"
        f"::ubigint % {BLOOM_M})::bigint"
    )
    return f"""
WITH pos AS (
  SELECT doc_id AS id, ({build_pred}) AS is_build, {p} AS p
  FROM documents, unnest(range(1, {BLOOM_K} + 1)) AS j(j)
),
bits AS (SELECT DISTINCT p FROM pos WHERE is_build),
probe AS (SELECT id, p FROM pos WHERE NOT is_build)
SELECT probe.id,
       count(*) FILTER (bits.p IS NOT NULL) AS hits,
       (count(*) FILTER (bits.p IS NOT NULL) = {BLOOM_K}) AS maybe_dup
FROM probe LEFT JOIN bits USING (p)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Distribution-matching sampler

SAMPLE_MOD = 1_000_000


def distribution_match(
    df: DataFrame,
    target_props: dict[str, float],
) -> DataFrame:
    """Downsample so the surviving corpus matches ``target_props``
    across strata, keeping as much data as feasible: the binding
    stratum (largest target share relative to its actual count) is
    kept whole and every other stratum is thinned to proportion.
    Strata absent from ``target_props`` are dropped.

    Rates are derived from the corpus (one tiny groupBy, broadcast
    back); the keep decision is the deterministic hash-Bernoulli of
    ``webclean.stratified_sample`` — zero-shuffle on the data path,
    reproducible across runs and engines.

    Output: kept (id, stratum, bucket, rate).
    """
    props = F.create_map(
        *[x for kv in sorted(target_props.items()) for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    counts = (
        df.groupBy(F.col("lang").alias("stratum"))
        .agg(F.count("*").alias("c"))
        .withColumn("prop", props[F.col("stratum")])
        .filter(F.col("prop").isNotNull())
    )
    # alpha = min_s c_s / (prop_s * N_out_unit); rate_s = alpha*prop_s/c_s
    alpha = counts.agg(F.min(F.col("c") / F.col("prop")).alias("alpha"))
    rates = counts.crossJoin(F.broadcast(alpha)).select(
        "stratum",
        F.round(F.col("alpha") * F.col("prop") / F.col("c"), 9).alias("rate"),
    )
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(SAMPLE_MOD))
    return (
        df.select(
            F.col("doc_id").alias("id"),
            F.col("lang").alias("stratum"),
            bucket.cast("long").alias("bucket"),
        )
        .join(F.broadcast(rates), "stratum")
        .filter(F.col("bucket") < F.col("rate") * SAMPLE_MOD)
        .select("id", "stratum", "bucket", "rate")
    )


def distribution_match_sql(target_props: dict[str, float]) -> str:
    """DuckDB twin of :func:`distribution_match` (full SELECT)."""
    values = ", ".join(f"('{s}', {p})" for s, p in sorted(target_props.items()))
    bucket = f"(('0x'||substr(md5(doc_id::VARCHAR),1,15))::ubigint % {SAMPLE_MOD})"
    return f"""
WITH props(stratum, prop) AS (VALUES {values}),
counts AS (
  SELECT lang AS stratum, count(*) AS c
  FROM documents GROUP BY 1
),
joined AS (
  SELECT counts.stratum, counts.c, props.prop
  FROM counts JOIN props USING (stratum)
),
alpha AS (SELECT min(c / prop) AS alpha FROM joined),
rates AS (
  SELECT stratum, round(alpha.alpha * prop / c, 9) AS rate
  FROM joined CROSS JOIN alpha
)
SELECT doc_id AS id, lang AS stratum,
       {bucket}::bigint AS bucket, rates.rate
FROM documents JOIN rates ON rates.stratum = lang
WHERE {bucket} < rates.rate * {SAMPLE_MOD}
"""
