"""Training-mixture planning (DoReMi/Pile-style source weighting).

Moved out of ``imagepairs.py`` (it is a curation-planning stage, not an
image-mining one; the old import path re-exports for compatibility).

Given target per-source weights, compute the downsample-only sampling
plan that realizes the mixture with zero data reuse, plus the
complementary ``repeat_epochs`` budget statistic. Targeted sources that
are ABSENT from the corpus are not silently ignored (the failure mode:
a sampled mixture that quietly misses its targets): they are emitted as
explicit zero-count plan rows (n_docs = n_tokens = 0, sample_rate = 0,
repeat_epochs = 0) so the consumer sees exactly which targets cannot be
met. The ratio normalization runs over PRESENT sources only — one
absent source must not drive every present source's sample_rate to 0.

Scale shape: one groupBy(source) with map-side partial sums — source
cardinality is tiny; the weights table is a broadcast; the plan is a
broadcast-sized table the sampler then applies with a deterministic
per-doc hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mixture_plan(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """(source, n_docs, n_tokens, actual_frac, target_frac,
    sample_rate, repeat_epochs) — the training-mixture plan.

    The DoReMi/Pile-style mixing step, downsample-only (no data
    reuse): given target source weights, scale every source relative
    to the MOST under-represented one (largest target/actual ratio),
    which is kept whole — so at least one source has ``sample_rate``
    exactly 1.0, every other rate is < 1, and the sampled corpus hits
    the target mixture with zero repetition. ``repeat_epochs`` is the
    complementary budget statistic: ``ceil(target/actual)`` = how many
    epochs over source i a trainer needs if the token budget instead
    demands the target shares at FULL corpus size (> 1 exactly for the
    under-represented sources; 0 for untargeted ones).

    Targeted-but-missing sources appear as zero-count rows (see module
    docstring) instead of vanishing from the plan.
    """
    from pyspark.sql.window import Window

    tot = df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_tokens"),
    )
    wmap = F.map_from_arrays(
        F.array(*[F.lit(k) for k in weights]),
        F.array(*[F.lit(float(v)) for v in weights.values()]),
    )
    # global window over the per-source table: source cardinality is
    # tiny (a handful of rows), so the single partition is fine
    wall = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    enriched = tot.withColumn("share", share).withColumn(
        "target_frac", F.coalesce(wmap[F.col("source")], F.lit(0.0))
    )
    # ratio of target to actual share; the reference source is the one
    # with the largest ratio (most under-represented): it is kept whole,
    # everything else downsampled relative to it (repeat_epochs reports
    # the full-budget epoch count separately). Ratios use the UNROUNDED
    # share (the twin mirrors this); rounding is output-only.
    ratio = F.col("target_frac") / F.greatest(F.col("share"), F.lit(1e-12))
    enriched = enriched.withColumn("ratio", ratio).withColumn(
        "max_ratio", F.max("ratio").over(wall)
    )
    rel = F.col("ratio") / F.col("max_ratio")
    present = enriched.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("share", 6).alias("actual_frac"),
        F.round("target_frac", 6).alias("target_frac"),
        F.round(F.least(rel, F.lit(1.0)), 6).alias("sample_rate"),
        F.ceil(ratio).cast("int").alias("repeat_epochs"),
    )
    spark = df.sparkSession
    targets = spark.createDataFrame(
        [(k, float(v)) for k, v in weights.items()],
        "source string, target_frac double",
    )
    missing = targets.join(
        tot.select("source"), "source", "left_anti"
    ).select(
        "source",
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0.0).alias("actual_frac"),
        F.round("target_frac", 6).alias("target_frac"),
        F.lit(0.0).alias("sample_rate"),
        F.lit(0).cast("int").alias("repeat_epochs"),
    )
    return present.unionAll(missing)


def mixture_plan_sql(weights: dict[str, float]) -> str:
    """DuckDB twin of :func:`mixture_plan`."""
    # ::double on the weight literals: a bare 0.3 in VALUES parses as
    # DECIMAL, which would poison every downstream column type (the
    # driver's typed hash distinguishes decimal from Spark's double)
    wm = ", ".join(
        f"('{k}', {float(v)!r}::double)" for k, v in weights.items()
    )
    return f"""
WITH w(source, target_frac) AS (VALUES {wm}),
tot AS (
  SELECT source AS source, count(*)::bigint AS n_docs,
         sum(n_chars)::bigint AS n_tokens
  FROM documents GROUP BY source
),
enr AS (
  SELECT t.source, n_docs, n_tokens,
         round(n_tokens / sum(n_tokens) OVER (), 6) AS actual_frac,
         coalesce(w.target_frac, 0.0) AS target_frac,
         coalesce(w.target_frac, 0.0)
           / greatest(n_tokens::double / sum(n_tokens) OVER (), 1e-12)
           AS ratio
  FROM tot t LEFT JOIN w ON t.source = w.source
)
SELECT source, n_docs, n_tokens, actual_frac,
       round(target_frac, 6) AS target_frac,
       round(least(ratio / max(ratio) OVER (), 1.0), 6) AS sample_rate,
       ceil(ratio)::int AS repeat_epochs
FROM enr
UNION ALL
SELECT w.source, 0::bigint, 0::bigint, 0.0::double,
       round(w.target_frac, 6), 0.0::double, 0::int
FROM w WHERE w.source NOT IN (SELECT source FROM tot)
"""
