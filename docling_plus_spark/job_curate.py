"""spark-submit entrypoint for the training-data curation pipeline.

The extraction job (``job.py``) turns raw pages into documents; this job
turns documents into a training corpus — the second half of the 100 TB
story. Stages compose left-to-right over a (doc_id, text[, lang]) table,
each one a filter/rewrite built from the operators package, and the job
prints ONE JSON funnel line (per-stage survivor counts — the report
every dataset release ships) plus writes the surviving documents.

    spark-submit --py-files dist/docling_plus_spark.zip \\
        docling_plus_spark/job_curate.py \\
        --input  /table/documents --output /table/curated \\
        --stages gopher,c4,classifier,exact_dedup,minhash_dedup,sample \\
        --sample-rate 0.5

Every stage is deterministic (hash-Bernoulli sampling, keep-lowest-id
dedup), so re-running the job on the same input produces byte-identical
output — the property that makes corpus builds auditable.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _st_gopher(df: DataFrame, args) -> DataFrame:
    from docling_plus_spark.operators.quality import gopher_signals

    keep = gopher_signals(df).filter("gopher_pass")
    return df.join(keep.select(F.col("id").alias("doc_id")), "doc_id")


def _st_c4(df: DataFrame, args) -> DataFrame:
    from docling_plus_spark.operators.quality import c4_clean

    cleaned = c4_clean(df).filter("c4_keep")
    return (
        df.drop("text")
        .join(
            cleaned.select(
                F.col("id").alias("doc_id"), F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
    )


def _st_classifier(df: DataFrame, args) -> DataFrame:
    from docling_plus_spark.operators.quality import hash_classifier

    keep = hash_classifier(df).filter("label")
    return df.join(keep.select(F.col("id").alias("doc_id")), "doc_id")


def _st_exact_dedup(df: DataFrame, args) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.lower(F.col("text")))).orderBy("doc_id")
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _st_minhash_dedup(df: DataFrame, args) -> DataFrame:
    from docling_plus_spark.operators.dedup import minhash_dedup_keep

    keep = minhash_dedup_keep(
        df, "doc_id", threshold=args.minhash_threshold
    )
    return df.join(keep.select(F.col("keep_id").alias("doc_id")), "doc_id")


def _st_lang_gate(df: DataFrame, args) -> DataFrame:
    """Drop documents whose declared lang contradicts the content
    (operators/quality.py:lang_consistency): script_mismatch always
    goes; langid_mismatch goes too unless --keep-langid-mismatch.
    Documents without a lang column pass through untouched."""
    if "lang" not in df.columns:
        return df
    from docling_plus_spark.operators.quality import lang_consistency

    bad = ("script_mismatch",) if args.keep_langid_mismatch else (
        "script_mismatch", "langid_mismatch",
    )
    doomed = (
        lang_consistency(df)
        .filter(F.col("verdict").isin(*bad))
        .select(F.col("id").alias("doc_id"))
    )
    return df.join(doomed, "doc_id", "left_anti")


def _st_sample(df: DataFrame, args) -> DataFrame:
    # deterministic hash-Bernoulli keep (zero shuffle)
    bound = int(args.sample_rate * (1 << 24))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    return df.filter(bucket < bound)


def _st_mixture(df: DataFrame, args) -> DataFrame:
    """Down-sample over-represented sources to the --mix-weights
    targets (operators/mixture.py:mixture_plan); the plan table is
    tiny, so its per-source sample_rate broadcasts and the gate is the
    same deterministic hash-Bernoulli as --sample-rate (zero shuffle
    on the corpus side). Repeat epochs (>1) are a writer concern and
    are not applied here — a filter chain can only subtract."""
    from docling_plus_spark.operators.mixture import mixture_plan

    weights = {}
    for part in (args.mix_weights or "").split(","):
        if "=" in part:
            k, v = part.split("=", 1)
            weights[k.strip()] = float(v)
    if not weights:
        raise SystemExit("--mix-weights required for the mixture stage")
    plan = mixture_plan(df, weights)
    rates = plan.select("source", "sample_rate")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates), "source")
        .filter(bucket < (F.col("sample_rate") * (1 << 24)).cast("long"))
        .drop("sample_rate")
    )


def _emb_and_params(df: DataFrame, args):
    """Read the --embeddings table and derive the ANN/SemDeDup params
    from the measured corpus size (``ann.scale_params``) so per-bucket /
    per-cluster populations stay constant as the corpus grows — the
    BENCH.md §scale_params law. Two scalar actions (count + one head row
    for the dimension), consistent with the funnel's own counting."""
    from docling_plus_spark.operators.ann import scale_params

    if not args.embeddings:
        raise SystemExit(
            "--embeddings required for the semdedup/embed_dedup stages"
        )
    emb = df.sparkSession.read.parquet(args.embeddings)
    head = emb.select("embedding").head()
    dim = len(head[0]) if head else 1
    return emb, scale_params(emb.count(), dim=dim)


def _st_semdedup(df: DataFrame, args) -> DataFrame:
    """SemDeDup gate: drop documents whose embedding has a ≥tau cosine
    twin with a lower id in the same k-means cluster. k is derived from
    corpus size; documents without an embedding row pass through (there
    is nothing to compare them against)."""
    from docling_plus_spark.operators.cluster import semdedup

    emb, p = _emb_and_params(df, args)
    doomed = (
        semdedup(emb, k=p["k_clusters"], tau=args.semdedup_tau, iters=2)
        .filter(~F.col("kept"))
        .select(F.col("id").alias("doc_id"))
    )
    return df.join(doomed, "doc_id", "left_anti")


def _st_embed_dedup(df: DataFrame, args) -> DataFrame:
    """LSH embedding near-duplicate gate: drop the higher-id member of
    every pair with cosine ≥ --embed-threshold. (tables, bits) derived
    from corpus size; pairs form only inside shared LSH buckets."""
    from docling_plus_spark.operators.ann import embedding_near_dup

    emb, p = _emb_and_params(df, args)
    doomed = (
        embedding_near_dup(
            emb,
            threshold=args.embed_threshold,
            tables=p["tables"],
            bits=p["bits"],
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return df.join(doomed, "doc_id", "left_anti")


STAGES: dict[str, Callable] = {
    "gopher": _st_gopher,
    "c4": _st_c4,
    "classifier": _st_classifier,
    "exact_dedup": _st_exact_dedup,
    "minhash_dedup": _st_minhash_dedup,
    "lang_gate": _st_lang_gate,
    "sample": _st_sample,
    "mixture": _st_mixture,
    "semdedup": _st_semdedup,
    "embed_dedup": _st_embed_dedup,
}


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="docling-plus-spark curation job")
    p.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text[, lang])")
    p.add_argument("--output", required=True, help="curated parquet dir")
    p.add_argument("--stages", default="gopher,exact_dedup,minhash_dedup",
                   help=f"comma-separated from {sorted(STAGES)}")
    p.add_argument("--sample-rate", type=float, default=0.5)
    p.add_argument("--minhash-threshold", type=float, default=0.7)
    p.add_argument("--mix-weights", default="",
                   help="source=frac,... targets for the mixture stage")
    p.add_argument("--embeddings", default="",
                   help="embeddings parquet (vec_id, embedding) keyed by "
                        "doc_id — required for semdedup/embed_dedup")
    p.add_argument("--keep-langid-mismatch", action="store_true",
                   help="lang_gate drops script_mismatch only (langid "
                        "disagreement is softer evidence)")
    p.add_argument("--semdedup-tau", type=float, default=0.97)
    p.add_argument("--embed-threshold", type=float, default=0.95)
    return p.parse_args(argv)


def run(spark: SparkSession, args: argparse.Namespace) -> int:
    from docling_plus_spark.sources.web_pages import read_split

    names = [s for s in args.stages.split(",") if s]
    unknown = [s for s in names if s not in STAGES]
    if unknown:
        raise SystemExit(f"unknown stages: {unknown}; have {sorted(STAGES)}")

    df = read_split(spark, args.input)
    funnel = [{"stage": "input", "n": df.count()}]
    for s in names:
        df = STAGES[s](df, args)
        # checkpoint between stages: each stage's lineage is one filter
        # chain; truncating keeps the composed job's DAG flat no matter
        # how many stages are requested
        df = df.localCheckpoint()
        funnel.append({"stage": s, "n": df.count()})
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"funnel": funnel, "output": args.output}), flush=True)
    return 0


def main() -> int:
    from docling_plus_spark.plans import build_session

    args = parse_args()
    spark = build_session()
    try:
        return run(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
