"""Runtime single-execution discipline for heavy lineages.

Static `.explain` shape checks can't see this class of regression:
Spark's ReuseExchange often does NOT survive optimization when a
grouping-key filter pushes below a shared aggregate, or when a
prepared table feeds both sides of a self-join — the expensive
explode/md5 lineage then silently re-executes per consumer (observed
pre-fix: dsir_weights re-scanned the corpus 4×, winnowing re-ran its
fingerprint transform 6×). At 100 TB each re-execution is a full
corpus read.

These tests EXECUTE each operator at sf0.001 and assert on the final
adaptive plan: at most `max_scans` FileScans of source parquet and at
most `max_generates` explode nodes survive — the heavy lineage must
have been pinned (eager localCheckpoint) so it ran exactly once.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as e
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


# (query, max FileScans of source parquet in final plan, max Generates)
BOUNDS = [
    ("dsir_weights", 0, 0),          # corpus read once into the checkpoint
    ("char_lm_score", 0, 0),
    ("winnow_pairs", 0, 0),
    ("winnow_dedup", 1, 0),
    ("minhash_candidates", 0, 0),
    ("minhash_incremental", 1, 1),
    ("simhash_near", 0, 2),          # block explode over pinned (id, sim)
    ("sentence_dedup", 1, 0),        # final text slice re-reads the docs
    ("ccnet_buckets", 1, 0),
    ("semdedup", 0, 0),              # base + final assignment pinned
    ("ivfpq_topk", 0, 2),            # base + subvector split pinned
    ("ann_recall", 0, 0),            # brute truth + ivf internals pinned
    ("ann_topk_ivf", 0, 0),          # base + ranked assignment pinned
    ("image_dhash_near", 0, 0),      # bucket_pairs pins the decoded bands
    ("ann_topk_bucketed", 0, 0),     # bucket_pairs pins the LSH-keyed vectors
    ("embedding_near_dup", 0, 0),
]


@pytest.mark.parametrize("name,max_scans,max_generates", BOUNDS)
def test_final_plan_is_single_execution(spark, name, max_scans, max_generates):
    df = e.queries()[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"FileScan parquet", final))
    gens = final.count("Generate ")
    assert scans <= max_scans, (
        f"{name}: {scans} parquet scans in the executed plan "
        f"(> {max_scans}) — a shared heavy lineage is re-executing"
    )
    assert gens <= max_generates, (
        f"{name}: {gens} Generate nodes in the executed plan "
        f"(> {max_generates}) — an explode re-executed past its pin"
    )
