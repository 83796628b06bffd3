"""Resumable incremental-batch execution (north rule: checkpoint resume).

The reference is batch-only (SURVEY.md §2.8); its staged-queue machinery
maps not to Structured Streaming but to snapshot-based incremental batch:

    epoch := anti-join input against committed output → extract →
             stage both tables → commit metrics → commit results

The **results manifest is the sole completion point**: resume anti-joins
on committed results, so a crash anywhere before that final manifest
rename leaves the epoch uncommitted and it is simply redone. Metrics are
committed immediately before results (with replace-epoch semantics), so
the redo supersedes any orphan metrics entry — lineage is never lost and
never double-counted. A killed job resumes from the last committed
snapshot with zero re-processing and zero loss.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from docling_plus_spark.sources.snapshot import SnapshotTable

from .pipeline import extract_pipeline, lineage_metrics


def run_epoch(
    pages: DataFrame,
    results: SnapshotTable,
    metrics: SnapshotTable,
    num_partitions: Optional[int] = None,
    limit: Optional[int] = None,
    include: tuple = (),
) -> dict:
    """Process all (or ``limit``) not-yet-committed pages as one epoch.

    ``num_partitions`` (skew scatter width) and ``include`` (optional
    surfaces) pass through to :func:`extract_pipeline`. The output
    snapshot is total over processed urls (failures included as status
    rows), so `done = distinct(url in results)` is exact. Returns a
    summary dict: {"epoch": int, "processed": int, "remaining_before": int}.
    """
    done = results.done_keys("url")
    todo = pages
    if done is not None:
        # left_anti on url: at cluster scale `done` is Iceberg-metadata
        # backed; here a parquet-side distinct. Broadcast chosen by AQE.
        todo = pages.join(done, "url", "left_anti")
    if limit is not None:
        todo = todo.limit(limit)
    todo = todo.cache()
    try:
        n_todo = todo.count()
        if n_todo == 0:
            return {"epoch": results.last_epoch, "processed": 0, "remaining_before": 0}
        epoch = results.last_epoch + 1
        out = extract_pipeline(todo, num_partitions=num_partitions, include=include).cache()
        try:
            processed = out.count()
            # stage both, then commit metrics, then commit results: the
            # results commit is the epoch's single atomic completion point
            m_part = metrics.stage(lineage_metrics(out, epoch=epoch), epoch)
            r_part = results.stage(out, epoch)
            metrics.commit(m_part, epoch, replace_epoch=True)
            results.commit(r_part, epoch, extra={"docs": processed})
        finally:
            out.unpersist()
        return {"epoch": epoch, "processed": processed, "remaining_before": n_todo}
    finally:
        todo.unpersist()
