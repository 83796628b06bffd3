"""Structured Streaming wrapper for the extraction pipeline (SURVEY §2.8).

The reference is batch-only; its bounded-queue staged pipeline
(standard_pdf_pipeline.py:103-311) maps to two Spark modes:

* **Incremental batch** (plans/incremental.py) — snapshot-committed epochs
  with anti-join resume. This is the production mode for crawl refreshes:
  Iceberg-metadata-sized state, exactly-once via atomic manifest commit.
* **Structured Streaming** (this module) — a file-source stream over the
  same pages table: new parquet files under the input path are discovered,
  extracted with the *identical* stage (mapInPandas works unchanged on
  streaming DataFrames — the pipeline is stateless per row, so no
  watermarks are needed), and appended to the sink with checkpointed
  progress. ``Trigger.AvailableNow`` drains the backlog and stops —
  batch/stream parity on the same code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_plus_spark.plans.pipeline import extract_pipeline
from docling_plus_spark.sources.web_pages import WEB_PAGES_SCHEMA


def run_stream_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> None:
    """readStream over a pages-table directory → EXTRACT rows: drain all
    available input once (Trigger.AvailableNow) and stop.

    Restart-safe: the checkpoint records consumed files, so re-running
    only processes newly arrived ones — the streaming twin of the
    snapshot anti-join resume.
    """
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .format("parquet")
        .load(input_path)
    )
    out = extract_pipeline(pages)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(pages: DataFrame, key_col: str = "doc_hash") -> DataFrame:
    """Custom stateful streaming operator: cross-batch first-seen dedup.

    ``applyInPandasWithState`` keyed on the document hash — per-key state
    is one boolean ("seen"), so state size is O(distinct keys) and each
    micro-batch emits only documents whose hash has never been seen in
    any earlier batch (exactly the semantics a continuous crawl-ingest
    dedup needs; the batch twin is operators/dedup.exact_dedup).

    State-store scale note: keys are fixed-width hashes; at 10^12 docs the
    state is RocksDB-backed and partitioned by the same hash — no skew,
    no growth beyond distinct-key count. A production deployment would
    add a TTL via GroupStateTimeout.EventTimeTimeout to bound it.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "key string, url string"

    def fn(key, pdfs, state):
        import pandas as pd

        if not state.exists:
            first = None
            for pdf in pdfs:
                if first is None and len(pdf):
                    first = pd.DataFrame(
                        {"key": [key[0]], "url": [pdf["url"].iloc[0]]}
                    )
            state.update((True,))
            if first is not None:
                yield first
        else:
            for _ in pdfs:  # drain the iterator; nothing new to emit
                pass

    keyed = pages.select(F.col(key_col).alias("key"), "url").groupBy("key")
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Event-time counts per ``user_id`` over ``ts``: 10-minute tumbling
    windows, 30-minute watermark.

    The streaming-correctness triple this encodes:

    * **bounded state** — the watermark lets Spark drop window state
      once event time passes ``window_end + watermark``; without it a
      10^12-event stream accumulates state forever;
    * **late-data policy** — rows later than the watermark are dropped
      (never partially double-counted);
    * **append-mode finality** — a window is emitted exactly once, when
      it can no longer change.

    Works identically over a batch DataFrame (watermark is a no-op
    there), so the batch twin is the correctness oracle for the
    streaming run — asserted in tests/test_streaming_window.py.
    """
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window(F.col("ts"), "10 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("user_id"),
            F.col("n_events"),
        )
    )


def session_event_counts(events: DataFrame) -> DataFrame:
    """Streaming sessionization with Spark's native ``session_window``
    (merge-on-overlap gap windows) — the stateful-streaming twin of the
    batch lag/cumsum sessionize query. Sessions of ``user_id`` over
    ``ts``: 30-minute gap, 1-minute watermark.

    Semantics (full timestamp precision): an event extends its user's
    open session iff it arrives at or before ``last_event + gap`` — the
    boundary is INCLUSIVE (an event exactly at ``last_event + gap``
    merges), matching Spark's session_window merge rule, the batch
    oracle's ``diff > 1800`` new-session predicate, and
    test_session_window_gap_boundary_semantics;
    ``session_end = last_event + gap``. State is per (user, open
    session) and is dropped when the watermark passes the session end —
    bounded exactly like the tumbling-window agg in
    :func:`windowed_event_counts`, and at 10^12 events it shards on
    ``user_id`` with RocksDB state exactly like :func:`dedup_stream`.
    """
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.col("user_id"), sw.alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("double").alias("session_start"),
            F.col("sw.end").cast("double").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def run_session_stream_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> None:
    """Drain ``(user_id, ts, event_id)`` event files, one per trigger,
    through the session aggregation (append mode: a session reaches the
    sink only once the watermark proves it can no longer grow). A caller
    that needs ALL sessions of a bounded input flushed appends one
    far-future sentinel event in a later file: the no-data finalization
    batch then closes every real session."""
    ev = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(input_path)
    )
    out = session_event_counts(ev)
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
