"""Watermarked event-time windows: late-data drop + append finality."""

from __future__ import annotations

from datetime import datetime

import pytest

from docling_plus_spark.plans import build_session
from docling_plus_spark.streaming.stream import windowed_event_counts

SCHEMA = "user_id long, ts timestamp, event_id long"


def run_windowed_stream_once(spark, input_path: str, output_path: str,
                             checkpoint_path: str) -> None:
    """Drain available event files through the watermark/window agg in
    append mode (only finalized windows reach the sink)."""
    ev = spark.readStream.schema(SCHEMA).format("parquet").load(input_path)
    out = windowed_event_counts(ev)
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _t(hh: int, mm: int) -> datetime:
    return datetime(2024, 1, 1, hh, mm, 0)


def test_watermark_drops_late_rows_and_finalizes_once(spark, tmp_path):
    src = str(tmp_path / "events")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: two events in the 10:00 window, one at 11:00.
    # watermark after the batch = max(ts) - 30min = 10:30.
    spark.createDataFrame(
        [(1, _t(10, 0), 100), (1, _t(10, 5), 101), (1, _t(11, 0), 102)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_windowed_stream_once(spark, src, sink, ckpt)

    # batch 2: one LATE event at 9:55 (behind the 10:30 watermark —
    # must be dropped, not added to the already-closed 9:50 window),
    # plus a fresh event at 12:30 that advances the watermark to 12:00,
    # finalizing the 10:00 and 11:00 windows.
    spark.createDataFrame(
        [(1, _t(9, 55), 103), (1, _t(12, 30), 104)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_windowed_stream_once(spark, src, sink, ckpt)

    out = {
        (r.win_start, r.user_id): r.n_events
        for r in spark.read.parquet(sink).collect()
    }
    # the late 9:55 row appears nowhere
    assert (_t(9, 50), 1) not in out
    # the on-time windows finalized exactly once with the right counts
    assert out[(_t(10, 0), 1)] == 2
    assert out[(_t(11, 0), 1)] == 1
    # the 12:30 window is still open (watermark 12:00 < its end 12:40)
    assert (_t(12, 30), 1) not in out


def test_windowed_counts_batch_twin(spark):
    """The same expression over a batch frame is the oracle: identical
    grouping, no watermark effects."""
    df = spark.createDataFrame(
        [(1, _t(10, 0), 1), (1, _t(10, 9), 2), (2, _t(10, 11), 3)], SCHEMA
    )
    out = {
        (r.win_start, r.user_id): r.n_events
        for r in windowed_event_counts(df).collect()
    }
    assert out == {(_t(10, 0), 1): 2, (_t(10, 10), 2): 1}
