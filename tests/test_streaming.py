"""Structured Streaming tests: drain-once semantics, checkpoint resume."""

from __future__ import annotations

import os

import pytest
from conftest import web_pages_df
from pyspark.sql import functions as F

from docling_plus_spark.plans import build_session
from docling_plus_spark.streaming import run_stream_once


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_stream_drains_and_resumes(spark, tmp_path):
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = web_pages_df(spark, 27)
    n1 = first.count()
    first.write.mode("append").parquet(inp)

    run_stream_once(spark, inp, outp, ckpt)
    got1 = spark.read.parquet(outp)
    assert got1.count() == n1
    assert got1.filter(F.col("status") == "success").count() > 0.9 * n1

    # new files arrive; a re-run processes ONLY them (checkpoint resume)
    second = web_pages_df(spark, 27, seed=1, rep=1)
    n2 = second.count()
    assert n2 > 0
    second.write.mode("append").parquet(inp)

    run_stream_once(spark, inp, outp, ckpt)
    got2 = spark.read.parquet(outp)
    assert got2.count() == n1 + n2
    # no duplicates: every url exactly once
    assert got2.select("url").distinct().count() == n1 + n2
    assert os.path.isdir(ckpt)


def test_session_window_gap_boundary_semantics(spark):
    """An event exactly at last_ts + gap MERGES into the session (Spark
    treats the session end as inclusive for the next event); one
    microsecond past it starts a new session. Pins the semantics the
    streaming_sessionize oracle encodes as diff > 1800."""
    import datetime as dt

    from docling_plus_spark.streaming.stream import session_event_counts

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1),
        (1, t0 + dt.timedelta(seconds=1800, microseconds=1), 2),  # past gap: new
        (2, t0, 3),
        (2, t0 + dt.timedelta(seconds=1800), 4),  # exactly at gap: MERGES
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    # session_window works identically on static frames (no watermark path)
    out = (
        ev.groupBy("user_id", __import__("pyspark.sql.functions", fromlist=["session_window"]).session_window("ts", "30 minutes").alias("sw"))
        .count()
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["count"])
    assert sorted(per_user[1]) == [1, 1]  # two sessions
    assert per_user[2] == [2]  # one merged session
    # and the streaming wrapper's projection shape
    sdf = session_event_counts(ev)
    assert sdf.columns == ["user_id", "session_start", "session_end", "n_events"]
