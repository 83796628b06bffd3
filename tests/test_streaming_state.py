"""Custom stateful streaming operator (applyInPandasWithState):
cross-batch first-seen dedup keyed on doc_hash (SURVEY §2.8 custom
stateful op; batch twin = operators/dedup.exact_dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_plus_spark.plans import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_dedup_stream_first_seen_across_batches(spark, tmp_path):
    """Batch 1 carries hashes A,B; batch 2 carries B,C: the streaming
    output must be exactly A,B,C with B emitted once (state persisted
    across micro-batches)."""
    from docling_plus_spark.streaming.stream import dedup_stream

    inp = tmp_path / "in"
    inp.mkdir()
    schema = "doc_hash string, url string"
    batch1 = spark.createDataFrame(
        [("A", "u1"), ("B", "u2"), ("A", "u1b")], schema
    )
    batch2 = spark.createDataFrame(
        [("B", "u3"), ("C", "u4")], schema
    )
    batch1.coalesce(1).write.parquet(str(inp / "b1"))
    batch2.coalesce(1).write.parquet(str(inp / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(inp / "*"))
    )
    out = dedup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_stream_test").collect()
    keys = sorted(r.key for r in rows)
    assert keys == ["A", "B", "C"]


def test_dedup_stream_restart_resumes_state(spark, tmp_path):
    """After a drain, newly arrived files with already-seen hashes emit
    nothing — the state store survives the restart via the checkpoint."""
    from docling_plus_spark.streaming.stream import dedup_stream

    inp = tmp_path / "in"
    inp.mkdir()
    schema = "doc_hash string, url string"
    spark.createDataFrame([("X", "u1")], schema).coalesce(1).write.parquet(
        str(inp / "b1")
    )

    outp = tmp_path / "out"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(inp / "*"))
        )
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(outp))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert [r.key for r in spark.read.parquet(str(outp)).collect()] == ["X"]

    # second run: a duplicate X and a fresh Y arrive
    spark.createDataFrame(
        [("X", "u2"), ("Y", "u3")], schema
    ).coalesce(1).write.parquet(str(inp / "b2"))
    drain()
    got = sorted(r.key for r in spark.read.parquet(str(outp)).collect())
    assert got == ["X", "Y"]  # only Y added; X suppressed by restored state
