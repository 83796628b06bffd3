"""Spark-layer tests: pipeline totality, golden identity through Spark,
snapshot commit/resume, lineage metrics, skew repartition."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from docling_plus_spark.plans import (
    build_session,
    extract_pipeline,
    lineage_metrics,
    run_epoch,
)
from docling_plus_spark.sources import (
    SnapshotTable,
    fixture_corpus_df,
    synth_pages_from_documents,
)

SF = "/root/testdata/sf0.001"
GOLD = "/root/reference/docling/tests/data/groundtruth/docling_v2"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def fixture_out(spark):
    pages = fixture_corpus_df(spark, replicate=1)
    return {r["url"]: r for r in extract_pipeline(pages, num_partitions=4).collect()}


def test_pipeline_total_over_input(spark, fixture_out):
    # every input url accounted for exactly once
    pages = fixture_corpus_df(spark, replicate=1)
    assert len(fixture_out) == pages.count()


def test_golden_md_itxt_through_spark(fixture_out):
    checked = 0
    for url, row in fixture_out.items():
        name = url.rsplit("/", 1)[-1].split("?")[0]
        md_path = os.path.join(GOLD, f"{name}.md")
        if row["status"] != "success" or not os.path.exists(md_path):
            continue
        assert row["md"] == open(md_path).read(), f"md mismatch: {name}"
        itxt_path = os.path.join(GOLD, f"{name}.itxt")
        if os.path.exists(itxt_path):
            assert row["itxt"] == open(itxt_path).read(), f"itxt mismatch: {name}"
        checked += 1
    assert checked >= 25


def test_failure_rows_not_exceptions(spark):
    rows = [
        ("https://x.test/a.html", None, b"\xff\xfe garbage \x00\x01" * 100, "", "en"),
        ("https://x.test/b.html", None, b"", "", "en"),
        ("https://x.test/c.html", None, b"<html><p>fine</p></html>", "", "en"),
        ("https://x.test/d.bin", None, b"%PDF-1.7 not html", "", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: r for r in extract_pipeline(df).collect()}
    assert len(out) == 4
    assert out["https://x.test/c.html"]["status"] == "success"
    assert out["https://x.test/b.html"]["failure_class"] == "invalid_input"
    # pdf routes to the stdlib pdf-bytes backend since round 3; a bare
    # header with no xref is a classified parse failure
    assert out["https://x.test/d.bin"]["failure_class"] == "needs_native_parser"
    # garbage bytes: conversion is lenient, must not raise either way
    assert out["https://x.test/a.html"]["status"] in ("success", "failure")


def test_unknown_surface_rejected_at_plan_time(spark):
    df = spark.createDataFrame([("u", bytearray(b"<p>x</p>"))], "url string, html binary")
    with pytest.raises(ValueError, match="jsn"):
        extract_pipeline(df, include=("jsn",))


def test_extract_frames_cut_by_input_bytes(monkeypatch):
    """A batch is cut into output frames by input bytes; the rows, in
    input order and reject rows included, do not depend on the cut."""
    import pandas as pd

    from docling_plus_spark.operators import extract

    html = [b"<h1>Doc %d</h1><p>%s</p>" % (i, b"words " * 8 * i) for i in range(6)]
    batch = pd.DataFrame({
        "url": [f"https://x.test/{i}.html" for i in range(6)],
        "html": html,
        "doc_hash": [f"h{i}" for i in range(6)],
        "format": ["html"] * 6,
        "nbytes": [len(b) for b in html],
        "_reject_reason": [None, None, "invalid_input", None, None, None],
    })

    def run():
        frames = list(extract.extract_batches(())(iter([batch])))
        return frames, pd.concat(frames, ignore_index=True).drop(columns="extract_ms")

    one_frame, whole = run()
    monkeypatch.setattr(extract, "_MAX_FRAME_BYTES", 100)
    frames, cut = run()
    assert len(one_frame) == 1 and len(frames) > 2
    pd.testing.assert_frame_equal(cut, whole)
    assert whole["url"].tolist() == batch["url"].tolist()
    assert whole["status"].tolist() == ["success"] * 2 + ["failure"] + ["success"] * 3
    assert whole["failure_class"][2] == "invalid_input"


def test_synth_corpus_expected_text(spark):
    pages = synth_pages_from_documents(spark, SF)
    out = extract_pipeline(pages)
    joined = out.join(
        pages.select("url", F.col("text").alias("orig")), "url"
    ).withColumn(
        "expected",
        F.concat(
            F.lit("Doc "),
            F.regexp_extract("url", r"(\d+)$", 1),
            F.lit("\n"),
            F.col("orig"),
        ),
    )
    assert joined.filter(F.col("text") != F.col("expected")).count() == 0


def test_lineage_metrics_cover_all_docs(spark):
    pages = synth_pages_from_documents(spark, SF)
    out = extract_pipeline(pages, num_partitions=4)
    m = lineage_metrics(out, epoch=7)
    agg = m.agg(F.sum("docs").alias("d"), F.min("epoch").alias("e")).first()
    assert agg["d"] == pages.count()
    assert agg["e"] == 7


def test_skew_repartition_levels_bytes(spark):
    from docling_plus_spark.operators.extract import skew_repartition

    pages = fixture_corpus_df(spark, replicate=32)
    df = skew_repartition(pages, 8)
    sizes = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(F.length("html")).alias("b"))
        .collect()
    )
    assert len(sizes) == 8  # every partition non-empty
    total = sum(r["b"] for r in sizes)
    # wiki_duck is ~70% of corpus bytes; a hot-spotted partition would hold
    # most of them. Salted scatter must keep the max well under that.
    assert max(r["b"] for r in sizes) < 0.35 * total


def test_snapshot_resume(spark, tmp_path):
    results = SnapshotTable(spark, str(tmp_path / "results"))
    metrics = SnapshotTable(spark, str(tmp_path / "metrics"))
    pages = synth_pages_from_documents(spark, SF).cache()
    n = pages.count()
    assert n > 10

    r1 = run_epoch(pages, results, metrics, limit=10)
    assert r1["processed"] == 10 and r1["epoch"] == 0
    r2 = run_epoch(pages, results, metrics)
    assert r2["processed"] == n - 10 and r2["epoch"] == 1
    r3 = run_epoch(pages, results, metrics)
    assert r3["processed"] == 0  # idempotent: nothing left

    committed = results.read()
    assert committed.select("url").distinct().count() == n
    assert metrics.read().agg(F.sum("docs")).first()[0] == n
    pages.unpersist()


def test_mixed_format_sniff_extension_fallback(spark):
    # example_05.html has no <html>/<head>/<body> tag — content sniff is
    # inconclusive, the url extension must rescue it (reference behavior:
    # extension map document.py:586-610)
    f = glob.glob("/root/reference/docling/tests/data/html/example_05.html")[0]
    df = spark.createDataFrame(
        [("https://x.test/example_05.html", None, open(f, "rb").read(), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    row = extract_pipeline(df).first()
    assert row["format"] == "html" and row["status"] == "success"


def test_epoch_commit_is_atomic_and_metrics_never_double_count(spark, tmp_path):
    """Crash between the metrics commit and the results commit must not
    lose or double-count lineage: the redo replaces the orphan metrics
    entry, and the epoch is reprocessed because results never committed."""
    from docling_plus_spark.plans.incremental import run_epoch
    from docling_plus_spark.plans.pipeline import lineage_metrics, extract_pipeline
    from docling_plus_spark.sources.snapshot import SnapshotTable
    from docling_plus_spark.sources.web_pages import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, "/root/testdata/sf0.001").limit(20)
    results = SnapshotTable(spark, str(tmp_path / "res"))
    metrics = SnapshotTable(spark, str(tmp_path / "met"))

    # simulate the crash window: stage+commit metrics for epoch 0, then die
    out = extract_pipeline(pages)
    m_part = metrics.stage(lineage_metrics(out, epoch=0), 0)
    metrics.commit(m_part, 0, replace_epoch=True)
    assert metrics.last_epoch == 0 and results.last_epoch == -1

    # resume: epoch is redone (results never committed), metrics replaced
    summary = run_epoch(pages, results, metrics)
    assert summary["epoch"] == 0
    assert summary["processed"] == 20
    m = metrics.manifest()["epochs"]
    assert [e["epoch"] for e in m] == [0]  # exactly one entry — no dup
    # and a second epoch run is a no-op
    summary2 = run_epoch(pages, results, metrics)
    assert summary2["processed"] == 0


def test_audio_rows_classified_needs_asr(spark):
    """InputFormat.AUDIO analog: WAV/MP3/FLAC/OGG/M4A bytes sniff to
    'audio' and classify needs_asr (the reference routes AUDIO to an
    ASR pipeline, pipeline/asr_pipeline.py; none exists here) — present
    in the output, never unsupported_format, never dropped. A RIFF
    container must still disambiguate WAVE (audio) from WEBP (image)."""
    from docling_plus_spark.functions.expressions import sniff_format
    from docling_plus_spark.operators.media_codecs import make_wav
    from docling_plus_spark.plans import extract_pipeline

    rows = [
        ("https://x/a.wav", bytearray(make_wav(3))),
        ("https://x/a.mp3", bytearray(b"ID3\x04\x00\x00" + b"\x00" * 64)),
        ("https://x/a.flac", bytearray(b"fLaC" + b"\x00" * 64)),
        ("https://x/a.ogg", bytearray(b"OggS" + b"\x00" * 64)),
        ("https://x/a.m4a", bytearray(b"\x00\x00\x00\x20ftypM4A " + b"\x00" * 32)),
        ("https://x/p.webp", bytearray(b"RIFF\x10\x00\x00\x00WEBP" + b"\x00" * 32)),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    sniffed = {
        r.url: r.fmt
        for r in df.select(
            "url", sniff_format(F.col("html"), F.col("url")).alias("fmt")
        ).collect()
    }
    for u, fmt in sniffed.items():
        if "webp" in u:
            assert fmt == "image", (u, fmt)
        else:
            assert fmt == "audio", (u, fmt)

    out = {r.url: r for r in extract_pipeline(df).collect()}
    assert len(out) == 6
    for u, r in out.items():
        expected = "needs_ocr" if "webp" in u else "needs_asr"
        assert r.status == "failure" and r.failure_class == expected, u


def test_image_rows_classified_needs_ocr(spark):
    """S8: raster content is detected by raw-byte magic (the UTF-8 head
    is NULL for it) and classified needs_ocr — present in the output,
    never silently dropped and never 'unsupported_format'."""
    from docling_plus_spark.functions.expressions import sniff_format
    from docling_plus_spark.operators.media_codecs import make_bmp
    from docling_plus_spark.plans import extract_pipeline

    rows = [
        ("https://x/p.png", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)),
        ("https://x/p.jpg", bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 64)),
        ("https://x/p.gif", bytearray(b"GIF89a" + b"\x00" * 64)),
        ("https://x/p.bmp", bytearray(make_bmp(2))),
        ("https://x/p.webp", bytearray(b"RIFF\x10\x00\x00\x00WEBP" + b"\x00" * 32)),
        # text that merely STARTS with 'BM' must stay text/html
        ("https://x/bmw.txt", bytearray(b"BMW builds cars and motorcycles.")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    sniffed = {
        r.url: r.fmt
        for r in df.select(
            "url", sniff_format(F.col("html"), F.col("url")).alias("fmt")
        ).collect()
    }
    for u in list(sniffed)[:5]:
        if "bmw" not in u:
            assert sniffed[u] == "image", (u, sniffed[u])
    assert sniffed["https://x/bmw.txt"] != "image"

    out = {r.url: r for r in extract_pipeline(df).collect()}
    assert len(out) == 6  # total over input
    for u, r in out.items():
        if "bmw" in u:
            # not misrouted to the image path (plain text is gated by
            # the default formats tuple, a separate policy)
            assert r.failure_class != "needs_ocr"
        else:
            assert r.status == "failure" and r.failure_class == "needs_ocr", u
