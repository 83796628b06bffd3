"""WARC container source: writer/parser round trip, Spark reader,
end-to-end extraction (sources/warc.py)."""

from datetime import datetime, timezone
from hashlib import sha256

import pytest

from docling_plus_spark.plans import build_session
from docling_plus_spark.sources.warc import (
    iter_warc_records,
    make_warc,
    read_warc,
    warc_record_bytes,
    warc_roundtrip_pages,
)


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _recs(n, prefix="https://x.test/"):
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    return [(f"{prefix}{i}", f"<html><body><h1>T</h1><p>doc {i}</p></body></html>".encode(), ts) for i in range(n)]


def test_roundtrip_gzip_and_plain():
    recs = _recs(7)
    for gz in (True, False):
        out = list(iter_warc_records(make_warc(recs, gzip_member=gz)))
        assert [(r["url"], r["html"]) for r in out] == [(u, p) for u, p, _ in recs]
        assert all(r["http_status"] == 200 and r["mime"] == "text/html" for r in out)
        assert out[0]["warc_ts"] == datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_writer_deterministic():
    recs = _recs(3)
    assert make_warc(recs) == make_warc(recs)


def test_non_response_records_skipped():
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://x.test/0\r\n"
        b"Content-Length: 4\r\n\r\nGET /\r\n\r\n"
    )
    blob = req + make_warc(_recs(2), gzip_member=False)
    assert [r["url"] for r in iter_warc_records(blob)] == [
        "https://x.test/0", "https://x.test/1",
    ]


def test_truncated_tail_does_not_raise():
    blob = make_warc(_recs(4))
    for cut in (len(blob) - 5, len(blob) // 2, 3, 0):
        assert len(list(iter_warc_records(blob[:cut]))) <= 4


def test_read_warc_spark(tmp_path, spark):
    # two segment files, one gzip-membered, one plain
    (tmp_path / "seg-0.warc.gz").write_bytes(make_warc(_recs(5)))
    (tmp_path / "seg-1.warc").write_bytes(
        make_warc(_recs(3, "https://y.test/"), gzip_member=False)
    )
    df = read_warc(spark, str(tmp_path) + "/*")
    rows = {r.url: r for r in df.collect()}
    assert len(rows) == 8
    assert bytes(rows["https://y.test/2"].html).endswith(b"</html>")
    assert rows["https://x.test/4"].http_status == 200
    assert rows["https://x.test/0"].warc_file.endswith("seg-0.warc.gz")


def test_warc_to_extraction_end_to_end(tmp_path, spark):
    from docling_plus_spark.plans.pipeline import extract_pipeline

    (tmp_path / "seg.warc.gz").write_bytes(make_warc(_recs(6)))
    out = extract_pipeline(read_warc(spark, str(tmp_path) + "/*"))
    got = {r.url: r for r in out.collect()}
    assert all(r.status == "success" for r in got.values())
    assert got["https://x.test/3"].text == "T\ndoc 3"


def test_warc_roundtrip_pages_distributed(spark):
    from docling_plus_spark.sources.web_pages import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, "/root/testdata/sf0.001")
    rt = warc_roundtrip_pages(pages.select("url", "warc_ts", "html"))
    orig = {r.url: bytes(r.html) for r in pages.select("url", "html").collect()}
    back = {r.url: bytes(r.html) for r in rt.collect()}
    assert back == orig  # byte-exact payloads through the container


def test_single_record_helper():
    rec = warc_record_bytes("https://x.test/solo", b"<p>x</p>", gzip_member=False)
    [out] = list(iter_warc_records(rec))
    assert out["url"] == "https://x.test/solo" and out["html"] == b"<p>x</p>"


def make_warc_index(records) -> tuple:
    """Like :func:`make_warc`, but also return CDX-style index entries
    ``(url, offset, length, sha256_hex)`` — offset/length of each
    record's (gzip-member) byte span inside the file, digest over the
    *payload*. The span is independently decompressible (that is the
    point of member-gzip), so a reader can fetch one record from a
    100 TB crawl with a single ranged read — the access pattern CDX
    servers exist for."""
    out = bytearray()
    entries = []
    for url, payload, ts in records:
        b = warc_record_bytes(url, payload, ts=ts)
        entries.append((url, len(out), len(b), sha256(payload).hexdigest()))
        out += b
    return bytes(out), entries


def test_cdx_index_random_access():
    recs = _recs(9)
    blob, entries = make_warc_index(recs)
    assert blob == make_warc(recs)  # index variant is byte-identical
    assert [e[0] for e in entries] == [u for u, _, _ in recs]
    # each (offset, length) span is independently decompressible: the
    # single-ranged-read access pattern CDX exists for
    for (url, off, ln, digest), (_, payload, _) in zip(entries, recs):
        [rec] = list(iter_warc_records(blob[off : off + ln]))
        assert rec["url"] == url and rec["html"] == payload
        assert digest == sha256(payload).hexdigest()
    assert entries[-1][1] + entries[-1][2] == len(blob)


def test_wet_record_roundtrip(spark):
    from docling_plus_spark.sources.warc import to_wet

    df = spark.createDataFrame(
        [("https://x.test/a", "line one\nline two"), ("https://x.test/b", "")],
        "url string, text string",
    )
    rows = {r.url: bytes(r.wet) for r in to_wet(df).collect()}
    # parses back as a conversion record with the exact text payload
    [rec] = list(iter_warc_records(rows["https://x.test/a"], "conversion"))
    assert rec["url"] == "https://x.test/a"
    assert rec["html"] == b"line one\nline two"
    # a concatenation of records is a valid WET file
    wet_file = rows["https://x.test/a"] + rows["https://x.test/b"]
    got = list(iter_warc_records(wet_file, "conversion"))
    assert [r["url"] for r in got] == ["https://x.test/a", "https://x.test/b"]
    # response-mode iteration ignores conversion records entirely
    assert list(iter_warc_records(wet_file)) == []


def test_wet_content_length_utf8(spark):
    from docling_plus_spark.sources.warc import to_wet

    df = spark.createDataFrame(
        [("https://x.test/u", "café — naïve")],
        "url string, text string",
    )
    [r] = to_wet(df).collect()
    [rec] = list(iter_warc_records(bytes(r.wet), "conversion"))
    assert rec["html"].decode("utf-8") == "café — naïve"
