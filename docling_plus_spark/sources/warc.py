"""WARC (ISO 28500) source — the native Common-Crawl container.

The reference starts at resolved document bytes (docling
datamodel/document.py:441-486 `_DocumentConversionInput`); at crawl
scale those bytes arrive inside WARC files: a sequence of records, each
a WARC header block + HTTP response + payload, individually gzipped
("gzip members") so readers can stream them without decompressing the
whole file. This module is stdlib-only (zlib):

* :func:`warc_record_bytes` / :func:`make_warc` — deterministic writer
  (fixtures, tests, the `warc_extract` oracle query).
* :func:`iter_warc_records` — pure-bytes record parser (gzip-member or
  plain), yielding response records with the HTTP envelope stripped.
* :func:`read_warc` — Spark reader: ``binaryFile`` scan →
  ``mapInPandas`` record split → ``(url, warc_ts, html)`` page rows
  that feed ``plans.pipeline.extract_pipeline`` unchanged.

Scale (100 TB): a Common-Crawl snapshot is ~64k segment files of ~1 GB
each. Gzip members force sequential scan *within* a file, so the unit
of parallelism is the file — 64k tasks, the same granularity every
production WARC processor uses (e.g. commoncrawl/cc-pyspark's
binaryFile/warcio loop). The parser streams member-by-member: peak
memory is one record, not one file. Giant-record protection is the
pipeline's existing size gate (`prepare_pages` MAX_FILE_SIZE), applied
after split so one 2 GB video payload cannot OOM an executor.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from hashlib import md5
from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, "
    "http_status int, mime string, warc_file string"
)


# ---------------------------------------------------------------------------
# Writer


def warc_record_bytes(
    url: str,
    payload: bytes,
    ts: Optional[datetime] = None,
    gzip_member: bool = True,
) -> bytes:
    """One WARC/1.0 ``response`` record of a 200 ``text/html`` response
    (optionally as a gzip member).

    Deterministic: the record id is derived from the url, gzip mtime is
    pinned to 0 — identical inputs give identical bytes on any host.
    """
    ts = ts or datetime(2024, 1, 1, tzinfo=timezone.utc)
    http = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii") + payload
    rid = md5(url.encode("utf-8")).hexdigest()
    header = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid[:8]}-{rid[8:12]}-{rid[12:16]}-"
        f"{rid[16:20]}-{rid[20:32]}>\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii")
    record = header + http + _CRLF + _CRLF
    if not gzip_member:
        return record
    gz = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)  # gzip stream
    return gz.compress(record) + gz.flush()


def make_warc(records: Iterable[tuple], gzip_member: bool = True) -> bytes:
    """Concatenate ``(url, payload_bytes[, ts])`` tuples into one WARC
    file's bytes (per-record gzip members, Common-Crawl layout)."""
    out = bytearray()
    for rec in records:
        url, payload = rec[0], rec[1]
        ts = rec[2] if len(rec) > 2 else None
        out += warc_record_bytes(url, payload, ts=ts, gzip_member=gzip_member)
    return bytes(out)


# ---------------------------------------------------------------------------
# Parser


def _split_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress concatenated gzip members one at a time (streaming:
    peak memory is one member)."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        chunk = d.decompress(data[pos:])
        yield chunk + d.flush()
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # corrupt trailer: stop rather than spin
            return
        pos += consumed


def _parse_plain(data: bytes, want: bytes = b"response") -> Iterator[dict]:
    pos = 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = data.find(_CRLF + _CRLF, start)
        if head_end < 0:
            return
        headers = _split_headers(data[start:head_end])
        try:
            clen = int(headers.get(b"content-length", b"0"))
        except ValueError:
            clen = 0
        body = data[head_end + 4 : head_end + 4 + clen]
        pos = head_end + 4 + clen
        rec = _record_from(headers, body, want)
        if rec is not None:
            yield rec


def _record_from(
    headers: dict, body: bytes, want: bytes = b"response"
) -> Optional[dict]:
    if headers.get(b"warc-type") != want:
        return None
    url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
    date = headers.get(b"warc-date", b"").decode("ascii", "replace")
    try:
        ts = datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        ts = None
    status, mime, payload = 0, "", body
    if headers.get(b"content-type", b"").startswith(b"application/http"):
        http_end = body.find(_CRLF + _CRLF)
        if http_end >= 0:
            http_headers = body[:http_end]
            payload = body[http_end + 4 :]
            first, _, rest = http_headers.partition(_CRLF)
            parts = first.split(b" ")
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            mime = (
                _split_headers(rest).get(b"content-type", b"")
                .decode("ascii", "replace")
            )
    return {
        "url": url,
        "warc_ts": ts,
        "html": payload,
        "http_status": status,
        "mime": mime,
    }


def iter_warc_records(
    data: bytes, record_type: str = "response"
) -> Iterator[dict]:
    """Yield records of ``record_type`` from WARC bytes (gzip-member or
    plain concatenation); ``response`` records get the HTTP envelope
    stripped, ``conversion`` (WET) records carry their text payload
    as-is. Malformed trailing garbage ends iteration instead of
    raising — at crawl scale truncated segments are routine and must
    not fail the task."""
    want = record_type.encode("ascii")
    if data[:2] == _GZIP_MAGIC:
        for member in _gzip_members(data):
            yield from _parse_plain(member, want)
    else:
        yield from _parse_plain(data, want)


# ---------------------------------------------------------------------------
# Spark reader


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → page rows ``(url, warc_ts, html, http_status, mime,
    warc_file)``.

    ``binaryFile`` scan (one task per file — see module scale note) →
    Arrow-batched ``mapInPandas`` record split. No shuffle; downstream
    skew handling is `extract_pipeline`'s salted scatter.
    """
    files = spark.read.format("binaryFile").load(path)

    def _split(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in iter_warc_records(bytes(content)):
                    rec["warc_file"] = fpath
                    rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "http_status", "mime", "warc_file"
                ],
            )

    return files.select("path", "content").mapInPandas(_split, PAGE_SCHEMA)


def warc_roundtrip_pages(pages: DataFrame) -> DataFrame:
    """Page rows → WARC blobs (one gzip-member file per url-hash group,
    8 groups, the deterministic writer) → parsed back to page rows.

    The container-validation path behind the `warc_extract` oracle
    query: proves write → member-gzip → split → HTTP-strip is an exact
    round trip with both sides running distributed. Group count stands
    in for segment-file count; records inside a group are url-sorted so
    the blob bytes are deterministic under any input partitioning.
    """
    from pyspark.sql import functions as F

    def _build(pdf):
        import pandas as pd

        pdf = pdf.sort_values("url")
        blob = make_warc(
            (u, bytes(h)) for u, h in zip(pdf["url"], pdf["html"])
        )
        return pd.DataFrame({"warc": [blob]})

    blobs = (
        pages.select("url", "html")
        .groupBy(F.pmod(F.xxhash64("url"), F.lit(8)).alias("g"))
        .applyInPandas(lambda _k, pdf: _build(pdf), "warc binary")
    )

    def _split(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["warc"]:
                rows.extend(iter_warc_records(bytes(blob)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "http_status", "mime"]
            )

    return blobs.mapInPandas(
        _split,
        "url string, warc_ts timestamp, html binary, http_status int, mime string",
    )


# ---------------------------------------------------------------------------
# WET sink (conversion records — the extracted-text sibling of WARC)


def to_wet(df: DataFrame) -> DataFrame:
    """Extraction output → per-document WET ``conversion`` record bytes
    ``(url, wet)`` — the format Common Crawl publishes extracted text
    in, consumable by any WET reader unchanged.

    Pure JVM string concat over the row (no Python, no shuffle): the
    record is a WARC/1.0 header (type conversion, deterministic date,
    url-derived record id — same scheme as :func:`warc_record_bytes`)
    plus the utf-8 text payload. Concatenate the ``wet`` column per
    output file partition to get valid ``.warc.wet`` bytes.
    """
    url = F.col("url")
    text = F.coalesce(F.col("text"), F.lit(""))
    rid = F.md5(url)
    crlf = F.lit("\r\n")
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        url,
        crlf,
        F.lit("WARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:"),
        F.substring(rid, 1, 8), F.lit("-"),
        F.substring(rid, 9, 4), F.lit("-"),
        F.substring(rid, 13, 4), F.lit("-"),
        F.substring(rid, 17, 4), F.lit("-"),
        F.substring(rid, 21, 12),
        F.lit(">\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(text).cast("string"),
        F.lit("\r\n\r\n"),
        text,
        F.lit("\r\n\r\n"),
    )
    return df.select(url.alias("url"), rec.cast("binary").alias("wet"))
