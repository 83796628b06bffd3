"""METS-GBS (Google Books tarballs) → pages / DLDocument (SURVEY §2.1 S9).

Behavior-parity reimplementation of the reference MetsGbsDocumentBackend
(docling/docling/backend/mets_gbs_backend.py:198-399) with stdlib
``tarfile`` + ``xml.etree`` + ``html.parser``: the METS manifest
(PROFILE="gbs") maps page divs (ORDER) to their coordOCR hOCR files; per
page, ``ocr_page`` supplies the page size and ``ocr_line`` spans supply
text-line cells with hOCR ``bbox``/``x_wconf`` titles.

The reference feeds SegmentedPdfPage objects (plus PIL page images) into
its NN pdf pipeline; here the same cells feed the deterministic PDF path
(SURVEY §2.10 substitute): layout proposer → postprocess →
reading-order → assemble. Page images are not decoded (no PIL — the
engine's multimodal stubs cover that contract).
"""

from __future__ import annotations

import re
import tarfile
from html.parser import HTMLParser
from io import BytesIO
from xml.etree import ElementTree as ET

from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.html.backend import binary_hash_of

_METS = "{http://www.loc.gov/METS/}"
_XLINK = "{http://www.w3.org/1999/xlink}"


def _extract_bbox(title: str):
    """hOCR title 'bbox l t r b;x_wconf 97' → (l, t, r, b) or None."""
    for part in title.split(";"):
        part = part.strip()
        if part.startswith("bbox "):
            try:
                l, t, r, b = map(int, part.split()[1:5])
                return (float(l), float(t), float(r), float(b))
            except (ValueError, IndexError):
                return None
    return None


def _extract_confidence(title: str) -> float:
    for part in title.split(";"):
        part = part.strip()
        if part.startswith("x_wconf"):
            try:
                return float(part.split()[1]) / 100.0
            except (ValueError, IndexError):
                return 1.0
    return 1.0


class _HocrLines(HTMLParser):
    """Collect ocr_page size and ocr_line cells from an hOCR document."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.page_bbox = None
        self.lines: list = []  # (bbox, confidence, [text parts])
        self._line_depth = 0
        self._current = None

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        cls = a.get("class", "")
        if cls == "ocr_page" and self.page_bbox is None:
            self.page_bbox = _extract_bbox(a.get("title", ""))
        if self._current is not None:
            self._line_depth += 1
        elif cls == "ocr_line":
            bbox = _extract_bbox(a.get("title", ""))
            if bbox:
                self._current = (bbox, _extract_confidence(a.get("title", "")), [])
                self._line_depth = 1

    def handle_endtag(self, tag):
        if self._current is not None:
            self._line_depth -= 1
            if self._line_depth <= 0:
                bbox, conf, parts = self._current
                text = "".join(parts).strip()
                if text:
                    self.lines.append((bbox, conf, text))
                self._current = None

    def handle_data(self, data):
        if self._current is not None:
            self._current[2].append(data)


def mets_gbs_pages(data: bytes, url: str = "mets") -> list:
    """tar.gz bytes → PAGES_SCHEMA-shaped page row dicts."""
    tar = tarfile.open(fileobj=BytesIO(data), mode="r:gz")
    root = None
    for member in tar.getmembers():
        if member.name.endswith(".xml"):
            f = tar.extractfile(member)
            if f is None:
                continue
            candidate = ET.fromstring(f.read())
            if candidate.tag == _METS + "mets" and candidate.get("PROFILE") == "gbs":
                root = candidate
                break
    if root is None:
        raise ValueError("no METS manifest with PROFILE='gbs' in archive")

    # file id → (use, path)
    files: dict = {}
    for grp in root.iter(_METS + "fileGrp"):
        use = grp.get("USE")
        if use not in ("image", "OCR", "coordOCR"):
            continue
        for file_elem in grp.findall(_METS + "file"):
            flocat = file_elem.find(_METS + "FLocat")
            href = flocat.get(_XLINK + "href") if flocat is not None else None
            if href:
                files[file_elem.get("ID")] = (use, href)

    pages: list = []
    for div in root.iter(_METS + "div"):
        if div.get("TYPE") != "page" or not div.get("ORDER"):
            continue
        try:
            page_no = int(div.get("ORDER")) - 1
        except ValueError:
            continue
        ocr_path = None
        for fptr in div.findall(_METS + "fptr"):
            info = files.get(fptr.get("FILEID"))
            if info and info[0] == "coordOCR":
                ocr_path = info[1]
        if ocr_path is None:
            continue
        ocr_file = tar.extractfile(ocr_path)
        if ocr_file is None:
            continue
        parser = _HocrLines()
        parser.feed(ocr_file.read().decode("utf-8", "replace"))
        if parser.page_bbox:
            width = parser.page_bbox[2] - parser.page_bbox[0]
            height = parser.page_bbox[3] - parser.page_bbox[1]
        elif parser.lines:
            width = max(b[2] for b, _, _ in parser.lines)
            height = max(b[3] for b, _, _ in parser.lines)
        else:
            continue
        cells = [
            {"index": ix, "text": text, "l": b[0], "t": b[1], "r": b[2], "b": b[3]}
            for ix, (b, _conf, text) in enumerate(parser.lines)
        ]
        pages.append(
            {
                "url": url, "page_no": page_no, "width": float(width),
                "height": float(height), "cells": cells, "clusters": None,
            }
        )
    return sorted(pages, key=lambda p: p["page_no"])


def convert_mets_gbs(
    data: bytes, name: str = "file", filename: str = "file.tar.gz"
) -> DLDocument:
    """tar.gz → DLDocument through the deterministic PDF path."""
    from docling_plus_spark.pdf.pipeline import pages_to_document

    doc = pages_to_document(mets_gbs_pages(data, url=name), name=name)
    doc.filename = filename
    doc.binary_hash = binary_hash_of(data)
    doc.mimetype = "application/mets+xml"
    return doc
