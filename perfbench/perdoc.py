"""Per-document layer timings on the driver, on one core.

Each document of a fixed sample is run through the same public calls the
extraction stage makes — ``dom.parse_html``, ``formats.convert_bytes``
and the six exporters — and each call is timed on its own. The median of
``REPS`` repetitions is kept per document; a metric is the mean over the
sample, so heavy documents weigh in as they do in a pass.
"""

from __future__ import annotations

import statistics
import time

import corpus as gen

HTML_SAMPLE = 48
PDF_SAMPLE = 16
REPS = 3


def size_stratified(docs, k: int = HTML_SAMPLE) -> list:
    """``k`` documents evenly spaced in size order, largest included."""
    ranked = sorted(docs, key=lambda d: (len(d.html), d.url))
    if len(ranked) <= k:
        return ranked
    return [ranked[round(i * (len(ranked) - 1) / (k - 1))] for i in range(k)]


def pdf_probe(seed: int) -> list:
    """PDFs for workloads that carry none: the small_docs generator's PDFs
    at the same seed, so ``formats.pdf_ms`` is defined on every workload."""
    small = gen.small_docs(seed, round(PDF_SAMPLE / gen.PDF_SHARE))
    return [d for d in small.docs if d.kind == "pdf"][:PDF_SAMPLE]


def _timed(fn, *args):
    best = []
    out = None
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn(*args)
        best.append(time.perf_counter() - t0)
    return statistics.median(best) * 1e3, out


def _count_nodes(root) -> int:
    return sum(1 for _ in root.descendants)


def measure(html_docs, pdf_docs, tracer) -> dict:
    from docling_plus_spark import dom
    from docling_plus_spark.doc.doctags import export_to_doctags
    from docling_plus_spark.doc.html_sink import export_to_html
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree,
        export_to_markdown,
        export_to_text,
    )
    from docling_plus_spark.formats import convert_bytes

    if not html_docs or not pdf_docs:
        raise ValueError("per-document sample needs HTML and PDF documents")
    keys = ("parse", "walk", "text", "md", "itxt", "json", "doctags", "html")
    ms = {k: 0.0 for k in keys}
    nodes = in_bytes = out_bytes = 0
    with tracer.span("perdoc.html", docs=len(html_docs)):
        for d in html_docs:
            t_parse, root = _timed(dom.parse_html, d.html)
            t_conv, doc = _timed(convert_bytes, d.html, "html", "doc", "doc.html")
            t_dict, dd = _timed(doc.export_to_dict)
            ms["parse"] += t_parse
            ms["walk"] += t_conv - t_parse
            for k, fn in (("text", export_to_text), ("md", export_to_markdown),
                          ("itxt", export_to_element_tree)):
                t, s = _timed(fn, doc)
                ms[k] += t
                out_bytes += len(s.encode("utf-8"))
            ms["json"] += _timed(doc.export_to_json)[0]
            ms["doctags"] += t_dict + _timed(export_to_doctags, dd)[0]
            ms["html"] += t_dict + _timed(export_to_html, dd)[0]
            nodes += _count_nodes(root)
            in_bytes += len(d.html)
    pdf_ms = 0.0
    with tracer.span("perdoc.pdf", docs=len(pdf_docs)):
        for d in pdf_docs:
            pdf_ms += _timed(convert_bytes, d.html, "pdf", "doc", "doc.pdf")[0]
    n = len(html_docs)
    return {
        "dom.parse_ms": (ms["parse"] / n, "ms"),
        "html.walk_ms": (ms["walk"] / n, "ms"),
        "formats.pdf_ms": (pdf_ms / len(pdf_docs), "ms"),
        "doc.text_ms": (ms["text"] / n, "ms"),
        "doc.md_ms": (ms["md"] / n, "ms"),
        "doc.itxt_ms": (ms["itxt"] / n, "ms"),
        "doc.json_ms": (ms["json"] / n, "ms"),
        "doc.doctags_ms": (ms["doctags"] / n, "ms"),
        "doc.html_ms": (ms["html"] / n, "ms"),
        "dom.nodes_per_doc": (nodes / n, "count"),
        "doc.out_bytes_per_in_byte": (out_bytes / in_bytes, "ratio"),
    }
