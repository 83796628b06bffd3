"""Seeded corpus generators for the extraction benchmark.

Every corpus is a pure function of ``(workload, seed)``: the same seed
gives byte-identical rows on any box, and nothing outside this directory
is read. Three generators:

* :func:`web_pages` — Common-Crawl-like HTML whose size profile follows
  the repository's reference-HTML fixture corpus (the corpus of the
  engine's throughput bench, BENCH.md): 27 pages, one of them
  ``wiki_duck.html`` at 245 KB (FIXTURES.md), which carries ~70 % of the
  corpus bytes (BENCH.md). Pages come in blocks of ``FIXTURE_BLOCK``:
  one wiki_duck-scale page (``LARGE_SIZE`` ± ``LARGE_JITTER``) and 26
  log-normal pages (median ``SMALL_MEDIAN``, sigma ``SMALL_SIGMA``; mean
  ~4.1 KB, which puts the large pages at ~70 % of the bytes). Target
  sizes are stratum midpoints, so every seed has the same size profile,
  tail included; the seed moves the content, the order within a block
  and, by less than one markup block, the exact sizes. Pages mix
  script/style, nav/footer furniture, headings, nested lists,
  rowspan/colspan tables, inline formatting, entities and malformed
  markup. Every body paragraph starts with a unique sentinel token
  ``zq<doc>k<n>qz`` that must survive into the extracted text.
* :func:`small_docs` — many tiny rows: one-paragraph template pages (the
  ``synth_pages_from_documents`` wrapper around a text of 10–99 words,
  the range of the test-data ``documents`` table that template fills),
  PDFs written by ``pdf.synth.make_text_pdf``, raster bytes and empty
  rows, each with its exact expected outcome.

Documented page sizes of a ``web_mixed`` corpus (checked by the
self-tests): p50 in [2.5 KB, 4 KB], p90 in [6 KB, 12 KB], the largest
page of each block in [235 KB, 256 KB + one block], and the large pages
60–80 % of the bytes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field
from statistics import NormalDist

GENERATOR_VERSION = 3

#: pages per block: the 27 pages of the fixture corpus, one of them large
FIXTURE_BLOCK = 27
#: wiki_duck.html, the fixture corpus's one large page (FIXTURES.md)
LARGE_SIZE = 245_000
LARGE_JITTER = 0.04
SMALL_MEDIAN = 3000
SMALL_SIGMA = 0.8
SIZE_MIN = 600
SIZE_MAX = 256 * 1024

# small_docs row mix, in shares of the corpus (the rest are template
# pages). Not traffic estimates: each non-HTML kind gets a few hundred
# rows per corpus, enough to exercise its path on every pass, while
# template pages stay 90 % of the rows so the fixed cost per row rules.
PDF_SHARE = 0.04
RASTER_SHARE = 0.03
EMPTY_SHARE = 0.03
#: words in a template page's paragraph: the range of the test-data
#: ``documents`` texts that synth_pages_from_documents wraps
TEXT_WORDS = (10, 99)

_SYLLABLES = (
    "ka ri to mo ne sa lu vi de pa go ha ji ko ma na ro su ta we "
    "bel cor dan fen gil hor kas lim mer nor pel ros tam ven wil "
    "an er in on ul ar es ix ot um"
).split()
# a fixed vocabulary, the same for every seed: seeds choose words, not
# the language
_WORDS = [
    a + b + c
    for a in _SYLLABLES[:24]
    for b in _SYLLABLES[20:40]
    for c in ("", "n", "s", "ta")
][:1500]
_ACCENTED = ["café", "naïve", "façade", "Zürich", "jalapeño", "smörgåsbord", "crème"]
# block kinds of a page body in a fixed interleaved order: half
# paragraphs, then lists, headings, tables, malformed markup, quotes, pre
_BLOCK_CYCLE = ("p list p h p table p bad p list p h p quote p table p list p pre").split()
_ENTITIES = ["&amp;", "&lt;tag&gt;", "&copy; 2024", "&#8212;", "&#x2014;",
             "&hellip;", "&quot;quoted&quot;", "&eacute;t&eacute;", "a&nbsp;b"]


@dataclass
class Doc:
    """One input row and what the checker expects of its output row."""

    url: str
    html: bytes
    kind: str  # web | template | pdf | raster | empty
    expected_text: str | None = None
    expected_failure: str | None = None
    sentinels: list = field(default_factory=list)


@dataclass
class Corpus:
    workload: str
    seed: int
    docs: list

    @property
    def nbytes(self) -> int:
        return sum(len(d.html) for d in self.docs)

    @property
    def digest(self) -> str:
        h = hashlib.sha256(f"v{GENERATOR_VERSION}".encode())
        for d in self.docs:
            h.update(d.url.encode() + b"\0" + hashlib.sha256(d.html).digest())
        return h.hexdigest()

    def summary(self) -> dict:
        return {"docs": len(self.docs), "bytes": self.nbytes, "digest": self.digest}


# -- web pages ---------------------------------------------------------------


def _stratified(quantile, n: int) -> list:
    """``quantile`` at the midpoints of ``n`` equal-probability strata."""
    return [quantile((i + 0.5) / n) for i in range(n)]


def page_sizes(rng: random.Random, n: int) -> list:
    """Target sizes of ``n`` pages (a whole number of blocks), block by
    block: each block holds one large page at a seeded position and
    ``FIXTURE_BLOCK - 1`` small log-normal pages. The strata are fixed,
    so every seed gets the same size profile and every input file, a
    run of whole blocks, about the same work."""
    if n % FIXTURE_BLOCK:
        raise ValueError(f"web corpora hold whole blocks of {FIXTURE_BLOCK} pages, not {n}")
    blocks = n // FIXTURE_BLOCK
    nd = NormalDist()
    small = _stratified(lambda q: SMALL_MEDIAN * math.exp(SMALL_SIGMA * nd.inv_cdf(q)),
                        n - blocks)
    large = _stratified(lambda q: LARGE_SIZE * (1 + LARGE_JITTER * (2 * q - 1)), blocks)
    rng.shuffle(small)
    rng.shuffle(large)
    sizes = []
    for b in range(blocks):
        block = small[b * (FIXTURE_BLOCK - 1):(b + 1) * (FIXTURE_BLOCK - 1)]
        block.insert(rng.randrange(FIXTURE_BLOCK), large[b])
        sizes += block
    return [int(min(max(s, SIZE_MIN), SIZE_MAX)) for s in sizes]


class _Page:
    def __init__(self, rng: random.Random, doc_id: int):
        self.rng = rng
        self.doc_id = doc_id
        self.sentinels: list = []

    def words(self, lo: int, hi: int) -> str:
        r = self.rng
        return " ".join(r.choice(_WORDS) for _ in range(r.randint(lo, hi)))

    def sentinel(self) -> str:
        tok = f"zq{self.doc_id}k{len(self.sentinels)}qz"
        self.sentinels.append(tok)
        return tok

    def inline(self) -> str:
        """A run of prose with inline formatting, links and entities."""
        r = self.rng
        out = []
        for _ in range(r.randint(3, 5)):
            k = r.random()
            w = self.words(5, 9)
            if k < 0.15:
                out.append(f"<b>{w}</b>")
            elif k < 0.27:
                out.append(f"<em>{w}</em>")
            elif k < 0.37:
                out.append(f'<a href="/wiki/{r.choice(_WORDS)}">{w}</a>')
            elif k < 0.43:
                out.append(f"<code>{r.choice(_WORDS)}()</code> {w}")
            elif k < 0.50:
                out.append(f"{w} {r.choice(_ENTITIES)}")
            elif k < 0.55:
                out.append(f"{w} {r.choice(_ACCENTED)}")
            else:
                out.append(w)
        return " ".join(out)

    def paragraph(self) -> str:
        return f"<p>{self.sentinel()} {self.inline()}.</p>"

    def heading(self) -> str:
        lvl = self.rng.choice((2, 2, 3, 3, 4))
        return f"<h{lvl}>{self.words(2, 5).title()}</h{lvl}>"

    def listing(self, depth: int = 0) -> str:
        r = self.rng
        tag = r.choice(("ul", "ul", "ol"))
        items = []
        for _ in range(r.randint(4, 6)):
            body = self.words(2, 10) if r.random() < 0.7 else self.inline()
            if depth == 0 and r.random() < 0.15:
                body += self.listing(depth + 1)
            # unclosed <li> is legal HTML and common in the wild
            items.append(f"<li>{body}" + ("" if r.random() < 0.2 else "</li>"))
        return f"<{tag}>{''.join(items)}</{tag}>"

    def table(self) -> str:
        r = self.rng
        ncols, nrows = r.randint(3, 5), r.randint(4, 8)
        head = "".join(f"<th>{self.words(1, 3)}</th>" for _ in range(ncols))
        rows = []
        for _ in range(nrows):
            cells, c = [], 0
            while c < ncols:
                k = r.random()
                if k < 0.08 and c + 1 < ncols:
                    span = r.randint(2, min(3, ncols - c))
                    cells.append(f'<td colspan="{span}">{self.words(1, 4)}</td>')
                    c += span
                    continue
                if k < 0.14:
                    cells.append(f'<td rowspan="{r.randint(2, 3)}">{self.words(1, 4)}</td>')
                else:
                    cells.append(f"<td>{self.words(1, 5)}</td>")
                c += 1
            rows.append("<tr>" + "".join(cells) + "</tr>")
        cap = f"<caption>{self.words(2, 6)}</caption>" if r.random() < 0.3 else ""
        return (f"<table>{cap}<thead><tr>{head}</tr></thead>"
                f"<tbody>{''.join(rows)}</tbody></table>")

    def malformed(self) -> str:
        r = self.rng
        s = self.sentinel()
        k = r.randrange(4)
        if k == 0:  # unclosed paragraph, closed implicitly by the next <p>
            return f"<p>{s} {self.words(5, 20)}"
        if k == 1:  # mis-nested inline tags
            return f"<p>{s} {self.words(3, 8)} <b>{self.words(2, 4)} <i>{self.words(2, 4)}</b> {self.words(2, 4)}</i></p>"
        if k == 2:  # stray end tags
            return f"<div><p>{s} {self.words(4, 12)}</span></p></font></div>"
        return f"<p>{s} {self.words(4, 12)} <br> {self.words(2, 6)} <img src=x.png alt=\"{self.words(1, 3)}\"></p>"

    def head(self) -> str:
        r = self.rng
        title = self.words(2, 6).title()
        script = (
            '<script>var cfg = {"html": "<p>not text</p>", "n": %d};'
            "if (a < b && b > c) { document.write('<div>'); }</script>" % r.randint(0, 999)
        )
        style = "<style>p { margin: 0 } .nav > li { display: inline }</style>"
        return (f"<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">"
                f"<title>{title}</title>{style}{script}</head>")

    def nav(self) -> str:
        links = "".join(
            f'<li><a href="/{w}">{w.title()}</a></li>'
            for w in (self.rng.choice(_WORDS) for _ in range(self.rng.randint(4, 9)))
        )
        return f'<header><nav class="nav"><ul>{links}</ul></nav></header>'

    def footer(self) -> str:
        return (f"<footer><p>{self.words(4, 10)} &copy; 2024</p>"
                "<script>track();</script></footer>")

    def build(self, target: int) -> str:
        """A page of about ``target`` bytes. Block kinds follow one fixed
        cycle from a seeded starting point, so every page holds each kind
        in about the same share and a page's cost tracks its size."""
        r = self.rng
        parts = [self.head(), "<body>", self.nav(), "<main>",
                 f"<h1>{self.words(2, 6).title()}</h1>", self.paragraph()]
        size = sum(len(p) for p in parts)
        at = r.randrange(len(_BLOCK_CYCLE))
        while size < target:
            kind = _BLOCK_CYCLE[at % len(_BLOCK_CYCLE)]
            at += 1
            if kind == "p":
                block = self.paragraph()
            elif kind == "h":
                block = self.heading()
            elif kind == "list":
                block = self.listing()
            elif kind == "table":
                block = self.table()
            elif kind == "bad":
                block = self.malformed()
            elif kind == "quote":
                block = f"<!-- {self.words(2, 6)} --><blockquote>{self.paragraph()}</blockquote>"
            else:
                block = f"<pre>{self.words(5, 15)}\n  {self.words(3, 8)}</pre>"
            parts.append(block)
            size += len(block)
        parts += ["</main>", self.footer(), "</body></html>"]
        return "".join(parts)


def web_pages(seed: int, n: int, workload: str = "web_mixed") -> Corpus:
    rng = random.Random(f"{workload}:{seed}")
    docs = []
    for i, target in enumerate(page_sizes(rng, n)):
        page = _Page(rng, i)
        html = page.build(target).encode("utf-8")
        docs.append(Doc(f"https://bench.test/web/{i:06d}.html", html, "web",
                        sentinels=page.sentinels))
    return Corpus(workload, seed, docs)


# -- small docs --------------------------------------------------------------


def _raster(rng: random.Random) -> bytes:
    body = bytes(rng.getrandbits(8) for _ in range(rng.randint(200, 2000)))
    return b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR" + body


def small_docs(seed: int, n: int) -> Corpus:
    from docling_plus_spark.pdf.synth import make_text_pdf

    rng = random.Random(f"small_docs:{seed}")
    n_pdf, n_raster, n_empty = (round(n * s) for s in (PDF_SHARE, RASTER_SHARE, EMPTY_SHARE))
    kinds = (["pdf"] * n_pdf + ["raster"] * n_raster + ["empty"] * n_empty)
    kinds += ["template"] * (n - len(kinds))
    rng.shuffle(kinds)
    docs = []
    for i, kind in enumerate(kinds):
        text = f"zq{i}k0qz " + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(*TEXT_WORDS)))
        if kind == "template":
            html = (f"<html><head><title>src {rng.choice(_WORDS)}</title></head>"
                    f"<body><h1>Doc {i}</h1><p>{text}</p></body></html>").encode()
            docs.append(Doc(f"https://bench.test/small/{i:06d}.html", html, kind,
                            expected_text=f"Doc {i}\n{text}"))
        elif kind == "pdf":
            docs.append(Doc(f"https://bench.test/small/{i:06d}.pdf", make_text_pdf(text),
                            kind, expected_text=text))
        elif kind == "raster":
            docs.append(Doc(f"https://bench.test/small/{i:06d}.png", _raster(rng), kind,
                            expected_failure="needs_ocr"))
        else:
            docs.append(Doc(f"https://bench.test/small/{i:06d}.html", b"", kind,
                            expected_failure="invalid_input"))
    return Corpus("small_docs", seed, docs)


# -- materialization -----------------------------------------------------------


def write_parquet(corpus: Corpus, cache_dir: str, files: int) -> str:
    """Write (url, html) as ``files`` parquet files under ``cache_dir``;
    reuse an earlier write of the same corpus digest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"{corpus.workload}-{corpus.digest[:16]}")
    marker = os.path.join(path, "_corpus.json")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    docs = corpus.docs
    per = -(-len(docs) // files)
    for f in range(files):
        chunk = docs[f * per:(f + 1) * per]
        if not chunk:
            break
        table = pa.table({"url": pa.array([d.url for d in chunk], pa.string()),
                          "html": pa.array([d.html for d in chunk], pa.binary())})
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    with open(marker + ".tmp", "w") as fh:
        json.dump({"workload": corpus.workload, "seed": corpus.seed, **corpus.summary()}, fh)
    os.replace(marker + ".tmp", marker)
    return path
