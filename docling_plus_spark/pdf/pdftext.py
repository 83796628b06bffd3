"""Content-stream text interpreter for the stdlib PDF parser.

Executes the text-positioning subset of the PDF graphics model
(q/Q/cm, BT/ET, Tm/Td/TD/T*/TL/Tc/Tw/Tz/Ts, Tj/TJ/'/", Do for Form
XObjects, BI..EI skip) and emits per-page glyph quads in device space,
then assembles them into word fragments → line cells via the same
2-pass merge as the pypdfium backend reimplementation
(`pdf/cells.py`, reference backend/pypdfium2_backend.py:121-253).

Output contract matches the pre-parsed fixture path (`tests/pdf_fixtures.py`):
one dict per page with ``page_no/width/height`` and ``cells`` carrying
``index/text/l/t/r/b`` in TOP-LEFT origin
(docling_parse_v4_backend.py:68-73 convention).
"""

from __future__ import annotations

import re
from typing import Any, Iterator

from .geometry import BBox, TextCell
from .pdfbytes import (
    Name,
    NeedsNativeParserError,
    PdfDocument,
    Stream,
    _skip_ws,
    parse_object,
)
from .pdffonts import BaseFont, load_font

Matrix = tuple[float, float, float, float, float, float]
IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m: Matrix, n: Matrix) -> Matrix:
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    )


def _apply(m: Matrix, x: float, y: float) -> tuple[float, float]:
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _content_tokens(data: bytes) -> Iterator[tuple[str, Any]]:
    """Yield ('obj', value) operands and ('op', name) operators."""
    i = 0
    n = len(data)
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            return
        c = data[i]
        if (c in b"<[(/" or c in b"+-." or 0x30 <= c <= 0x39):
            try:
                obj, i = parse_object(data, i)
            except Exception:
                i += 1
                continue
            yield ("obj", obj)
            continue
        m = _OP_RE.match(data, i)
        if m:
            op = m.group(0).decode("latin-1")
            i = m.end()
            if op in ("true", "false", "null"):
                yield ("obj", op == "true")
            elif op == "BI":
                # inline image: skip to EI bounded by whitespace
                j = data.find(b"EI", i)
                while j > 0 and not (data[j - 1] in b"\x00\t\n\x0c\r "):
                    j = data.find(b"EI", j + 2)
                i = (j + 2) if j >= 0 else n
            else:
                yield ("op", op)
            continue
        i += 1  # unknown byte: skip


class _GlyphQuad:
    __slots__ = (
        "text", "l", "b", "r", "t", "size", "baseline", "is_space", "font",
        "run",
    )

    def __init__(self, text, l, b, r, t, size, baseline, is_space, font=None,
                 run=0):
        self.text = text
        self.l, self.b, self.r, self.t = l, b, r, t
        self.size = size
        self.baseline = baseline
        self.is_space = is_space
        self.font = font  # BaseFont identity (segmentation signal)
        self.run = run    # show-op counter (segmentation signal)


class _TextExtractor:
    """One page's content execution → glyph quads (device space, y-up)."""

    MAX_GLYPHS = 200_000
    MAX_FORM_DEPTH = 8

    def __init__(self, doc: PdfDocument):
        self.doc = doc
        self.glyphs: list[_GlyphQuad] = []
        self._font_cache: dict[int, BaseFont | None] = {}
        self._run = 0  # incremented per show op

    def run(self, content: bytes, resources: Any, ctm: Matrix) -> None:
        self._execute(content, self.doc.resolve(resources) or {}, ctm, 0)

    # -- resources --------------------------------------------------------

    def _get_font(self, resources: dict, name: Name) -> BaseFont | None:
        fonts = self.doc.resolve(resources.get(Name("Font"))) or {}
        ref = fonts.get(name) if isinstance(fonts, dict) else None
        key = id(ref) if not hasattr(ref, "num") else ref.num
        if key not in self._font_cache:
            self._font_cache[key] = load_font(self.doc, ref)
        return self._font_cache[key]

    # -- interpreter ------------------------------------------------------

    def _execute(self, content: bytes, resources: dict, base_ctm: Matrix,
                 depth: int) -> None:
        if depth > self.MAX_FORM_DEPTH:
            return
        doc = self.doc
        ctm = base_ctm
        stack: list[Matrix] = []
        font: BaseFont | None = None
        tfs = 0.0        # font size
        tc = 0.0         # char spacing
        tw = 0.0         # word spacing
        th = 1.0         # horizontal scaling
        tl = 0.0         # leading
        ts = 0.0         # rise
        tm: Matrix = IDENTITY
        tlm: Matrix = IDENTITY
        operands: list = []

        def show(raw: bytes) -> None:
            nonlocal tm
            if font is None or len(self.glyphs) > self.MAX_GLYPHS:
                return
            self._run += 1
            run = self._run
            # Tm is only translated between glyphs (advances), so
            # mc = Tm·CTM is loop-invariant: glyph-space coords map via
            # x' = xoff + x·tfs·th, y' = ts + y·tfs, then mc. The
            # overwhelmingly common mc (no rotation: b = c = 0) gets a
            # multiply-add fast path — this loop is the hot path of the
            # whole pdf-bytes pipeline (~40% of convert time before).
            mc = _mat_mul(tm, ctm)
            a, b, c, d, e, f = mc
            fast = b == 0.0 and c == 0.0
            asc = font.ascent * tfs + ts
            dsc = font.descent * tfs + ts
            sx = tfs * th
            xoff = 0.0
            glyphs_out = self.glyphs
            for g in font.decode(raw):
                w0 = g.width / 1000.0
                adv = (w0 * tfs + tc + (tw if g.is_space and not font.two_byte else 0.0)) * th
                # unmapped glyphs with real width (symbol-font bullets,
                # broken encodings) are kept as U+FFFD: docling-parse
                # keeps them as cells (redp5110 p2: 9 list bullets)
                text = g.text
                if not text and not g.is_space and w0 > 0:
                    text = "�"
                if text or g.is_space:
                    is_space = g.is_space or text.isspace()
                    xl = xoff
                    xr = xoff + w0 * sx
                    if fast:
                        dx0 = a * xl + e
                        dx1 = a * xr + e
                        dy0 = d * dsc + f
                        dy1 = d * asc + f
                        baseline = d * ts + f
                        size = abs(d * tfs)
                        glyphs_out.append(_GlyphQuad(
                            " " if is_space else text,
                            min(dx0, dx1), min(dy0, dy1),
                            max(dx0, dx1), max(dy0, dy1),
                            size or tfs, baseline, is_space, font, run,
                        ))
                    else:
                        pts = (
                            _apply(mc, xl, dsc), _apply(mc, xr, asc),
                            _apply(mc, xl, asc), _apply(mc, xr, dsc),
                        )
                        xs = [p[0] for p in pts]
                        ys = [p[1] for p in pts]
                        size = abs(d * tfs) or abs(b * tfs) or tfs
                        glyphs_out.append(_GlyphQuad(
                            " " if is_space else text,
                            min(xs), min(ys), max(xs), max(ys),
                            size, _apply(mc, xl, ts)[1], is_space, font, run,
                        ))
                xoff += adv
            tm = _mat_mul((1.0, 0.0, 0.0, 1.0, xoff, 0.0), tm)

        for kind, tok in _content_tokens(content):
            if kind == "obj":
                operands.append(tok)
                continue
            op = tok
            try:
                if op == "q":
                    stack.append(ctm)
                elif op == "Q":
                    if stack:
                        ctm = stack.pop()
                elif op == "cm" and len(operands) >= 6:
                    m = tuple(float(v) for v in operands[-6:])
                    ctm = _mat_mul(m, ctm)  # type: ignore[arg-type]
                elif op == "BT":
                    tm = tlm = IDENTITY
                elif op == "ET":
                    pass
                elif op == "Tf" and len(operands) >= 2:
                    fname = operands[-2]
                    if isinstance(fname, Name):
                        font = self._get_font(resources, fname)
                    tfs = float(operands[-1])
                elif op == "Td" and len(operands) >= 2:
                    tlm = _mat_mul(
                        (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                    tm = tlm
                elif op == "TD" and len(operands) >= 2:
                    tl = -float(operands[-1])
                    tlm = _mat_mul(
                        (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm)
                    tm = tlm
                elif op == "Tm" and len(operands) >= 6:
                    tlm = tuple(float(v) for v in operands[-6:])  # type: ignore
                    tm = tlm
                elif op == "T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                elif op == "TL" and operands:
                    tl = float(operands[-1])
                elif op == "Tc" and operands:
                    tc = float(operands[-1])
                elif op == "Tw" and operands:
                    tw = float(operands[-1])
                elif op == "Tz" and operands:
                    th = float(operands[-1]) / 100.0
                elif op == "Ts" and operands:
                    ts = float(operands[-1])
                elif op == "Tj" and operands and isinstance(operands[-1], bytes):
                    show(operands[-1])
                elif op == "'" and operands and isinstance(operands[-1], bytes):
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(operands[-1])
                elif op == '"' and len(operands) >= 3:
                    tw = float(operands[-3])
                    tc = float(operands[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    if isinstance(operands[-1], bytes):
                        show(operands[-1])
                elif op == "TJ" and operands and isinstance(operands[-1], list):
                    for item in operands[-1]:
                        if isinstance(item, bytes):
                            show(item)
                        elif isinstance(item, (int, float)):
                            adv = -float(item) / 1000.0 * tfs * th
                            tm = _mat_mul((1, 0, 0, 1, adv, 0.0), tm)
                elif op == "Do" and operands and isinstance(operands[-1], Name):
                    xobjs = doc.resolve(resources.get(Name("XObject"))) or {}
                    xo = doc.resolve(xobjs.get(operands[-1])) \
                        if isinstance(xobjs, dict) else None
                    if isinstance(xo, Stream) and \
                            str(doc.resolve(xo.dict.get(Name("Subtype"), ""))) == "Form":
                        sub_res = doc.resolve(xo.dict.get(Name("Resources"))) \
                            or resources
                        fm = doc.resolve(xo.dict.get(Name("Matrix")))
                        sub_ctm = ctm
                        if isinstance(fm, list) and len(fm) == 6:
                            sub_ctm = _mat_mul(
                                tuple(float(doc.resolve(v) or 0) for v in fm), ctm)
                        try:
                            self._execute(doc.decode_stream(xo), sub_res,
                                          sub_ctm, depth + 1)
                        except NeedsNativeParserError:
                            pass
            except (TypeError, ValueError, IndexError):
                pass
            operands = []


# ---------------------------------------------------------------------------
# glyphs → words → rows → line cells
#
# Thresholds calibrated against the reference's shipped per-page
# cell-count goldens (*.pages.meta.json) across all 9 fixture PDFs:
#   WORD_GAP  0.2 em — a kern larger than this is an inter-word space
#             (TeX emits no space glyphs; word spaces are TJ kerns of
#             ~0.33 em, letter kerns stay below ~0.1 em)
#   CELL_GAP  0.5 em — a gap larger than this starts a new text cell
#             within the row (column gutters, sentence double-spaces
#             in TeX, tab-like alignment)
# plus the trailing-space rule: a whitespace run that ends a row
# segment is its own cell (docling-parse keeps paragraph-final space
# runs as separate textline cells — verified exactly on multi_page).

WORD_GAP = 0.2
CELL_GAP = 0.5
#: style-size break: a glyph-run size change beyond this fraction of
#: the larger size is a superscript/subscript style run — its own word
#: AND its own sanitized cell (amt_handbook's inch fractions: body 10pt
#: with 5.5pt numerator/denominator digits in the SAME font resource,
#: so the font-identity break alone misses them)
SIZE_BREAK_FRAC = 0.25

_RTL_RE = re.compile(r"[֐-ࣿיִ-﷿ﹰ-﻿]")
_LTR_RE = re.compile(r"[A-Za-zÀ-ɏ]")
_ALNUM_RE = re.compile(r"[0-9A-Za-z]")


def _direction(text: str) -> int:
    """1 = LTR, -1 = RTL, 0 = neutral (digits/punct/space)."""
    if _RTL_RE.search(text):
        return -1
    if _LTR_RE.search(text):
        return 1
    return 0


class _Word:
    __slots__ = (
        "text", "l", "b", "r", "t", "size", "is_space", "font", "run",
    )

    def __init__(self, glyphs: list[_GlyphQuad]):
        g0 = glyphs[0]
        self.font = g0.font
        self.run = glyphs[-1].run
        l, b, r, t, size = g0.l, g0.b, g0.r, g0.t, g0.size
        parts = [g0.text]
        for g in glyphs[1:]:
            parts.append(g.text)
            if g.l < l:
                l = g.l
            if g.b < b:
                b = g.b
            if g.r > r:
                r = g.r
            if g.t > t:
                t = g.t
            if g.size > size:
                size = g.size
        self.text = "".join(parts)
        self.l, self.b, self.r, self.t, self.size = l, b, r, t, size
        self.is_space = not self.text.strip()


def _glyphs_to_words(glyphs: list[_GlyphQuad]) -> list[_Word]:
    """Emission-order word assembly: breaks on space↔text transitions,
    baseline jumps, inter-word kern gaps (> WORD_GAP em), backwards
    motion, and FONT changes (docling-parse segments per style run even
    inside a visually continuous token — calibration: the glyph-level
    font break alone moved the golden cell-count deviation 151 → 124
    and exact pages 10 → 14; e.g. redp5110's 'ibm.com/redbooks' is two
    fonts and two golden cells)."""
    words: list[_Word] = []
    cur: list[_GlyphQuad] = []
    cur_r = 0.0  # running right edge of the current word
    mode: bool | None = None
    prev: _GlyphQuad | None = None
    for g in glyphs:
        brk = g.is_space is not mode
        if prev is not None and cur and not brk:
            gap = g.l - cur_r
            em = g.size if g.size > 1e-6 else 1e-6
            if abs(g.baseline - prev.baseline) > 0.5 * max(g.size, prev.size, 1e-6):
                brk = True
            elif gap > WORD_GAP * em or gap < -2.0 * em:
                brk = True
            elif g.font is not prev.font:
                brk = True
            elif abs(g.size - prev.size) > SIZE_BREAK_FRAC * max(
                g.size, prev.size, 1e-6
            ):
                # superscript/subscript size run (fraction numerators
                # and denominators set at half size in the body font)
                brk = True
        if brk and cur:
            words.append(_Word(cur))
            cur = []
        mode = g.is_space
        cur.append(g)
        cur_r = g.r if len(cur) == 1 else max(cur_r, g.r)
        prev = g
    if cur:
        words.append(_Word(cur))
    return words


#: duplicate-space layer rule: minimum show-run distance to the row's
#: nearest NON-space word for an overlapping space word to count as a
#: separately-painted whitespace layer (tagged PDFs paint word-gap
#: spaces in dedicated early show ops; docling-parse keeps each such
#: run its own textline cell — amt_handbook deviation 26 → 7)
DUP_SPACE_RUN_DIST = 5
#: TeX sentence-gap rule: in kern-spaced rows (median inter-word gap
#: >= REL_MIN_MED em — i.e. no space glyphs, TeX/TJ typography), an
#: outlier gap > REL_RATIO x median (and >= REL_MIN_GAP em) is an
#: inter-sentence boundary docling-parse splits at (picture_
#: classification/multi_page calibration: deviation 90 → 72,
#: multi_page all 4 content pages exact)
REL_RATIO = 1.35
REL_MIN_GAP = 0.40
REL_MIN_MED = 0.2
#: double-strike rule: a non-space word jumping BACK over the segment
#: (gap < -OV_THR em) while vertically tight with the previous word
#: (overlap > OV_VERT of the smaller height) is a re-paint layer
#: (simulated bold / figure text layers), its own cell (redp5110 p9
#: deviation 16 → 0); the vertical guard keeps stacked two-line table
#: headers merged (2305.03393v1 stays exact)
OV_THR = 0.5
OV_VERT = 0.7


def _words_to_cells(words: list[_Word]) -> list[TextCell]:
    """Rows by vertical overlap (>50% of the smaller height, the
    pypdfium row rule), then split each row into cells at gaps >
    CELL_GAP em plus the style/layer rules calibrated against the
    reference's verify_cells goldens (see the threshold constants
    above; aggregate deviation 28/1623 = 1.7%, 22/32 pages exact)."""
    if not words:
        return []
    rows: list[dict] = []
    for w in sorted(words, key=lambda w: (-w.t, w.l)):
        placed = False
        for row in rows:
            inter = min(row["t"], w.t) - max(row["b"], w.b)
            min_h = min(row["t"] - row["b"], w.t - w.b)
            if min_h > 0 and inter / min_h > 0.5:
                row["words"].append(w)
                row["t"] = max(row["t"], w.t)
                row["b"] = min(row["b"], w.b)
                placed = True
                break
        if not placed:
            rows.append({"t": w.t, "b": w.b, "words": [w]})

    cells: list[TextCell] = []

    def emit(seg: list[_Word]) -> None:
        for part in (seg,):
            if not part:
                continue
            text_parts: list[str] = []
            for i, w in enumerate(part):
                if i > 0:
                    gap = w.l - part[i - 1].r
                    if gap > 0.08 * max(w.size, 1e-6) and not (
                            w.is_space or part[i - 1].is_space):
                        text_parts.append(" ")
                text_parts.append(w.text)
            text = "".join(text_parts)
            if not text.strip():
                text = " "
            cells.append(TextCell(
                index=len(cells), text=text,
                bbox=BBox(
                    l=min(w.l for w in part), b=min(w.b for w in part),
                    r=max(w.r for w in part), t=max(w.t for w in part))))

    for row in sorted(rows, key=lambda r: -r["t"]):
        rw = sorted(row["words"], key=lambda w: (w.l, w.run))
        row_rtl = any(_direction(w.text) == -1 for w in rw)
        # duplicate-space layer: a space word overlapping the row's
        # already-covered span whose show-run is far from every
        # non-space word's run was painted by a separate whitespace
        # pass — docling-parse keeps it a separate textline cell.
        # Skipped on RTL rows (their padded label fields are handled
        # by the 1-em wide-space rule; the dup rule over-fired there)
        if len(rw) > 1 and not row_rtl:
            dups: list[_Word] = []
            keep: list[_Word] = []
            for i, w in enumerate(rw):
                if w.is_space and i > 0:
                    cov = max(x.r for x in rw[:i])
                    ov = min(cov, w.r) - w.l
                    if ov > 0.5 * max(w.r - w.l, 1e-6):
                        others = [
                            x for x in rw if x is not w and not x.is_space
                        ]
                        near = min(
                            (abs(w.run - x.run) for x in others), default=0
                        )
                        if others and near >= DUP_SPACE_RUN_DIST:
                            dups.append(w)
                            continue
                keep.append(w)
            for d in dups:
                emit([d])
            rw = keep
            if not rw:
                continue
        # RTL rows (Arabic/Hebrew forms) segment on tighter whitespace:
        # form pages pad label fields with literal space runs of ~1 em,
        # and docling-parse keeps each field its own cell
        wide_thr = 1.0 if row_rtl else 2.0
        # TeX sentence-gap threshold for this row (see REL_* above)
        thr_rel = None
        if len(rw) > 2:
            gaps: list[float] = []
            r_run = rw[0].r
            for i in range(1, len(rw)):
                gaps.append((rw[i].l - r_run) / max(rw[i].size, 1e-6))
                r_run = max(r_run, rw[i].r)
            med = _median(gaps)
            if med >= REL_MIN_MED:
                thr_rel = max(REL_MIN_GAP, REL_RATIO * med)
        seg: list[_Word] = [rw[0]]
        seg_r = rw[0].r
        seg_dir = _direction(rw[0].text)
        seg_font = rw[0].font
        seg_size = rw[0].size
        for w in rw[1:]:
            gap = w.l - seg_r
            w_dir = _direction(w.text)
            em = max(w.size, 1e-6)
            # bidi boundary: a strong-direction change starts a new
            # textline cell (RTL pages interleave Arabic/Hebrew runs
            # with Latin identifiers; parsers segment at the switch)
            bidi = w_dir != 0 and seg_dir != 0 and w_dir != seg_dir
            # a wide whitespace run (checkbox fields, table gutters
            # filled with literal spaces) separates cells just like an
            # empty gap of the same width would
            wide_space = w.is_space and ((w.r - w.l) > wide_thr * em)
            # in RTL rows, punctuation-only neutral runs set in a
            # Latin font attach to the adjacent Arabic run (a lone
            # '.' must not become its own cell); digits/identifiers
            # still split per font
            rtl_guard = (
                row_rtl
                and (
                    (
                        w_dir == 0
                        and len(w.text.strip()) <= 2
                        and not _ALNUM_RE.search(w.text)
                    )
                    or (
                        seg_dir == 0
                        and 0 < sum(len(x.text.strip()) for x in seg) <= 2
                        and not any(_ALNUM_RE.search(x.text) for x in seg)
                    )
                )
            )
            # a font switch (bold/italic/superscript runs) starts a new
            # cell — docling-parse segments sanitized cells per style
            # run. On non-RTL rows this applies to SPACE words too (a
            # list bullet's trailing space is set in the body font, a
            # separate style run → its own cell boundary)
            sp_ok = not row_rtl
            font_break = (
                (not w.is_space or sp_ok)
                and w.font is not None
                and seg_font is not None
                and w.font is not seg_font
                and not rtl_guard
            )
            size_break = (
                not w.is_space
                and abs(w.size - seg_size) > SIZE_BREAK_FRAC
                * max(w.size, seg_size, 1e-6)
                and not rtl_guard
            )
            rel_break = thr_rel is not None and gap > thr_rel * em
            prev = seg[-1]
            vint = min(prev.t, w.t) - max(prev.b, w.b)
            vmin = min(prev.t - prev.b, w.t - w.b)
            same_line = vmin > 0 and vint / vmin > OV_VERT
            ov_break = (
                not w.is_space and gap < -OV_THR * em and same_line
            )
            if (
                gap > CELL_GAP * em
                or bidi
                or wide_space
                or font_break
                or size_break
                or rel_break
                or ov_break
            ):
                emit(seg)
                seg = [w]
                seg_r = w.r
                seg_dir = w_dir
                seg_font = w.font
                seg_size = w.size
            else:
                seg.append(w)
                if w.r > seg_r:
                    seg_r = w.r
                if w_dir != 0:
                    seg_dir = w_dir
                if w.font is not None and (not w.is_space or sp_ok):
                    seg_font = w.font
                if not w.is_space:
                    seg_size = w.size
        emit(seg)
    return cells


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if n == 0:
        return 0.0
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def extract_pdf_pages(data: bytes) -> list[dict]:
    """``%PDF-`` bytes → list of page dicts:
    ``{page_no, width, height, cells:[{index,text,l,t,r,b}]}``
    with top-left-origin cell coordinates (parser contract).

    Raises :class:`NeedsNativeParserError` for encrypted/unparseable
    files — callers turn that into a classified failure row.
    """
    doc = PdfDocument(data)
    out: list[dict] = []
    for pno, page in enumerate(doc.pages(), start=1):
        # hostile-input contract: a mutated MediaBox (short array,
        # non-numeric entries, wrong type) degrades to US-Letter, never
        # raises — errors must become status rows, not job failures
        media_raw = doc.resolve(page.get(Name("MediaBox")))
        media = [0.0, 0.0, 612.0, 792.0]
        if isinstance(media_raw, (list, tuple)) and len(media_raw) >= 4:
            try:
                media = [float(doc.resolve(v) or 0) for v in media_raw[:4]]
            except (TypeError, ValueError):
                media = [0.0, 0.0, 612.0, 792.0]
        llx, lly, urx, ury = media
        w, h = abs(urx - llx), abs(ury - lly)
        rotate = int(doc.resolve(page.get(Name("Rotate"), 0)) or 0) % 360
        # base CTM maps PDF user space to a y-up frame with origin at
        # the page's lower-left corner, honoring /Rotate
        if rotate == 90:
            ctm: Matrix = (0, 1, -1, 0, ury, -llx)
            pw, ph = h, w
        elif rotate == 180:
            ctm = (-1, 0, 0, -1, urx, ury)
            pw, ph = w, h
        elif rotate == 270:
            ctm = (0, -1, 1, 0, -lly, urx)
            pw, ph = h, w
        else:
            ctm = (1, 0, 0, 1, -llx, -lly)
            pw, ph = w, h
        ex = _TextExtractor(doc)
        try:
            content = doc.page_content(page)
            ex.run(content, page.get(Name("Resources")), ctm)
        except NeedsNativeParserError:
            raise
        except Exception:
            pass  # partial page: keep whatever was extracted
        merged = _words_to_cells(_glyphs_to_words(ex.glyphs))
        cells = []
        for c in merged:
            l, t, r, b = c.bbox.to_top_left(ph)
            cells.append({
                "index": c.index, "text": c.text,
                "l": round(l, 3), "t": round(t, 3),
                "r": round(r, 3), "b": round(b, 3),
            })
        cells = _merge_vertical_stacks(cells)
        out.append({"page_no": pno, "width": pw, "height": ph, "cells": cells})
    return out


def _merge_vertical_stacks(cells: list[dict]) -> list[dict]:
    """Rotated (vertical) text — e.g. slanted table headers — reaches the
    row builder as one tiny cell per glyph. Re-join chains of >= 3 short
    (<= 2 chars) cells whose x-centers align and whose vertical pitch is
    glyph-tight (gap <= 0.6 x height; real table rows sit at >= 1.2 em
    pitch, which keeps single-letter data columns unmerged). Calibration:
    redp5110 golden deviation 91 -> 54, total 215 -> 178, every exact
    page stays exact (tests/test_pdfbytes.py)."""
    short = [
        i for i, c in enumerate(cells) if 0 < len(c["text"].strip()) <= 2
    ]
    used = [False] * len(cells)
    chains: list[list[int]] = []
    order = sorted(short, key=lambda i: (cells[i]["l"], cells[i]["t"]))
    # Candidates sorted by (t, l) with a parallel t-array: each chain
    # extension bisects to the gap window's start and stops at its end,
    # so the pass stays near-linear on glyph-dense numeric pages
    # (ADVICE r3: the full rescan per extension was O(|short|^2)).
    # (t, l) ordering reproduces the old scan's tie-break exactly: the
    # minimal-t candidate wins, and among equal t the smallest l.
    from bisect import bisect_left

    by_t = sorted(short, key=lambda i: (cells[i]["t"], cells[i]["l"]))
    t_vals = [cells[i]["t"] for i in by_t]
    for ii in order:
        if used[ii]:
            continue
        chain = [ii]
        used[ii] = True
        cur = cells[ii]
        while True:
            h = cur["b"] - cur["t"]
            best = None
            lo = bisect_left(t_vals, cur["b"] - 1.0)
            hi_t = cur["b"] + 0.6 * h
            for k in range(lo, len(by_t)):
                if t_vals[k] > hi_t:
                    break
                jj = by_t[k]
                if used[jj]:
                    continue
                d = cells[jj]
                cx = (cur["l"] + cur["r"]) / 2
                dx = (d["l"] + d["r"]) / 2
                if abs(cx - dx) > 0.6 * max(
                    cur["r"] - cur["l"], d["r"] - d["l"]
                ):
                    continue
                best = jj
                break
            if best is None:
                break
            chain.append(best)
            used[best] = True
            cur = cells[best]
        if len(chain) >= 3:
            chains.append(chain)
        else:
            for jj in chain:
                used[jj] = False
    if not chains:
        return cells
    drop: set[int] = set()
    for chain in chains:
        head = cells[chain[0]]
        head["text"] = "".join(cells[j]["text"] for j in chain)
        head["l"] = min(cells[j]["l"] for j in chain)
        head["t"] = min(cells[j]["t"] for j in chain)
        head["r"] = max(cells[j]["r"] for j in chain)
        head["b"] = max(cells[j]["b"] for j in chain)
        drop.update(chain[1:])
    kept = [c for i, c in enumerate(cells) if i not in drop]
    for i, c in enumerate(kept):
        c["index"] = i
    return kept
