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
from bisect import bisect_left
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


class _TextExtractor:
    """One page's content execution → glyph quads."""

    MAX_GLYPHS = 200_000
    MAX_FORM_DEPTH = 8

    def __init__(self, doc: PdfDocument):
        self.doc = doc
        # one glyph quad per painted glyph, device space (y-up): (text, l,
        # b, r, t, size, baseline, is_space, font, run); font (a BaseFont's
        # identity) and run (the show-op counter) are segmentation signals
        self.glyphs: list[tuple] = []
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
            word_space = 0.0 if font.two_byte else tw
            if fast:
                # everything but the x extent is the same for every glyph
                dy0 = d * dsc + f
                dy1 = d * asc + f
                gb = dy1 if dy1 < dy0 else dy0
                gt = dy1 if dy1 > dy0 else dy0
                baseline = d * ts + f
                size = abs(d * tfs) or tfs
            else:
                size = abs(d * tfs) or abs(b * tfs) or tfs
            xoff = 0.0
            glyphs_out = self.glyphs
            for g in font.decode(raw):
                w0 = g.width / 1000.0
                adv = (w0 * tfs + tc + (word_space if g.is_space else 0.0)) * th
                # unmapped glyphs with real width (symbol-font bullets,
                # broken encodings) are kept as U+FFFD: docling-parse
                # keeps them as cells (redp5110 p2: 9 list bullets)
                text = g.text
                if not text and not g.is_space and w0 > 0:
                    text = "\ufffd"
                if text or g.is_space:
                    is_space = g.is_space or text.isspace()
                    xl = xoff
                    xr = xoff + w0 * sx
                    if fast:
                        dx0 = a * xl + e
                        dx1 = a * xr + e
                        glyphs_out.append((
                            " " if is_space else text,
                            dx1 if dx1 < dx0 else dx0, gb,
                            dx1 if dx1 > dx0 else dx0, gt,
                            size, baseline, is_space, font, run,
                        ))
                    else:
                        pts = (
                            _apply(mc, xl, dsc), _apply(mc, xr, asc),
                            _apply(mc, xl, asc), _apply(mc, xr, dsc),
                        )
                        xs = [p[0] for p in pts]
                        ys = [p[1] for p in pts]
                        glyphs_out.append((
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
        "text", "l", "b", "r", "t", "size", "em", "is_space", "font", "run",
        "dir",
    )

    def __init__(self, text, l, b, r, t, size, font, run):
        self.text = text
        self.l, self.b, self.r, self.t, self.size = l, b, r, t, size
        self.em = 1e-6 if size < 1e-6 else size  # max(size, 1e-6)
        self.is_space = not text.strip()
        self.font = font  # the first glyph's
        self.run = run    # the last glyph's
        self.dir = _direction(text)


def _glyphs_to_words(glyphs: list[tuple]) -> list[_Word]:
    """Emission-order word assembly: breaks on space↔text transitions,
    baseline jumps, inter-word kern gaps (> WORD_GAP em), backwards
    motion, and FONT changes (docling-parse segments per style run even
    inside a visually continuous token — calibration: the glyph-level
    font break alone moved the golden cell-count deviation 151 → 124
    and exact pages 10 → 14; e.g. redp5110's 'ibm.com/redbooks' is two
    fonts and two golden cells). A word's box is the running envelope
    of its glyphs."""
    words: list[_Word] = []
    if not glyphs:
        return words
    (text, wl, wb, wr, wt, wsize, p_base, mode, wfont, run) = glyphs[0]
    parts = [text]
    p_size, p_font = wsize, wfont
    for text, l, b, r, t, size, baseline, is_space, font, run_g in glyphs[1:]:
        brk = is_space is not mode
        if not brk:
            gap = l - wr
            em = size if size > 1e-6 else 1e-6
            if gap > WORD_GAP * em or gap < -2.0 * em:
                brk = True
            # one show op has one font and size: within it the font and
            # size tests cannot break, nor can the baseline test while
            # the baseline stays
            elif baseline != p_base or run_g != run:
                # max(size, p_size, 1e-6)
                big = p_size if p_size > size else size
                if 1e-6 > big:
                    big = 1e-6
                brk = (
                    abs(baseline - p_base) > 0.5 * big
                    or font is not p_font
                    # superscript/subscript size run (fraction numerators
                    # and denominators set at half size in the body font)
                    or abs(size - p_size) > SIZE_BREAK_FRAC * big
                )
        if brk:
            words.append(_Word("".join(parts), wl, wb, wr, wt, wsize, wfont, run))
            parts = [text]
            wl, wb, wr, wt, wsize, wfont = l, b, r, t, size, font
            mode = is_space
        else:
            parts.append(text)
            if l < wl:
                wl = l
            if b < wb:
                wb = b
            if r > wr:
                wr = r
            if t > wt:
                wt = t
            if size > wsize:
                wsize = size
        run = run_g
        p_base, p_size, p_font = baseline, size, font
    words.append(_Word("".join(parts), wl, wb, wr, wt, wsize, wfont, run))
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
    ordered = sorted(words, key=lambda w: (-w.t, w.l))
    # Words come by top edge, descending: once a word's top is at or
    # below a row's bottom, no later word can overlap the row, so it
    # leaves the scan and the first fit among the rest is unchanged.
    # A NaN top breaks the order; then no row is retired.
    retire = all(a.t >= b.t for a, b in zip(ordered, ordered[1:]))
    rows: list[list] = []  # [t, b, words], in creation order
    live: list[list] = []
    for w in ordered:
        wt, wb = w.t, w.b
        wh = wt - wb
        target = None
        still = []
        for row in live:
            rt, rb = row[0], row[1]
            if retire and wt <= rb:
                continue
            still.append(row)
            if target is None:
                rh = rt - rb
                min_h = wh if wh < rh else rh
                inter = (wt if wt < rt else rt) - (wb if wb > rb else rb)
                if min_h > 0 and inter / min_h > 0.5:
                    target = row
        live = still
        if target is None:
            row = [wt, wb, [w]]
            rows.append(row)
            live.append(row)
        else:
            target[2].append(w)
            if wt > target[0]:
                target[0] = wt
            if wb < target[1]:
                target[1] = wb

    cells: list[TextCell] = []

    def emit(seg: list[_Word]) -> None:
        first = seg[0]
        text_parts = [first.text]
        l, b, r, t = first.l, first.b, first.r, first.t
        prev = first
        for w in seg[1:]:
            if w.l - prev.r > 0.08 * w.em and not (w.is_space or prev.is_space):
                text_parts.append(" ")
            text_parts.append(w.text)
            if w.l < l:
                l = w.l
            if w.b < b:
                b = w.b
            if w.r > r:
                r = w.r
            if w.t > t:
                t = w.t
            prev = w
        text = "".join(text_parts)
        if not text.strip():
            text = " "
        cells.append(TextCell(index=len(cells), text=text, bbox=BBox(l=l, b=b, r=r, t=t)))

    for row in sorted(rows, key=lambda r: -r[0]):
        rw = sorted(row[2], key=lambda w: (w.l, w.run))
        row_rtl = any(w.dir == -1 for w in rw)
        # duplicate-space layer: a space word overlapping the row's
        # already-covered span whose show-run is far from every
        # non-space word's run was painted by a separate whitespace
        # pass — docling-parse keeps it a separate textline cell.
        # Skipped on RTL rows (their padded label fields are handled
        # by the 1-em wide-space rule; the dup rule over-fired there)
        if len(rw) > 1 and not row_rtl:
            dups: list[_Word] = []
            keep: list[_Word] = [rw[0]]
            cov = rw[0].r  # the right edge of the words before w
            runs = None    # the non-space words' show runs, sorted
            for w in rw[1:]:
                dup = False
                if w.is_space:
                    width = w.r - w.l
                    ov = (w.r if w.r < cov else cov) - w.l
                    if ov > 0.5 * (1e-6 if width < 1e-6 else width):
                        if runs is None:
                            runs = sorted(x.run for x in rw if not x.is_space)
                        k = bisect_left(runs, w.run)
                        dup = bool(runs) and (
                            (k == len(runs) or runs[k] - w.run >= DUP_SPACE_RUN_DIST)
                            and (k == 0 or w.run - runs[k - 1] >= DUP_SPACE_RUN_DIST))
                (dups if dup else keep).append(w)
                if w.r > cov:
                    cov = w.r
            for d in dups:
                emit([d])
            rw = keep
        # RTL rows (Arabic/Hebrew forms) segment on tighter whitespace:
        # form pages pad label fields with literal space runs of ~1 em,
        # and docling-parse keeps each field its own cell
        wide_thr = 1.0 if row_rtl else 2.0
        # TeX sentence-gap threshold for this row (see REL_* above)
        thr_rel = None
        if len(rw) > 2:
            gaps: list[float] = []
            r_run = rw[0].r
            for w in rw[1:]:
                gaps.append((w.l - r_run) / w.em)
                if w.r > r_run:
                    r_run = w.r
            med = _median(gaps)
            if med >= REL_MIN_MED:
                thr_rel = REL_RATIO * med
                if not thr_rel > REL_MIN_GAP:
                    thr_rel = REL_MIN_GAP
        # a font switch on a space word breaks only outside RTL rows
        sp_ok = not row_rtl
        first = rw[0]
        seg: list[_Word] = [first]
        seg_r = first.r
        seg_dir = first.dir
        seg_font = first.font
        seg_size = first.size
        # each rule is tested only when the ones before it did not break
        for w in rw[1:]:
            gap = w.l - seg_r
            em = w.em
            if gap > CELL_GAP * em:
                brk = True
            elif w.dir != 0 and seg_dir != 0 and w.dir != seg_dir:
                # bidi boundary: a strong-direction change starts a new
                # textline cell (RTL pages interleave Arabic/Hebrew runs
                # with Latin identifiers; parsers segment at the switch)
                brk = True
            elif w.is_space and (w.r - w.l) > wide_thr * em:
                # a wide whitespace run (checkbox fields, table gutters
                # filled with literal spaces) separates cells just like
                # an empty gap of the same width would
                brk = True
            elif thr_rel is not None and gap > thr_rel * em:
                brk = True
            elif not w.is_space and gap < -OV_THR * em and _same_line(seg[-1], w):
                brk = True
            else:
                # a font switch (bold/italic/superscript runs) starts a
                # new cell — docling-parse segments sanitized cells per
                # style run. On non-RTL rows this applies to SPACE words
                # too (a list bullet's trailing space is set in the body
                # font, a separate style run → its own cell boundary)
                brk = (
                    (not w.is_space or sp_ok)
                    and w.font is not None
                    and seg_font is not None
                    and w.font is not seg_font
                )
                if not brk and not w.is_space:
                    big = seg_size if seg_size > w.size else w.size
                    if 1e-6 > big:
                        big = 1e-6
                    brk = abs(w.size - seg_size) > SIZE_BREAK_FRAC * big
                if brk and row_rtl:
                    brk = not _rtl_guard(w, seg, seg_dir)
            if brk:
                emit(seg)
                seg = [w]
                seg_r = w.r
                seg_dir = w.dir
                seg_font = w.font
                seg_size = w.size
            else:
                seg.append(w)
                if w.r > seg_r:
                    seg_r = w.r
                if w.dir != 0:
                    seg_dir = w.dir
                if w.font is not None and (not w.is_space or sp_ok):
                    seg_font = w.font
                if not w.is_space:
                    seg_size = w.size
        emit(seg)
    return cells


def _same_line(prev: _Word, w: _Word) -> bool:
    """Vertical overlap beyond OV_VERT of the smaller height: with a
    jump back over the segment, a re-painted layer (double-strike rule)."""
    ph = prev.t - prev.b
    wh = w.t - w.b
    vmin = wh if wh < ph else ph
    vint = (w.t if w.t < prev.t else prev.t) - (w.b if w.b > prev.b else prev.b)
    return vmin > 0 and vint / vmin > OV_VERT


def _rtl_guard(w: _Word, seg: list[_Word], seg_dir: int) -> bool:
    """In RTL rows, punctuation-only neutral runs set in a Latin font
    attach to the adjacent Arabic run (a lone '.' must not become its
    own cell); digits/identifiers still split per font."""
    if w.dir == 0 and len(w.text.strip()) <= 2 and not _ALNUM_RE.search(w.text):
        return True
    return (
        seg_dir == 0
        and 0 < sum(len(x.text.strip()) for x in seg) <= 2
        and not any(_ALNUM_RE.search(x.text) for x in seg)
    )


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
