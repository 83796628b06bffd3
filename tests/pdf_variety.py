"""Seeded generator of small PDFs that reach the PDF-bytes path's branches.

``make_text_pdf`` writes one Helvetica ``Tj`` per line; real PDFs also
carry kerned ``TJ`` arrays, several fonts and sizes, rotated text,
composite fonts, right-to-left text, separately painted space layers and
custom encodings. :func:`variety_pdfs` writes one document per family,
each a pure function of its seed:

* ``kerns``: ``TJ`` arrays whose kerns make letter kerns, word gaps,
  TeX-style sentence gaps, cell gaps and backward jumps, plus the
  ``'``/``"`` operators and ``Tc``/``Tw``/``Tz``;
* ``styles``: font runs (inside a token and between words), size runs
  and superscripts by ``Ts``;
* ``rotated``: text under a rotating ``Tm``, vertical stacks of single
  glyphs, a ``/Rotate`` page and a scaled Form XObject;
* ``type0``: an Identity-H composite font with a ``ToUnicode`` CMap
  (``bfchar``, ``bfrange`` and the ``bfrange`` array form) and ``/W``
  widths, including an unmapped code;
* ``rtl``: Hebrew through the same CMap, mixed with Latin words,
  punctuation in a Latin font and wide space runs;
* ``spaces``: a space layer painted in its own show operations over
  the words of a row, wide space runs, a re-painted (double-struck) word
  and trailing spaces;
* ``encodings``: ``Differences`` over WinAnsi, MacRoman and Standard
  encodings, a Type3 font with a ``FontMatrix`` and an inline image;
* ``layout``: a header, two columns of paragraphs, a number grid and a
  footer.

:func:`dense_page_pdf` writes the hostile dense page: ``n`` one-word
lines at a 0.15 pt font with 0.18 pt leading.
"""

from __future__ import annotations

import random

_WORDS = (
    "spark", "layout", "reading", "order", "column", "page", "cell",
    "cluster", "table", "merge", "batch", "arrow", "shuffle", "scan",
    "glyph", "font", "kern", "width", "parse", "stream", "block", "line",
)
_HEBREW = "אבגדהוזחטיכלמנסעפצקרשת"


class _Writer:
    """Objects of one classic-xref PDF; object 1 is the catalog, 2 the
    page tree."""

    def __init__(self):
        self.objects: list[bytes] = [b"", b""]
        self.pages: list[int] = []

    def add(self, body: bytes) -> int:
        self.objects.append(body)
        return len(self.objects)

    def stream(self, data: bytes, extra: bytes = b"") -> int:
        return self.add(b"<< /Length %d%s >>\nstream\n%s\nendstream"
                        % (len(data), extra, data))

    def page(self, content: bytes, fonts: dict, extra: bytes = b"",
             xobjects: dict | None = None) -> None:
        res = b"/Font << " + b" ".join(
            b"/%s %d 0 R" % (k.encode(), v) for k, v in fonts.items()) + b" >>"
        if xobjects:
            res += b" /XObject << " + b" ".join(
                b"/%s %d 0 R" % (k.encode(), v) for k, v in xobjects.items()) + b" >>"
        cnum = self.stream(content)
        self.pages.append(self.add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << %s >> /Contents %d 0 R%s >>" % (res, cnum, extra)))

    def build(self) -> bytes:
        self.objects[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
        self.objects[1] = (b"<< /Type /Pages /Kids [" + b" ".join(
            b"%d 0 R" % p for p in self.pages) + b"] /Count %d >>" % len(self.pages))
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        for i, body in enumerate(self.objects, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(self.objects) + 1)
        out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (len(self.objects) + 1, xref))
        return bytes(out)


def _lit(text: str) -> bytes:
    raw = text.encode("latin-1", "replace")
    return b"(" + raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)") + b")"


def _num(x: float) -> bytes:
    return (b"%.2f" % x).rstrip(b"0").rstrip(b".") or b"0"


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]


# -- fonts -----------------------------------------------------------------


def _helvetica(w: _Writer) -> int:
    return w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                 b"/Encoding /WinAnsiEncoding >>")


def _times_differences(w: _Writer, rng: random.Random) -> int:
    """WinAnsi plus ``Differences``: ligatures, a bullet, dashes, an
    algorithmic ``uniXXXX`` name, a suffixed ``a.sc`` and an unknown name
    (which drops the code), and ``/Widths`` from the seed."""
    widths = b" ".join(b"%d" % rng.randint(250, 700) for _ in range(224))
    fd = w.add(b"<< /Type /FontDescriptor /FontName /Times-Roman /Ascent 683 "
               b"/Descent -217 /MissingWidth 333 >>")
    return w.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman /FirstChar 32 "
        b"/Widths [%s] /FontDescriptor %d 0 R /Encoding << /Type /Encoding "
        b"/BaseEncoding /WinAnsiEncoding /Differences [128 /fi /fl /bullet /endash "
        b"/uni2192 /a.sc /zzunknown /u2022 /uFFFFFF /uni20AC0041 140 /emdash "
        b"/quotedblleft /quotedblright] >> >>"
        % (widths, fd))


def _courier_standard(w: _Writer) -> int:
    """No ``/Encoding``: StandardEncoding, monospace default width."""
    return w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")


def _macroman(w: _Writer) -> int:
    return w.add(b"<< /Type /Font /Subtype /TrueType /BaseFont /Palatino "
                 b"/Encoding << /BaseEncoding /MacRomanEncoding "
                 b"/Differences [165 /bullet] >> >>")


def _greek_tounicode(w: _Writer) -> int:
    """A simple font whose ``ToUnicode`` CMap overrides the encoding for
    some codes (one ``bfrange`` with a short destination)."""
    cmap = w.stream(b"begincmap 2 beginbfchar <41> <0391> <42> <0392> endbfchar "
                    b"1 beginbfrange <61> <63> <3B1> endbfrange endcmap")
    return w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Symbolic "
                 b"/Encoding /WinAnsiEncoding /ToUnicode %d 0 R >>" % cmap)


def _type3(w: _Writer) -> int:
    return w.add(b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1000 1000] "
                 b"/FontMatrix [0.0012 0 0 0.0012 0 0] /FirstChar 65 /LastChar 70 "
                 b"/Widths [600 650 700 750 0 820] /CharProcs << >> "
                 b"/Encoding << /Differences [65 /A /B /C /D /E /F] >> >>")


#: Identity-H codes of the composite font: 0x0003 space, 0x0010.. a-z,
#: 0x0040.. the Hebrew letters, 0x0070.. 0-9, 0x0080 '.', 0x0081 ',',
#: 0x0090 an ideographic space (wide), 0x00A0 unmapped
_T0_CMAP = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"/CMapName /Adobe-Identity-UCS def\n"
    b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
    b"4 beginbfchar\n<0003> <0020>\n<0080> <002E>\n<0081> <002C>\n"
    b"<0090> <3000>\nendbfchar\n"
    b"3 beginbfrange\n<0010> <0029> <0061>\n<0070> <0079> <0030>\n"
    b"<0040> <0055> [" + b" ".join(
        b"<%04X>" % ord(c) for c in _HEBREW) + b"]\nendbfrange\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end\n"
)


def _type0(w: _Writer, rng: random.Random) -> int:
    fd = w.add(b"<< /Type /FontDescriptor /FontName /Var-Identity /Ascent 880 "
               b"/Descent -240 >>")
    letters = b" ".join(b"%d" % rng.randint(420, 640) for _ in range(26))
    cid = w.add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Var-Identity "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> "
        b"/DW 1000 /W [3 [278] 16 [%s] 64 85 560 112 121 556 128 [278 278] 144 [1000] "
        b"160 [500]] /FontDescriptor %d 0 R >>" % (letters, fd))
    cmap = w.stream(_T0_CMAP)
    return w.add(b"<< /Type /Font /Subtype /Type0 /BaseFont /Var-Identity "
                 b"/Encoding /Identity-H /DescendantFonts [%d 0 R] /ToUnicode %d 0 R >>"
                 % (cid, cmap))


def _t0(text: str) -> bytes:
    """Text → an Identity-H hex string of the composite font."""
    codes = []
    for ch in text:
        if ch == " ":
            codes.append(0x03)
        elif "a" <= ch <= "z":
            codes.append(0x10 + ord(ch) - ord("a"))
        elif "0" <= ch <= "9":
            codes.append(0x70 + ord(ch) - ord("0"))
        elif ch in _HEBREW:
            codes.append(0x40 + _HEBREW.index(ch))
        elif ch == ".":
            codes.append(0x80)
        elif ch == ",":
            codes.append(0x81)
        elif ch == "　":
            codes.append(0x90)
        else:
            codes.append(0xA0)
    return b"<" + b"".join(b"%04X" % c for c in codes) + b">"


# -- pages -----------------------------------------------------------------


def _kerns(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _times_differences(w, rng), "F2": _helvetica(w)}
    out = [b"BT /F1 11 Tf 13 TL 72 720 Td"]
    for _ in range(rng.randint(6, 9)):
        items = []
        for k, word in enumerate(_words(rng, 4, 8)):
            if k:
                # word gaps near 0.3 em, an occasional sentence gap between
                # the REL threshold and CELL_GAP, letter kerns inside words
                items.append(b"%d" % rng.choice((-300, -310, -290, -330, -450, -460)))
            if len(word) > 3 and rng.random() < 0.5:
                cut = rng.randint(1, len(word) - 1)
                items += [_lit(word[:cut]), b"%d" % rng.choice((40, -60, 90)), _lit(word[cut:])]
            else:
                items.append(_lit(word))
        if rng.random() < 0.4:
            items += [b"-900", _lit(rng.choice(_WORDS))]  # a cell gap
        if rng.random() < 0.4:
            items += [b"4000", _lit("x")]  # a backward jump past 2 em
        out.append(b"[" + b" ".join(items) + b"] TJ T*")
    out.append(b"0 -13 TD %s Tj" % _lit(" ".join(_words(rng, 2, 4))))
    out.append(b"/F2 10 Tf 2 Tc %s ' 0 Tc" % _lit(" ".join(_words(rng, 3, 5))))
    out.append(b"4 1 %s \"" % _lit(" ".join(_words(rng, 3, 5))))
    out.append(b"0 Tw 0 Tc 150 Tz T* %s Tj 100 Tz" % _lit(" ".join(_words(rng, 2, 4))))
    out.append(b"T* [(\x80\x81) -250 (\x82 \x83 \x84) -250 (\x85\x86\x8c\x8d\x8e)] TJ ET")
    w.page(b"\n".join(out), fonts)
    return w.build()


def _styles(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _helvetica(w), "F2": _times_differences(w, rng),
             "F3": _courier_standard(w)}
    out = [b"BT 72 700 Td 16 TL"]
    for _ in range(rng.randint(5, 8)):
        parts = [b"/F1 10 Tf"]
        for word in _words(rng, 3, 6):
            kind = rng.random()
            if kind < 0.25:  # a font switch inside a token
                cut = rng.randint(1, len(word) - 1)
                parts.append(b"%s Tj /F2 10 Tf %s Tj /F1 10 Tf ( ) Tj"
                             % (_lit(word[:cut]), _lit(word[cut:])))
            elif kind < 0.4:  # a bold-like run in another font
                parts.append(b"/F3 10 Tf %s Tj /F1 10 Tf ( ) Tj" % _lit(word))
            elif kind < 0.5:  # a slightly larger last letter, same word
                parts.append(b"%s Tj /F1 11 Tf %s Tj /F1 10 Tf ( ) Tj"
                             % (_lit(word[:-1]), _lit(word[-1])))
            elif kind < 0.65:  # a superscript: half size, raised
                parts.append(b"%s Tj /F1 5.5 Tf 4 Ts (%d) Tj 0 Ts /F1 10 Tf ( ) Tj"
                             % (_lit(word), rng.randint(1, 99)))
            elif kind < 0.75:  # a subscript space run set small
                parts.append(b"%s Tj /F1 5 Tf -2 Ts ( ) Tj 0 Ts /F1 10 Tf"
                             % _lit(word))
            else:
                parts.append(b"%s Tj ( ) Tj" % _lit(word))
        parts.append(b"T*")
        out.append(b" ".join(parts))
    size = rng.choice((14, 18, 24))
    out.append(b"/F2 %d Tf 0 -30 Td %s Tj /F2 %d Tf %s Tj ET"
               % (size, _lit(rng.choice(_WORDS).title()), size // 2,
                  _lit(" " + rng.choice(_WORDS))))
    w.page(b"\n".join(out), fonts)
    return w.build()


def _rotated(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _helvetica(w)}
    out = [b"BT /F1 10 Tf"]
    c, s = rng.choice(((0.866, 0.5), (0.7071, 0.7071), (0.5, 0.866)))
    for k in range(3):
        out.append(b"%s %s %s %s %d %d Tm %s Tj"
                   % (_num(c), _num(s), _num(-s), _num(c), 100 + 40 * k, 400,
                      _lit(" ".join(_words(rng, 2, 4)))))
    # vertical stacks: a 90-degree Tm, one glyph after another, and a
    # column of short labels one glyph pitch apart
    for k in range(2):
        out.append(b"0 1 -1 0 %d %d Tm %s Tj"
                   % (420 + 30 * k, 300, _lit(rng.choice(_WORDS))))
    y = 600
    for ch in rng.choice(_WORDS)[:5]:
        out.append(b"1 0 0 1 500 %d Tm %s Tj" % (y, _lit(ch)))
        y -= 9
    out.append(b"1 0 0 1 72 200 Tm %s Tj ET" % _lit(" ".join(_words(rng, 4, 7))))
    form = w.stream(b"BT /F1 9 Tf 0 0 Td %s Tj ET"
                    % _lit(" ".join(_words(rng, 3, 5))),
                    b" /Type /XObject /Subtype /Form /BBox [0 0 300 50] "
                    b"/Matrix [1 0 0 1 5 5] /Resources << /Font << /F1 %d 0 R >> >>"
                    % fonts["F1"])
    out.append(b"q 1.5 0 0 1.5 72 100 cm /Fm1 Do Q")
    w.page(b"\n".join(out), fonts, xobjects={"Fm1": form})
    rot = rng.choice((90, 180, 270))
    lines = [b"BT /F1 12 Tf 14 TL 72 700 Td"]
    for _ in range(rng.randint(4, 7)):
        lines.append(b"%s Tj T*" % _lit(" ".join(_words(rng, 3, 7))))
    lines.append(b"ET")
    w.page(b"\n".join(lines), fonts, extra=b" /Rotate %d" % rot)
    w.page(b"BT /F1 12 Tf 72 700 Td %s Tj ET" % _lit(" ".join(_words(rng, 3, 5))),
           fonts, extra=b" /Rotate 90")
    return w.build()


def _type0_page(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F0": _type0(w, rng), "F1": _helvetica(w)}
    out = [b"BT /F0 11 Tf 14 TL 72 720 Td"]
    for _ in range(rng.randint(5, 8)):
        words = _words(rng, 3, 7)
        if rng.random() < 0.5:
            words.insert(rng.randint(0, len(words)), str(rng.randint(1, 9999)))
        text = " ".join(words) + rng.choice(("", ".", ","))
        out.append(b"%s Tj T*" % _t0(text))
    out.append(b"[%s -400 %s] TJ T*" % (_t0("kerned"), _t0("pair")))
    out.append(b"%s Tj T*" % _t0("odd\x01code"))
    out.append(b"<00100011001> Tj ET")  # odd hex length: the last byte is dropped
    w.page(b"\n".join(out), fonts)
    return w.build()


def _rtl(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F0": _type0(w, rng), "F1": _helvetica(w)}
    out = [b"BT 14 TL 300 720 Td"]
    for _ in range(rng.randint(5, 8)):
        hw = ["".join(rng.choice(_HEBREW) for _ in range(rng.randint(2, 6)))
              for _ in range(rng.randint(2, 5))]
        parts = [b"/F0 11 Tf %s Tj" % _t0(" ".join(hw))]
        kind = rng.random()
        if kind < 0.3:  # a Latin identifier: a bidi boundary
            parts.append(b"%s Tj" % _t0(" " + rng.choice(_WORDS) + " " + hw[0]))
        elif kind < 0.55:  # a lone period in the Latin font
            parts.append(b"/F1 11 Tf (.) Tj /F0 11 Tf %s Tj" % _t0(" " + hw[-1]))
        elif kind < 0.8:  # a padded label field: a wide space run
            parts.append(b"%s Tj" % _t0("　　" + hw[0] + " 12"))
        else:  # digits in the Latin font
            parts.append(b"/F1 11 Tf ( %d) Tj" % rng.randint(10, 999))
        parts.append(b"T*")
        out.append(b" ".join(parts))
    out.append(b"ET")
    w.page(b"\n".join(out), fonts)
    return w.build()


def _spaces(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _helvetica(w)}
    rows = []
    y = 700
    for _ in range(rng.randint(3, 5)):
        x = 72.0
        words = []
        for word in _words(rng, 3, 6):
            words.append((x, word))
            x += 5.56 * len(word) + rng.choice((3.0, 3.5, 8.0))
        rows.append((y, words))
        y -= 18
    out = [b"BT /F1 10 Tf"]
    # the space layer first: one show per space, each over a word
    for y, words in rows:
        for x, word in words[:-1]:
            out.append(b"1 0 0 1 %s %d Tm ( ) Tj" % (_num(x + 2.0), y))
    for _ in range(5):
        out.append(b"1 0 0 1 72 100 Tm ( ) Tj")
    for y, words in rows:
        for x, word in words:
            out.append(b"1 0 0 1 %s %d Tm %s Tj" % (_num(x), y, _lit(word)))
    # a double-struck word and a wide space run between two words
    x0 = 72 + rng.randint(0, 40)
    out.append(b"1 0 0 1 %d 500 Tm (bold) Tj 1 0 0 1 %s 500 Tm (bold) Tj"
               % (x0, _num(x0 + 0.4)))
    out.append(b"1 0 0 1 72 480 Tm (left) Tj 400 Tz (  ) Tj 100 Tz (right) Tj")
    out.append(b"1 0 0 1 72 460 Tm (end of line   ) Tj")
    out.append(b"1 0 0 1 72 440 Tm (a) Tj 1 0 0 1 72.5 440 Tm (    ) Tj ET")
    w.page(b"\n".join(out), fonts)
    return w.build()


def _encodings(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _times_differences(w, rng), "F2": _macroman(w),
             "F3": _courier_standard(w), "F4": _type3(w), "F5": _greek_tounicode(w)}
    out = [b"BT 14 TL 72 720 Td"]
    out.append(b"/F1 11 Tf (\x80nd \x81ow \x82 item \x83 \x84 \x85 \x86 \x87) Tj T*")
    out.append(b"/F1 11 Tf (\x8cquoted\x8d \x8e dash \x93\x94 caf\xe9) Tj T*")
    out.append(b"/F2 11 Tf (\x8a\x8e\x9a \xa5 \xd0 \xe9 caf\x8e) Tj T*")
    out.append(b"/F3 11 Tf (`quote' \xa4 \xae \xb1 \xe1 \xfb) Tj T*")
    out.append(b"/F4 10 Tf (ABCDEF) Tj T*")
    out.append(b"/F5 11 Tf (ABC abcd xyz) Tj T*")
    for _ in range(rng.randint(2, 4)):
        out.append(b"/F%d 11 Tf %s Tj T*" % (rng.randint(1, 3),
                                             _lit(" ".join(_words(rng, 3, 6)))))
    out.append(b"ET q 10 0 0 10 300 300 cm BI /W 2 /H 2 /BPC 8 /CS /G ID \x00EI\xff EI Q")
    out.append(b"BT /F1 11 Tf 72 300 Td (after the image) Tj ET")
    w.page(b"\n".join(out), fonts)
    return w.build()


def _layout(rng: random.Random) -> bytes:
    w = _Writer()
    fonts = {"F1": _helvetica(w), "F2": _times_differences(w, rng)}
    out = [b"BT /F1 8 Tf 72 770 Td %s Tj ET" % _lit("running header " + rng.choice(_WORDS))]
    for col_x in (72, 320):
        y = 720
        for _ in range(rng.randint(2, 3)):
            out.append(b"BT /F2 10 Tf 12 TL %d %d Td" % (col_x, y))
            n = rng.randint(2, 5)
            for _ in range(n):
                out.append(b"%s Tj T*" % _lit(" ".join(_words(rng, 3, 5))))
            out.append(b"ET")
            y -= 12 * n + rng.choice((14, 20, 26))
    y = 360
    for r in range(rng.randint(3, 5)):
        cells = b" ".join(b"1 0 0 1 %d %d Tm (%d) Tj" % (90 + 80 * k, y, rng.randint(1, 9999))
                          for k in range(4))
        out.append(b"BT /F1 9 Tf %s ET" % cells)
        y -= 14
    out.append(b"BT /F1 8 Tf 290 30 Td (%d) Tj ET" % rng.randint(1, 50))
    w.page(b"\n".join(out), fonts)
    return w.build()


FAMILIES = {
    "kerns": _kerns, "styles": _styles, "rotated": _rotated,
    "type0": _type0_page, "rtl": _rtl, "spaces": _spaces,
    "encodings": _encodings, "layout": _layout,
}


def variety_pdfs(seed: int) -> list[tuple[str, bytes]]:
    """``(url, pdf bytes)`` for each family at ``seed``."""
    return [(f"https://variety.test/{seed}/{name}.pdf",
             make(random.Random(f"pdf_variety:{name}:{seed}")))
            for name, make in FAMILIES.items()]


def dense_page_pdf(n: int) -> bytes:
    """One page of ``n`` one-word lines at a 0.15 pt font with 0.18 pt
    leading (``make_text_pdf`` formats sizes as integers)."""
    w = _Writer()
    fonts = {"F1": _helvetica(w)}
    lines = [b"BT /F1 0.15 Tf 72 708 Td 0.18 TL"]
    lines += [b"(w%d) Tj T*" % i for i in range(n)]
    lines.append(b"ET")
    w.page(b"\n".join(lines), fonts)
    return w.build()
