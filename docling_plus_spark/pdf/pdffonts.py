"""Font decoding for the stdlib PDF parser (pdfbytes.py).

Maps character codes in content-stream show operators to (unicode,
advance-width) pairs.  Priority order mirrors what text extractors
converge on in practice (and what the reference's native parsers do
internally): /ToUnicode CMap → /Encoding (+/Differences glyph names via
an AGL subset) → code-page fallback (cp1252).  Widths come from /Widths
(simple fonts) or /W + /DW (CID fonts); missing widths fall back to 500
(600 for monospace) glyph units — positions only steer line/word
segmentation, so small width error is tolerable.
"""

from __future__ import annotations

import re
from typing import Any

from .pdfbytes import Name, PdfDocument, Stream, parse_object

# ---------------------------------------------------------------------------
# Adobe Glyph List subset: every name that appears in the base encodings
# plus the common publishing extras (ligatures, dashes, quotes, math).

AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 supplement
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "twosuperior": "²",
    "threesuperior": "³", "acute": "´", "mu": "µ",
    "paragraph": "¶", "periodcentered": "·", "cedilla": "¸",
    "onesuperior": "¹", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "multiply": "×", "divide": "÷",
    # accented capitals / lowercase (AGL names == unicode names)
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
    "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Otilde": "Õ", "Odieresis": "Ö", "Oslash": "Ø",
    "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
    "germandbls": "ß", "agrave": "à", "aacute": "á",
    "acircumflex": "â", "atilde": "ã", "adieresis": "ä",
    "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê",
    "edieresis": "ë", "igrave": "ì", "iacute": "í",
    "icircumflex": "î", "idieresis": "ï", "eth": "ð",
    "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    # publishing
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "fraction": "⁄", "florin": "ƒ",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ",
    "ffl": "ﬄ", "trademark": "™", "Euro": "€",
    "minus": "−", "dotlessi": "ı", "circumflex": "ˆ",
    "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "tilde": "˜",
    "hungarumlaut": "˝", "OE": "Œ", "oe": "œ",
    "Scaron": "Š", "scaron": "š", "Ydieresis": "Ÿ",
    "Zcaron": "Ž", "zcaron": "ž", "Lslash": "Ł",
    "lslash": "ł", "nbspace": " ", "softhyphen": "­",
    "middot": "·", "sfthyphen": "­", "apple": "",
}


def glyph_to_unicode(name: str) -> str:
    """AGL subset + algorithmic uniXXXX / uXXXX[XX] names."""
    if len(name) == 1:
        return name
    if name in AGL:
        return AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})(?:[0-9A-Fa-f]{4})*", name)
    if m:
        try:
            return "".join(
                chr(int(name[i:i + 4], 16)) for i in range(3, len(name), 4)
            )
        except ValueError:
            pass
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            pass
    # strip suffixed variants like 'a.sc', 'one.oldstyle'
    if "." in name:
        return glyph_to_unicode(name.split(".", 1)[0])
    return ""


# Adobe StandardEncoding, positions that differ from ASCII/latin-1.
_STD_HIGH = {
    0x27: "’", 0x60: "‘",
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
    0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
    0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
    0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
    0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
    0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
    0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
    0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
    0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
    0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
    0xFA: "œ", 0xFB: "ß",
}


def _code_page(codec: str) -> dict[int, str]:
    out: dict[int, str] = {}
    for c in range(32, 256):
        ch = bytes([c]).decode(codec, "ignore")
        if ch:
            out[c] = ch
    return out


#: the base encodings, built once; StandardEncoding also stands in for
#: PDFDocEncoding and any unknown name
_BASE_ENCODINGS = {
    "WinAnsiEncoding": _code_page("cp1252"),
    "MacRomanEncoding": _code_page("mac_roman"),
}
_STANDARD_ENCODING = {c: chr(c) for c in range(32, 127)} | _STD_HIGH


def _base_encoding_map(name: str) -> dict[int, str]:
    """A fresh copy of the named base encoding: ``Differences`` edits it."""
    return dict(_BASE_ENCODINGS.get(name, _STANDARD_ENCODING))


# ---------------------------------------------------------------------------
# ToUnicode CMap

_CMAP_HEX = re.compile(rb"<([0-9A-Fa-f]+)>")


def parse_tounicode(content: bytes) -> dict[int, str]:
    """bfchar/bfrange sections → {code: unicode string} (UTF-16BE values)."""
    out: dict[int, str] = {}

    def _utf16(hexstr: bytes) -> str:
        try:
            raw = bytes.fromhex(hexstr.decode())
            return raw.decode("utf-16-be", "ignore")
        except ValueError:
            return ""

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", content, re.S):
        toks = _CMAP_HEX.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(toks[i], 16)] = _utf16(toks[i + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", content, re.S):
        body = m.group(1)
        pos = 0
        while True:
            mm = re.match(
                rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*", body[pos:])
            if not mm:
                break
            lo, hi = int(mm.group(1), 16), int(mm.group(2), 16)
            pos += mm.end()
            if pos < len(body) and body[pos:pos + 1] == b"[":
                end = body.find(b"]", pos)
                arr = _CMAP_HEX.findall(body[pos:end if end >= 0 else len(body)])
                for k, dst in enumerate(arr):
                    out[lo + k] = _utf16(dst)
                pos = (end + 1) if end >= 0 else len(body)
            else:
                mm2 = re.match(rb"<([0-9A-Fa-f]+)>\s*", body[pos:])
                if not mm2:
                    break
                base_hex = mm2.group(1)
                base_raw = bytes.fromhex(base_hex.decode().zfill(
                    (len(base_hex) + 1) // 2 * 2))
                base_int = int.from_bytes(base_raw, "big")
                width = len(base_raw)
                for k in range(min(hi - lo + 1, 65536)):
                    val = (base_int + k).to_bytes(max(width, 2), "big")
                    out[lo + k] = val.decode("utf-16-be", "ignore")
                pos += mm2.end()
    return out


# ---------------------------------------------------------------------------
# Font objects

class Glyph:
    __slots__ = ("text", "width", "is_space")

    def __init__(self, text: str, width: float, is_space: bool):
        self.text = text
        self.width = width  # glyph units (1/1000 text space)
        self.is_space = is_space


class BaseFont:
    """Metrics every font kind shares; a kind's ``decode`` maps the bytes
    of a show operator to its glyphs."""

    two_byte = False

    def __init__(self) -> None:
        self.ascent = 0.8
        self.descent = -0.2
        # code → Glyph: a font maps a code to the same glyph every time
        self._glyphs: dict[int, Glyph] = {}

    def _descriptor_metrics(self, doc: PdfDocument, fd: Any) -> None:
        fd = doc.resolve(fd)
        if isinstance(fd, dict):
            asc = doc.resolve(fd.get(Name("Ascent")))
            dsc = doc.resolve(fd.get(Name("Descent")))
            if isinstance(asc, (int, float)) and asc > 0:
                self.ascent = float(asc) / 1000.0
            if isinstance(dsc, (int, float)) and dsc < 0:
                self.descent = float(dsc) / 1000.0


class SimpleFont(BaseFont):
    """Type1 / TrueType / Type3: one byte per code."""

    def __init__(self, doc: PdfDocument, d: dict):
        super().__init__()
        self.tounicode: dict[int, str] = {}
        tu = doc.resolve(d.get(Name("ToUnicode")))
        if isinstance(tu, Stream):
            try:
                self.tounicode = parse_tounicode(doc.decode_stream(tu))
            except Exception:
                pass
        base = doc.resolve(d.get(Name("BaseFont")))
        base_name = str(base or "")
        enc = doc.resolve(d.get(Name("Encoding")))
        enc_name = "StandardEncoding"
        diffs = None
        if isinstance(enc, Name):
            enc_name = str(enc)
        elif isinstance(enc, dict):
            enc_name = str(doc.resolve(enc.get(Name("BaseEncoding")))
                           or "StandardEncoding")
            diffs = doc.resolve(enc.get(Name("Differences")))
        self.enc_map = _base_encoding_map(enc_name)
        if diffs:
            code = 0
            for item in diffs:
                item = doc.resolve(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, Name):
                    uni = glyph_to_unicode(str(item))
                    if uni:
                        self.enc_map[code] = uni
                    else:
                        self.enc_map.pop(code, None)
                    code += 1
        # widths
        self.default_width = 600.0 if "Courier" in base_name or "Mono" in base_name else 500.0
        self.first_char = int(doc.resolve(d.get(Name("FirstChar"), 0)) or 0)
        widths = doc.resolve(d.get(Name("Widths")))
        self.widths: list[float] = []
        if isinstance(widths, list):
            self.widths = [float(doc.resolve(w) or 0) for w in widths]
        self._descriptor_metrics(doc, d.get(Name("FontDescriptor")))
        fd = doc.resolve(d.get(Name("FontDescriptor")))
        if isinstance(fd, dict):
            mw = doc.resolve(fd.get(Name("MissingWidth")))
            if isinstance(mw, (int, float)) and mw > 0:
                self.default_width = float(mw)
        # Type3 fonts scale via /FontMatrix instead of /1000
        self.font_matrix = None
        if str(doc.resolve(d.get(Name("Subtype"), ""))) == "Type3":
            fm = doc.resolve(d.get(Name("FontMatrix")))
            if isinstance(fm, list) and len(fm) == 6:
                self.font_matrix = [float(doc.resolve(x) or 0) for x in fm]

    def _width(self, code: int) -> float:
        idx = code - self.first_char
        if 0 <= idx < len(self.widths) and self.widths[idx] > 0:
            w = self.widths[idx]
        else:
            w = self.default_width
        if self.font_matrix:
            # normalize Type3 widths to the /1000 convention
            w = w * self.font_matrix[0] * 1000.0
        return w

    def _glyph(self, code: int) -> Glyph:
        if code in self.tounicode:
            text = self.tounicode[code]
        elif code in self.enc_map:
            text = self.enc_map[code]
        else:
            text = bytes([code]).decode("cp1252", "ignore")
        glyph = self._glyphs[code] = Glyph(text, self._width(code), code == 32)
        return glyph

    def decode(self, raw: bytes) -> list[Glyph]:
        glyphs = self._glyphs
        return [glyphs[c] if c in glyphs else self._glyph(c) for c in raw]


class Type0Font(BaseFont):
    """Composite font, Identity-H two-byte codes (the dominant case)."""

    two_byte = True

    def __init__(self, doc: PdfDocument, d: dict):
        super().__init__()
        self.tounicode: dict[int, str] = {}
        tu = doc.resolve(d.get(Name("ToUnicode")))
        if isinstance(tu, Stream):
            try:
                self.tounicode = parse_tounicode(doc.decode_stream(tu))
            except Exception:
                pass
        self.default_width = 1000.0
        self.widths: dict[int, float] = {}
        desc = doc.resolve(d.get(Name("DescendantFonts")))
        if isinstance(desc, list) and desc:
            df = doc.resolve(desc[0])
            if isinstance(df, dict):
                dw = doc.resolve(df.get(Name("DW")))
                if isinstance(dw, (int, float)):
                    self.default_width = float(dw)
                self._parse_w(doc, doc.resolve(df.get(Name("W"))))
                self._descriptor_metrics(doc, df.get(Name("FontDescriptor")))
        # /Encoding: Identity-H/V or an embedded CMap stream; for the
        # CMap case we still read 2-byte codes (covers the common CID
        # CMaps: UCS2/UTF16/Identity) — exotic 1-byte CID CMaps degrade
        # to garbled text, never to a crash.

    def _parse_w(self, doc: PdfDocument, w: Any) -> None:
        if not isinstance(w, list):
            return
        i = 0
        while i < len(w):
            first = doc.resolve(w[i])
            if i + 1 < len(w) and isinstance(doc.resolve(w[i + 1]), list):
                arr = doc.resolve(w[i + 1])
                for k, wid in enumerate(arr):
                    wid = doc.resolve(wid)
                    if isinstance(wid, (int, float)):
                        self.widths[int(first) + k] = float(wid)
                i += 2
            elif i + 2 < len(w):
                last = doc.resolve(w[i + 1])
                wid = doc.resolve(w[i + 2])
                if isinstance(wid, (int, float)):
                    span = min(int(last) - int(first) + 1, 65536)
                    for c in range(int(first), int(first) + span):
                        self.widths[c] = float(wid)
                i += 3
            else:
                break

    def _glyph(self, code: int) -> Glyph:
        text = self.tounicode.get(code, "")
        glyph = self._glyphs[code] = Glyph(
            text, self.widths.get(code, self.default_width), text == " ")
        return glyph

    def decode(self, raw: bytes) -> list[Glyph]:
        glyphs = self._glyphs
        out = []
        for i in range(0, len(raw) - len(raw) % 2, 2):
            code = (raw[i] << 8) | raw[i + 1]
            out.append(glyphs[code] if code in glyphs else self._glyph(code))
        return out


def load_font(doc: PdfDocument, d: Any) -> BaseFont | None:
    d = doc.resolve(d)
    if not isinstance(d, dict):
        return None
    subtype = str(doc.resolve(d.get(Name("Subtype"), "")))
    try:
        if subtype == "Type0":
            return Type0Font(doc, d)
        return SimpleFont(doc, d)
    except Exception:
        return None
