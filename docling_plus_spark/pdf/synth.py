"""Deterministic minimal PDF writer for the pdf-bytes driver query.

Generates a valid classic-xref PDF (Helvetica, WinAnsi, one Tj per
line, Td/TL/T* positioning) from plain text, purely as a function of
its input — no randomness, no timestamps. The stdlib parser
(`pdf/pdftext.py`) extracts it back byte-identically, giving the
driver's DuckDB oracle an exact expected value (the original text).

This is a *test/driver fixture generator*, not a sink: the reference
has no PDF writer; its PDF fixtures are checked in
(docling/tests/data/pdf). We synthesize because the sandbox testdata
carries no PDF bytes (TESTDATA.md).
"""

from __future__ import annotations

LINE_WORDS = 8
LINES_PER_PAGE = 40
FONT_SIZE = 12
LEADING = 14
MARGIN_X = 72
TOP_Y = 708  # first baseline (y-up) on a US-Letter page


def _escape(line: str) -> bytes:
    raw = line.encode("latin-1", "replace")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def wrap_lines(text: str) -> list[str]:
    words = text.split(" ")
    return [
        " ".join(words[i:i + LINE_WORDS])
        for i in range(0, len(words), LINE_WORDS)
    ] if text else []


def make_text_pdf(text: str) -> bytes:
    """Plain text → PDF bytes. Lines of ``LINE_WORDS`` words, pages of
    ``LINES_PER_PAGE`` lines."""
    lines = wrap_lines(text)
    page_lines = [
        lines[i:i + LINES_PER_PAGE]
        for i in range(0, len(lines), LINES_PER_PAGE)
    ] or [[]]

    objects: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    font_num = 1 + 1 + len(page_lines) * 2 + 1  # catalog, pages, (page+content)*, font
    kids: list[int] = []
    content_nums: list[int] = []
    add(b"<< /Type /Catalog /Pages 2 0 R >>")          # obj 1
    pages_placeholder = add(b"")                        # obj 2, filled later
    for pl in page_lines:
        parts = [b"BT /F1 %d Tf %d %d Td %d TL" % (FONT_SIZE, MARGIN_X, TOP_Y, LEADING)]
        for i, line in enumerate(pl):
            prefix = b"" if i == 0 else b"T* "
            parts.append(prefix + b"(" + _escape(line) + b") Tj")
        parts.append(b"ET")
        content = b"\n".join(parts)
        cnum = add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
        pnum = add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, cnum)
        )
        kids.append(pnum)
        content_nums.append(cnum)
    fnum = add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    assert fnum == font_num
    objects[pages_placeholder - 1] = (
        b"<< /Type /Pages /Kids [" +
        b" ".join(b"%d 0 R" % k for k in kids) +
        b"] /Count %d >>" % len(kids)
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_pos)
    )
    return bytes(out)
