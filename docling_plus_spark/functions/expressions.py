"""Pure-Column implementations of the reference's scalar operators.

Reference parity (file:line in /root/reference):
* sniff_format   — docling/docling/datamodel/document.py:612-649 content sniff
* doc_hash       — docling/docling/utils/utils.py:19-44 (sha-256 identity)
* unicode_clean  — docling/docling/backend/html_backend.py:1425-1463
* quality_score  — docling/docling/models/page_preprocessing_model.py:30-35,120-145
* token_count / langid / fingerprint — training-data-pipeline extensions over the
  same text column (no reference analog; standard web-text curation ops)

Design rule: everything here is a composition of built-in
``pyspark.sql.functions`` so it stays JVM-side inside whole-stage codegen
and each has a byte-equivalent ANSI-SQL twin (see
``docling_plus_spark.plans.oracles``) runnable by DuckDB. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the 19-entry replacement table of html_backend.py:1425-1463, as
# (source-char, replacement) pairs applied in deterministic order.
UNICODE_REPLACEMENTS: list[tuple[str, str]] = [
    (" ", " "),   # nbsp
    ("​", ""),    # zero-width space
    ("‌", ""),    # zero-width non-joiner
    ("‍", ""),    # zero-width joiner
    ("‐", "-"),
    ("‑", "-"),
    ("‒", "-"),
    ("–", "-"),   # en dash
    ("—", "-"),   # em dash
    ("―", "-"),
    ("‘", "'"),
    ("’", "'"),
    ("“", '"'),
    ("”", '"'),
    ("…", "..."),  # ellipsis
    ("­", ""),    # soft hyphen
    ("﻿", ""),    # BOM
    (" ", " "),   # narrow nbsp
    ("⁠", ""),    # word joiner
]


def unicode_clean(col: Column) -> Column:
    """Chained ``replace`` applying the reference's unicode table (P6)."""
    out = col
    for src, dst in UNICODE_REPLACEMENTS:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def doc_hash(binary_col: Column) -> Column:
    """Stable document identity: sha-256 hex of the raw bytes (S3)."""
    return F.lower(F.sha2(binary_col, 256))


# the reference's extension map (datamodel/document.py:586-610): the
# url's lower-cased extension → format; anything else is 'text'
EXTENSION_FORMATS: dict[str, str] = {
    "html": "html", "htm": "html", "xhtml": "html", "xhtm": "html",
    "pdf": "pdf", "xml": "xml", "json": "json", "md": "md", "markdown": "md",
    "csv": "csv", "vtt": "vtt", "adoc": "asciidoc", "asciidoc": "asciidoc",
    "docx": "docx", "pptx": "pptx", "xlsx": "xlsx", "xlsm": "xlsx",
    "nxml": "xml_jats", "tar.gz": "mets_gbs", "wav": "audio", "mp3": "audio",
    "flac": "audio", "ogg": "audio", "m4a": "audio",
}


def _sniff_decision(head: Column, magic: Column, by_ext: Column) -> Column:
    """:func:`sniff_format`'s branches over the prepared head and magic."""
    # XML DOCTYPE disambiguation (reference: document.py:550-584) — the
    # head is lowercased, so the doctype tokens are matched lowercase
    doctype = F.regexp_extract(head, "<!doctype [^>]+>", 0)
    uspto_doctype = (
        doctype.contains("us-patent-application-v4")
        | doctype.contains("us-patent-grant-v4")
        | doctype.contains("us-grant-025")
        | doctype.contains("patent-application-publication")
    )
    jats_doctype = doctype.contains("jats-journalpublishing") | doctype.contains(
        "jats-archive"
    )
    # image magic on the raw bytes — reference InputFormat.IMAGE
    # detection (datamodel/base_models.py image mime map). BMP's weak
    # 'BM' magic additionally requires a plausible DIB header size byte
    # so text starting with "BM" is not misrouted.
    is_image = (
        magic.startswith("89504E47")                       # PNG
        | magic.startswith("FFD8FF")                       # JPEG
        | magic.startswith("47494638")                     # GIF8
        | magic.startswith("49492A00")                     # TIFF LE
        | magic.startswith("4D4D002A")                     # TIFF BE
        | (magic.startswith("52494646")                    # RIFF ... WEBP
           & (F.substring(magic, 17, 8) == "57454250"))
        | (magic.startswith("424D")                        # BMP + DIB size
           & F.substring(magic, 29, 2).isin("0C", "28", "6C", "7C"))
    )
    # audio magics (InputFormat.AUDIO, datamodel/base_models.py:55-72 —
    # the reference routes these to the ASR pipeline; none exists here,
    # so rows classify needs_asr, mirroring the needs_ocr posture)
    is_audio = (
        (magic.startswith("52494646")                      # RIFF ... WAVE
         & (F.substring(magic, 17, 8) == "57415645"))
        | magic.startswith("494433")                       # MP3 with ID3 tag
        | magic.startswith("664C6143")                     # fLaC
        | magic.startswith("4F676753")                     # OggS
        | (F.substring(magic, 9, 8) == "66747970")         # MP4/M4A ftyp
    )
    return (
        F.when(is_audio, F.lit("audio"))
        .when(is_image, F.lit("image"))
        .when(F.substring(head, 1, 5) == "%pdf-", F.lit("pdf"))
        .when(
            head.startswith("<?xml"),
            F.when(F.substring(head, 1, 1000).contains("xhtml"), F.lit("html"))
            .when(uspto_doctype, F.lit("xml_uspto"))
            .when(jats_doctype, F.lit("xml_jats"))
            .otherwise(F.lit("xml")),
        )
        # plain-text USPTO "PATN" record (document.py:578-582)
        .when(head.startswith("patn\r\n") | head.startswith("patn\n"), F.lit("xml_uspto"))
        .when(
            head.rlike(
                "(?s)^(<script.*?>.*?</script>\\s*)?(<!doctype\\s+html|<html|<head|<body)"
            ),
            F.lit("html"),
        )
        .when(head.rlike("^\\{"), F.lit("json"))
        # WEBVTT signature: 'WEBVTT' then EOF/space/tab/LF (routing only —
        # the vtt backend re-validates the signature case-sensitively)
        .when(head.rlike("^webvtt([ \\t\\n]|$)"), F.lit("vtt"))
        .otherwise(by_ext)
    )


def sniff_format(binary_col: Column, url_col: Column) -> Column:
    """Content-sniff format detection over the first 1 KiB (S2).

    Mirrors `_detect_html_xhtml` + magic-byte dispatch
    (datamodel/document.py:488-548, :612-649): strip XML comments, lstrip;
    XML declaration → html if 'xhtml' appears early else xml;
    optional leading <script> then DOCTYPE/`<html|<head|<body` → html;
    `%PDF` magic → pdf; JSON object sniff → json. Inconclusive content
    falls back to the url extension (the reference's extension map,
    document.py:586-610). The head and the 16-byte magic are let-bound
    as a lambda variable, so each is computed once per row, not once per
    branch that reads it.
    """
    # the cast never fails (malformed UTF-8 decodes to U+FFFD); remove
    # XML comments, then lstrip as str.lstrip() does — Spark's ltrim
    # strips only U+0020 — and a leading BOM (document.py:626-628)
    head = F.lower(F.substring(binary_col, 1, 1024).cast("string"))
    head = F.regexp_replace(head, "(?s)<!--(.*?)-->", "")
    head = F.regexp_replace(head, "^[\\s\\x{feff}]+", "")
    magic = F.hex(F.substring(binary_col, 1, 16))
    # the path's extension (before any ?query or #fragment)
    ext = F.regexp_extract(
        F.lower(url_col), "^[^?#]*?\\.(tar\\.gz|[^./?#]+)(?:[?#]|$)", 1
    )
    ext_map = F.create_map(*[F.lit(x) for kv in EXTENSION_FORMATS.items() for x in kv])
    by_ext = F.coalesce(ext_map[ext], F.lit("text"))
    bound = F.array(F.struct(head.alias("head"), magic.alias("magic")))
    return F.element_at(
        F.transform(bound, lambda r: _sniff_decision(r["head"], r["magic"], by_ext)),
        1,
    )


def token_count(text_col: Column) -> Column:
    """Whitespace token count; 0 for blank strings."""
    t = F.trim(text_col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    ).cast("int")


# -- list-marker normalization (F6) -----------------------------------------
# Marker families of the reference ListItemMarkerProcessor
# (docling-ibm-models/.../list_marker_processor.py:40-77), folded into two
# engine-portable regexes (Java regex + DuckDB RE2 agree on these) so the
# SAME string drives the Spark expression and the SQL oracle.
LIST_BULLET_CLASS = (
    "[-*+•·‣◦⁃⁌⁍∙▪▫"
    "●○‣►▶▸➤➢✓✔✗✘]"
)
LIST_BULLET_RE = f"^({LIST_BULLET_CLASS})\\s(.+)"
LIST_NUMBERED_RE = (
    "^((\\(\\d+\\))|(\\[\\d+\\])|(\\d+[.)])"
    "|([ivxlcdm]+\\.)|([IVXLCDM]+\\.)|([A-Za-z][.)]))\\s(.+)"
)


def normalize_list_marker(text_col: Column):
    """F6: split a list-item's text into (marker, content, enumerated).

    Reference: ListItemMarkerProcessor.process_text_item
    (list_marker_processor.py:204-260) — bullets checked before numbered
    families; non-matching text passes through with an empty marker.
    Returns three columns, pure ``regexp_extract`` (no UDF).
    """
    is_bullet = text_col.rlike(LIST_BULLET_RE)
    is_numbered = text_col.rlike(LIST_NUMBERED_RE)
    marker = (
        F.when(is_bullet, F.regexp_extract(text_col, LIST_BULLET_RE, 1))
        .when(is_numbered, F.regexp_extract(text_col, LIST_NUMBERED_RE, 1))
        .otherwise(F.lit(""))
    )
    content = (
        F.when(is_bullet, F.regexp_extract(text_col, LIST_BULLET_RE, 2))
        .when(is_numbered, F.regexp_extract(text_col, LIST_NUMBERED_RE, 8))
        .otherwise(text_col)
    )
    enumerated = ~is_bullet & is_numbered
    return marker, content, enumerated


_GARBAGE_RE = "GLYPH<[0-9A-Fa-f]+>|/G\\d+|�"


def quality_score(text_col: Column) -> Column:
    """Text-quality rating in [0,1] (P7 analog on whole-document text).

    Reference scores PDF cells by garbage-pattern regexes
    (page_preprocessing_model.py:30-35); restated for a web-text column as
    1 − garbage_chars/len, clamped, with blank text scoring 0.
    """
    t = text_col
    n = F.length(t)
    garbage = n - F.length(F.regexp_replace(t, _GARBAGE_RE, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - garbage.cast("double") / n.cast("double")
    )


# marker words per language for the rule-based language identifier.
# Counting is done with the replace-length trick so the exact same SQL
# runs on DuckDB (regexp word-boundary semantics differ across engines;
# plain substring counting does not).
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "es": [" el ", " la ", " los ", " que ", " es "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " les ", " est ", " une "],
}


def _marker_hits(padded: Column, markers: list[str]) -> Column:
    total = F.lit(0)
    for m in markers:
        cnt = (
            F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))
        ) / F.lit(len(m))
        total = total + cnt
    return total.cast("long")


def langid_expr(text_col: Column) -> Column:
    """Rule-based language id over {en,es,de,fr} via stopword counting.

    Deterministic tie-break: languages compared in fixed order, strict
    ``>`` keeps the earlier language on ties; zero hits → 'und'.
    """
    padded = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    scores = {lang: _marker_hits(padded, ms) for lang, ms in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return F.when(best_score <= 0, F.lit("und")).otherwise(best_lang)


def fingerprint_md5(text_col: Column) -> Column:
    """Document fingerprint: md5 of the lower-cased alnum skeleton.

    Normalization-stable identity for exact near-dup detection (whitespace,
    punctuation and case changes don't alter the fingerprint).
    """
    return F.md5(F.regexp_replace(F.lower(text_col), "[^a-z0-9]", ""))


def md5_long(col: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5 → bigint.

    Cross-engine deterministic (DuckDB: ``('0x'||substr(md5(x),1,15))::ubigint``)
    — the primitive under MinHash signatures and hash-partitioned ops whose
    values must match the SQL oracle exactly.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
