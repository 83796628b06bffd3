"""Property-based (hypothesis) fuzzing of the engine's deterministic
kernels via their DuckDB twins against independent pure-Python models.

The oracle harness (tools/oracle_check.py) proves Spark == DuckDB twin
on the driver corpora; these tests close the triangle by proving
DuckDB twin == an independent Python reference on *arbitrary* inputs —
so a bug would have to fool two engines and two implementations the
same way on fuzzed data to slip through."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

def _eng_lower(s: str) -> str:
    return s.lower()


# Exclude the handful of codepoints whose Python lower() is multi-char
# full case folding ('İ' U+0130 → 'i̇') — DuckDB/Spark use Unicode
# SIMPLE case mapping there ('İ' → 'i'), a deliberate engine semantic
# outside the tokenization contract under test.
WORD = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x2FF
    ).filter(lambda c: len(c.lower()) == 1),
    min_size=1,
    max_size=6,
)
TEXT = st.lists(WORD, min_size=0, max_size=30).map(" ".join)


def _con(rows, cols="doc_id, text"):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


# --------------------------------------------------------------------- BPE

def _ref_bpe(texts, n):
    freqs = Counter()
    for t in texts:
        for w in _eng_lower(t).split():
            freqs[tuple(w)] += 1
    freqs = dict(freqs)
    merges = []
    for step in range(1, n + 1):
        pc = Counter()
        for syms, f in freqs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        pair = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((step, pair[0], pair[1], pc[pair]))
        nxt = Counter()
        for syms, f in freqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += f
        freqs = dict(nxt)
    return merges


@settings(max_examples=40, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8), st.integers(1, 6))
def test_bpe_twin_matches_reference_on_fuzz(texts, n):
    from docling_plus_spark.operators.bpe import bpe_train_sql

    con = _con(list(enumerate(texts)))
    got = [tuple(r) for r in con.execute(bpe_train_sql(n)).fetchall()]
    assert got == _ref_bpe(texts, n)


# ------------------------------------------------------- hash classifier

@settings(max_examples=40, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_hash_classifier_twin_matches_reference_on_fuzz(texts):
    from docling_plus_spark.operators.quality import (
        HASH_DIM,
        _MIX,
        _MOD,
        hash_classifier_sql,
    )

    con = _con(list(enumerate(texts)))
    got = {
        r[0]: r
        for r in con.execute(
            hash_classifier_sql()
        ).fetchall()
    }

    def weight(w):
        b = int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % HASH_DIM
        return (b * _MIX % _MOD) / _MOD - 0.5

    for i, t in enumerate(texts):
        words = _eng_lower(t).split()
        if not words:
            assert i not in got
            continue
        m = sum(weight(w) for w in words) / len(words)
        want = round(1.0 / (1.0 + math.exp(-4.0 * m)), 6)
        assert got[i][1] == len(words)
        assert got[i][2] == pytest.approx(want, abs=1e-9)


# --------------------------------------------------- URL canonicalization

URL = st.builds(
    lambda scheme, host, port, path, q, frag: (
        f"{scheme}://{host}{port}{path}{q}{frag}"
    ),
    st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    st.from_regex(r"[A-Za-z0-9.-]{1,12}\.test", fullmatch=True),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.from_regex(r"(/[A-Za-z0-9_.~-]{0,8}){0,3}", fullmatch=True),
    st.sampled_from(
        ["", "?a=1", "?utm_source=x", "?utm_a=1&b=2", "?b=2&fbclid=z&a=1"]
    ),
    st.sampled_from(["", "#frag", "#a#b"]),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(URL, min_size=1, max_size=10))
def test_canonical_url_idempotent_and_clean(urls):
    from docling_plus_spark.operators.webclean import canonical_url_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE u (url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u in urls])
    expr = canonical_url_sql("url")
    once = [r[0] for r in con.execute(f"SELECT {expr} FROM u").fetchall()]
    con.execute("CREATE TABLE v (url VARCHAR)")
    con.executemany("INSERT INTO v VALUES (?)", [(c,) for c in once])
    twice = [r[0] for r in con.execute(f"SELECT {expr} FROM v").fetchall()]
    assert once == twice  # idempotent
    for c in once:
        assert "#" not in c
        assert "utm_" not in c and "fbclid" not in c
        head = c.split("/", 3)[0:3]
        assert "".join(head) == "".join(head).lower()


# ------------------------------------------------------ script composition

@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=6))
def test_script_fractions_bounded(texts):
    from docling_plus_spark.operators.quality import (
        SCRIPT_CLASSES,
        script_composition_sql,
    )

    clean = [t.replace("'", " ") for t in texts]
    con = _con(list(enumerate(clean)))
    rows = con.execute(
        script_composition_sql()
    ).fetchall()
    names = [n for n, _, _ in SCRIPT_CLASSES]
    for r in rows:
        fracs = dict(zip(names, r[2:-1]))
        for v in fracs.values():
            assert 0.0 <= v <= 1.0
        assert r[-1] in names + ["other"]
        if all(v == 0.0 for v in fracs.values()):
            assert r[-1] == "other"


# ------------------------------------------------------- PDF robustness

@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 10_000),
    st.binary(min_size=1, max_size=12),
    st.integers(0, 3),
)
def test_pdf_parser_survives_byte_mutations(pos, junk, mode):
    """Arbitrary corruption of a valid PDF must either parse (possibly
    partially) or raise the classified NeedsNativeParserError — never an
    unhandled exception (errors become failure rows, not job failures)."""
    from docling_plus_spark.pdf.pdfbytes import NeedsNativeParserError
    from docling_plus_spark.pdf.pdftext import extract_pdf_pages
    from docling_plus_spark.pdf.synth import make_text_pdf

    base = make_text_pdf("hello fuzzing world " * 20)
    p = pos % len(base)
    if mode == 0:
        data = base[:p] + junk + base[p:]
    elif mode == 1:
        data = base[:p] + base[p + len(junk):]
    elif mode == 2:
        data = base[:p] + junk + base[p + len(junk):]
    else:
        data = junk + base
    try:
        pages = extract_pdf_pages(data)
        assert isinstance(pages, list)
    except NeedsNativeParserError:
        pass


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=500), min_size=1,
                   max_size=60),
    target=st.integers(min_value=1, max_value=700),
)
@settings(max_examples=60, deadline=None)
def test_shard_manifest_twin_matches_reference_on_fuzz(sizes, target):
    """DuckDB shard twin vs a pure-Python prefix-sum model: atomicity,
    offsets, shard assignment, in-shard ranks."""
    from docling_plus_spark.operators.packing import shard_manifest_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, {n})" for i, n in enumerate(sizes))
        + ") v(doc_id, n_bytes)"
    )
    got = con.execute(
        "SELECT * FROM ("
        + shard_manifest_sql(target, "doc_id", "n_bytes", "t")
        + ") ORDER BY byte_off"
    ).fetchall()

    # independent model
    exp = []
    off = 0
    seq: dict[int, int] = {}
    for i, n in enumerate(sizes):
        if n <= 0:
            continue
        shard = off // target
        exp.append((shard, i, seq.get(shard, 0), off, n))
        seq[shard] = seq.get(shard, 0) + 1
        off += n
    assert got == exp
    # invariant: a shard's bytes stay under target + max doc
    by_shard = Counter()
    for shard, _i, _s, _o, n in exp:
        by_shard[shard] += n
    big = max(sizes) if sizes else 0
    assert all(v < target + big + 1 for v in by_shard.values())


@given(
    toks=st.lists(st.integers(min_value=1, max_value=1000), min_size=1,
                  max_size=8),
    weights=st.lists(st.floats(min_value=0.01, max_value=1.0), min_size=1,
                     max_size=8),
)
@settings(max_examples=60, deadline=None)
def test_mixture_plan_invariants_on_fuzz(toks, weights):
    """The reference source always has sample_rate exactly 1.0; all
    rates lie in [0, 1]; repeat_epochs >= 1 wherever targeted."""
    from docling_plus_spark.operators.mixture import mixture_plan_sql

    srcs = [f"s{i}" for i in range(len(toks))]
    w = {s: weights[i % len(weights)] for i, s in enumerate(srcs)}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{s}', {n})" for i, (s, n) in
                   enumerate(zip(srcs, toks)))
        + ") v(doc_id, source, n_chars)"
    )
    rows = con.execute(mixture_plan_sql(w)).fetchall()
    rates = {r[0]: r[5] for r in rows}
    reps = {r[0]: r[6] for r in rows}
    assert all(0.0 <= v <= 1.0 for v in rates.values())
    assert any(v == 1.0 for v in rates.values())
    assert all(reps[s] >= 1 for s in srcs if w[s] > 0)


_BP_WORDS = ["the", "of", "and", "table", "zyx", "data", "qwv", "work"]


@given(
    blocks=st.lists(
        st.tuples(
            st.sampled_from(["p", "div", "li", "h1"]),
            st.lists(st.sampled_from(_BP_WORDS), min_size=0, max_size=25),
            st.booleans(),  # wrap content in <a>
        ),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_boilerplate_twin_matches_python_model_on_fuzz(blocks):
    """DuckDB jusText twin vs an independent pure-Python model of the
    same algorithm (densities, thresholds, two-pass context rule)."""
    from docling_plus_spark.operators.boilerplate import (
        LEN_LOW,
        MAX_LINK_DENSITY,
        STOP_LOW,
        STOPWORDS,
        boilerplate_blocks_sql,
    )

    html = "".join(
        f"<{tag}>" + (
            ("<a href='/x'>" + " ".join(ws) + "</a>")
            if link else " ".join(ws)
        ) + f"</{tag}>"
        for tag, ws, link in blocks
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT 1::bigint AS doc_id, ? AS html",
        [html],
    )
    got = con.execute(
        "SELECT * FROM (" + boilerplate_blocks_sql() + ") ORDER BY pos"
    ).fetchall()

    # independent model
    stop = set(STOPWORDS)
    rated = []
    for tag, ws, link in blocks:
        text = " ".join(ws)
        if not text.strip():
            continue
        n_chars = len(text)
        link_chars = n_chars if link else 0
        n_words = len(ws)
        n_stop = sum(1 for w in ws if w in stop)
        ld = round(link_chars / max(n_chars, 1), 6)
        sd = round(n_stop / max(n_words, 1), 6)
        if ld > MAX_LINK_DENSITY:
            raw = "bad"
        elif n_chars < LEN_LOW:
            raw = "short"
        elif sd >= STOP_LOW:
            raw = "good"
        else:
            raw = "near_good"
        rated.append([n_chars, ld, sd, raw])
    exp = []
    for i, (n_chars, ld, sd, raw) in enumerate(rated):
        certain = [r[3] for r in rated if r[3] in ("good", "bad")]
        prev = next(
            (rated[j][3] for j in range(i - 1, -1, -1)
             if rated[j][3] in ("good", "bad")), "bad")
        nxt = next(
            (rated[j][3] for j in range(i + 1, len(rated))
             if rated[j][3] in ("good", "bad")), "bad")
        if raw in ("good", "bad"):
            label = raw
        elif raw == "near_good":
            label = "good" if (prev == "good" or nxt == "good") else "bad"
        else:
            label = "good" if (prev == "good" and nxt == "good") else "bad"
        exp.append((1, i, n_chars, ld, sd, label))
    assert got == exp


@given(
    tables=st.lists(
        st.lists(  # rows
            st.lists(  # cells: (is_th, word-count)
                st.tuples(st.booleans(),
                          st.integers(min_value=0, max_value=4)),
                min_size=0, max_size=4,
            ),
            min_size=0, max_size=4,
        ),
        min_size=0, max_size=3,
    )
)
@settings(max_examples=60, deadline=None)
def test_web_tables_twin_matches_python_model_on_fuzz(tables):
    """DuckDB web_tables twin vs a direct Python construction of the
    expected (table, row, col, is_header, text) cells."""
    from docling_plus_spark.operators.webtables import web_tables_sql

    def cell_html(is_th, n):
        tag = "th" if is_th else "td"
        return f"<{tag}>{' '.join(['w'] * n)}</{tag}>"

    html = "".join(
        "<table>" + "".join(
            "<tr>" + "".join(cell_html(h, n) for h, n in row) + "</tr>"
            for row in tbl
        ) + "</table>"
        for tbl in tables
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT 1::bigint AS doc_id, ? AS html",
        [html],
    )
    got = con.execute(
        "SELECT * FROM (" + web_tables_sql()
        + ") ORDER BY table_idx, row_idx, col_idx"
    ).fetchall()
    exp = []
    for ti, tbl in enumerate(tables):
        for ri, row in enumerate(tbl):
            for ci, (h, n) in enumerate(row):
                exp.append((1, ti, ri, ci, h, " ".join(["w"] * n)))
    assert got == exp


@given(texts=st.lists(TEXT, min_size=1, max_size=12))
@settings(max_examples=40, deadline=None)
def test_kn_bigram_twin_matches_python_model_on_fuzz(texts):
    """DuckDB Kneser-Ney twin vs an independent pure-Python
    implementation of the interpolated-KN formula."""
    import math
    from collections import defaultdict

    from docling_plus_spark.operators.textstats import kn_bigram_nll_sql

    con = _con(list(enumerate(texts)))
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            kn_bigram_nll_sql()
        ).fetchall()
    }

    # independent model
    docs = {i: t.lower().split() for i, t in enumerate(texts)}
    doc_bgs = {
        i: list(zip(ws, ws[1:])) for i, ws in docs.items() if len(ws) >= 2
    }
    pair = defaultdict(int)
    for bgs in doc_bgs.values():
        for b in bgs:
            pair[b] += 1
    c1 = defaultdict(int)
    fw = defaultdict(set)
    bw = defaultdict(set)
    for (w1, w2), c in pair.items():
        c1[w1] += c
        fw[w1].add(w2)
        bw[w2].add(w1)
    n_types = len(pair)
    D = 0.75

    def p(w1, w2):
        return (
            max(pair[(w1, w2)] - D, 0.0) / c1[w1]
            + D * len(fw[w1]) / c1[w1] * len(bw[w2]) / n_types
        )

    exp = {}
    for i, bgs in doc_bgs.items():
        if not bgs:
            continue
        nll = sum(-math.log(p(*b)) for b in bgs) / len(bgs)
        exp[i] = (len(bgs), round(nll, 6))
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0]
        assert got[i][1] == pytest.approx(exp[i][1], abs=2e-6)
