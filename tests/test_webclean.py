"""Web-corpus cleaning operators: behavior + DuckDB-oracle parity.

Every operator here must replay bit-identically in DuckDB (the driver's
correctness gate), so each test pairs a hand-built behavioral check with
a full-corpus oracle comparison at sf0.001.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_plus_spark.operators.webclean import (
    bpe_token_stats,
    bpe_token_stats_sql,
    canonical_url,
    paragraph_dedup,
    paragraph_dedup_sql,
    pii_redact,
    pii_redact_sql,
    stratified_sample,
    stratified_sample_sql,
    url_dedup,
    url_dedup_sql,
)
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    yield con


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------------------
# PII


def test_pii_redact_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@sub.example.co.uk today"),
            (2, "server at 10.0.255.3 went down, call +1 555-123-4567"),
            (3, "no pii here at all"),
            (4, "two mails: a@b.io and c.d@e-f.org"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.asDict() for r in pii_redact(df).collect()}
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["redacted"]
    assert "jane" not in out[1]["redacted"]
    assert out[2]["n_ips"] == 1 and out[2]["n_phones"] == 1
    assert "<IP>" in out[2]["redacted"] and "<PHONE>" in out[2]["redacted"]
    assert out[3] == {
        "id": 3,
        "redacted": "no pii here at all",
        "n_emails": 0,
        "n_ips": 0,
        "n_phones": 0,
    }
    assert out[4]["n_emails"] == 2


def test_pii_redact_matches_duckdb(spark, ddb):
    # synthesize PII-bearing text identically on both sides
    synth = (
        "'Contact user' || doc_id || '@example.com or +1 555-000-' || "
        "lpad(doc_id::VARCHAR, 4, '0') || ' at 192.168.' || (doc_id % 256) "
        "|| '.1 :: ' || text"
    )
    d = _docs(spark).select(
        "doc_id",
        F.expr(
            "concat('Contact user', doc_id, '@example.com or +1 555-000-', "
            "lpad(cast(doc_id as string), 4, '0'), ' at 192.168.', "
            "doc_id % 256, '.1 :: ', text)"
        ).alias("text"),
    )
    sp = {r.id: r.asDict() for r in pii_redact(d).collect()}
    ora = ddb.sql(pii_redact_sql(synth)).df()
    assert len(ora) == len(sp)
    for rec in ora.to_dict("records"):
        mine = sp[rec["id"]]
        for k, v in rec.items():
            if k != "id":
                assert mine[k] == v, (rec["id"], k)


# ---------------------------------------------------------------------------
# URL canonicalization + dedup


def test_canonical_url_rules(spark):
    cases = {
        "HTTPS://Example.COM:443/Path/X?utm_source=f&id=3#frag":
            "https://example.com/Path/X?id=3",
        "http://Host.net:80/a": "http://host.net/a",
        "http://host.net:8080/a": "http://host.net:8080/a",
        "https://h.io/p?utm_a=1&utm_b=2": "https://h.io/p",
        "https://h.io/p?": "https://h.io/p",
        "h.io/no/scheme?x=1": "h.io/no/scheme?x=1",
        "https://h.io/p?ref=x&keep=1&fbclid=z": "https://h.io/p?keep=1",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r.url: r.canon
        for r in df.select("url", canonical_url(F.col("url")).alias("canon")).collect()
    }
    for raw, want in cases.items():
        assert got[raw] == want, raw


def test_url_dedup_matches_duckdb(spark, ddb):
    synth_sql = (
        "('HTTPS://Example.COM:443/p/' || (doc_id % 17) || "
        "'?utm_campaign=' || doc_id || '&x=1#f')"
    )
    d = _docs(spark).select(
        "doc_id",
        F.expr(
            "concat('HTTPS://Example.COM:443/p/', doc_id % 17, "
            "'?utm_campaign=', doc_id, '&x=1#f')"
        ).alias("url"),
    )
    sp = {
        r.canon_url: (r.keep_id, r.n_dupes)
        for r in url_dedup(d).collect()
    }
    ora = ddb.sql(url_dedup_sql(synth_sql)).df()
    assert len(ora) == len(sp) == 17
    for rec in ora.to_dict("records"):
        assert sp[rec["canon_url"]] == (rec["keep_id"], rec["n_dupes"])


# ---------------------------------------------------------------------------
# paragraph dedup


def test_paragraph_dedup_drops_boilerplate(spark):
    rows = [(i, f"unique line number {i} with content.\nSUBSCRIBE NOW") for i in range(30)]
    rows.append((99, "SUBSCRIBE NOW"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.asDict() for r in paragraph_dedup(df).collect()}
    assert out[0]["lines_dropped"] == 1
    assert out[0]["clean_text"] == "unique line number 0 with content."
    assert out[99]["clean_text"] == "" and out[99]["lines_kept"] == 0
    assert len(out) == 31  # total over input: all-dropped docs still appear


def test_paragraph_dedup_matches_duckdb(spark, ddb):
    d = _docs(spark).select(
        "doc_id",
        F.expr(
            "concat(text, '\\nsubscribe to our newsletter', "
            "'\\nall rights reserved ', lang)"
        ).alias("text"),
    )
    synth = (
        "(text || chr(10) || 'subscribe to our newsletter' || chr(10) || "
        "'all rights reserved ' || lang)"
    )
    sp = {r.id: r.asDict() for r in paragraph_dedup(d).collect()}
    ora = ddb.sql(paragraph_dedup_sql(synth)).df()
    assert len(ora) == len(sp)
    dropped_any = False
    for rec in ora.to_dict("records"):
        mine = sp[rec["id"]]
        for k, v in rec.items():
            if k != "id":
                assert mine[k] == v, (rec["id"], k)
        dropped_any = dropped_any or rec["lines_dropped"] > 0
    assert dropped_any


# ---------------------------------------------------------------------------
# stratified sample


RATES = {"en": 0.5, "de": 0.25, "zh": 0.0}


def test_stratified_sample_matches_duckdb(spark, ddb):
    sp = {
        r.id: (r.stratum, r.bucket)
        for r in stratified_sample(_docs(spark), RATES, default_rate=0.1).collect()
    }
    ora = ddb.sql(stratified_sample_sql(RATES, default_rate=0.1)).df()
    assert len(ora) == len(sp) > 0
    for rec in ora.to_dict("records"):
        assert sp[rec["id"]] == (rec["stratum"], rec["bucket"])
    assert not any(s == "zh" for s, _ in sp.values())


def test_stratified_sample_deterministic(spark):
    a = stratified_sample(_docs(spark), RATES).collect()
    b = stratified_sample(_docs(spark), RATES).collect()
    assert sorted(r.id for r in a) == sorted(r.id for r in b)


# ---------------------------------------------------------------------------
# BPE token stats


def test_bpe_token_stats_matches_duckdb(spark, ddb):
    sp = {r.id: r.asDict() for r in bpe_token_stats(_docs(spark)).collect()}
    ora = ddb.sql(bpe_token_stats_sql()).df()
    assert len(ora) == len(sp)
    for rec in ora.to_dict("records"):
        mine = sp[rec["id"]]
        for k, v in rec.items():
            if k != "id":
                assert mine[k] == pytest.approx(v), (rec["id"], k)


def test_bpe_tokenizes_contractions(spark):
    df = spark.createDataFrame(
        [(1, "I can't stop, won't stop: 42 times!")], "doc_id long, text string"
    )
    row = bpe_token_stats(df).collect()[0]
    # I | _can | 't | _stop | , | _won | 't | _stop | : | _42 | _times | !
    assert row.bpe_tokens == 12
    assert row.ws_tokens == 7


# ---------------------------------------------------------------------------
# template field extraction (document_extractor.py contract)


def test_extract_fields_template(spark):
    from docling_plus_spark.operators.fields import (
        INVOICE_TEMPLATE,
        extract_fields,
    )

    df = spark.createDataFrame(
        [
            (1, "Invoice No: INV-77\nDate: 2024-01-05\nTotal: $123.45\n"
                "Contact: a@b.co\nbody"),
            (2, "no structured fields at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.asDict() for r in extract_fields(df, INVOICE_TEMPLATE).collect()}
    assert out[1] == {
        "id": 1, "invoice_no": "INV-77", "date": "2024-01-05",
        "total": "123.45", "email": "a@b.co",
    }
    assert out[2] == {
        "id": 2, "invoice_no": "", "date": "", "total": "", "email": "",
    }


def test_host_stats_matches_duckdb(spark, ddb):
    from docling_plus_spark.operators.webclean import host_stats, host_stats_sql

    synth_sql = (
        "('HTTPS://Host' || (doc_id % 5) || '.Example.COM:443/p/' || doc_id)"
    )
    d = _docs(spark).select(
        "doc_id", "text",
        F.expr(
            "concat('HTTPS://Host', doc_id % 5, '.Example.COM:443/p/', doc_id)"
        ).alias("url"),
    )
    sp = {
        r.host: (r.n_docs, r.total_tokens, r.min_id)
        for r in host_stats(d).collect()
    }
    ora = ddb.sql(host_stats_sql(synth_sql)).df()
    assert len(ora) == len(sp) == 5
    for rec in ora.to_dict("records"):
        assert rec["host"].startswith("host") and ".example.com" in rec["host"]
        assert sp[rec["host"]] == (
            rec["n_docs"], rec["total_tokens"], rec["min_id"],
        )


def test_crawl_diff_statuses(spark):
    from docling_plus_spark.operators.webclean import crawl_diff

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
        "url string, doc_hash string",
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2x"), ("u4", "h4")],
        "url string, doc_hash string",
    )
    out = {r.url: r.change for r in crawl_diff(old, new).collect()}
    assert out == {
        "u1": "unchanged", "u2": "changed", "u3": "gone", "u4": "new",
    }


def test_bpe_merge_pairs_counts_weighted_by_word_freq(spark):
    from docling_plus_spark.operators.webclean import bpe_merge_pairs

    # "aa ab aa" + "aa" -> word freqs: aa:3, ab:1
    df = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "aa")], "doc_id long, text string"
    )
    rows = {(r.left, r.right): r for r in bpe_merge_pairs(df, top_k=10).collect()}
    assert rows[("a", "a")].pair_count == 3
    assert rows[("a", "b")].pair_count == 1
    assert rows[("a", "a")].rank == 1


def test_bpe_merge_pairs_deterministic_tie_break(spark):
    from docling_plus_spark.operators.webclean import bpe_merge_pairs

    df = spark.createDataFrame([(1, "xy ab")], "doc_id long, text string")
    rows = sorted(
        bpe_merge_pairs(df, top_k=10).collect(), key=lambda r: r.rank
    )
    # equal counts -> lexicographic (left, right)
    assert [(r.left, r.right) for r in rows] == [("a", "b"), ("x", "y")]


def test_sentence_dedup_keep_one(spark):
    from docling_plus_spark.operators.webclean import sentence_dedup

    boiler = "All rights reserved."
    df = spark.createDataFrame(
        [
            (1, f"{boiler} Unique alpha."),
            (2, f"Unique beta. {boiler}"),
            (3, "Nothing shared here."),
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in sentence_dedup(df).collect()}
    # canonical = (doc 1, idx 0) keeps its copy; doc 2's copy removed
    assert rows[1].clean_text == "All rights reserved. Unique alpha."
    assert rows[1].removed_sentences == 0
    assert rows[2].clean_text == "Unique beta."
    assert rows[2].removed_sentences == 1
    assert rows[3].removed_sentences == 0
    assert rows[3].n_sentences == 1
