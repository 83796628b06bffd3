"""Unit tests for embedding clustering (spherical k-means + SemDeDup),
the hashed linear classifier, and URL blocklist filtering — the
embedding-space / model-based / URL-level curation stages
(operators/cluster.py, quality.py:hash_classifier, webclean.py:
url_blocklist_filter)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from docling_plus_spark.operators.cluster import kmeans_lloyd, semdedup
from docling_plus_spark.operators.quality import (
    HASH_DIM,
    _MIX,
    _MOD,
    hash_classifier,
)
from docling_plus_spark.operators.webclean import url_blocklist_filter
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _sep_corpus(spark, per_cluster: int = 20):
    """Three well-separated unit directions in R^4 with small
    deterministic jitter, membership interleaved (axis = id % 3) so the
    lowest-id deterministic seeds land one per ground-truth group (the
    same reason production seeds with k-means++: seeding all centroids
    inside one tight cluster is unrecoverable for plain Lloyd)."""
    rows = []
    for i in range(3 * per_cluster):
        axis = i % 3
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = 10.0
        v[3] = ((i * 7) % 5 - 2) * 0.1  # jitter, |.| <= 0.2
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_separable_clusters(spark):
    emb = _sep_corpus(spark)
    out = kmeans_lloyd(emb, k=3, iters=3).collect()
    assert len(out) == 60
    by_truth = {}
    for r in out:
        by_truth.setdefault(r["id"] % 3, set()).add(r["cluster"])
    # each ground-truth group lands in exactly one cluster, all distinct
    assert all(len(s) == 1 for s in by_truth.values()), by_truth
    assert len({next(iter(s)) for s in by_truth.values()}) == 3
    # assignment similarity to a centroid of your own tight cluster ~ 1
    assert min(r["ccos"] for r in out) > 0.99


def test_kmeans_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(map(tuple, kmeans_lloyd(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_lloyd(emb, k=4, iters=2).collect()))
    assert a == b
    assert len({r[1] for r in a}) <= 4
    n = emb.count()
    assert len(a) == n  # every vector assigned exactly once


def test_semdedup_drops_planted_duplicates(spark):
    emb = _sep_corpus(spark)
    dupes = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    out = {r["id"]: r for r in semdedup(emb.unionAll(dupes), k=3, tau=0.97).collect()}
    for i in range(60):
        if i % 4 == 0:
            copy = out[i + 1000]
            assert not copy["kept"], i  # exact copy of a lower id dies
            assert copy["cluster"] == out[i]["cluster"]
    # all original jittered vectors survive (pairwise cos < 0.97 needs
    # checking only within a truth-cluster: jitter axis differs)
    kept_orig = [r["kept"] for i, r in out.items() if i < 1000]
    # at least the lowest id of every cluster survives
    assert any(kept_orig)
    lowest_per_cluster = {}
    for i, r in sorted(out.items()):
        lowest_per_cluster.setdefault(r["cluster"], i)
    for c, i in lowest_per_cluster.items():
        assert out[i]["kept"], (c, i)


def test_hash_classifier_matches_python_reference(spark):
    docs = spark.createDataFrame(
        [(1, "Hello world"), (2, "the the the"), (3, "  "), (4, "Ünïcødé mix")],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in hash_classifier(docs).collect()}
    assert 3 not in got  # whitespace-only doc filtered

    def w(word: str) -> float:
        b = int(hashlib.md5(word.encode()).hexdigest()[:6], 16) % HASH_DIM
        return (b * _MIX % _MOD) / _MOD - 0.5

    for doc_id, text in [(1, "hello world"), (2, "the the the"), (4, "ünïcødé mix")]:
        words = text.split()
        m = sum(w(x) for x in words) / len(words)
        want = round(1.0 / (1.0 + math.exp(-4.0 * m)), 6)
        assert got[doc_id]["score"] == pytest.approx(want, abs=1e-6)
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["label"] == (want >= 0.5)


def test_url_filter_boundaries_and_host_case(spark):
    urls = spark.createDataFrame(
        [
            ("https://h0.test/fine",),  # blocked host
            ("https://OK.test/casino/poker",),  # 2 kw hits -> not allowed
            ("https://ok.test/better/betting",),  # 'bet' must NOT match
            ("https://ok.test/poker/1",),  # 1 hit < max_hits -> allowed
            ("http://H2.TEST:8080/x",),  # host lowercased both sides
        ],
        "url string",
    )
    bl = spark.createDataFrame([("h0.test",), ("H2.test",)], "host string")
    out = {r["url"]: r for r in url_blocklist_filter(urls, bl).collect()}
    assert out["https://h0.test/fine"]["blocked_host"]
    assert not out["https://h0.test/fine"]["allowed"]
    r = out["https://OK.test/casino/poker"]
    assert r["kw_hits"] == 2 and not r["allowed"] and not r["blocked_host"]
    r = out["https://ok.test/better/betting"]
    assert r["kw_hits"] == 0 and r["allowed"]
    assert out["https://ok.test/poker/1"]["allowed"]
    r = out["http://H2.TEST:8080/x"]
    assert r["host"] == "h2.test" and r["blocked_host"] and not r["allowed"]


def test_kmeans_plan_broadcasts_centroids_and_semdedup_no_cartesian(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    p = plan(kmeans_lloyd(emb, k=4, iters=1))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    p2 = plan(semdedup(emb, k=4, tau=0.97, iters=1))
    # the pairwise stage joins on `cluster`, never a cartesian product
    assert "CartesianProduct" not in p2


def test_pq_codes_deterministic_and_compresses(spark):
    from docling_plus_spark.operators.cluster import pq_codes

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = pq_codes(emb, k=8).collect()
    n = emb.count()
    assert len(out) == 4 * n  # one code per (vector, subspace)
    assert {r["sub"] for r in out} == {0, 1, 2, 3}
    assert all(0 <= r["code"] < 8 for r in out)
    # deterministic
    again = pq_codes(emb, k=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # codebook seeds encode themselves with near-zero distortion at
    # iters=0-equivalent? after 1 Lloyd round seeds may move; instead
    # check every vector's dist is finite and non-negative
    assert all(r["dist"] >= 0.0 for r in out)


def test_pq_codes_sql_twin_matches(spark):
    import duckdb

    from docling_plus_spark.operators.cluster import pq_codes, pq_codes_sql

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sorted(
        (r["id"], r["sub"], r["code"], r["dist"])
        for r in pq_codes(emb, k=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(pq_codes_sql(k=8)).fetchall()))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert abs(g[3] - w[3]) < 1e-9, (g, w)


def test_script_composition(spark):
    from docling_plus_spark.operators.quality import script_composition

    docs = spark.createDataFrame(
        [
            (1, "hello world 123"),
            (2, "Привет мир"),
            (3, "你好 世界 こんにちは"),
            (4, "مرحبا بالعالم"),
            (5, "!!! ???"),
            (6, "12345"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in script_composition(docs).collect()}
    assert out[1]["main_script"] == "latin"
    assert out[1]["digit_frac"] == pytest.approx(3 / 13, abs=1e-6)
    assert out[2]["main_script"] == "cyrillic"
    assert out[3]["main_script"] == "cjk"
    assert out[4]["main_script"] == "arabic"
    assert out[5]["main_script"] == "other"
    assert out[6]["main_script"] == "digit"
    assert out[2]["cyrillic_frac"] == pytest.approx(9 / 9, abs=1e-6)


def test_script_composition_sql_twin(spark):
    import duckdb

    from docling_plus_spark.operators.quality import (
        script_composition,
        script_composition_sql,
    )

    rows = [
        (1, "hello Привет 你好 123 ..."),
        (2, "mixed Ünïcødé tail ё"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, script_composition(docs).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES %s) t(doc_id, text)"
        % ", ".join("(%d, '%s')" % (i, t) for i, t in rows)
    )
    want = sorted(map(tuple, con.execute(
        script_composition_sql("doc_id", "text")).fetchall()))
    assert got == want


def test_pq_adc_topk_sql_twin_and_sanity(spark):
    import duckdb

    from docling_plus_spark.operators.cluster import pq_adc_topk, pq_adc_topk_sql

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sorted(
        (r["qid"], r["rk"], r["xid"], r["adist"])
        for r in pq_adc_topk(emb, k_codes=8, topk=3, query_mod=10).collect()
    )
    assert got, "no query rows"
    # every query id is % 10 == 0 and gets exactly topk neighbours
    qids = {g[0] for g in got}
    assert all(q % 10 == 0 for q in qids)
    from collections import Counter

    per_q = Counter(g[0] for g in got)
    assert all(v == 3 for v in per_q.values())
    assert all(g[3] >= 0.0 for g in got)  # squared distances
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(
        pq_adc_topk_sql(k_codes=8, topk=3, query_mod=10)).fetchall()))
    assert [g[:3] for g in got] == [tuple(w[:3]) for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-9


def test_pq_nondivisible_dims_consistent_with_twin(spark):
    """d=10, m=4 → subvector len 2 (floor), trailing dims ignored the
    same way on both engines."""
    import duckdb

    from docling_plus_spark.operators.cluster import pq_codes, pq_codes_sql

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(10)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["id"], r["sub"], r["code"]) for r in pq_codes(emb, k=4).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES %s) t(vec_id, embedding)"
        % ", ".join("(%d, %s::double[])" % (i, v) for i, v in rows)
    )
    want = sorted((w[0], w[1], w[2]) for w in
                  con.execute(pq_codes_sql(k=4)).fetchall())
    assert got == want


def test_kmeans_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_lloyd(emb, k=8, iters=1).collect()
    assert len(out) == 3  # every vector still assigned exactly once


def test_countmin_overestimates_only(spark):
    """CMS guarantee: estimate >= exact, always; estimate == exact when
    no collision. Planted skew makes the top term unambiguous."""
    from docling_plus_spark.operators.textstats import countmin_heavy_hitters

    docs = spark.createDataFrame(
        [(i, "alpha " * 50 + "beta " * 10 + f"tail{i}") for i in range(20)],
        "doc_id long, text string",
    )
    out = {r["term"]: r for r in
           countmin_heavy_hitters(docs, d=4, w=64, topk=5).collect()}
    assert out["alpha"]["rank"] == 1 and out["alpha"]["exact_count"] == 1000
    assert out["beta"]["exact_count"] == 200
    for r in out.values():
        assert r["cms_estimate"] >= r["exact_count"]


def test_char_entropy_known_values(spark):
    import math

    from docling_plus_spark.operators.textstats import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    out = {r["id"]: r["entropy"] for r in char_entropy(docs).collect()}
    assert out[1] == 0.0
    assert out[2] == pytest.approx(1.0, abs=1e-6)
    assert out[3] == pytest.approx(2.0, abs=1e-6)


def test_pmi_known_collocation(spark):
    from docling_plus_spark.operators.textstats import pmi_pairs

    # 'hong kong' always together; filler words independent
    docs = spark.createDataFrame(
        [(i, "hong kong " + " ".join(f"w{(i * 5 + j) % 9}" for j in range(8)))
         for i in range(30)],
        "doc_id long, text string",
    )
    out = pmi_pairs(docs, min_count=5, topk=5).collect()
    assert out[0]["x"] == "hong" and out[0]["y"] == "kong"
    assert out[0]["rank"] == 1 and out[0]["pmi"] > 2.0


def test_vocab_growth_monotone_sublinear(spark):
    from docling_plus_spark.operators.textstats import vocab_growth

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pts = sorted(map(tuple, vocab_growth(docs, n_points=5).collect()))
    assert len(pts) >= 4
    toks = [p[1] for p in pts]
    voc = [p[2] for p in pts]
    assert toks == sorted(toks) and voc == sorted(voc)  # monotone
    assert all(v <= t for t, v in zip(toks, voc))
    # Heaps: vocab grows slower than tokens over the corpus
    assert voc[-1] / voc[0] < toks[-1] / toks[0] * 1.01


def test_flesch_known_document(spark):
    from docling_plus_spark.operators.quality import flesch_reading_ease

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran."), (2, "")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in flesch_reading_ease(docs).collect()}
    assert 2 not in out  # empty doc filtered
    r = out[1]
    assert r["n_words"] == 6 and r["n_sentences"] == 2
    assert r["n_syllables"] == 6  # all monosyllables
    want = round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    assert r["flesch"] == pytest.approx(want, abs=1e-4)


def test_stride_windows_overlap_and_coverage(spark):
    from docling_plus_spark.operators.packing import stride_windows

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, text), (2, "only three words"), (3, "")],
        "doc_id long, text string",
    )
    out = [r for r in stride_windows(docs, length=40, stride=30).collect()]
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # doc1 (n=100, L=40, s=30): minimal full cover = starts 0,30,60
    # (the 60-window reaches token 99; no redundant 4th window)
    w1 = sorted(by_id[1], key=lambda r: r["win_idx"])
    assert [r["start_tok"] for r in w1] == [0, 30, 60]
    assert [r["n_toks"] for r in w1] == [40, 40, 40]
    # overlap: every token index is covered at least once
    covered = set()
    for r in w1:
        covered.update(range(r["start_tok"], r["start_tok"] + r["n_toks"]))
    assert covered == set(range(100))
    # short doc: one truncated window; empty doc: none
    assert [r["n_toks"] for r in by_id[2]] == [3]
    assert 3 not in by_id


def test_ngram_novelty_duplicate_doc_is_stale(spark):
    from docling_plus_spark.operators.textstats import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
         (3, "totally fresh words never seen before")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novel_frac"] == 1.0
    assert out[2]["novel_frac"] == 0.0  # everything first-seen in doc 1
    assert out[3]["novel_frac"] == 1.0


def test_sitemap_urls_kinds_and_lastmod(spark):
    from docling_plus_spark.operators.robots import sitemap_urls

    xml = ("<urlset><url><loc> https://h.test/a </loc>"
           "<lastmod>2024-02-01</lastmod></url>"
           "<url><loc>https://h.test/b</loc></url>"
           "<sitemap><loc>https://h.test/more.xml</loc></sitemap></urlset>")
    df = spark.createDataFrame([("h.test", xml)], "host string, sitemap_xml string")
    out = sorted(
        (r["kind"], r["pos"], r["loc"], r["lastmod"])
        for r in sitemap_urls(df).collect()
    )
    assert out == [
        ("index", 0, "https://h.test/more.xml", None),
        ("url", 0, "https://h.test/a", "2024-02-01"),
        ("url", 1, "https://h.test/b", None),
    ]


def test_wilson_small_n_ranks_below_large_n(spark):
    from docling_plus_spark.operators.webclean import host_quality_wilson

    rows = (
        [(i, "big.test", True) for i in range(95)]
        + [(i + 100, "big.test", False) for i in range(5)]
        + [(200, "tiny.test", True), (201, "tiny.test", True)]
    )
    df = spark.createDataFrame(rows, "doc_id long, host string, quality_pass boolean")
    out = {r["host"]: r for r in host_quality_wilson(df).collect()}
    assert out["tiny.test"]["pass_rate"] == 1.0
    assert out["big.test"]["pass_rate"] == 0.95
    # the statistically honest ranking: 95/100 beats 2/2
    assert out["big.test"]["wilson_low"] > out["tiny.test"]["wilson_low"]
