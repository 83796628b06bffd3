"""Link-graph operators: outlink extraction + PageRank
(operators/links.py)."""

import pytest

from docling_plus_spark.operators.links import extract_outlinks, pagerank
from docling_plus_spark.plans import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _pages(spark, html, url="https://h.test/a/b/page.html"):
    return spark.createDataFrame(
        [(url, html.encode())], "url string, html binary"
    )


def _links(spark, html, **kw):
    return sorted(
        r.dst for r in extract_outlinks(_pages(spark, html, **kw)).collect()
    )


def test_resolution_rules(spark):
    html = (
        '<a href="//cdn.test/x">p</a>'
        '<a href="https://abs.test/y">a</a>'
        '<a href="/root.html">r</a>'
        '<a href="sib.html">s</a>'
        "<a href='single.html'>q</a>"
        '<a href="#frag">f</a>'
        '<a href="z.html#sec2">g</a>'
    )
    assert _links(spark, html) == [
        "https://abs.test/y",
        "https://cdn.test/x",
        "https://h.test/a/b/sib.html",
        "https://h.test/a/b/single.html",
        "https://h.test/a/b/z.html",
        "https://h.test/root.html",
    ]


def test_href_with_attrs_before_and_case(spark):
    html = '<A CLASS="big" HREF="https://x.test/1">c</A><a data-x=1 href="/2">d</a>'
    assert _links(spark, html) == ["https://h.test/2", "https://x.test/1"]


def test_no_links_no_rows(spark):
    assert _links(spark, "<p>plain</p>") == []


def _pagerank_py(edges, n_iter=6, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += rank[u] / deg[u]
        rank = {v: (1 - d) / n + d * contrib[v] for v in nodes}
    return rank


def test_pagerank_matches_reference_impl(spark):
    # ring with one hub: 0->1->2->3->0, everyone also ->0
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 0), (2, 0), (3, 0)]
    edges = list(dict.fromkeys(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=6).collect()}
    want = _pagerank_py(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # the sink-free hub graph: ranks sum to 1 (no dangling leak)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_hub_graph(spark):
    # spokes feed the hub; the hub feeds node 1 (which therefore ends
    # highest — it receives the hub's whole rank each round)
    edges = [(i, 99) for i in range(1, 9)] + [(99, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=8).collect()}
    want = _pagerank_py(edges, n_iter=8)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert got[99] > 5 * got[2]
    assert got[1] > got[99]


# ---------------------------------------------------------------- anchors


def test_extract_anchors_pairs_and_trim(spark):
    from docling_plus_spark.operators.links import extract_anchors

    html = (
        '<a href="/x">  First Link </a>'
        "<a href='https://e.test/y' class=\"z\">second</a>"
        '<a href="#frag-only">skipped</a>'
        '<a href="/img"></a>'
    )
    rows = sorted(
        extract_anchors(_pages(spark, html)).collect(),
        key=lambda r: r.dst,
    )
    assert [(r.dst, r.anchor) for r in rows] == [
        ("https://e.test/y", "second"),
        ("https://h.test/img", ""),
        ("https://h.test/x", "First Link"),
    ]


def test_anchor_text_stats_mode_and_ties(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from docling_plus_spark.operators.links import anchor_text_stats

    edges = spark.createDataFrame(
        [
            ("s1", "d1", "home"),
            ("s2", "d1", "home"),
            ("s3", "d1", "start"),
            # d2: tie between "a" and "b" → lexicographic min wins
            ("s1", "d2", "b"),
            ("s2", "d2", "a"),
        ],
        "src string, dst string, anchor string",
    )
    rows = {r.dst: r for r in anchor_text_stats(edges).collect()}
    assert rows["d1"].n_inlinks == 3
    assert rows["d1"].n_anchors == 2
    assert rows["d1"].top_anchor == "home"
    assert rows["d1"].top_anchor_count == 2
    assert rows["d2"].top_anchor == "a"
    assert rows["d2"].top_anchor_count == 1


def test_extract_head_meta_fields(spark):
    from docling_plus_spark.operators.links import extract_head_meta

    html = (
        '<html lang="de"><head><title>\n  My Page \n</title>'
        "<meta charset='utf-8'>"
        '<meta name="description" content="desc here">'
        '<meta property="og:title" content="OG Name"/>'
        '<link rel="canonical" href="https://c.test/page"/>'
        "</head><body></body></html>"
    )
    r = extract_head_meta(_pages(spark, html)).collect()[0]
    assert r.title == "My Page"
    assert r.meta_description == "desc here"
    assert r.og_title == "OG Name"
    assert r.canonical == "https://c.test/page"
    assert r.html_lang == "de"


def test_extract_head_meta_absent_fields_empty(spark):
    from docling_plus_spark.operators.links import extract_head_meta

    r = extract_head_meta(_pages(spark, "<html><body>x</body></html>")).collect()[0]
    assert (r.title, r.meta_description, r.og_title, r.canonical, r.html_lang) == (
        "", "", "", "", "",
    )


def test_frontier_schedule_politeness_rounds(spark):
    from docling_plus_spark.operators.links import frontier_schedule

    cand = spark.createDataFrame(
        [(f"https://big.test/p{i}", float(i)) for i in range(10)]
        + [("https://small.test/x", 99.0)],
        "url string, priority double",
    )
    rows = {r.url: r for r in frontier_schedule(cand).collect()}
    # big.test: highest priority p9 first
    assert rows["https://big.test/p9"].host_rank == 0
    assert rows["https://big.test/p9"].fetch_round == 0
    assert rows["https://big.test/p5"].fetch_round == 1   # rank 4
    assert rows["https://big.test/p0"].fetch_round == 2   # rank 9
    assert rows["https://small.test/x"].fetch_round == 0
    # no host exceeds the budget in any round
    from collections import Counter
    c = Counter((r.host, r.fetch_round) for r in rows.values())
    assert max(c.values()) <= 4
