"""robots.txt parse + gate (operators/robots.py, RFC 9309 semantics)."""

import pytest

from docling_plus_spark.operators.robots import robots_gate, robots_rules
from docling_plus_spark.plans import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _rules(spark, body):
    df = spark.createDataFrame(
        [("https://h.test", body)], "host string, robots_txt string"
    )
    out = robots_rules(df).collect()[0]
    return [(r["allow"], r["path"]) for r in out.rules]


def _gate(spark, body, paths):
    rules = robots_rules(
        spark.createDataFrame(
            [("https://h.test", body)], "host string, robots_txt string"
        )
    )
    pages = spark.createDataFrame(
        [(f"https://h.test{p}",) for p in paths], "url string"
    )
    rows = robots_gate(pages, rules).collect()
    return {r.path: (r.allowed, r.matched_rule) for r in rows}


BODY = """# comment here
User-agent: googlebot
Disallow: /g-only

User-agent: *
Disallow: /private/   # inline comment
Allow: /private/ok/
Disallow: /doc/x*y$

User-agent: other
Disallow: /
"""


def test_star_group_only(spark):
    assert _rules(spark, BODY) == [
        (False, "/private/"),
        (True, "/private/ok/"),
        (False, "/doc/x*y$"),
    ]


def test_multiple_agent_lines_one_group(spark):
    body = "User-agent: a\nUser-agent: *\nDisallow: /x\nUser-agent: b\nDisallow: /y\n"
    assert _rules(spark, body) == [(False, "/x")]


def test_empty_value_is_noop(spark):
    body = "User-agent: *\nDisallow:\nAllow:\n"
    assert _rules(spark, body) == []


def test_gate_longest_match_allow_wins(spark):
    out = _gate(
        spark,
        BODY,
        ["/", "/doc/1", "/private/doc/2", "/private/ok/3", "/doc/x77y"],
    )
    assert out["/"] == (True, None)
    assert out["/doc/1"] == (True, None)
    assert out["/private/doc/2"] == (False, "/private/")
    assert out["/private/ok/3"] == (True, "/private/ok/")
    assert out["/doc/x77y"] == (False, "/doc/x*y$")


def test_gate_anchor_must_match_end(spark):
    out = _gate(spark, BODY, ["/doc/x77y/tail"])
    assert out["/doc/x77y/tail"] == (True, None)


def test_gate_unknown_host_allowed(spark):
    rules = robots_rules(
        spark.createDataFrame(
            [("https://other.test", "User-agent: *\nDisallow: /")],
            "host string, robots_txt string",
        )
    )
    pages = spark.createDataFrame([("https://h.test/a",)], "url string")
    r = robots_gate(pages, rules).collect()[0]
    assert r.allowed is True and r.matched_rule is None


def test_gate_equal_length_tie_allow_wins(spark):
    body = "User-agent: *\nDisallow: /ab\nAllow: /ab\n"
    out = _gate(spark, body, ["/abc"])
    assert out["/abc"][0] is True


def test_rule_path_regex_specials_are_literal(spark):
    body = "User-agent: *\nDisallow: /a.b+c(d)\n"
    out = _gate(spark, body, ["/a.b+c(d)x", "/aXbbcd"])
    assert out["/a.b+c(d)x"][0] is False      # literal prefix match
    assert out["/aXbbcd"][0] is True          # '.'/'+' are NOT regex here


def test_midstring_dollar_is_literal(spark):
    body = "User-agent: *\nDisallow: /a$b\n"
    out = _gate(spark, body, ["/a$bc", "/ab"])
    assert out["/a$bc"][0] is False
    assert out["/ab"][0] is True


def test_hostile_robots_bodies_never_raise(spark):
    bodies = [
        "",                                   # empty
        ":" * 1000,                           # colon spam
        "Disallow: /x\n",                     # rules before any agent
        "User-agent: *\n" + "Disallow: /p\n" * 500,   # rule spam
        "User-agent: *\nDisallow: " + "*" * 50 + "\n",  # wildcard spam
        "\x00\x01\x02 binary junk \xff",
    ]
    df = spark.createDataFrame(
        [(f"https://h{i}.test", b) for i, b in enumerate(bodies)],
        "host string, robots_txt string",
    )
    rules = robots_rules(df)
    pages = spark.createDataFrame(
        [(f"https://h{i}.test/p",) for i in range(len(bodies))], "url string"
    )
    assert robots_gate(pages, rules).count() == len(bodies)


def test_crlf_line_endings_rfc9309(spark):
    """RFC 9309 §2.2: lines may end CR, CR/LF, or LF. A surviving \\r
    must not poison rule paths (Spark trim() strips spaces only)."""
    body = "User-agent: *\r\nDisallow: /private/\r\nAllow: /private/ok/\r\n"
    assert _rules(spark, body) == [
        (False, "/private/"),
        (True, "/private/ok/"),
    ]
    out = _gate(spark, body, ["/private/x", "/private/ok/y", "/pub"])
    assert out["/private/x"][0] is False
    assert out["/private/ok/y"][0] is True
    assert out["/pub"][0] is True
    # bare-CR endings (RFC allows CR alone)
    assert _rules(spark, "User-agent: *\rDisallow: /a\r") == [(False, "/a")]


def test_robots_sitemaps_crlf_twin_parity(spark):
    """Sitemap: discovery over CRLF robots.txt — Java multiline $
    matches before \\r\\n but RE2's only before \\n; both twins must
    extract the URL (ADVICE r3, verified divergence pre-fix)."""
    import duckdb

    from docling_plus_spark.operators.robots import (
        robots_sitemaps,
        robots_sitemaps_sql,
    )

    body = (
        "User-agent: *\r\nDisallow: /x\r\n"
        "Sitemap: https://h.test/sm1.xml\r\n"
        "sitemap: https://h.test/sm2.xml\r\n"
    )
    df = spark.createDataFrame(
        [("h.test", body)], "host string, robots_txt string"
    )
    got = [
        (r.host, r.pos, r.sitemap_url)
        for r in robots_sitemaps(df).orderBy("pos").collect()
    ]
    assert got == [
        ("h.test", 0, "https://h.test/sm1.xml"),
        ("h.test", 1, "https://h.test/sm2.xml"),
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE r AS SELECT 'h.test' AS host, ? AS robots_txt", [body]
    )
    oracle = con.execute(
        robots_sitemaps_sql()
    ).fetchall()
    assert sorted(oracle) == sorted(got)


def test_robots_sitemaps_bare_cr_twin_parity(spark):
    """Bare-CR endings (RFC 9309 allows CR alone) must act as line
    BREAKS — stripping \\r would merge lines and lose the directive."""
    import duckdb

    from docling_plus_spark.operators.robots import (
        robots_sitemaps,
        robots_sitemaps_sql,
    )

    body = "Sitemap: https://h.test/s.xml\rUser-agent: *\rDisallow: /x\r"
    df = spark.createDataFrame(
        [("h.test", body)], "host string, robots_txt string"
    )
    got = [
        (r.host, r.pos, r.sitemap_url) for r in robots_sitemaps(df).collect()
    ]
    assert got == [("h.test", 0, "https://h.test/s.xml")]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE r AS SELECT 'h.test' AS host, ? AS robots_txt", [body]
    )
    oracle = con.execute(
        robots_sitemaps_sql()
    ).fetchall()
    assert oracle == got


def test_crawl_delay_group_semantics_twin_parity(spark):
    """Crawl-delay: * group only, last-valid-wins, non-numeric
    ignored, agent runs extended across kind-0 lines, bare-CR bodies;
    Spark fold vs the window-reformulated DuckDB twin (the list_reduce
    fold form is AVOIDED: DuckDB 1.0 cross-row-contaminates reduces
    over computed lists)."""
    import duckdb

    from docling_plus_spark.operators.robots import (
        robots_crawl_delay,
        robots_crawl_delay_sql,
    )

    bodies = [
        ("h1", "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n"),
        ("h2", "User-agent: bot\nCrawl-delay: 9\nUser-agent: *\nDisallow: /\n"),
        ("h3", "User-agent: a\nUser-agent: *\nSitemap: http://x\nCrawl-delay: 1\n"),
        ("h4", "User-agent: *\nCrawl-delay: fast\n"),
        ("h5", "User-agent: *\rCrawl-delay: 3\r"),
        ("h6", "User-agent: *\nCrawl-delay: 1\nCrawl-delay: 4\n"),
        ("h7", ""),
        ("h8", "Crawl-delay: 5\nUser-agent: *\n"),  # delay before any group
        # colon-less malformed lines: _field yields '' (kind 0) — they
        # must neither break nor start an agent run in EITHER engine
        # (a bare split_part twin would treat 'disallow' as kind 2 and
        # 'user-agent' as a run start and return NULL here)
        ("h9", "User-agent: *\ndisallow\nuser-agent\nCrawl-delay: 2\n"),
    ]
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    got = sorted(
        (r.host, r.crawl_delay) for r in robots_crawl_delay(df).collect()
    )
    assert got == [
        ("h1", 2.5), ("h2", None), ("h3", 1.0), ("h4", None),
        ("h5", 3.0), ("h6", 4.0), ("h7", None), ("h8", None),
        ("h9", 2.0),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE r(host VARCHAR, robots_txt VARCHAR)")
    con.executemany("INSERT INTO r VALUES (?, ?)", bodies)
    oracle = sorted(
        con.execute(
            robots_crawl_delay_sql("host", "robots_txt", "r")
        ).fetchall()
    )
    assert oracle == got
