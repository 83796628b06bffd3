"""Link-graph operators: outlink extraction + PageRank.

The WAT side of crawl processing: Common-Crawl ships, next to every
WARC segment, a WAT file of per-page metadata whose biggest payload is
the outlink list, and the crawl frontier is ordered by a
centrality score computed over exactly that graph (cf. the harmonic-
centrality ranking published with each CC release). The reference
engine stops at per-document conversion (docling
datamodel/document.py); a 10^12-page pipeline also needs the
cross-document layer:

* :func:`extract_outlinks` — ``<a href>`` targets from raw HTML bytes,
  resolved against the page url. Pure JVM column expressions
  (``regexp_extract_all`` + conditional concat): no Python, no
  shuffle — a narrow map over the page scan, so it pipelines into the
  same stage as any downstream filter. (A DOM-parser variant would
  also see script-generated or comment-wrapped links; the regex path
  is the documented trade for staying in whole-stage codegen.)

* :func:`pagerank` — classic damped PageRank by iterative
  message-passing. Out-degree is folded into the edge list once
  before the loop, so each iteration is exactly one hash-shuffle
  (contributions grouped by destination) plus one left join back onto
  the node set; ``localCheckpoint`` per round truncates the lineage
  (same discipline as ``operators/graph.py`` connected components —
  without it the plan doubles per round). Convergence cost at scale:
  O(iterations) shuffles on node id, each the size of the edge list —
  the canonical distributed-PageRank shape (Page et al. 1999; the
  dangling-mass term is dropped, matching Spark's own PageRank
  example semantics, so ranks sum to < 1 in the presence of sinks).

Both have exact DuckDB twins (relative-URL resolution is formula-
driven in the synth corpus; the PageRank oracle unrolls the fixed
iteration count as a CTE chain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HREF_DQ = r'(?i)<a\s[^>]*?href\s*=\s*"([^"]*)"'
_HREF_SQ = r"(?i)<a\s[^>]*?href\s*=\s*'([^']*)'"


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """Page rows → ``(src, dst)`` outlink edges, absolute-resolved.

    Resolution rules (F5 family, same as the url_resolve expression):
    protocol-relative ``//h/p`` → ``https://h/p``; absolute kept;
    root-relative ``/p`` joined with the page's scheme+host; other
    relative paths joined with the page's directory. Fragments are
    stripped; empty hrefs dropped.
    """
    s = F.col("html").cast("string")
    hrefs = F.concat(
        F.regexp_extract_all(s, F.lit(_HREF_DQ), F.lit(1)),
        F.regexp_extract_all(s, F.lit(_HREF_SQ), F.lit(1)),
    )
    out = pages.select(F.col("url").alias("src"), F.explode(hrefs).alias("href"))
    href = F.regexp_replace(F.col("href"), r"#.*$", "")
    return (
        out.where(href != "")
        .select("src", _resolve_href(href, F.col("src")).alias("dst"))
    )


_A_PAIR_DQ = r'(?i)<a\s[^>]*?href\s*=\s*"([^"]*)"[^>]*>([^<]*)</a>'
_A_PAIR_SQ = r"(?i)<a\s[^>]*?href\s*=\s*'([^']*)'[^>]*>([^<]*)</a>"


def _resolve_href(href: Column, src: Column) -> Column:
    """F5-family absolute resolution (same rules as extract_outlinks)."""
    return (
        F.when(href.startswith("//"), F.concat(F.lit("https:"), href))
        .when(href.rlike(r"^[a-z]+://"), href)
        .when(href.startswith("/"), F.concat(scheme_host_of(src), href))
        .otherwise(F.concat(base_dir_of(src), href))
    )


def extract_anchors(pages: DataFrame) -> DataFrame:
    """Page rows → ``(src, dst, anchor)`` edges with anchor text.

    The WAT layer's second payload: the text *inside* each ``<a>`` tag,
    which at corpus scale is the crawl's collective description of the
    target page (anchor-text aggregation is a standard web-corpus
    signal — it describes pages their own content doesn't). Same
    whole-stage-codegen shape as :func:`extract_outlinks`: two
    ``regexp_extract_all`` passes per quote style (href group, anchor
    group — the engine returns one group per call) zipped positionally,
    then explode + resolve. No Python, no shuffle.
    """
    s = F.col("html").cast("string")

    def pairs(pat: str) -> Column:
        return F.zip_with(
            F.regexp_extract_all(s, F.lit(pat), F.lit(1)),
            F.regexp_extract_all(s, F.lit(pat), F.lit(2)),
            lambda h, a: F.struct(h.alias("href"), a.alias("anchor")),
        )

    out = pages.select(
        F.col("url").alias("src"),
        F.explode(F.concat(pairs(_A_PAIR_DQ), pairs(_A_PAIR_SQ))).alias("p"),
    )
    href = F.regexp_replace(F.col("p.href"), r"#.*$", "")
    return (
        out.where(href != "")
        .select(
            "src",
            _resolve_href(href, F.col("src")).alias("dst"),
            F.trim(F.col("p.anchor")).alias("anchor"),
        )
    )


def anchor_text_stats(edges: DataFrame) -> DataFrame:
    """``(dst, n_inlinks, n_anchors, top_anchor, top_anchor_count)``.

    Per target url: in-link count, distinct anchor strings, and the
    modal anchor text (ties broken lexicographically-min, so the result
    is engine-independent). Two shuffles on ``dst``, both with map-side
    partial aggregation; the second carries one row per (dst, anchor)
    — bounded by the first's output, never by the edge count. The
    classic scale hazard (one mega-popular dst) only concentrates the
    *pre-aggregated* (dst, anchor) rows, which AQE's skew handling
    splits; raw edges are combined map-side before any exchange.
    """
    per = edges.groupBy("dst", "anchor").agg(F.count("*").alias("cnt"))
    return (
        per.groupBy("dst")
        .agg(
            F.sum("cnt").alias("n_inlinks"),
            F.count("*").alias("n_anchors"),
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("anchor"))
            ).alias("top"),
        )
        .select(
            "dst",
            "n_inlinks",
            "n_anchors",
            F.col("top.anchor").alias("top_anchor"),
            (-F.col("top.neg")).alias("top_anchor_count"),
        )
    )


def scheme_host_of(url: Column) -> Column:
    return F.regexp_extract(url, r"^([a-z]+://[^/]+)", 1)


def base_dir_of(url: Column) -> Column:
    return F.regexp_replace(url, r"[^/]*$", "")


def pagerank(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """(node, rank) after ``iterations`` damped-PageRank rounds over
    ``(src, dst)`` edges.

    ``rank_0 = 1/N``; ``rank_{k+1}(v) = (1-d)/N + d * Σ_{u→v}
    rank_k(u)/outdeg(u)`` with damping d = 0.85. Nodes are the union of
    edge endpoints.
    See module docstring for the scale shape.
    """
    spark = edges.sparkSession
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        return _pagerank_loop(edges, iterations)
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev)


def _pagerank_loop(edges: DataFrame, iterations: int) -> DataFrame:
    damping = 0.85
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # scalar action, not a collect
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # fold out-degree into the edge list ONCE: the loop then never
    # re-joins degrees, each round touches exactly (src, dst, deg, rank)
    out_e = e.join(deg, "src").localCheckpoint(eager=True)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            out_e.join(ranks, out_e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


# ---------------------------------------------------------------------------
# head-metadata extraction (the WAT layer's third payload)

_META_NAME = (
    r'(?i)<meta\s[^>]*?name\s*=\s*["\']{0}["\'][^>]*?content\s*=\s*["\']([^"\']*)'
)
_META_PROP = (
    r'(?i)<meta\s[^>]*?property\s*=\s*["\']{0}["\'][^>]*?content\s*=\s*["\']([^"\']*)'
)


def extract_head_meta(pages: DataFrame) -> DataFrame:
    """``(url, title, meta_description, og_title, canonical, html_lang)``.

    Common Crawl's WAT records carry exactly this per-page head
    metadata (Head-Metas, Title, Link rel=canonical); it feeds search
    snippets, URL canonicalization (canonical beats the fetch url when
    present) and language routing before any body parse is paid for.
    Pure ``regexp_extract`` column expressions over the raw bytes —
    whole-stage codegen, no DOM build, no Python, no shuffle; absent
    fields are empty strings. Attribute-order variants (content before
    name/property) are the documented trade for staying in codegen —
    the DOM-parsing backend (html/backend.py) is the fallback when
    exactness beats throughput.
    """
    s = F.col("html").cast("string")
    return pages.select(
        "url",
        # NB: Spark's trim() strips only ' ' — titles wrap across
        # lines, so trim all leading/trailing whitespace by regex
        F.regexp_replace(
            F.regexp_extract(s, r"(?is)<title[^>]*>(.*?)</title>", 1),
            r"^\s+|\s+$",
            "",
        ).alias("title"),
        F.regexp_extract(s, _META_NAME.format("description"), 1).alias(
            "meta_description"
        ),
        F.regexp_extract(s, _META_PROP.format("og:title"), 1).alias("og_title"),
        F.regexp_extract(
            s,
            r'(?i)<link\s[^>]*?rel\s*=\s*["\']canonical["\'][^>]*?href\s*=\s*["\']([^"\']*)',
            1,
        ).alias("canonical"),
        F.regexp_extract(
            s, r'(?i)<html\s[^>]*?lang\s*=\s*["\']([^"\']*)', 1
        ).alias("html_lang"),
    )


#: requests a host may get in one fetch round
FRONTIER_PER_HOST = 4


def frontier_schedule(candidates: DataFrame) -> DataFrame:
    """``(url, host, host_rank, fetch_round)`` — a politeness-bounded
    crawl schedule.

    The frontier question: given scored candidate urls (priority =
    PageRank / freshness / whatever :func:`pagerank` produced), in
    which fetch round may each be crawled so that no host sees more
    than ``FRONTIER_PER_HOST`` requests per round? Within a host,
    urls are taken best-priority-first (ties → lexicographic url, so
    the schedule is engine-independent); round = ``rank //
    FRONTIER_PER_HOST``.

    Scale: one window shuffle keyed on host. Mega-hosts (the CC crawl's
    top domains hold 10^7+ urls) concentrate a partition each — but the
    window only row-numbers (no per-host materialization), and AQE's
    skew splitting cannot apply to windows, so the honest guard at
    10^12 urls is the standard one: cap candidates per host FIRST
    (a groupBy-count broadcast + filter) or salt the window into
    priority-band sub-windows. The cap is what production frontiers do
    anyway (crawl budgets per domain), so this operator composes after
    such a cap rather than re-implementing it.
    """
    from pyspark.sql.window import Window

    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url")
    )
    return (
        candidates.select(
            "url",
            host.alias("host"),
            "priority",
        )
        .withColumn("host_rank", F.row_number().over(w) - 1)
        .select(
            "url",
            "host",
            "host_rank",
            (F.col("host_rank") / FRONTIER_PER_HOST).cast("int").alias(
                "fetch_round"
            ),
        )
    )


def hits(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999): ``iterations`` rounds of
    auth(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} auth(v), each vector
    max-normalized and rounded to 6 decimals per round so the unrolled
    DuckDB twin replays the trajectory bit-for-bit.

    Output: (node, hub, authority); nodes with no in-edges get
    authority 0, no out-edges hub 0. Same 100 TB shape as
    :func:`pagerank`: one edge-keyed shuffle per half-round, scores are
    (node, double) pairs, the max is a broadcast scalar (never a
    collect), localCheckpoint per round keeps lineage flat.
    """
    spark = edges.sparkSession
    conf = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf, "true")
    spark.conf.set(conf, "false")
    try:
        return _hits_loop(edges, iterations)
    finally:
        spark.conf.set(conf, prev)


def _hits_loop(edges: DataFrame, iterations: int) -> DataFrame:
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        mx = scores.agg(
            F.greatest(F.max(col), F.lit(1e-12)).alias("_mx")
        )
        return scores.crossJoin(F.broadcast(mx)).select(
            "node", F.round(F.col(col) / F.col("_mx"), 6).alias(col)
        )

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(0.0).alias("authority"))
    for _ in range(iterations):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        ).localCheckpoint(eager=True)
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        ).localCheckpoint(eager=True)
    # Checkpoint the final join INSIDE the guarded scope: the caller's
    # finally-block restores constraintPropagation before the returned
    # plan would otherwise execute, so without this eager cut the last
    # assign/join would be optimized with the conf back on (ADVICE r3).
    return (
        nodes.join(hub, "node")
        .join(auth, "node")
        .select("node", "hub", "authority")
        .localCheckpoint(eager=True)
    )
