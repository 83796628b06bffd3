"""robots.txt parsing + crawl-permission gate (RFC 9309).

A Common-Crawl-style pipeline has to answer "was this url even
crawlable?" both at frontier time and retroactively (takedown sweeps,
license audits). The reference engine starts after fetch (docling
converts bytes); the crawl layer above it needs exactly two operators:

* :func:`robots_rules` — robots.txt bodies → one row per host with the
  ``User-agent: *`` group's (allow, path) rules as an array column.
  Group tracking (one-or-more ``User-agent`` lines followed by rules;
  a later agent line starts a new group), comment stripping, and
  empty-value no-ops (RFC 9309 §2.2) are all a single ``F.aggregate``
  fold over the split lines — no Python, one narrow projection.
* :func:`robots_gate` — pages ⋈ rules (broadcast: the rule table is
  O(#hosts), pages are O(corpus)), longest-match evaluation with
  allow-wins ties (RFC 9309 §2.2.2), ``*`` wildcards and ``$``
  end-anchors compiled to per-rule regexes inside the HOF. No rule
  matched → allowed (§2.2.3).

Scale shape: parsing is narrow per-host work; the gate is one
broadcast hash join keyed on host plus whole-stage-codegen'd array
expressions — zero shuffles on the page side, so it pipelines into the
extraction scan at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _field(line: Column) -> Column:
    """Lower-cased field name before the first ':' (RFC: names are
    case-insensitive), trimmed; lines without ':' yield ''."""
    return F.when(
        line.contains(":"), F.lower(F.trim(F.substring_index(line, ":", 1)))
    ).otherwise(F.lit(""))


_RULES_T = "array<struct<allow:boolean,path:string>>"
_ACC_T = (
    "struct<active:boolean,in_agents:boolean,"
    f"rules:{_RULES_T}>"
)


def robots_rules(robots: DataFrame) -> DataFrame:
    """``(host, rules)`` — the ``*`` group's rules per host.

    ``rules`` is ``array<struct<allow, path>>`` in file order. Hosts
    whose robots.txt has no ``*`` group (or no rules) get an empty
    array — evaluated as allow-everything by :func:`robots_gate`.
    """
    # RFC 9309 §2.2 allows CR, CR/LF, and LF line endings: normalize
    # CR[LF] to LF first (Spark trim() strips spaces only, so a
    # surviving \r would otherwise poison rule paths), then strip
    # comments per line and drop blank lines.
    raw = F.split(F.regexp_replace(F.col("robots_txt"), "\r\n?", "\n"), "\n")
    lines = F.filter(
        F.transform(raw, lambda l: F.trim(F.regexp_replace(l, "#.*$", ""))),
        lambda l: l != "",
    )

    def step(acc: Column, line: Column) -> Column:
        name = _field(line)
        value = F.trim(F.substr(line, F.instr(line, ":") + 1))
        is_agent = name == "user-agent"
        is_rule = name.isin("allow", "disallow") & (value != "")
        # a user-agent line either extends the current agent run or
        # starts a new group (if rules intervened since the last one)
        new_active = F.when(
            is_agent & acc["in_agents"], acc["active"] | (value == "*")
        ).when(is_agent, value == "*").otherwise(acc["active"])
        new_rules = F.when(
            is_rule & acc["active"],
            F.concat(
                acc["rules"],
                F.array(
                    F.struct(
                        (name == "allow").alias("allow"),
                        value.alias("path"),
                    )
                ),
            ),
        ).otherwise(acc["rules"])
        return F.struct(
            new_active.alias("active"),
            F.when(is_agent, F.lit(True))
            .when(name.isin("allow", "disallow"), F.lit(False))
            .otherwise(acc["in_agents"])
            .alias("in_agents"),
            new_rules.alias("rules"),
        )

    init = F.struct(
        F.lit(False).alias("active"),
        F.lit(False).alias("in_agents"),
        F.array().cast(_RULES_T).alias("rules"),
    )
    folded = F.aggregate(lines, init.cast(_ACC_T), step)
    return robots.select("host", folded["rules"].alias("rules"))


def _rule_pattern(path: Column) -> Column:
    """Rule path spec → anchored regex: ``*`` wildcard, trailing ``$``
    end-anchor, everything else literal."""
    anchored = path.endswith("$")
    core = F.when(
        anchored, path.substr(F.lit(1), F.length(path) - 1)
    ).otherwise(path)
    esc = F.regexp_replace(core, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), wild, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def robots_gate(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """``(url, host, path, allowed, matched_rule)`` per page.

    Longest-match wins (precedence = octet length of the path spec);
    equal lengths → allow wins; no match / unknown host → allowed.
    """
    host = F.regexp_extract(F.col("url"), r"^([a-z]+://[^/]+)", 1)
    path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+(/.*)?$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    p = pages.select("url", host.alias("host"), path.alias("path"))
    joined = p.join(F.broadcast(rules), "host", "left")
    rr = F.coalesce(F.col("rules"), F.array().cast(_RULES_T))
    matched = F.filter(
        rr, lambda r: F.regexp_like(F.col("path"), _rule_pattern(r["path"]))
    )
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.length(r["path"]).alias("len"),
                r["allow"].alias("allow"),
                r["path"].alias("path"),
            ),
        )
    )
    return joined.select(
        "url",
        "host",
        "path",
        F.when(F.size(matched) == 0, F.lit(True))
        .otherwise(best["allow"])
        .alias("allowed"),
        F.when(F.size(matched) > 0, best["path"]).alias("matched_rule"),
    )


def sitemap_urls(df: DataFrame) -> DataFrame:
    """Extract <loc> / <lastmod> pairs from sitemap XML (sitemaps.org
    protocol — the other half of crawl discovery next to robots.txt).

    Pure regexp columns (a sitemap is flat enough that a conforming
    <url> block regex is exact; no DOM build): one row per URL with its
    optional lastmod, plus the per-host position. Nested sitemap
    indexes (<sitemap><loc>) surface with kind='index' so the frontier
    can recurse.
    """
    urlblocks = F.regexp_extract_all(
        F.col("sitemap_xml"), F.lit(r"(?s)<url>(.*?)</url>"), 1
    )
    idxblocks = F.regexp_extract_all(
        F.col("sitemap_xml"), F.lit(r"(?s)<sitemap>(.*?)</sitemap>"), 1
    )

    def emit(blocks, kind):
        return F.transform(
            blocks,
            lambda b, i: F.struct(
                F.lit(kind).alias("kind"),
                i.cast("int").alias("pos"),
                F.trim(
                    F.regexp_extract(b, r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
                ).alias("loc"),
                F.nullif(
                    F.trim(
                        F.regexp_extract(
                            b, r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1
                        )
                    ),
                    F.lit(""),
                ).alias("lastmod"),
            ),
        )

    out = df.select(
        F.col("host"),
        F.explode(
            F.concat(emit(urlblocks, "url"), emit(idxblocks, "index"))
        ).alias("e"),
    )
    return out.select(
        "host",
        F.col("e.kind").alias("kind"),
        F.col("e.pos").alias("pos"),
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod").alias("lastmod"),
    ).filter(F.col("loc") != "")


def sitemap_urls_sql() -> str:
    """DuckDB twin of :func:`sitemap_urls` over the table ``sm``."""
    def emit(tag: str, kind: str) -> str:
        return f"""
  SELECT host, '{kind}' AS kind, (i - 1)::int AS pos,
         trim(regexp_extract(bs[i], '(?s)<loc>\\s*(.*?)\\s*</loc>', 1))
           AS loc,
         nullif(trim(regexp_extract(
             bs[i], '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1)), '')
           AS lastmod
  FROM (
    SELECT host AS host,
           regexp_extract_all(sitemap_xml, '(?s)<{tag}>(.*?)</{tag}>', 1)
             AS bs
    FROM sm
  ), unnest(range(1, len(bs) + 1)) AS t(i)"""

    return f"""
SELECT host, kind, pos, loc, lastmod FROM (
{emit("url", "url")}
  UNION ALL
{emit("sitemap", "index")}
) WHERE loc <> ''
"""


def robots_sitemaps(df: DataFrame) -> DataFrame:
    """``Sitemap:`` directives from robots.txt (RFC 9309 §2.3 — the
    directive lives outside groups and is case-insensitive): one row
    per (host, pos, sitemap_url). This is how a crawler discovers the
    sitemap set that :func:`sitemap_urls` then expands."""
    # Normalize CR[LF] to LF first (RFC 9309 allows CR / CRLF / LF —
    # same rule as robots_rules): Java multiline $ matches before \r\n
    # but RE2's only before \n, so anchoring over raw CRLF text would
    # make the twins diverge; and bare CR must become a line BREAK, not
    # vanish (stripping \r would merge adjacent lines and silently lose
    # directives).
    locs = F.regexp_extract_all(
        F.regexp_replace(F.col("robots_txt"), "\r\n?", "\n"),
        F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)[ \t]*$"),
        1,
    )
    out = df.select(
        "host",
        F.posexplode(locs).alias("pos", "sitemap_url"),
    )
    return out.select("host", F.col("pos").cast("int"), "sitemap_url")


def robots_sitemaps_sql() -> str:
    """DuckDB twin of :func:`robots_sitemaps` over the table ``r``."""
    return rf"""
SELECT host, (i - 1)::int AS pos, ls[i] AS sitemap_url
FROM (
  SELECT host AS host,
         regexp_extract_all(regexp_replace(robots_txt, '\r\n?', chr(10), 'g'),
           '(?m)^[ \t]*(?i:sitemap)[ \t]*:[ \t]*(\S+)[ \t]*$', 1) AS ls
  FROM r
), unnest(range(1, len(ls) + 1)) AS t(i)
"""


def recrawl_schedule(crawled: DataFrame, sitemap: DataFrame) -> DataFrame:
    """(url, action, fetched_ts, lastmod_ts) — incremental recrawl plan.

    Joins the crawl index against the sitemap set (the consumer of
    :func:`robots_sitemaps` → :func:`sitemap_urls`): ``new`` = listed
    but never fetched, ``refetch`` = lastmod after the stored fetch
    (the conditional-GET candidate set), ``fresh`` = fetched copy
    still current, ``unlisted`` = fetched but gone from the sitemap
    (deletion/audit candidates). Timestamps are epoch seconds (longs)
    so the plan stays engine-neutral.

    Scale shape: one full outer hash join on url; both sides carry
    (url, long) only. At daily-crawl scale the sitemap side is the
    small one per host — AQE picks the broadcast automatically when it
    fits.
    """
    c = crawled.select("url", "fetched_ts")
    s = sitemap.select(F.col("loc").alias("url"), "lastmod_ts")
    j = c.join(s, "url", "full_outer")
    action = (
        F.when(F.col("fetched_ts").isNull(), F.lit("new"))
        .when(F.col("lastmod_ts").isNull(), F.lit("unlisted"))
        .when(F.col("lastmod_ts") > F.col("fetched_ts"), F.lit("refetch"))
        .otherwise(F.lit("fresh"))
    )
    return j.select("url", action.alias("action"), "fetched_ts", "lastmod_ts")


def recrawl_schedule_sql(
    crawled_sql: str, sitemap_sql: str
) -> str:
    """DuckDB twin of :func:`recrawl_schedule`; subquery args must
    yield (url, fetched_ts) and (url, lastmod_ts)."""
    return f"""
SELECT coalesce(c.url, s.url) AS url,
       CASE WHEN c.fetched_ts IS NULL THEN 'new'
            WHEN s.lastmod_ts IS NULL THEN 'unlisted'
            WHEN s.lastmod_ts > c.fetched_ts THEN 'refetch'
            ELSE 'fresh' END AS action,
       c.fetched_ts, s.lastmod_ts
FROM ({crawled_sql}) c FULL OUTER JOIN ({sitemap_sql}) s USING (url)
"""


def robots_crawl_delay(robots: DataFrame) -> DataFrame:
    """(host, crawl_delay) — the ``*`` group's Crawl-delay seconds.

    Crawl-delay is not in RFC 9309 but is honored by most major
    crawlers; it is the per-host politeness input
    :func:`..operators.links.frontier_schedule` budgets against. The
    same group-tracking fold as :func:`robots_rules` (a Crawl-delay
    line belongs to the group whose User-agent run precedes it); the
    LAST valid directive in the ``*`` group wins, non-numeric values
    are ignored, hosts without one get NULL.
    """
    raw = F.split(F.regexp_replace(F.col("robots_txt"), "\r\n?", "\n"), "\n")
    lines = F.filter(
        F.transform(raw, lambda l: F.trim(F.regexp_replace(l, "#.*$", ""))),
        lambda l: l != "",
    )
    acc_t = "struct<active:boolean,in_agents:boolean,delay:double>"

    def step(acc: Column, line: Column) -> Column:
        name = _field(line)
        value = F.trim(F.substr(line, F.instr(line, ":") + 1))
        is_agent = name == "user-agent"
        num = F.when(
            value.rlike(r"^[0-9]+(\.[0-9]+)?$"), value.cast("double")
        )
        new_active = F.when(
            is_agent & acc["in_agents"], acc["active"] | (value == "*")
        ).when(is_agent, value == "*").otherwise(acc["active"])
        new_delay = F.when(
            (name == "crawl-delay") & acc["active"] & num.isNotNull(), num
        ).otherwise(acc["delay"])
        return F.struct(
            new_active.alias("active"),
            F.when(is_agent, F.lit(True))
            .when(
                name.isin("allow", "disallow", "crawl-delay"), F.lit(False)
            )
            .otherwise(acc["in_agents"])
            .alias("in_agents"),
            new_delay.alias("delay"),
        )

    init = F.struct(
        F.lit(False).alias("active"),
        F.lit(False).alias("in_agents"),
        F.lit(None).cast("double").alias("delay"),
    )
    folded = F.aggregate(lines, init.cast(acc_t), step)
    return robots.select("host", folded["delay"].alias("crawl_delay"))


def robots_crawl_delay_sql(
    host_expr: str, robots_expr: str, table: str
) -> str:
    """DuckDB twin of :func:`robots_crawl_delay`.

    NOT a list_reduce fold: DuckDB 1.0's list_reduce produces
    cross-row-contaminated results when the reduced list is computed
    from row expressions (verified: the same query returns different
    values bare vs under a WHERE host = ... filter). The fold is
    reformulated as window functions over the exploded lines, which is
    exactly equivalent: an agent RUN is a maximal stretch of
    user-agent lines (kind-0 lines do not break it, kind-2 lines do);
    a crawl-delay line is active iff its current run contains ``*``;
    last active valid delay wins.
    """
    body = f"regexp_replace({robots_expr}, '\r\n?', chr(10), 'g')"
    lines = (
        f"list_filter(list_transform(string_split({body}, chr(10)), "
        f"l -> trim(regexp_replace(l, '#.*$', ''))), l -> l <> '')"
    )
    # mirror the Spark fold's _field guard: a colon-less line has NO
    # field name (''), it must not break/start an agent run — bare
    # split_part would return the whole line for 'disallow'/'user-agent'
    # malformed lines and diverge from Spark
    name = (
        "CASE WHEN strpos(l, ':') > 0 "
        "THEN lower(trim(split_part(l, ':', 1))) ELSE '' END"
    )
    value = "trim(substr(l, strpos(l, ':') + 1))"
    return rf"""
WITH hosts AS (
  SELECT {host_expr} AS host, {lines} AS ls FROM {table}
),
lined AS (
  SELECT host, i, ls[i] AS l
  FROM hosts, unnest(range(1, len(ls) + 1)) AS t(i)
),
feat AS (
  SELECT host, i,
         CASE WHEN {name} = 'user-agent' THEN 1
              WHEN {name} IN ('allow', 'disallow', 'crawl-delay') THEN 2
              ELSE 0 END AS kind,
         ({name} = 'user-agent' AND {value} = '*') AS star,
         CASE WHEN {name} = 'crawl-delay'
              AND regexp_matches({value}, '^[0-9]+(\.[0-9]+)?$')
              THEN {value}::double END AS dly
  FROM lined
),
prevk AS (
  SELECT *,
         coalesce(last_value(CASE WHEN kind <> 0 THEN kind END
             IGNORE NULLS) OVER (PARTITION BY host ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2)
           AS prev_nz
  FROM feat
),
runs AS (
  SELECT *,
         sum(CASE WHEN kind = 1 AND prev_nz <> 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY i) AS run_id
  FROM prevk
),
run_star AS (
  SELECT host, run_id, bool_or(star) AS has_star
  FROM runs WHERE kind = 1 GROUP BY host, run_id
),
active_delays AS (
  SELECT r.host, r.i, r.dly
  FROM runs r JOIN run_star s
    ON r.host = s.host AND r.run_id = s.run_id
  WHERE r.dly IS NOT NULL AND s.has_star
)
SELECT h.host, d.dly AS crawl_delay
FROM hosts h LEFT JOIN (
  SELECT host, max_by(dly, i) AS dly FROM active_delays GROUP BY host
) d ON h.host = d.host
"""
