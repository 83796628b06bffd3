"""Distributed connected components + as-of join.

Two operators Spark lacks natively, built the Spark-first way:

* :func:`connected_components` — iterative min-label propagation with
  pointer jumping (the two-step relabeling at the heart of the
  MapReduce CC family — cf. Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14): each round is a neighbor-min
  groupBy plus a label-of-label join, converging in O(log diameter)
  rounds. This is the proper upgrade over greedy lowest-id dedup: a
  near-duplicate *cluster* keeps exactly one exemplar even when
  similarity edges are not transitive through the lowest id (a-b and
  b-c similar, a-c never compared — greedy keeps {a, c}; components
  keep {a}).

* :func:`asof_join` — "most recent earlier row" join without a range
  cross-product: union both sides into one stream, sort per key by
  time within partitions, and carry the last left-side value forward
  with a window ``last(..., ignorenulls)``. Cost is one shuffle on the
  key — the same as an equi-join — versus the O(n·m)-per-key explosion
  of the naive range-join formulation.

Scale notes (100 TB): each large-star/small-star round is two
hash-shuffles on node id; ``localCheckpoint`` truncates the lineage so
round k's plan does not replay rounds 1..k-1 (without it the DAG
doubles per round and the job dies on plan size long before data
size). The convergence check is one ``count`` per round — a scalar
action, not a collect. The as-of join is a single repartition + one
window sort, linear in input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) with component = min node id in the component.

    ``edges`` is an undirected ``(id_a, id_b)`` edge list; isolated
    nodes absent from it simply keep their own id (callers union them
    back, see :func:`cc_dedup_keep`). Label propagation stops at
    convergence or after 20 rounds.

    Constraint propagation is disabled for the duration of the loop:
    Spark 4.1's ``localCheckpoint`` constraint rewrite throws
    ``NoSuchElementException: key not found: <attr>`` when a
    checkpointed self-join's constraints reference pre-checkpoint
    attribute ids (and constraint tracking is quadratic on iterative
    plans anyway — the standard recommendation for iterative
    algorithms is to turn it off).
    """
    spark = edges.sparkSession
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        return _connected_components_loop(edges)
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev)


def _connected_components_loop(edges: DataFrame) -> DataFrame:
    # current labeling as an edge set (node -> label), starting from the
    # symmetrized input; invariant: label <= node under min-aggregation
    # materialize the symmetrized edge set once: it is referenced by the
    # join in EVERY round, and without the checkpoint each round would
    # recompute the upstream pipeline that produced the edges (e.g. the
    # whole minhash candidate generation)
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"), F.least(F.col("u"), F.col("mn")).alias("comp")
        )
    )
    labels = labels.localCheckpoint(eager=True)
    for _ in range(20):
        # each neighbor v of u inherits u's current label; min per node.
        # Both union legs get fresh aliases: a union leg sharing the
        # checkpointed LogicalRDD's attribute ids trips Spark 4.1's
        # constraint rewrite on the next localCheckpoint
        # ("java.util.NoSuchElementException: key not found: node#N").
        j = (
            e.join(labels, e["u"] == labels["node"])
            .select(F.col("v").alias("node"), F.col("comp").alias("comp"))
            .union(
                labels.select(
                    F.col("node").alias("node"), F.col("comp").alias("comp")
                )
            )
        )
        new_labels = j.groupBy("node").agg(F.min("comp").alias("comp"))
        new_labels = new_labels.localCheckpoint(eager=True)
        # converged when no node's label changed
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        # propagate labels through labels themselves (pointer jumping):
        # relabel comp by the comp of the comp
        lab2 = (
            new_labels.alias("a")
            .join(
                new_labels.select(
                    F.col("node").alias("cnode"), F.col("comp").alias("ccomp")
                ),
                F.col("a.comp") == F.col("cnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(
                    F.coalesce(F.col("ccomp"), F.col("a.comp")), F.col("a.comp")
                ).alias("comp"),
            )
        )
        labels = lab2.localCheckpoint(eager=True)
        if changed == 0:
            break
    return labels.select("node", "comp")


def cc_dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Connected-components dedup: one exemplar (min id) per
    near-duplicate cluster, plus every unpaired id.

    Output: (keep_id). Upgrade of the greedy rule in
    :func:`docling_plus_spark.operators.dedup.minhash_dedup_keep`:
    clusters are closed under similarity-edge reachability.
    """
    e = pairs.filter(F.col("est_jaccard") >= threshold).select("id_a", "id_b")
    comp = connected_components(e)
    keep_in_comp = comp.groupBy("comp").agg(F.min("node").alias("keep_id"))
    ids = df.select(F.col(id_col).alias("id")).distinct()
    unpaired = ids.join(
        comp.select(F.col("node").alias("id")), "id", "left_anti"
    ).select(F.col("id").alias("keep_id"))
    return keep_in_comp.select("keep_id").union(unpaired)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_time <= left_time`` per key (the backward direction, the
    DuckDB/pandas ``merge_asof`` default).

    Plan: union both sides into one ordered stream per key and carry
    the most recent right-side values forward with
    ``last(..., ignorenulls=True)`` — one shuffle on ``on``, no range
    cross-product. Ties (equal timestamps) resolve right-row-first so
    an exactly-simultaneous right row IS visible to the left row,
    matching ASOF semantics.
    """
    lcols = [c for c in left.columns]
    tagged_l = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols if c != on],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    tagged_r = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    unioned = tagged_l.unionByName(tagged_r)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        F.col("_k").alias(on),
        F.col("_t").alias(left_time),
        *[F.col(c) for c in lcols if c not in (on, left_time)],
        *[F.col(f"_c_{c}").alias(c) for c in value_cols],
    )


def cc_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware exemplar selection: keep the *best* doc per
    near-duplicate cluster, not the min-id one.

    What production curation actually does (FineWeb / RefinedWeb keep
    the highest-quality representative so dedup never trades a clean
    copy for a boilerplate-ridden one): clusters are the connected
    components of the similarity graph; within each, the kept id
    maximizes ``(score, -id)`` — deterministic tie-break on min id.
    Unpaired docs are kept as themselves with their own score.

    Output: ``(keep_id, comp, score)`` — ``comp`` is the cluster label
    (min node id), so consumers can join back for lineage.

    Scale: one CC run (O(log d) hash shuffles, see
    :func:`connected_components`), one join of the component table
    against the quality table on id (both shuffle on id; the component
    table is |paired docs| rows, far smaller than the corpus), one
    max_by aggregation with map-side partials.
    """
    e = pairs.filter(F.col("est_jaccard") >= threshold).select("id_a", "id_b")
    comp = connected_components(e)
    q = quality.select(
        F.col(id_col).alias("node"), F.col(score_col).alias("score")
    )
    best = (
        comp.join(q, "node")
        .groupBy("comp")
        .agg(
            F.max(
                F.struct(
                    F.col("score"), (-F.col("node")).alias("neg_id")
                )
            ).alias("b")
        )
        .select(
            (-F.col("b.neg_id")).alias("keep_id"),
            F.col("comp"),
            F.col("b.score").alias("score"),
        )
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    unpaired = (
        ids.join(comp.select(F.col("node").alias("id")), "id", "left_anti")
        .join(q.withColumnRenamed("node", "id"), "id", "left")
        .select(
            F.col("id").alias("keep_id"),
            F.col("id").alias("comp"),
            "score",
        )
    )
    return best.union(unpaired)


# ---------------------------------------------------------------------------
# HyperBall (Boldi & Vigna, 2013) — the sketch behind Common Crawl's
# harmonic-centrality ranking

#: register hash layout: 60-bit md5_long → low bits pick the bucket,
#: the remaining W bits feed the leading-zero rank.
_HB_MD5_BITS = 60  # md5_long width; W = 60 - log2(m) rank bits remain


def hyperball_registers(
    edges: DataFrame,
    m: int = 16,
    rounds: int = 4,
) -> DataFrame:
    """``(node, bucket, register)`` — HyperLogLog registers of each
    node's out-ball of radius ``rounds`` over ``(src, dst)`` edges.

    HyperBall is how web-graph centralities are actually computed at
    10^12 nodes (Boldi & Vigna 2013; Common Crawl's published harmonic
    ranks use it): instead of materializing neighborhoods, every node
    keeps an m-register HLL counter of its ball, and one BFS round is
    "take the register-wise max over your successors' counters" — a
    join + groupBy-max per round, nothing else. Registers are small
    integers, so the whole iteration state for 10^12 nodes × m=64 is a
    few TB of bytes, and each round is exactly one edge-sized shuffle
    (same budget as a PageRank round, see :func:`..links.pagerank`).

    Everything here is integer-exact and cross-engine reproducible:
    node hash = md5_long (functions/expressions.py:291), bucket = low
    ``log2 m`` bits, rank = leading-zero count of the remaining
    remaining rank bits + 1 computed via the *binary-string length* (no
    float log2 — exact on both engines). The DuckDB oracle unrolls the
    fixed round count as a CTE chain and matches register-for-register;
    :func:`hyperball_estimate` turns registers into ball-size /
    centrality estimates (narrow map, unit-tested against exact BFS).
    """
    spark = edges.sparkSession
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        return _hyperball_loop(edges, m, rounds)
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev)


def _hb_rho(h: Column, m: int) -> Column:
    """Leading-zero rank of the post-bucket hash bits, 1-based.

    Integer-exact: ``h >> log2(m)`` (no double division — a 60-bit
    value exceeds double precision) and bit-length via the ``bin()``
    string length on both engines.
    """
    p = m.bit_length() - 1
    W = _HB_MD5_BITS - p
    w = F.shiftright(h, p)
    return F.when(w > 0, F.lit(W + 1) - F.length(F.bin(w))).otherwise(
        F.lit(W + 1)
    ).cast("int")


def _hyperball_loop(edges: DataFrame, m: int, rounds: int) -> DataFrame:
    from docling_plus_spark.functions.expressions import md5_long

    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    h = md5_long(F.col("node").cast("string"))
    reg = nodes.select(
        "node",
        h.bitwiseAND(F.lit(m - 1)).cast("int").alias("bucket"),
        _hb_rho(h, m).alias("register"),
    )
    for _ in range(rounds):
        succ = (
            e.join(reg, e["dst"] == reg["node"])
            .select(
                F.col("src").alias("node"), "bucket", "register"
            )
        )
        reg = (
            reg.unionByName(succ)
            .groupBy("node", "bucket")
            .agg(F.max("register").alias("register"))
            .localCheckpoint(eager=True)
        )
    return reg


def hyperball_estimate(registers: DataFrame, m: int = 16) -> DataFrame:
    """``(node, est_ball)`` — HLL estimate per node from its registers:
    ``alpha_m * m^2 / sum(2^-register)`` with the standard small-range
    linear-counting correction (Flajolet et al. 2007: raw HLL
    overestimates tiny sets by ~m/e, so when est ≤ 2.5m and empty
    buckets exist, ``m * ln(m / V)`` is used instead — a leaf node's
    ball of 1 estimates ≈1.0, not ≈0.7m). Buckets a node never filled
    count as register 0. Narrow aggregation; register equality, not
    this scalar, is the oracled contract — the map is unit-tested
    against exact BFS ball sizes."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    got = registers.groupBy("node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("register"))).alias("s"),
        F.count("*").alias("nb"),
    )
    # absent buckets contribute 2^0 = 1 each; V = count of empty buckets
    v = F.lit(m) - F.col("nb")
    s = F.col("s") + v
    raw = F.lit(alpha * m * m) / s
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return got.select("node", F.round(est, 4).alias("est_ball"))


def hyperball_registers_sql(
    edges_cte: str,
    m: int = 16,
    rounds: int = 4,
) -> str:
    """DuckDB twin of :func:`hyperball_registers` over an ``edges``
    CTE body providing (src, dst)."""
    p = m.bit_length() - 1
    w = _HB_MD5_BITS - p
    init = f"""
r0 AS (
  SELECT node,
         (h % {m})::int AS bucket,
         (CASE WHEN h // {m} > 0
               THEN {w + 1} - length(bin(h // {m}))
               ELSE {w + 1} END)::int AS register
  FROM (
    SELECT node,
           ('0x' || substr(md5(node::varchar), 1, 15))::bigint AS h
    FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
  )
)"""
    steps = []
    for i in range(rounds):
        steps.append(f"""
r{i + 1} AS (
  SELECT node, bucket, max(register)::int AS register FROM (
    SELECT node, bucket, register FROM r{i}
    UNION ALL
    SELECT e.src AS node, r.bucket, r.register
    FROM edges e JOIN r{i} r ON r.node = e.dst
  ) GROUP BY node, bucket
)""")
    return (
        f"WITH edges AS ({edges_cte}),{init},{','.join(steps)}\n"
        f"SELECT node, bucket, register FROM r{rounds}"
    )
