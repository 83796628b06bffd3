"""Distributed embedding clustering: spherical k-means (Lloyd) and
SemDeDup-style semantic deduplication built on top of it.

Reference context: docling-plus curates at document level only; these are
the embedding-space curation steps a 100 TB training-data pipeline runs
after an embedding model has produced an ``array<float>`` column
(Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", 2023; same coarse-quantizer family as the IVF
plan in :mod:`.ann`).

Determinism contract (the whole point of this file's design): both the
Spark plan and the DuckDB twin

* initialise centroids as the ``k`` lowest-id unit vectors,
* round assignment dot products to 4 decimals before ranking
  (tiebreak: ascending cluster id),
* recompute centroids as per-dimension means rounded to 6 decimals,
  then re-normalise and round to 6 decimals again,

so float accumulation-order noise cannot flip an assignment across
engines and the oracle replays Lloyd exactly.

Scale notes (the plan at 10^9 vectors / 1000 executors):

* assignment is a **broadcast** cross join against the k-row centroid
  table — no shuffle of the big side;
* the recompute is ``posexplode → groupBy (cluster, dim)`` — a map-side
  partially-aggregated shuffle whose output is k×d rows (tiny), i.e.
  the classic distributed-Lloyd shape;
* each iteration ends in ``localCheckpoint`` so the lineage does not
  grow with the iteration count (same discipline as
  :func:`..operators.graph.connected_components`);
* SemDeDup's pairwise stage shuffles on ``cluster`` and only forms
  pairs *within* a cluster — k caps per-task pair volume exactly like
  ``n_lists`` does in the IVF plan (size k ~ corpus/√target at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ann import UNIT_EMBEDDING_SQL, _dot, unit_vec

#: clusters and Lloyd rounds of k-means and of SemDeDup, and SemDeDup's
#: cosine above which a cluster-mate is dropped (the DuckDB twins'
#: values; the Spark operators' defaults)
KMEANS_K = 8
KMEANS_ITERS = 2
SEMDEDUP_K = 8
SEMDEDUP_TAU = 0.97
SEMDEDUP_ITERS = 1
#: PQ subspaces and codebook Lloyd rounds; IVF-PQ lists, codes per
#: subspace, lists probed per query and neighbours returned
PQ_M = 4
PQ_ITERS = 1
IVF_N_LISTS = 8
IVF_K_CODES = 16
IVF_NPROBE = 2
IVF_TOPK = 5


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (id, uemb) × (cluster, cemb) →
    (id, uemb, cluster, ccos); broadcast join, round-4 dot, tie → lowest
    cluster id."""
    scored = base.crossJoin(F.broadcast(cents)).select(
        "id",
        "uemb",
        "cluster",
        F.round(_dot(F.col("uemb"), F.col("cemb")), 4).alias("ccos"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("cluster"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """New centroids: per-dimension mean (round 6) → renormalise
    (round 6). Returns (cluster, cemb); empty clusters drop out."""
    means = (
        assigned.select("cluster", F.posexplode("uemb").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg(F.round(F.avg("x"), 6).alias("mv"))
    )
    memb = (
        means.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("i", "mv"))).alias("s"))
        .select(
            "cluster", F.transform("s", lambda st: st["mv"]).alias("memb")
        )
    )
    # let-bind the norm via the one-element-array trick (see unit_vec)
    return memb.select(
        "cluster",
        F.element_at(
            F.transform(
                F.array(F.sqrt(_dot(F.col("memb"), F.col("memb")))),
                lambda nv: F.transform(
                    F.col("memb"), lambda x: F.round(x / nv, 6)
                ),
            ),
            1,
        ).alias("cemb"),
    )


def _base(emb: DataFrame) -> DataFrame:
    return emb.select(
        F.col("vec_id").alias("id"),
        unit_vec(F.col("embedding").cast("array<double>")).alias("uemb"),
    )


def init_centroids(base: DataFrame, k: int) -> DataFrame:
    """Deterministic seeding: the k lowest-id unit vectors (SQL-twinnable;
    production would seed with k-means|| — the iteration shape below is
    identical either way)."""
    w = Window.orderBy("id")
    return (
        base.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cluster"),
            F.col("uemb").alias("cemb"),
        )
    )


def kmeans_lloyd(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """``iters`` rounds of distributed spherical Lloyd over ``(vec_id,
    embedding)``; returns the final assignment (id, cluster, ccos)."""
    base = _base(emb)
    cents = init_centroids(base, k)
    for _ in range(iters):
        cents = _recompute(_assign(base, cents)).localCheckpoint()
    return _assign(base, cents).select("id", "cluster", "ccos")


def semdedup(
    emb: DataFrame,
    k: int = SEMDEDUP_K,
    tau: float = SEMDEDUP_TAU,
    iters: int = SEMDEDUP_ITERS,
) -> DataFrame:
    """SemDeDup: cluster ``(vec_id, embedding)``, then inside each
    cluster drop every vector whose cosine to a *lower-id* cluster-mate
    is ≥ ``tau`` (keep-lowest
    exemplar rule — the deterministic stand-in for the paper's
    keep-farthest-from-centroid, chosen so the DuckDB twin replays
    selection exactly). Returns (id, cluster, kept)."""
    # pin base (read per k-means round + final assign) and the final
    # assignment (feeds BOTH self-join sides and the kept-join): without
    # the pins the normalize+assign pass re-executed per consumer
    # (6 corpus scans observed at sf0.001)
    base = _base(emb).localCheckpoint(eager=True)
    cents = init_centroids(base, k)
    for _ in range(iters):
        cents = _recompute(_assign(base, cents)).localCheckpoint()
    assigned = _assign(base, cents).localCheckpoint(eager=True)
    a, b = assigned.alias("a"), assigned.alias("b")
    doomed = (
        a.join(b, "cluster")
        .filter(F.col("a.id") > F.col("b.id"))
        .filter(
            F.round(_dot(F.col("a.uemb"), F.col("b.uemb")), 4) >= F.lit(tau)
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return assigned.join(doomed.withColumn("doomed", F.lit(True)), "id", "left").select(
        "id", "cluster", F.coalesce(~F.col("doomed"), F.lit(True)).alias("kept")
    )


# ---------------------------------------------------------------------------
# DuckDB twins (unrolled CTE chains)


def _assign_cte(cents: str) -> str:
    return f"""(
  SELECT id, uemb, cluster, ccos FROM (
    SELECT b.id, b.uemb, c.cluster,
           round(list_dot_product(b.uemb, c.cemb), 4) AS ccos,
           row_number() OVER (
             PARTITION BY b.id
             ORDER BY round(list_dot_product(b.uemb, c.cemb), 4) DESC,
                      c.cluster) AS rk
    FROM base b CROSS JOIN {cents} c) WHERE rk = 1
)"""


def _recompute_cte(assigned: str) -> str:
    return f"""(
  WITH m AS (
    SELECT cluster, i, round(avg(uemb[i + 1]), 6) AS mv
    FROM {assigned}, unnest(range(0, len(uemb))) AS t(i)
    GROUP BY 1, 2
  ),
  g AS (SELECT cluster, list(mv ORDER BY i) AS memb FROM m GROUP BY 1)
  SELECT cluster,
         list_transform(
           memb,
           x -> round(x / sqrt(list_dot_product(memb, memb)), 6)) AS cemb
  FROM g
)"""


def _lloyd_ctes(k: int, iters: int, table: str) -> tuple[str, str]:
    """Shared CTE prefix for the twins; returns (WITH-body, final
    assignment CTE name)."""
    parts = [
        f"base AS (SELECT vec_id AS id, {UNIT_EMBEDDING_SQL} AS uemb FROM {table})",
        f"""cents0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, uemb AS cemb
  FROM (SELECT id, uemb FROM base ORDER BY id LIMIT {k}))""",
    ]
    for n in range(iters):
        parts.append(f"a{n} AS {_assign_cte(f'cents{n}')}")
        parts.append(f"cents{n + 1} AS {_recompute_cte(f'a{n}')}")
    parts.append(f"afinal AS {_assign_cte(f'cents{iters}')}")
    return ",\n".join(parts), "afinal"


def kmeans_lloyd_sql() -> str:
    body, final = _lloyd_ctes(KMEANS_K, KMEANS_ITERS, "embeddings")
    return f"WITH {body}\nSELECT id, cluster, ccos FROM {final}"


def semdedup_sql(table: str = "embeddings", pre_ctes: str = "") -> str:
    body, final = _lloyd_ctes(SEMDEDUP_K, SEMDEDUP_ITERS, table)
    if pre_ctes:
        body = f"{pre_ctes},\n{body}"
    return f"""WITH {body},
doomed AS (
  SELECT DISTINCT a.id
  FROM {final} a JOIN {final} b USING (cluster)
  WHERE a.id > b.id
    AND round(list_dot_product(a.uemb, b.uemb), 4) >= {SEMDEDUP_TAU}
)
SELECT f.id, f.cluster, d.id IS NULL AS kept
FROM {final} f LEFT JOIN doomed d ON f.id = d.id"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., TPAMI 2011 — the PQ half of
# FAISS's IVF-PQ): split each vector into m subvectors, k-means each
# subspace (Euclidean), store the per-subspace code. At 10^9 vectors
# this turns a 64-dim float vector (256 B) into m bytes, which is what
# makes billion-scale ANN memory-feasible; the codebook is m*k*d/m
# floats — broadcast territory. All m subspaces train in ONE plan
# (grouped by (sub, code)): no per-subspace job loop.
#
# Determinism contract mirrors kmeans_lloyd: lowest-id seeding per
# subspace, squared-L2 rounded to 4 before the argmin (tie -> lowest
# code), per-dimension means rounded to 6. No renormalisation —
# Euclidean, not spherical.


def _sub_split(emb: DataFrame) -> DataFrame:
    """(id, sub, svec): the ``PQ_M`` contiguous subvectors of each vector."""
    v = F.col("embedding").cast("array<double>")
    d_sub = (F.size(v) / PQ_M).cast("int")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda s: F.struct(
            s.cast("int").alias("sub"),
            F.slice(v, s * d_sub + 1, d_sub).alias("svec"),
        ),
    )
    return emb.select(
        F.col("vec_id").alias("id"), F.explode(subs).alias("p")
    ).select("id", F.col("p.sub").alias("sub"), F.col("p.svec").alias("svec"))


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """Per (id, sub): nearest codeword in that subspace. The join key is
    `sub` and the codebook side is broadcast."""
    scored = sv.join(F.broadcast(cents), "sub").select(
        "id",
        "sub",
        "svec",
        "code",
        F.round(_sqdist(F.col("svec"), F.col("cemb")), 4).alias("dist"),
    )
    w = Window.partitionBy("id", "sub").orderBy(F.asc("dist"), F.asc("code"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


def _pq_recompute(assigned: DataFrame) -> DataFrame:
    means = (
        assigned.select("sub", "code", F.posexplode("svec").alias("i", "x"))
        .groupBy("sub", "code", "i")
        .agg(F.round(F.avg("x"), 6).alias("mv"))
    )
    return (
        means.groupBy("sub", "code")
        .agg(F.array_sort(F.collect_list(F.struct("i", "mv"))).alias("s"))
        .select(
            "sub", "code", F.transform("s", lambda st: st["mv"]).alias("cemb")
        )
    )


def pq_codes(emb: DataFrame, k: int = 16) -> DataFrame:
    """Train a PQ codebook of ``k`` codes in each of ``PQ_M`` subspaces
    (``PQ_ITERS`` Lloyd rounds per subspace, simultaneously) over
    ``(vec_id, embedding)`` and encode: (id, sub, code, dist)."""
    sv = _sub_split(emb)
    w = Window.partitionBy("sub").orderBy("id")
    cents = (
        sv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("sub", (F.col("rk") - 1).alias("code"), F.col("svec").alias("cemb"))
    )
    for _ in range(PQ_ITERS):
        cents = _pq_recompute(_pq_assign(sv, cents)).localCheckpoint()
    return _pq_assign(sv, cents).select("id", "sub", "code", "dist")


def pq_codes_sql(k: int = 16) -> str:
    """DuckDB twin of :func:`pq_codes` (same seeding, rounding, ties)."""
    sq = (
        "round(list_aggregate(list_transform(range(1, len(s.svec) + 1), "
        "j -> (s.svec[j] - c.cemb[j]) * (s.svec[j] - c.cemb[j])), 'sum'), 4)"
    )

    def assign(cents: str) -> str:
        return f"""(
  SELECT id, sub, svec, code, dist FROM (
    SELECT s.id, s.sub, s.svec, c.code, {sq} AS dist,
           row_number() OVER (PARTITION BY s.id, s.sub
                              ORDER BY {sq} ASC, c.code) AS rk
    FROM sv s JOIN {cents} c USING (sub)) AS q(id, sub, svec, code, dist, rk)
  WHERE rk = 1
)"""

    parts = [
        f"""sv AS (
  SELECT vec_id AS id, s AS sub,
         (embedding::double[])[s * (len(embedding) // {PQ_M}) + 1 :
                               (s + 1) * (len(embedding) // {PQ_M})] AS svec
  FROM embeddings, unnest(range(0, {PQ_M})) AS t(s)
)""",
        f"""cents0 AS (
  SELECT sub, rk - 1 AS code, svec AS cemb FROM (
    SELECT sub, svec,
           row_number() OVER (PARTITION BY sub ORDER BY id) AS rk
    FROM sv) WHERE rk <= {k}
)""",
    ]
    for n in range(PQ_ITERS):
        parts.append(f"a{n} AS {assign(f'cents{n}')}")
        parts.append(
            f"""cents{n + 1} AS (
  WITH mm AS (
    SELECT sub, code, i, round(avg(svec[i + 1]), 6) AS mv
    FROM a{n}, unnest(range(0, len(svec))) AS t(i)
    GROUP BY 1, 2, 3
  )
  SELECT sub, code, list(mv ORDER BY i) AS cemb FROM mm GROUP BY 1, 2
)"""
        )
    parts.append(f"afinal AS {assign(f'cents{PQ_ITERS}')}")
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT id, sub, code, dist FROM afinal"


def pq_adc_topk(
    emb: DataFrame,
    k_codes: int = 16,
    topk: int = 5,
    query_mod: int = 20,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the query
    plan FAISS actually runs: per query, a tiny (sub, code) → partial-
    distance lookup table, then per-candidate distance = m table
    lookups summed, never a d-dim vector op per pair.

    Relationally: ``pdist`` (query × codebook partial sqdists,
    |Q|·m·k rows — broadcast-sized) joins the code table on
    (sub, code) and sums per (query, candidate). The only wide op
    shuffles (qid, xid, partial) triples — no embeddings move after
    encoding. Queries are the deterministic ``id % query_mod == 0``
    slice so the DuckDB twin replays the same subset. One Lloyd round
    trains the codebook.

    Output: (qid, rk, xid, adist) — approximate distances rounded to 4
    (tie: ascending xid), self-matches excluded.
    """
    sv = _sub_split(emb)
    w = Window.partitionBy("sub").orderBy("id")
    cents = (
        sv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_codes)
        .select(
            "sub", (F.col("rk") - 1).alias("code"), F.col("svec").alias("cemb")
        )
    )
    cents = _pq_recompute(_pq_assign(sv, cents)).localCheckpoint()
    codes = _pq_assign(sv, cents).select("id", "sub", "code")
    qsv = sv.filter(F.col("id") % query_mod == 0)
    pdist = qsv.join(F.broadcast(cents), "sub").select(
        F.col("id").alias("qid"),
        "sub",
        "code",
        F.round(_sqdist(F.col("svec"), F.col("cemb")), 6).alias("pd"),
    )
    joined = (
        pdist.join(codes.select(F.col("id").alias("xid"), "sub", "code"),
                   ["sub", "code"])
        .filter(F.col("qid") != F.col("xid"))
        .groupBy("qid", "xid")
        .agg(F.round(F.sum("pd"), 4).alias("adist"), F.count("*").alias("nsub"))
        # a candidate only scores if it matched the query's lookup rows in
        # ALL m subspaces (it always does: every (sub, code) of every
        # candidate exists in the query's full lookup table)
        .filter(F.col("nsub") == PQ_M)
        .drop("nsub")
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("xid"))
    return (
        joined.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= topk)
        .select("qid", "rk", "xid", "adist")
    )


def pq_adc_topk_sql(k_codes: int = 16, topk: int = 5, query_mod: int = 20) -> str:
    """DuckDB twin of :func:`pq_adc_topk`."""
    base = pq_codes_sql(k_codes)
    # reuse the pq CTE chain up to (but not including) the final SELECT
    body = base[len("WITH ") : base.rindex("SELECT id, sub, code, dist")]
    sqd = (
        "round(list_aggregate(list_transform(range(1, len(q.svec) + 1), "
        "j -> (q.svec[j] - c.cemb[j]) * (q.svec[j] - c.cemb[j])), 'sum'), 6)"
    )
    return f"""WITH {body.rstrip()},
codes AS (SELECT id AS xid, sub, code FROM afinal),
pdist AS (
  SELECT q.id AS qid, q.sub, c.code, {sqd} AS pd
  FROM sv q JOIN cents1 c USING (sub)
  WHERE q.id % {query_mod} = 0
),
adist AS (
  SELECT p.qid, x.xid, round(sum(p.pd), 4) AS adist
  FROM pdist p JOIN codes x USING (sub, code)
  WHERE p.qid != x.xid
  GROUP BY 1, 2
  HAVING count(*) = {PQ_M}
)
SELECT qid, rk, xid, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY adist ASC, xid) AS rk
  FROM adist
) WHERE rk <= {topk}"""


def ivfpq_topk(emb: DataFrame) -> DataFrame:
    """IVF-PQ search — the full FAISS billion-scale plan assembled from
    this module's parts: a coarse quantizer routes vectors to inverted
    lists (spherical k-means seeds, 1 Lloyd round), PQ codes compress
    every vector to m bytes, and a query scans only its ``IVF_NPROBE``
    nearest of ``IVF_N_LISTS`` lists using ADC lookup tables (no vector math per pair).

    Simplification vs FAISS: codes quantize the raw vectors, not the
    per-list residuals — residual encoding changes constants, not the
    plan shape, and the shape is the point: the candidate join shuffles
    on (list, sub, code) integers; the only per-pair work is summing m
    looked-up doubles. Output: (qid, rk, xid, adist), ascending ADC
    distance (round 4), tie on xid; self-matches excluded; queries are
    the ``id % 20 == 0`` slice.
    """
    # pin the two shared vector tables: base feeds coarse training,
    # list assignment AND the query slice; sv feeds codebook training,
    # code assignment AND the query lookup tables — unpinned, the
    # normalize/split passes re-executed per consumer (4 corpus scans)
    base = _base(emb).localCheckpoint(eager=True)
    coarse = init_centroids(base, IVF_N_LISTS)
    coarse = _recompute(_assign(base, coarse)).localCheckpoint()
    assigned = _assign(base, coarse).select(
        "id", F.col("cluster").alias("list_id")
    )
    # PQ codes for the whole corpus (subspace k-means as in pq_codes)
    sv = _sub_split(emb).localCheckpoint(eager=True)
    w = Window.partitionBy("sub").orderBy("id")
    cents = (
        sv.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= IVF_K_CODES)
        .select(
            "sub", (F.col("rk") - 1).alias("code"), F.col("svec").alias("cemb")
        )
    )
    cents = _pq_recompute(_pq_assign(sv, cents)).localCheckpoint()
    codes = _pq_assign(sv, cents).select("id", "sub", "code")

    # queries probe their nprobe nearest lists
    qbase = base.filter(F.col("id") % 20 == 0)
    qscored = qbase.crossJoin(F.broadcast(coarse)).select(
        "id",
        "cluster",
        F.round(_dot(F.col("uemb"), F.col("cemb")), 4).alias("ccos"),
    )
    wq = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("cluster"))
    probes = (
        qscored.withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= IVF_NPROBE)
        .select(F.col("id").alias("qid"), F.col("cluster").alias("list_id"))
    )
    # ADC lookup tables per query
    qsv = sv.filter(F.col("id") % 20 == 0)
    pdist = qsv.join(F.broadcast(cents), "sub").select(
        F.col("id").alias("qid"),
        "sub",
        "code",
        F.round(_sqdist(F.col("svec"), F.col("cemb")), 6).alias("pd"),
    )
    # candidates: ids in the probed lists only
    cand = probes.join(assigned.withColumnRenamed("id", "xid"), "list_id").select(
        "qid", "xid"
    )
    joined = (
        cand.join(codes.select(F.col("id").alias("xid"), "sub", "code"), "xid")
        .join(pdist, ["qid", "sub", "code"])
        .filter(F.col("qid") != F.col("xid"))
        .groupBy("qid", "xid")
        .agg(F.round(F.sum("pd"), 4).alias("adist"), F.count("*").alias("ns"))
        .filter(F.col("ns") == PQ_M)
        .drop("ns")
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("xid"))
    return (
        joined.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= IVF_TOPK)
        .select("qid", "rk", "xid", "adist")
    )


def ivfpq_topk_sql() -> str:
    """DuckDB twin of :func:`ivfpq_topk`."""
    coarse_body, final = _lloyd_ctes(IVF_N_LISTS, 1, "embeddings")
    pq = pq_codes_sql(IVF_K_CODES)
    pq_body = pq[len("WITH ") : pq.rindex("SELECT id, sub, code, dist")]
    # the coarse chain and the PQ chain both emit cents*/a*/afinal CTE
    # names — scope the PQ chain's under a pq prefix
    import re as _re

    pq_body = pq_body.replace("afinal", "pqafinal")
    pq_body = _re.sub(r"\bcents(\d)\b", r"pqcents\1", pq_body)
    pq_body = _re.sub(r"\ba(\d)\b", r"pqa\1", pq_body)
    sqd = (
        "round(list_aggregate(list_transform(range(1, len(q.svec) + 1), "
        "j -> (q.svec[j] - c.cemb[j]) * (q.svec[j] - c.cemb[j])), 'sum'), 6)"
    )
    return f"""WITH {coarse_body},
assigned AS (SELECT id, cluster AS list_id FROM {final}),
{pq_body.rstrip()},
codes AS (SELECT id AS xid, sub, code FROM pqafinal),
probes AS (
  SELECT id AS qid, cluster AS list_id FROM (
    SELECT b.id, c.cluster,
           row_number() OVER (
             PARTITION BY b.id
             ORDER BY round(list_dot_product(b.uemb, c.cemb), 4) DESC,
                      c.cluster) AS crk
    FROM base b CROSS JOIN cents1 c
    WHERE b.id % 20 = 0) WHERE crk <= {IVF_NPROBE}
),
pdist AS (
  SELECT q.id AS qid, q.sub, c.code, {sqd} AS pd
  FROM sv q JOIN pqcents1 c USING (sub)
  WHERE q.id % 20 = 0
),
cand AS (
  SELECT p.qid, a.id AS xid FROM probes p
  JOIN assigned a USING (list_id)
),
adist AS (
  SELECT c.qid, c.xid, round(sum(d.pd), 4) AS adist
  FROM cand c
  JOIN codes x ON x.xid = c.xid
  JOIN pdist d ON d.qid = c.qid AND d.sub = x.sub AND d.code = x.code
  WHERE c.qid != c.xid
  GROUP BY 1, 2
  HAVING count(*) = {PQ_M}
)
SELECT qid, rk, xid, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY adist ASC, xid) AS rk
  FROM adist
) WHERE rk <= {IVF_TOPK}"""
