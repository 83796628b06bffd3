"""Similarity search over embedding columns (array<float>).

Two physical strategies for cosine top-k neighbours:

* :func:`cosine_topk_bruteforce` — exact: cross join + JVM-side dot
  product (``zip_with``/``aggregate`` — no Python). O(n²); the correctness
  baseline and the right plan for ≤10^5 rows per side.
* :func:`cosine_topk_bucketed` — the scale path: deterministic
  sign-pattern coarse quantizer (LSH family) buckets vectors; the cross
  product only forms *within* buckets. Recall < 1 by construction —
  standard ANN tradeoff; bucket bits tune recall vs cost. At 100 TB the
  bucket join shuffles on a small key and each bucket's pairs fit a task.

Both are pure DataFrame ops with exact DuckDB SQL twins (dot products in
double; ranks on values rounded to 4 decimals so float accumulation-order
noise cannot flip a rank across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from docling_plus_spark.operators.dedup import bucket_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def unit_vec(v: Column) -> Column:
    """x / ||x|| with the norm let-bound (one-element transform) so it is
    computed once per vector, not once per element. Normalizing each
    vector once at the source turns every pair cosine downstream into a
    single dot product — the norms were 2/3 of the per-pair HOF work,
    and pairs outnumber vectors ~500:1 in the bucketed/IVF plans."""
    return F.element_at(
        F.transform(
            F.array(_norm(v)), lambda nv: F.transform(v, lambda x: x / nv)
        ),
        1,
    )


#: DuckDB twin of ``unit_vec(embedding)``
#: smallest margin score of a mined bitext pair, and the neighbours its
#: margin averages over (the DuckDB twin's; the Spark operators' default)
BITEXT_TAU = 1.0
BITEXT_K = 4

UNIT_EMBEDDING_SQL = (
    "list_transform(embedding::double[], x -> x / "
    "sqrt(list_dot_product(embedding::double[], embedding::double[])))"
)


def cosine_topk_bruteforce(emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbours per vector (self excluded)."""
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        unit_vec(F.col("embedding").cast("array<double>")).alias("emb_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        unit_vec(F.col("embedding").cast("array<double>")).alias("emb_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") != F.col("id_b"))
    sim = F.round(_dot(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine")
    scored = pairs.select("id_a", "id_b", sim)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "rk", "id_b", "cosine")
    )


def sign_bucket(vec_col: Column, bits: int, offset: int = 0) -> Column:
    """Deterministic coarse quantizer: bit i = sign(vec[offset+i])."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.element_at(vec_col, offset + i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return out.cast("int")


def sign_bucket_sql(vec_expr: str, bits: int, offset: int = 0) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec_expr}[{offset + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})::int"


def lsh_table_keys(vec_col: Column, tables: int = 8, bits: int = 4) -> Column:
    """Multi-table LSH keys: table t buckets on the sign pattern of dims
    [t·bits, t·bits+bits). A true neighbour is a candidate iff it shares
    *any* table's bucket — recall 1-(1-p)^L vs a single table's p."""
    return F.array(
        *[
            (sign_bucket(vec_col, bits, offset=t * bits) + F.lit(t * (1 << bits))).cast(
                "int"
            )
            for t in range(tables)
        ]
    )


def lsh_table_keys_sql(vec_expr: str, tables: int = 8, bits: int = 4) -> str:
    keys = ", ".join(
        f"({sign_bucket_sql(vec_expr, bits, offset=t * bits)} + {t * (1 << bits)})::int"
        for t in range(tables)
    )
    return f"[{keys}]"


def scale_params(
    n: int,
    dim: int = 64,
    tables: int = 8,
    target_bucket: int = 64,
) -> dict:
    """Derive the ANN / SemDeDup parameter defaults from corpus size so
    per-bucket / per-list / per-cluster populations stay ~constant as the
    corpus grows — the scaling law the module docstrings state in prose
    (``cosine_topk_ivf``: "size n_lists ~ sqrt(corpus) ... exactly as
    FAISS does; the defaults here are test-scale").

    Why: every operator in this family forms pairs *within* a bucket /
    list / cluster, so total pair volume is Σ pop² ≈ n·pop. With FIXED
    params, pop grows linearly in n and pair volume is Θ(n²) — the
    BENCH.md §sf1 superlinear set (ann_topk_bucketed 37×, semdedup 26×
    for 10× data). With populations pinned to a target, pair volume is
    Θ(n).

    Returned dict:

    * ``bits`` — per-table LSH bucket bits: ceil(log2(n / target_bucket)),
      so expected population n / 2^bits lands in [target/2, target].
      Clamped to ``dim // tables`` because the deterministic quantizer
      buckets on the sign of *raw dimensions* (table t owns dims
      [t·bits, t·bits+bits)); a production deployment lifts that cap by
      swapping :func:`sign_bucket` for seeded random-hyperplane signs
      (any number of projections), which changes no plan shape.
    * ``tables`` — passed through (recall knob: candidate recall is
      1-(1-p)^tables; scale it for recall, not for cost).
    * ``n_lists`` / ``nprobe`` — IVF coarse lists: max(16, round(√n))
      (FAISS guidance). ``nprobe`` stays a *fixed* recall knob (4):
      scaling it with n_lists would cancel the list growth and make the
      scan Θ(n) again; candidates per query ≈ nprobe · n/n_lists = Θ(√n).
      Tune nprobe against :func:`ann_recall` on a sampled slice, not
      against corpus size.
    * ``k_clusters`` — SemDeDup k-means k: ceil(n / 256), floor 8 —
      within-cluster pair work n·256 instead of n²/k.

    Pure arithmetic (no Spark action): callers that already know n pay
    nothing; callers that don't, pay one ``count()`` scalar action.
    The registry's driver queries keep the pinned test-scale defaults —
    their DuckDB twins replay exact bucket ids, so the derivation is the
    *production* entry, exercised by tools/bench_scaled_params.py at sf1
    (measured: the 10×-data time ratio drops from 37×/26× to ~linear).
    """
    import math

    n = max(int(n), 1)
    bits_wanted = max(2, math.ceil(math.log2(max(n / target_bucket, 1.0))))
    bits_cap = max(2, dim // max(tables, 1))
    n_lists = max(16, int(round(math.sqrt(n))))
    return {
        "bits": min(bits_wanted, bits_cap),
        "tables": tables,
        "n_lists": n_lists,
        "nprobe": 4,
        "k_clusters": max(8, math.ceil(n / 256)),
    }


def _lsh_candidates(emb: DataFrame, tables: int, bits: int) -> DataFrame:
    """Distinct (id_a < id_b, cosine) pairs sharing any LSH table bucket."""
    # bucket keys from the raw vector (sign buckets are scale-invariant);
    # the carried payload is pre-normalized so pair scoring is one dot
    keyed = emb.select(
        F.explode(lsh_table_keys(F.col("embedding"), tables, bits)).alias("bucket"),
        F.col("vec_id").alias("id"),
        unit_vec(F.col("embedding").cast("array<double>")).alias("emb"),
    )
    # A pair collides in up to `tables` buckets. Score it *before* the
    # dedup so distinct shuffles 24-byte (id_a, id_b, cosine) rows, not
    # the two full embedding arrays — the cosine is deterministic, so
    # duplicate rows stay byte-identical and collapse. (Re-scoring a
    # duplicated pair is map-side CPU; shipping its vectors through the
    # distinct exchange was ~40x the bytes.)
    return (
        bucket_pairs(keyed, "bucket", ("emb",))
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine"),
        )
        .distinct()
    )


def cosine_topk_bucketed(
    emb: DataFrame,
    k: int = 5,
    tables: int = 8,
    bits: int = 4,
) -> DataFrame:
    """Approximate top-k: neighbours searched within shared LSH buckets.

    Scale path: the join shuffles on the bucket key; per-bucket pair
    formation is O(Σ bucket²) — tunable via (tables, bits) against recall.
    Each pair is scored once and ranked from both ends (``_dot`` is
    symmetric, so the mirrored row carries the same cosine).
    """
    pairs = _lsh_candidates(emb, tables, bits)
    scored = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cosine"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "rk", "id_b", "cosine")
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    tables: int = 8,
    bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (multi-table LSH candidates)."""
    scored = _lsh_candidates(emb, tables, bits)
    return scored.filter(F.col("cosine") >= threshold)


def cosine_topk_ivf(
    emb: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the classic coarse-quantize
    → probe → in-list scan plan.

    * **Centroids**: the ``n_lists`` lowest-id vectors (deterministic and
      SQL-twinnable; a production deployment trains them with k-means
      offline — the *plan shape* below is identical either way and is
      what matters at scale).
    * **Assignment**: every vector joins its nearest centroid's list
      (broadcast join against the tiny centroid table — no shuffle).
    * **Probe**: each query vector searches its ``nprobe`` nearest lists;
      candidates are scanned only within those lists, so the expensive
      pair formation shuffles on ``list_id`` and touches
      ~``nprobe/n_lists`` of the corpus per query instead of all of it.

    Scale note: ``list_id`` is also the shuffle key, so ``n_lists`` caps
    the candidate join's parallelism AND the per-list pair volume — size
    it ~sqrt(corpus)/target_list_len in production (10⁴-10⁵ lists at
    10⁹ vectors), exactly as FAISS does; the defaults here are test-scale.
    """
    # pin base (feeds centroid seeding AND assignment) and, below,
    # the ranked assignment (feeds the data AND probe sides): unpinned,
    # the normalize/assign lineage re-executed per consumer — 4 corpus
    # scans in the runtime plan
    base = emb.select(
        F.col("vec_id").alias("id"),
        unit_vec(F.col("embedding").cast("array<double>")).alias("emb"),
    ).localCheckpoint(eager=True)
    w_cent = Window.orderBy("id")
    cents = (
        base.orderBy("id")
        .limit(n_lists)
        .select(
            (F.row_number().over(w_cent) - 1).alias("list_id"),
            F.col("emb").alias("cemb"),
        )
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "id",
        "emb",
        "list_id",
        F.round(_dot(F.col("emb"), F.col("cemb")), 4).alias("ccos"),
    )
    w_assign = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("list_id"))
    ranked = scored.withColumn(
        "crk", F.row_number().over(w_assign)
    ).localCheckpoint(eager=True)
    data = ranked.filter(F.col("crk") == 1).select("list_id", "id", "emb")
    probe = ranked.filter(F.col("crk") <= nprobe).select("list_id", "id", "emb")
    pairs = (
        probe.alias("a")
        .join(data.alias("b"), "list_id")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.emb").alias("emb_a"),
            F.col("b.emb").alias("emb_b"),
        )
        # no distinct needed: each candidate lives in exactly one list
        # (crk == 1) and a query probes each list at most once, so a
        # (query, candidate) pair can only be formed once.
    )
    scored_pairs = pairs.select(
        "id_a",
        "id_b",
        F.round(_dot(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine"),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored_pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "rk", "id_b", "cosine")
    )


def ann_recall(emb: DataFrame) -> DataFrame:
    """(id_a, n_hits, recall) — IVF recall@5 (32 lists, 4 probed)
    against the exact top-5.

    The evaluation loop every ANN deployment runs before trusting an
    index: for each query, the fraction of its true (brute-force)
    top-k neighbours the IVF probe recovered. Tuning nprobe/n_lists is
    reading this table.

    Scale shape: the brute side is the ground truth and is O(n²) — at
    production scale this runs on a SAMPLED query slice (the id set
    passed in `emb`), exactly how FAISS benchmarks do it; the join
    back is id-keyed on (query, neighbour) int pairs only.
    """
    # pin the ground truth: the O(n²) brute lineage feeds BOTH the hits
    # join and the per-query totals — without the pin it re-executes
    # per consumer (the exact re-run class test_scan_discipline locks)
    truth = (
        cosine_topk_bruteforce(emb, k=5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    approx = cosine_topk_ivf(emb, k=5, n_lists=32, nprobe=4).select(
        "id_a", F.col("id_b").alias("id_b_ivf")
    )
    hits = truth.join(
        approx.withColumnRenamed("id_b_ivf", "id_b"), ["id_a", "id_b"]
    )
    per_q = truth.groupBy("id_a").agg(F.count("*").alias("n_true"))
    got = hits.groupBy("id_a").agg(F.count("*").alias("n_hits"))
    return (
        per_q.join(got, "id_a", "left")
        .na.fill({"n_hits": 0})
        .select(
            "id_a",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.col("n_true"), 6).alias("recall"),
        )
    )


def bitext_mine(emb: DataFrame, k: int = BITEXT_K) -> DataFrame:
    """(id_a, id_b, cosine, margin) — margin-based bitext mining
    (Artetxe & Schwenk 2019; the CCMatrix/CCAligned recipe): mine
    sentence pairs across two languages whose *margin-scored*
    similarity reaches ``BITEXT_TAU``, keeping only mutual top-1 matches.

        margin(x, y) = cos(x, y) /
            ((avg_k cosNN_B(x) + avg_k cosNN_A(y)) / 2)

    The margin denominator (each side's mean cosine to its k nearest
    cross-lingual neighbours) cancels hubness — the failure mode of
    raw-cosine mining. ``id_a`` is the lexicographically first
    language's side.

    Scale shape: this is the labeled brute baseline (all cross-lingual
    pairs form; fine for the sampled evaluation slice). The production
    path is :func:`bitext_mine_ivf`, which swaps the pair generation
    for IVF probed-list candidates — recall changes, the
    margin/mutual-top-1 logic (shared tail) does not. All reductions
    are id-keyed aggregates over (id, cosine) pairs.
    """
    langs = [
        r[0]
        for r in emb.select(F.col("lang")).distinct().orderBy("lang").collect()
    ]
    if len(langs) != 2:
        raise ValueError(f"bitext_mine needs exactly 2 languages, got {langs}")
    la, lb = langs
    base = emb.select(
        F.col("vec_id").alias("id"),
        "lang",
        unit_vec(F.col("embedding").cast("array<double>")).alias("uemb"),
    )
    a = base.filter(F.col("lang") == la).select(
        F.col("id").alias("id_a"), F.col("uemb").alias("emb_a")
    )
    b = base.filter(F.col("lang") == lb).select(
        F.col("id").alias("id_b"), F.col("uemb").alias("emb_b")
    )
    pairs = (
        a.crossJoin(b)
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine"),
        )
        .localCheckpoint(eager=True)  # feeds kNN means both ways + scoring
    )
    return _bitext_margin_mutual_top1(pairs, k)


def _bitext_margin_mutual_top1(pairs: DataFrame, k: int) -> DataFrame:
    """Shared margin-scoring + mutual-top-1 tail of bitext mining:
    ``pairs`` is (id_a, id_b, cosine) for the candidate set (brute =
    all cross-lingual pairs; IVF = probed-list pairs only). The margin
    denominator uses each side's mean cosine to its k nearest
    neighbours WITHIN the candidate set."""
    wa = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    wb = Window.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
    knn_a = (
        pairs.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= k)
        .groupBy("id_a")
        .agg(F.avg("cosine").alias("mean_a"))
    )
    knn_b = (
        pairs.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= k)
        .groupBy("id_b")
        .agg(F.avg("cosine").alias("mean_b"))
    )
    scored = (
        pairs.join(knn_a, "id_a")
        .join(knn_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "cosine",
            F.round(
                F.col("cosine") / ((F.col("mean_a") + F.col("mean_b")) / 2),
                6,
            ).alias("margin"),
        )
    )
    wma = Window.partitionBy("id_a").orderBy(F.desc("margin"), F.asc("id_b"))
    wmb = Window.partitionBy("id_b").orderBy(F.desc("margin"), F.asc("id_a"))
    return (
        scored.withColumn("rka", F.row_number().over(wma))
        .withColumn("rkb", F.row_number().over(wmb))
        .filter((F.col("rka") == 1) & (F.col("rkb") == 1))
        .filter(F.col("margin") >= BITEXT_TAU)
        .select("id_a", "id_b", "cosine", "margin")
    )


def bitext_mine_ivf(
    emb: DataFrame,
    k: int = BITEXT_K,
    n_lists: int = 16,
    nprobe: int = 4,
    pin: bool = True,
) -> DataFrame:
    """(id_a, id_b, cosine, margin) — margin-based bitext mining over
    IVF-probed candidates: the PRODUCTION path :func:`bitext_mine`'s
    docstring promises (CCMatrix mines 4.5 B pairs this way — brute
    cross-lingual pair formation is impossible at that scale).

    Pair generation is :func:`cosine_topk_ivf`'s shape over one shared
    coarse quantizer: every vector (both languages) assigns to its
    nearest of the ``n_lists`` lowest-id centroids; a cross-lingual
    pair becomes a candidate iff either side's ``nprobe`` probe set
    contains the other's home list. The margin/mutual-top-1 logic is
    unchanged — only recall differs (tunable via n_lists/nprobe;
    measure it with the :func:`ann_recall` loop before deploying, and
    see tests/test_dedup_ann.py's recovery check against the brute
    baseline).

    Scale shape: candidate formation shuffles on ``list_id`` and
    touches ~nprobe/n_lists of the opposite corpus per query — never a
    cross join; the kNN-mean reductions are id-keyed over (id, cosine)
    pairs. ``id_a`` is the lexicographically first language's side.
    """
    langs = [
        r[0]
        for r in emb.select(F.col("lang")).distinct().orderBy("lang").collect()
    ]
    if len(langs) != 2:
        raise ValueError(f"bitext_mine_ivf needs exactly 2 languages, got {langs}")
    la, lb = langs
    # pin base (feeds centroid seeding AND assignment), then the ranked
    # assignment (feeds data AND probe sides) — the cosine_topk_ivf
    # single-scan discipline; pin=False keeps the logical plan
    # inspectable for the plan-shape locks
    base = emb.select(
        F.col("vec_id").alias("id"),
        "lang",
        unit_vec(F.col("embedding").cast("array<double>")).alias("emb"),
    )
    if pin:
        base = base.localCheckpoint(eager=True)
    w_cent = Window.orderBy("id")
    cents = (
        base.orderBy("id")
        .limit(n_lists)
        .select(
            (F.row_number().over(w_cent) - 1).alias("list_id"),
            F.col("emb").alias("cemb"),
        )
    )
    assigned = base.crossJoin(F.broadcast(cents)).select(
        "id",
        "lang",
        "emb",
        "list_id",
        F.round(_dot(F.col("emb"), F.col("cemb")), 4).alias("ccos"),
    )
    w_assign = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("list_id"))
    ranked = assigned.withColumn("crk", F.row_number().over(w_assign))
    if pin:
        ranked = ranked.localCheckpoint(eager=True)
    data = ranked.filter(F.col("crk") == 1).select("list_id", "id", "lang", "emb")
    probe = ranked.filter(F.col("crk") <= nprobe).select(
        "list_id", "id", "lang", "emb"
    )

    def _dir(qlang: str, clang: str) -> DataFrame:
        q = probe.filter(F.col("lang") == qlang).select(
            "list_id", F.col("id").alias("qid"), F.col("emb").alias("qemb")
        )
        c = data.filter(F.col("lang") == clang).select(
            "list_id", F.col("id").alias("cid"), F.col("emb").alias("cemb2")
        )
        out = q.join(c, "list_id")
        ida = F.col("qid") if qlang == la else F.col("cid")
        idb = F.col("cid") if qlang == la else F.col("qid")
        return out.select(
            ida.alias("id_a"),
            idb.alias("id_b"),
            F.round(_dot(F.col("qemb"), F.col("cemb2")), 4).alias("cosine"),
        )

    # both probe directions; score BEFORE the distinct so the dedup
    # shuffles (id, id, cosine) rows, never the embedding arrays —
    # pinned because it feeds the kNN means both ways plus scoring
    pairs = _dir(la, lb).unionAll(_dir(lb, la)).distinct()
    if pin:
        pairs = pairs.localCheckpoint(eager=True)
    return _bitext_margin_mutual_top1(pairs, k)


def bitext_mine_ivf_sql(
    k: int = BITEXT_K,
    n_lists: int = 16,
    nprobe: int = 4,
    lang_expr: str = "lang",
) -> str:
    """DuckDB twin of :func:`bitext_mine_ivf` (two-language corpus)."""
    return f"""
WITH base AS (
  SELECT vec_id AS id, {lang_expr} AS lang, {UNIT_EMBEDDING_SQL} AS uemb FROM embeddings
),
langs AS (SELECT lang, row_number() OVER (ORDER BY lang) AS lr
          FROM (SELECT DISTINCT lang FROM base)),
guard AS (SELECT CASE WHEN count(*) = 2 THEN 1
                 ELSE error('bitext_mine_ivf: need exactly 2 languages')
                 END AS ok FROM langs),
cents AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS list_id, uemb AS cemb
  FROM base ORDER BY id LIMIT {n_lists}
),
ranked AS (
  SELECT id, lang, uemb, list_id,
         row_number() OVER (PARTITION BY id
             ORDER BY round(list_dot_product(uemb, cemb), 4) DESC,
                      list_id) AS crk
  FROM base CROSS JOIN cents
),
data AS (SELECT list_id, id, lang, uemb FROM ranked WHERE crk = 1),
probe AS (SELECT list_id, id, lang, uemb FROM ranked WHERE crk <= {nprobe}),
la AS (SELECT lang FROM langs WHERE lr = 1),
lb AS (SELECT lang FROM langs WHERE lr = 2),
pairs AS (
  SELECT DISTINCT id_a, id_b, cosine FROM (
    SELECT q.id AS id_a, c.id AS id_b,
           round(list_dot_product(q.uemb, c.uemb), 4) AS cosine
    FROM probe q JOIN data c USING (list_id)
    WHERE q.lang = (SELECT lang FROM la) AND c.lang = (SELECT lang FROM lb)
    UNION ALL
    SELECT c.id AS id_a, q.id AS id_b,
           round(list_dot_product(q.uemb, c.uemb), 4) AS cosine
    FROM probe q JOIN data c USING (list_id)
    WHERE q.lang = (SELECT lang FROM lb) AND c.lang = (SELECT lang FROM la)
  )
),
knn_a AS (
  SELECT id_a, avg(cosine) AS mean_a FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
        ORDER BY cosine DESC, id_b) AS rk FROM pairs
  ) WHERE rk <= {k} GROUP BY id_a
),
knn_b AS (
  SELECT id_b, avg(cosine) AS mean_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_b
        ORDER BY cosine DESC, id_a) AS rk FROM pairs
  ) WHERE rk <= {k} GROUP BY id_b
),
scored AS (
  SELECT p.id_a, p.id_b, p.cosine,
         round(p.cosine / ((ka.mean_a + kb.mean_b) / 2), 6) AS margin
  FROM pairs p JOIN knn_a ka USING (id_a) JOIN knn_b kb USING (id_b)
),
mranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY id_a
             ORDER BY margin DESC, id_b) AS rka,
         row_number() OVER (PARTITION BY id_b
             ORDER BY margin DESC, id_a) AS rkb
  FROM scored
)
SELECT id_a, id_b, cosine, margin FROM mranked, guard
WHERE guard.ok = 1 AND rka = 1 AND rkb = 1 AND margin >= {BITEXT_TAU}
"""


def bitext_mine_sql(lang_expr: str = "lang") -> str:
    """DuckDB twin of :func:`bitext_mine` (two-language corpus)."""
    return f"""
WITH base AS (
  SELECT vec_id AS id, {lang_expr} AS lang, {UNIT_EMBEDDING_SQL} AS uemb FROM embeddings
),
langs AS (SELECT lang, row_number() OVER (ORDER BY lang) AS lr
          FROM (SELECT DISTINCT lang FROM base)),
-- twin of the Spark side's ValueError: more/fewer than 2 languages is
-- a contract violation, not a silent lexicographic-first-two mining
guard AS (SELECT CASE WHEN count(*) = 2 THEN 1
                 ELSE error('bitext_mine: need exactly 2 languages')
                 END AS ok FROM langs),
a AS (SELECT id AS id_a, uemb AS emb_a FROM base
      WHERE lang = (SELECT lang FROM langs WHERE lr = 1)),
b AS (SELECT id AS id_b, uemb AS emb_b FROM base
      WHERE lang = (SELECT lang FROM langs WHERE lr = 2)),
pairs AS (
  SELECT id_a, id_b, round(list_dot_product(emb_a, emb_b), 4) AS cosine
  FROM a CROSS JOIN b
),
knn_a AS (
  SELECT id_a, avg(cosine) AS mean_a FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
        ORDER BY cosine DESC, id_b) AS rk FROM pairs
  ) WHERE rk <= {BITEXT_K} GROUP BY id_a
),
knn_b AS (
  SELECT id_b, avg(cosine) AS mean_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_b
        ORDER BY cosine DESC, id_a) AS rk FROM pairs
  ) WHERE rk <= {BITEXT_K} GROUP BY id_b
),
scored AS (
  SELECT p.id_a, p.id_b, p.cosine,
         round(p.cosine / ((ka.mean_a + kb.mean_b) / 2), 6) AS margin
  FROM pairs p JOIN knn_a ka USING (id_a) JOIN knn_b kb USING (id_b)
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY id_a
             ORDER BY margin DESC, id_b) AS rka,
         row_number() OVER (PARTITION BY id_b
             ORDER BY margin DESC, id_a) AS rkb
  FROM scored
)
SELECT id_a, id_b, cosine, margin FROM ranked, guard
WHERE guard.ok = 1 AND rka = 1 AND rkb = 1 AND margin >= {BITEXT_TAU}
"""
