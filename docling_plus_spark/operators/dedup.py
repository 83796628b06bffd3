"""Deduplication operators for web-scale training-data curation.

Not present in the reference (docling converts; it does not curate) —
these are the standard corpus-dedup family a 10^12-document extraction
pipeline feeds into, built Spark-first:

* exact dedup        — hash groupBy on a normalization-stable fingerprint
* MinHash + LSH      — shingle → k-permutation minhash → banded LSH
                       bucket join → signature-similarity verify
* SimHash            — token-hash bit-vote fingerprint, Hamming candidates
* n-gram Jaccard     — exact set similarity on candidate pairs

Everything is built from JVM-side column expressions (no UDFs): hashes
use the portable md5→bigint primitive so the DuckDB oracle reproduces
values exactly. The keep-rule is the deterministic greedy one — drop a
row iff a *lower-id* row is near-duplicate-similar — which is
SQL-expressible (full connected-components needs iterative joins; at
curation scale greedy-by-id is the standard choice).

Scale notes: every near-duplicate candidate generator here (MinHash
bands, SimHash blocks, winnowing fingerprints) and in ``phash.py`` (dHash
bands) and ``ann.py`` (LSH tables) is one call of :func:`bucket_pairs`,
the bucket self-join. Its key is uniform unless the corpus contains
mega-clusters of near-identical pages, so it guards those with a
bucket-size count + salt-split: buckets over ``max_bucket`` rows are
decomposed into a grid of (group_i, group_j) sub-cells so every pair is
still produced but no single task materializes more than
~``max_bucket``² pairs — at the default cap one 10⁶-row bucket becomes
~3·10⁴ cells instead of one 10¹²-pair task. Payloads (signatures,
hashes, vectors) are scored *before* each caller's candidate distinct,
so the distinct shuffles only (id_a, id_b, score). The all-pairs verify
only runs inside buckets (bounded), never across the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_plus_spark.functions.expressions import md5_long


# ---------------------------------------------------------------------------
# shingling

#: word n-gram size of the near-duplicate shingles (MinHash, Jaccard,
#: containment)
SHINGLE_N = 3


def shingles(text_col: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of lower-cased text.

    Texts shorter than ``n`` words yield one whole-text shingle, so every
    document has a non-empty shingle set.
    """
    words = F.split(F.lower(F.trim(text_col)), "\\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(grams)
    )


def shingles_sql(n: int = SHINGLE_N) -> str:
    """DuckDB twin of :func:`shingles` of the ``text`` column."""
    ws = "string_split_regex(lower(trim(text)), '\\s+')"
    return (
        f"list_distinct(CASE WHEN len({ws}) < {n} THEN [array_to_string({ws}, ' ')] "
        f"ELSE list_transform(range(0, len({ws})-{n - 1}), "
        f"i -> array_to_string({ws}[i+1:i+{n}], ' ')) END)"
    )


# ---------------------------------------------------------------------------
# MinHash
#
# One md5 per shingle, then k *affine* permutations (a_j·h + b_j) mod p
# with p = 2^31 - 1 — the classic universal-hash MinHash family. The k
# permutations are integer multiply-add, not k independent md5 passes,
# which cuts the signature stage's CPU ~k-fold. p keeps every
# intermediate below 2^62, so the arithmetic is exact in both Spark
# (64-bit long) and DuckDB (BIGINT, which *errors* on overflow).

MINHASH_PRIME = (1 << 31) - 1
#: signature length and LSH bands of the MinHash dedup (4 rows per band)
MINHASH_K = 16
MINHASH_BANDS = 4


def _perm_constants(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) affine-permutation constants, derived
    from md5 of the index so Spark and the SQL oracle share them."""
    import hashlib

    a = [
        int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:8], 16)
        % (MINHASH_PRIME - 1)
        + 1
        for j in range(k)
    ]
    b = [
        int(hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        for j in range(k)
    ]
    return a, b


def hashed_shingles(shingle_col: Column) -> Column:
    """md5→bigint mod p of every shingle — the one expensive hash pass.

    Keep this in its own projection: 16 downstream ``array_min`` consumers
    reference it, and CollapseProject declines to inline a non-cheap
    expression with >1 reference, so it is evaluated once per row.
    """
    return F.transform(shingle_col, lambda s: md5_long(s) % F.lit(MINHASH_PRIME))


def _affine_perm(a: int, b: int):
    # NB: must be a SINGLE-arg lambda — F.transform passes (elem, idx) to
    # two-or-more-arg callables, so default args would be overridden
    return lambda h: (F.lit(a).cast("long") * h + F.lit(b).cast("long")) % F.lit(
        MINHASH_PRIME
    )


def minhash_signature_from_hashes(hs_col: Column) -> Column:
    """sig[j] = min over hashed shingles of (a_j·h + b_j) mod p."""
    a, b = _perm_constants(MINHASH_K)
    return F.array(*[
        F.array_min(F.transform(hs_col, _affine_perm(a[j], b[j])))
        for j in range(MINHASH_K)
    ])


def hashed_shingles_sql(shingles_expr: str) -> str:
    """DuckDB twin of :func:`hashed_shingles`."""
    return (
        f"list_transform({shingles_expr}, "
        f"s -> ('0x'||substr(md5(s),1,15))::bigint % {MINHASH_PRIME})"
    )


def minhash_signature_sql() -> str:
    """DuckDB twin of :func:`minhash_signature_from_hashes` of the ``hs``
    column, the *hashed* shingle list (compute it once in a CTE)."""
    a, b = _perm_constants(MINHASH_K)
    mins = ", ".join(
        f"list_min(list_transform(hs, "
        f"h -> ({a[j]}::bigint * h + {b[j]}::bigint) % {MINHASH_PRIME}))"
        for j in range(MINHASH_K)
    )
    return f"[{mins}]"


def lsh_band_keys(sig_col: Column) -> Column:
    """Array of band bucket keys: md5 of each band's signature slice,
    prefixed with the band index (buckets never collide across bands)."""
    rows = MINHASH_K // MINHASH_BANDS
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{b}|"),
                    F.concat_ws(",", F.slice(sig_col, b * rows + 1, rows)),
                )
            )
            for b in range(MINHASH_BANDS)
        ]
    )


def lsh_band_keys_sql() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    keys = ", ".join(
        f"md5('{b}|' || array_to_string(sig[{b * rows + 1}:{(b + 1) * rows}], ','))"
        for b in range(MINHASH_BANDS)
    )
    return f"[{keys}]"


def minhash_prepare(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sig:array<long>, band_key exploded) — the LSH-ready table.

    Two projections on purpose: the hashed-shingle array is computed in
    its own select so the k signature mins reuse it (one md5 pass/row).
    """
    hs = df.select(
        F.col(id_col).alias("id"),
        hashed_shingles(shingles(F.col("text"))).alias("_hs"),
    )
    out = hs.select("id", minhash_signature_from_hashes(F.col("_hs")).alias("sig"))
    keys = lsh_band_keys(F.col("sig"))
    return out.select("id", "sig", F.explode(keys).alias("band_key"))


def bucket_pairs(
    keyed: DataFrame,
    key: str,
    payload: tuple[str, ...] = (),
    max_bucket: int = 4096,
    pin: bool = True,
    max_count: int | None = None,
) -> DataFrame:
    """The bucket self-join: every (id_a < id_b) pair of rows sharing a
    ``key``, as (key, cell, id_a, <c>_a..., id_b, <c>_b...) for each
    ``payload`` column c. ``keyed`` holds (key, id, *payload).

    * **Mega-bucket salt-split**: a bucket of m rows produces m² join
      output; one 10⁶-row near-identical cluster would pin a single task
      on 10¹² pairs. Buckets over ``max_bucket`` are split into
      s = ⌈m/max_bucket⌉ salted groups and the join key becomes
      (key, cell) where each row joins every canonical cell
      {min(i,g), max(i,g)} containing its group: every unordered group
      pair meets in exactly one cell, each cell holds two groups of
      ~max_bucket rows, and the m² work spreads over ~s²/2 cells instead
      of one task. Normal buckets (s = 1) collapse to a single cell —
      zero replication.
    * **No dedup**: a pair sharing several keys (or a same-group pair of
      a split bucket, which meets in s cells) comes out once per
      meeting. Callers project their score from the payloads and then
      take one payload-free ``distinct``.

    ``max_count`` drops keys held by more than that many rows before the
    join (winnowing's document-frequency cap).
    """
    # the per-key row count is a window over keyed, so keyed (each
    # caller's hash pass: shingle md5s + signatures, winnow grams, word
    # votes, image decode, vector normalize) has one consumer, unpinned
    p = keyed.withColumn("_m", F.count("*").over(Window.partitionBy(key)))
    if max_count is not None:
        p = p.filter(F.col("_m") <= max_count)
    p = p.withColumn(
        "_s", F.ceil(F.col("_m") / F.lit(max_bucket)).cast("int")
    ).withColumn("_g", F.pmod(F.xxhash64(F.col("id")), F.col("_s")).cast("int"))
    # each row lands in every canonical cell {min(i,g), max(i,g)} that
    # contains its group — a pair with groups (gx, gy) meets in exactly
    # the cell (min(gx,gy), max(gx,gy)) regardless of id order
    cells = F.transform(
        F.sequence(F.lit(0), F.col("_s") - 1),
        lambda i: F.struct(
            F.least(i, F.col("_g")).alias("u"), F.greatest(i, F.col("_g")).alias("v")
        ),
    )
    celled = p.select(key, "id", *payload, F.explode(cells).alias("cell"))
    # eager checkpoint: the celled rows feed both sides of the self-join;
    # without the pin the hash pass re-executed per side (runtime plans
    # showed repeated Generates). pin=False keeps the logical plan
    # inspectable (plan-shape tests).
    #
    # Recoverability tradeoff (deliberate): localCheckpoint truncates
    # lineage and stores blocks UNREPLICATED on executors, so on a real
    # cluster a lost executor fails the job instead of recomputing, and
    # the pin triggers execution at DataFrame-construction time. That is
    # the right trade here because (a) the single-scan win is the 100 TB
    # bottleneck (each unpinned consumer re-reads the corpus), and (b)
    # the production deployment sits behind the epoch/snapshot layer
    # (plans/incremental.py): a failed epoch restarts from the last
    # committed snapshot, which is the recovery unit a global dedup pass
    # needs anyway. A caller who wants lazy, recomputable lineage (e.g.
    # composing into a larger plan) passes pin=False and may
    # persist(StorageLevel.MEMORY_AND_DISK) + count() instead.
    if pin:
        celled = celled.localCheckpoint(eager=True)

    def side(s: str) -> DataFrame:
        return celled.select(
            key,
            "cell",
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in payload],
        )

    return (
        side("a")
        .join(side("b"), [key, "cell"])
        .filter(F.col("id_a") < F.col("id_b"))
    )


def minhash_candidate_pairs(
    prepared: DataFrame, max_bucket: int = 4096, pin: bool = True
) -> DataFrame:
    """Band-bucket self-join (:func:`bucket_pairs`) → distinct
    (id_a < id_b) candidate pairs with estimated Jaccard = fraction of
    equal signature components.

    The join shuffles on band_key (high-cardinality md5) — broadcast-free.
    est_jaccard is computed *before* the pair distinct, so the distinct
    shuffles (id_a, id_b, est) only — signature arrays never ride
    through it.
    """
    joined = bucket_pairs(prepared, "band_key", ("sig",), max_bucket, pin)
    k = F.size(F.col("sig_a"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / k.cast("double")
    )
    return (
        joined.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .distinct()
    )


def minhash_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Greedy dedup: ids that survive (no lower-id near-duplicate)."""
    prepared = minhash_prepare(df, id_col)
    pairs = minhash_candidate_pairs(prepared)
    dropped = (
        pairs.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return ids.join(dropped, "id", "left_anti").select(F.col("id").alias("keep_id"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify on candidates)

def jaccard_on_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for (id_a, id_b) pairs of ``df``'s
    (id, text) rows."""
    sh = df.select("id", shingles(F.col("text")).alias("sh"))
    out = (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return out.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash: per-token md5→bigint, bit-vote over tokens.

    explode → partial-aggregated groupBy (map-side combine makes the
    shuffle carry only 32 counters per doc, not the tokens).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("tok"),
    ).withColumn("h", md5_long(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("id", sim.alias("simhash"))


def simhash_sql(id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`simhash` (returns a full SELECT)."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::bigint ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT {id_expr} AS id,
         ('0x'||substr(md5(unnest(string_split_regex(lower(trim(text)), '\\s+'))),1,15))::bigint AS h
  FROM documents
), agg AS (SELECT id, {votes} FROM toks GROUP BY id)
SELECT id, {bits} AS simhash FROM agg
"""


SIMHASH_BLOCKS = 4
#: largest Hamming distance of a SimHash near-duplicate pair
SIMHASH_MAX_HAMMING = 3


def simhash_near_pairs(sim_df: DataFrame) -> DataFrame:
    """Candidate pairs by 4-block pigeonhole, verified by exact popcount
    of xor ≤ ``SIMHASH_MAX_HAMMING``.

    With 4 blocks of 8 bits, any pair at Hamming distance ≤ 3 has its
    differing bits spread over at most 3 blocks, so at least one block is
    identical — full recall at this threshold (pigeonhole), unlike
    a 2-half scheme where a 1+2 split across halves escapes both blocks.
    """
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    blocks = [
        F.concat(
            F.lit(f"{i}:"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .cast("string"),
        )
        for i in range(SIMHASH_BLOCKS)
    ]
    keyed = sim_df.select(F.explode(F.array(*blocks)).alias("block"), "id", "simhash")
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        bucket_pairs(keyed, "block", ("simhash",))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (rolling-hash family)

WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1
#: gram length in characters, window of grams, fingerprints a pair must
#: share to be dropped, and the document frequency above which the SQL
#: twin drops a fingerprint
WINNOW_K = 8
WINNOW_WINDOW = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DOC_FREQ = 20


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS scheme) of ``df``'s (doc_id, text) rows: polynomial hash of every
    k-char gram (``WINNOW_K``), then the minimum hash of each window of
    ``WINNOW_WINDOW`` consecutive grams, distinct and sorted. Guarantees
    every match of length >= k+window-1 shares a fingerprint.

    Pure JVM column expressions, no Python, no shuffle. Each intermediate
    array (char codes, gram hashes) is LET-BOUND by wrapping it in a
    one-element array and computing the next stage inside a ``transform``
    lambda: lambda variables are evaluated once per row, whereas a plain
    column reference gets inlined by CollapseProject into every lambda
    invocation — the naive version re-ran lower(trim(text)) per character
    and the gram array per window, O(len^2) per document (measured 84 s
    for the sf0.01 corpus; this form runs it in under a second). The
    arithmetic (base 257 mod 2^31-1, code points) is replayed exactly by
    the DuckDB oracle twin.
    """
    s = F.lower(F.trim(F.col("text")))
    # split('') yields one element per code point (trailing empty only for
    # the empty string, whose ascii() of 0 hashes to the same [0] gram the
    # previous length==0 special case emitted).
    codes = F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long"))

    def _hash(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * WINNOW_BASE + c) % WINNOW_MOD,
        )

    def _grams(cs: Column) -> Column:
        n = F.size(cs)
        return F.when(n < WINNOW_K, F.array(_hash(cs))).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(WINNOW_K - 1)),
                lambda i: _hash(F.slice(cs, i, F.lit(WINNOW_K))),
            )
        )

    def _wins(gs: Column) -> Column:
        n = F.size(gs)
        return F.when(n <= WINNOW_WINDOW, F.array(F.array_min(gs))).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(WINNOW_WINDOW - 1)),
                lambda w: F.array_min(F.slice(gs, w, WINNOW_WINDOW)),
            )
        )

    fingerprints = F.element_at(
        F.transform(
            F.array(codes),
            lambda cs: F.element_at(
                F.transform(
                    F.array(_grams(cs)),
                    lambda gs: F.array_sort(F.array_distinct(_wins(gs))),
                ),
                1,
            ),
        ),
        1,
    )
    return df.select(F.col("doc_id").alias("id"), fingerprints.alias("fingerprints"))


def winnow_fingerprints_exploded(df: DataFrame) -> DataFrame:
    """Scalar-row projection of :func:`winnow_fingerprints`:
    one ``(id, fingerprint)`` row per selected fingerprint.

    This is the join-ready / driver-checkable shape (array columns can't
    be canonicalized by pandas-based comparators); the arrays stay an
    internal intermediate, exactly like the MinHash path projects
    signature components to scalars before anything crosses a contract
    boundary. Still pure JVM expressions, still shuffle-free.
    """
    fps = winnow_fingerprints(df)
    return fps.select("id", F.explode("fingerprints").alias("fingerprint"))


def winnow_candidate_pairs(
    df: DataFrame,
    max_bucket: int = 4096,
    max_doc_freq: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """MOSS-style dedup candidates: documents sharing >= 1 winnowing
    fingerprint, with the shared-fingerprint count as match strength.
    The SIGMOD'03 guarantee makes this a superset of all pairs sharing a
    substring of length >= k+window-1.

    ``max_doc_freq``: drop fingerprints occurring in more than this many
    documents before the join — the SIGMOD'03 paper's own boilerplate
    rule (§5: matches appearing in many documents are ignored as
    uninteresting). This is ALSO the quadratic-output guard: a
    fingerprint shared by m documents contributes m^2/2 candidate pairs
    regardless of how the join is tasked, so on a self-similar corpus
    the *output* explodes even though no single task does. Ubiquitous
    fingerprints carry no dedup signal; capping document frequency
    bounds output volume at max_doc_freq^2/2 pairs per fingerprint.
    None = keep everything (small/benchmark corpora only).

    Scale shape: explode fingerprints (narrow), self-join shuffling on
    the fingerprint value (:func:`bucket_pairs`, salt-split over
    ``max_bucket``), then groupBy(id_a, id_b) count. The join carries
    only (fingerprint, id) — no payloads.
    """
    fp = winnow_fingerprints_exploded(df)
    joined = (
        bucket_pairs(
            fp,
            "fingerprint",
            max_bucket=max_bucket,
            pin=pin,
            max_count=max_doc_freq,
        )
        # same-group pairs of a split bucket meet in s cells — collapse
        # before counting
        .select("fingerprint", "id_a", "id_b")
        .distinct()
    )
    return joined.groupBy("id_a", "id_b").agg(
        F.count("*").alias("shared_fingerprints")
    )


def winnow_dedup_keep(df: DataFrame, max_doc_freq: int | None = None) -> DataFrame:
    """Greedy MOSS dedup: ids that survive after dropping every document
    with >= ``WINNOW_MIN_SHARED`` rare fingerprints in common with a lower id —
    the same keep-lowest-id policy as :func:`minhash_dedup_keep`, so the
    two schemes are drop-in alternatives."""
    pairs = winnow_candidate_pairs(df, max_doc_freq=max_doc_freq)
    dropped = (
        pairs.filter(F.col("shared_fingerprints") >= WINNOW_MIN_SHARED)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    ids = df.select(F.col("doc_id").alias("id")).distinct()
    return ids.join(dropped, "id", "left_anti").select(F.col("id").alias("keep_id"))


def winnow_dedup_keep_sql() -> str:
    """DuckDB twin of :func:`winnow_dedup_keep` at
    ``max_doc_freq=WINNOW_MAX_DOC_FREQ``."""
    pairs = winnow_candidate_pairs_sql()
    return f"""
WITH pairs AS ({pairs}),
dropped AS (
  SELECT DISTINCT id_b AS id FROM pairs WHERE shared_fingerprints >= {WINNOW_MIN_SHARED}
)
SELECT DISTINCT d.doc_id AS keep_id
FROM documents d LEFT JOIN dropped ON d.doc_id = dropped.id
WHERE dropped.id IS NULL
"""


def winnow_fingerprints_sql() -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (full SELECT)."""
    B, M = WINNOW_BASE, WINNOW_MOD
    return f"""
WITH g AS (
  SELECT doc_id AS id, lower(trim(text)) AS s FROM documents
),
grams AS (
  SELECT id,
    CASE
      WHEN length(s) = 0 THEN [0::bigint]
      WHEN length(s) < {WINNOW_K} THEN
        [list_reduce(list_prepend(0::bigint,
           list_transform(range(1, length(s)+1), j -> ascii(substr(s, j::int, 1))::bigint)),
           (acc, c) -> (acc * {B} + c) % {M})]
      ELSE
        list_transform(range(1, length(s) - {WINNOW_K} + 2),
          i -> list_reduce(list_prepend(0::bigint,
                 list_transform(range(0, {WINNOW_K}), j -> ascii(substr(s, (i + j)::int, 1))::bigint)),
                 (acc, c) -> (acc * {B} + c) % {M}))
    END AS gh
  FROM g
),
fps AS (
  SELECT id,
    CASE WHEN len(gh) <= {WINNOW_WINDOW} THEN [list_min(gh)]
    ELSE list_transform(range(1, len(gh) - {WINNOW_WINDOW} + 2), w -> list_min(gh[w:w+{WINNOW_WINDOW}-1]))
    END AS wins
  FROM grams
)
SELECT id, list_sort(list_distinct(wins)) AS fingerprints FROM fps
"""


def winnow_fingerprints_exploded_sql() -> str:
    """DuckDB twin of :func:`winnow_fingerprints_exploded`."""
    inner = winnow_fingerprints_sql()
    return f"""
SELECT id, unnest(fingerprints) AS fingerprint
FROM ({inner})
"""


def winnow_candidate_pairs_sql() -> str:
    """DuckDB twin of :func:`winnow_candidate_pairs` at
    ``max_doc_freq=WINNOW_MAX_DOC_FREQ``."""
    exploded = winnow_fingerprints_exploded_sql()
    return f"""
WITH fp AS ({exploded}),
keep AS (
  SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= {WINNOW_MAX_DOC_FREQ}
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fingerprints
FROM fp a JOIN keep USING (fingerprint) JOIN fp b ON a.fingerprint = b.fingerprint AND a.id < b.id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination

#: word n-gram size of benchmark decontamination
DECONTAM_N = 8


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Flag documents (doc_id, text) sharing any word
    ``DECONTAM_N``-gram with a benchmark set's texts (the standard
    eval-decontamination step before pre-training).

    Output: (id, contaminated, n_hits) — ``n_hits`` = distinct matching
    n-gram hashes. Plan: the benchmark's n-gram hash set is tiny next
    to the corpus (evals are thousands of rows, the corpus 10^12), so
    Catalyst broadcasts it; the corpus side streams through a narrow
    explode → broadcast semi-match → per-doc count. No shuffle touches
    document text.
    """
    from pyspark.sql.functions import broadcast

    doc_grams = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(
                hashed_shingles(shingles(F.col("text"), DECONTAM_N))
            )
        ).alias("h"),
    )
    bench_grams = broadcast(
        benchmark.select(
            F.explode(hashed_shingles(shingles(F.col("text"), DECONTAM_N))).alias("h")
        ).distinct()
    )
    hits = doc_grams.join(bench_grams, "h").groupBy("id").agg(
        F.count_distinct("h").alias("n_hits")
    )
    ids = docs.select(F.col("doc_id").alias("id")).distinct()
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce(F.col("n_hits") > 0, F.lit(False)).alias("contaminated"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


def decontaminate_sql(bench_cte: str = "benchmark") -> str:
    """DuckDB twin of :func:`decontaminate`; ``bench_cte`` must be a
    relation with a ``text`` column."""
    grams = hashed_shingles_sql(shingles_sql(DECONTAM_N))
    return f"""
WITH doc_grams AS (
  SELECT doc_id AS id, unnest(list_distinct({grams})) AS h FROM documents
),
bench_grams AS (
  SELECT DISTINCT unnest({grams}) AS h FROM {bench_cte}
),
hits AS (
  SELECT id, count(DISTINCT h) AS n_hits
  FROM doc_grams JOIN bench_grams USING (h) GROUP BY id
)
SELECT d.id, coalesce(n_hits > 0, false) AS contaminated,
       coalesce(n_hits, 0)::bigint AS n_hits
FROM (SELECT DISTINCT doc_id AS id FROM documents) d
LEFT JOIN hits USING (id)
"""


def minhash_incremental_pairs(
    new_prepared: DataFrame,
    index_prepared: DataFrame,
) -> DataFrame:
    """Cross-snapshot candidates — the daily-crawl production shape:
    today's NEW documents join the standing signature INDEX plus each
    other; indexed-vs-indexed pairs are never formed (prior epochs
    already resolved them), so per-epoch work is O(|new| · bucket
    density), not O(|corpus|²).

    Inputs are :func:`minhash_prepare` outputs. Output: distinct
    (new_id, other_id, est_jaccard, vs_index) — ``vs_index`` marks
    whether the other side came from the index. new-new pairs keep
    new_id < other_id; signatures never ride through the distinct
    (payload-free, same discipline as :func:`minhash_candidate_pairs`).

    The join shuffles on band_key. The same mega-bucket consideration
    applies; here the probe side is the (small) daily batch so bucket
    blowup is bounded by |new ∩ bucket| · |index ∩ bucket| — this
    bipartite new × index shape is not the self-join
    :func:`bucket_pairs` salts.
    """
    # eager checkpoint: new_prepared feeds BOTH the probe side and the
    # new-new half of the build side — without the pin the md5-shingle
    # signature pass over the new batch ran twice (runtime plan audit)
    new_prepared = new_prepared.localCheckpoint(eager=True)
    n = new_prepared.select(
        "band_key", F.col("id").alias("new_id"), F.col("sig").alias("sig_n")
    )
    o = index_prepared.select(
        "band_key",
        F.col("id").alias("other_id"),
        F.col("sig").alias("sig_o"),
        F.lit(True).alias("vs_index"),
    ).unionByName(
        new_prepared.select(
            "band_key",
            F.col("id").alias("other_id"),
            F.col("sig").alias("sig_o"),
            F.lit(False).alias("vs_index"),
        )
    )
    joined = n.join(o, "band_key").filter(
        F.col("vs_index")  # new vs index: all pairs
        | (F.col("new_id") < F.col("other_id"))  # new vs new: canonical order
    )
    k = F.size(F.col("sig_n"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_n"), F.col("sig_o"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / k.cast("double")
    )
    return joined.select(
        "new_id",
        "other_id",
        F.round(est, 6).alias("est_jaccard"),
        "vs_index",
    ).distinct()


def minhash_incremental_sql() -> str:
    """DuckDB twin of prepare(new) + prepare(index) +
    :func:`minhash_incremental_pairs`, over the CTEs ``newdocs`` and
    ``idx`` with (id, text)."""
    sh = shingles_sql()
    hs = hashed_shingles_sql(sh)

    def prep(src: str) -> str:
        return f"""(
  SELECT id, sig, unnest({lsh_band_keys_sql()}) AS band_key
  FROM (SELECT id, {minhash_signature_sql()} AS sig
        FROM (SELECT id, {hs} AS hs FROM {src}))
)"""

    eq = (
        "len(list_filter(range(1, len(n.sig) + 1), "
        "j -> n.sig[j] = o.sig[j]))"
    )
    return f"""
prep_new AS {prep("newdocs")},
prep_idx AS {prep("idx")},
others AS (
  SELECT band_key, id AS other_id, sig, true AS vs_index FROM prep_idx
  UNION ALL
  SELECT band_key, id AS other_id, sig, false AS vs_index FROM prep_new
)
SELECT DISTINCT n.id AS new_id, o.other_id,
       round({eq} / {MINHASH_K}.0, 6) AS est_jaccard, o.vs_index
FROM prep_new n JOIN others o USING (band_key)
WHERE o.vs_index OR n.id < o.other_id
"""


def containment_on_pairs(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """One-sided containment |A∩B| / |A| for candidate pairs — the
    asymmetric companion to Jaccard (Broder's resemblance vs
    containment): a tweet quoted inside an article has Jaccard ≈ 0 but
    containment ≈ 1 from the tweet's side. Emitted both directions per
    pair so consumers can threshold either side.

    Same plan shape as :func:`jaccard_on_pairs`: two id-keyed joins of
    the candidate list against the shingle table; only candidate pairs
    ever meet, so cost is O(candidates), never O(n²).
    """
    sh = df.select("id", shingles(F.col("text")).alias("sh"))
    out = (
        pairs.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        ).join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    da = F.greatest(F.size(F.array_distinct(F.col("sh_a"))), F.lit(1))
    db = F.greatest(F.size(F.array_distinct(F.col("sh_b"))), F.lit(1))
    return out.select(
        "id_a",
        "id_b",
        F.round(inter.cast("double") / da.cast("double"), 6).alias(
            "containment_a_in_b"
        ),
        F.round(inter.cast("double") / db.cast("double"), 6).alias(
            "containment_b_in_a"
        ),
    )
