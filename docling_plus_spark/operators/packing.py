"""Sequence packing: concatenate a token stream into fixed-size
context windows.

The last stage of a training-data pipeline: documents (already
cleaned, deduped, tokenized) are laid out end-to-end in a canonical
order and cut into fixed ``budget``-token windows; a document that
straddles a cut simply continues in the next window (GPT-style
concat-then-chunk packing — zero padding waste, in contrast to
first-fit bin packing whose greedy order is inherently sequential).

The only global computation is the running token offset of each
document — a prefix sum over a total order. A naive window
(``Window.orderBy(id)`` with no partition key) collapses the whole
corpus into ONE task; this module does the textbook two-phase
distributed prefix sum instead:

1. range-partition by id (contiguous id ranges per partition) and
   sort within partitions;
2. per-partition token totals → a tiny (one row per partition) table
   whose own cumulative sum gives each partition's starting offset;
3. broadcast those starting offsets back and add the intra-partition
   running sum (a window PARTITIONED by partition id — parallel).

Offsets are invariant to where the range boundaries land (the sampled
split points only decide which task computes which contiguous slice),
so the output is deterministic even though the range partitioner
samples. Cost at 100 TB: one range shuffle of (id, n_tokens) pairs —
NOT the text — plus a |partitions|-row side table; the window-span
explode is narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    inclusive: bool = False,
) -> DataFrame:
    """Two-phase distributed prefix sum (the module-docstring pattern,
    factored out so every total-order cumulative in the package shares
    one audited implementation).

    Returns ``df``'s columns plus ``cum_{c}`` for each value column:
    the running sum of ``c`` over rows ordered by ``order_cols``
    (exclusive of the current row unless ``inclusive``). Ties in
    ``order_cols`` must be broken by the caller (include a unique id as
    the last order column) — otherwise the running sum at tied rows is
    partitioner-dependent.

    Scale shape: one range shuffle of the projected columns, a
    |partitions|-row side table (the only Exchange SinglePartition), a
    broadcast join, and a per-partition window. Never a partition-less
    Window over the data.

    The eager ``localCheckpoint`` pins partition ids so the two
    consumers of ``d`` (per-partition sums and the final window) see the
    SAME partitioning. Tradeoff (documented, deliberate): localCheckpoint
    truncates lineage and stores blocks unreplicated, so on a real
    cluster a lost executor fails the job instead of recomputing — a
    resumable production job should sit behind the snapshot/epoch layer
    (``plans/incremental.py``) so a retry restarts the epoch, which is
    the semantics a prefix sum needs anyway (its output depends on every
    input row).
    """
    d = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    part_sums = d.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_psum_{c}") for c in value_cols]
    )
    # cumulative start offset per partition: |partitions| rows, so the
    # single-task window here is over a tiny side table, not the data
    w_parts = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    part_offsets = part_sums.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_psum_{c}").over(w_parts), F.lit(0)).alias(
                f"_poff_{c}"
            )
            for c in value_cols
        ],
    )
    hi = 0 if inclusive else -1
    w_intra = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    out = d.join(F.broadcast(part_offsets), "_pid")
    for c in value_cols:
        out = out.withColumn(
            f"cum_{c}",
            F.col(f"_poff_{c}")
            + F.coalesce(F.sum(c).over(w_intra), F.lit(0)),
        )
    return out.drop("_pid", *[f"_poff_{c}" for c in value_cols])


def distributed_rank(df: DataFrame) -> DataFrame:
    """1-based global rank ``nll_rank`` by (mean_nll, id) via
    :func:`distributed_prefix_sum` of a literal 1 — the scale-true
    replacement for ``row_number() OVER (ORDER BY ...)`` with no
    partition key."""
    one = "_rank_one"
    out = distributed_prefix_sum(
        df.withColumn(one, F.lit(1)), ["mean_nll", "id"], [one], inclusive=True
    )
    return out.withColumn("nll_rank", F.col(f"cum_{one}")).drop(
        one, f"cum_{one}"
    )


def sequence_pack(df: DataFrame, budget: int) -> DataFrame:
    """(window_id, id, tok_from, tok_to, win_off) packing plan rows.

    Document ``id`` contributes its token span ``[tok_from, tok_to)``
    (document-local) to window ``window_id`` starting at position
    ``win_off`` inside the window. Every window except the last is
    exactly ``budget`` tokens; zero-token documents are dropped.
    Consumers join back on ``id`` to slice actual token arrays.
    """
    offs = distributed_prefix_sum(
        df.select(F.col("doc_id").alias("id"), F.col("n_tokens").alias("n"))
        .where(F.col("n") > 0),
        ["id"],
        ["n"],
    ).select("id", "n", F.col("cum_n").alias("off"))
    # explode the windows each doc overlaps; `div` keeps the arithmetic
    # integral (offsets exceed double's exact range at real scale)
    b = F.lit(budget)
    spans = offs.select(
        "id",
        "n",
        "off",
        F.explode(
            F.sequence(
                F.expr(f"off div {budget}"),
                F.expr(f"(off + n - 1) div {budget}"),
            )
        ).alias("window_id"),
    )
    return spans.select(
        "window_id",
        "id",
        F.greatest(F.lit(0), F.col("window_id") * b - F.col("off")).alias(
            "tok_from"
        ),
        F.least(
            F.col("n"), (F.col("window_id") + 1) * b - F.col("off")
        ).alias("tok_to"),
        F.greatest(F.lit(0), F.col("off") - F.col("window_id") * b).alias(
            "win_off"
        ),
    )


#: window size, in tokens, of the sequence_pack query and its twin
PACK_BUDGET = 128


def sequence_pack_sql(table: str = "t") -> str:
    """DuckDB twin of :func:`sequence_pack` at ``PACK_BUDGET`` (plain global
    window — the oracle does not need to scale)."""
    return f"""
WITH d AS (
  SELECT doc_id AS id, n_tokens AS n FROM {table} WHERE n_tokens > 0
),
o AS (
  SELECT id, n,
         coalesce(sum(n) OVER (ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
             AS off
  FROM d
),
s AS (
  SELECT id, n, off, w AS window_id
  FROM o, unnest(range(off // {PACK_BUDGET}, (off + n - 1) // {PACK_BUDGET} + 1)) AS u(w)
)
SELECT window_id, id,
       greatest(0, window_id * {PACK_BUDGET} - off) AS tok_from,
       least(n, (window_id + 1) * {PACK_BUDGET} - off) AS tok_to,
       greatest(0, off - window_id * {PACK_BUDGET}) AS win_off
FROM s
"""


def stride_windows(
    df: DataFrame,
    length: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-length overlapping token windows (the GPT-style training
    example cutter; stride < length ⇒ overlap = length − stride keeps
    context across window boundaries). Pure sequence/slice expressions;
    one row per (doc, window), text identity proven by the md5.

    Output: (id, win_idx, start_tok, n_toks, window_md5)."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    wins = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(
                F.ceil(
                    (F.size(toks) - F.lit(length)).cast("double")
                    / F.lit(stride)
                ).cast("int"),
                F.lit(0),
            ),
        ),
        lambda i: F.struct(
            i.cast("int").alias("win_idx"),
            (i * stride).cast("long").alias("start_tok"),
            F.slice(toks, i * stride + 1, length).alias("w"),
        ),
    )
    out = df.select(
        F.col("doc_id").alias("id"),
        F.size(toks).alias("n"),
        F.explode(wins).alias("p"),
    ).filter(F.col("p.start_tok") < F.col("n"))
    return out.select(
        "id",
        F.col("p.win_idx").alias("win_idx"),
        F.col("p.start_tok").alias("start_tok"),
        F.size(F.col("p.w")).cast("long").alias("n_toks"),
        F.md5(F.concat_ws(" ", F.col("p.w"))).alias("window_md5"),
    )


#: window length and stride, in tokens, of the DuckDB twin
STRIDE_LENGTH = 32
STRIDE_STEP = 24


def stride_windows_sql() -> str:
    """DuckDB twin of :func:`stride_windows`."""
    return rf"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS ws
  FROM documents
),
wins AS (
  SELECT id, i::int AS win_idx, (i * {STRIDE_STEP})::bigint AS start_tok,
         ws[i * {STRIDE_STEP} + 1 : i * {STRIDE_STEP} + {STRIDE_LENGTH}] AS w
  FROM toks,
       unnest(range(0, greatest(
         ceil((len(ws) - {STRIDE_LENGTH})::double / {STRIDE_STEP})::bigint, 0) + 1))
         AS t(i)
  WHERE i * {STRIDE_STEP} < len(ws)
)
SELECT id, win_idx, start_tok, len(w)::bigint AS n_toks,
       md5(array_to_string(w, ' ')) AS window_md5
FROM wins
"""


def shard_manifest(df: DataFrame, target_bytes: int) -> DataFrame:
    """(shard_id, id, doc_seq, byte_off, n_bytes) — WebDataset-style
    shard assignment for training-data export.

    Documents are atomic (never split across shards, unlike
    :func:`sequence_pack`'s token windows): doc ``id`` lands in shard
    ``floor(global_byte_offset / target_bytes)``, so every shard is
    ``target_bytes`` ± one document. ``doc_seq`` is the document's rank
    inside its shard and ``byte_off`` its global byte offset — the pair
    a shard writer needs to emit tar members deterministically.

    Scale shape: the same two-phase distributed prefix sum as
    :func:`sequence_pack` (per-partition sums → broadcast partition
    offsets → intra-partition window) — no global single-task window;
    shuffles carry (id, n) longs only. Zero/negative-size documents are
    dropped.
    """
    offs = distributed_prefix_sum(
        df.select(F.col("doc_id").alias("id"), F.col("n_bytes").alias("n"))
        .where(F.col("n") > 0),
        ["id"],
        ["n"],
    ).select("id", "n", F.col("cum_n").alias("off"))
    shard = F.expr(f"off div {target_bytes}")
    w_shard = Window.partitionBy("shard_id").orderBy("off")
    return (
        offs.withColumn("shard_id", shard)
        .withColumn("doc_seq", (F.row_number().over(w_shard) - 1).cast("int"))
        .select(
            "shard_id",
            "id",
            "doc_seq",
            F.col("off").alias("byte_off"),
            F.col("n").alias("n_bytes"),
        )
    )


def shard_manifest_sql(
    target_bytes: int,
    id_expr: str = "doc_id",
    nbytes_expr: str = "n_bytes",
    table: str = "t",
) -> str:
    """DuckDB twin of :func:`shard_manifest`."""
    return f"""
WITH d AS (
  SELECT {id_expr} AS id, {nbytes_expr} AS n FROM {table}
  WHERE {nbytes_expr} > 0
),
o AS (
  SELECT id, n,
         coalesce(sum(n) OVER (ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
             AS off
  FROM d
)
SELECT (off // {target_bytes})::bigint AS shard_id, id,
       (row_number() OVER (PARTITION BY off // {target_bytes}
            ORDER BY off) - 1)::int AS doc_seq,
       off AS byte_off, n::bigint AS n_bytes
FROM o
"""
