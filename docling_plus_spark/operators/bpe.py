"""Distributed BPE tokenizer training (Sennrich et al., ACL 2016) and
encoding — the full iterative loop, not just one candidate round
(:func:`..operators.webclean.bpe_merge_pairs` is the single-round
counting kernel this builds on).

Scale design (what survives 100 TB):

* The corpus collapses to a **distinct-word frequency table** first —
  one vocabulary-keyed shuffle (~10^7 rows under Zipf, independent of
  corpus size). Every training iteration thereafter touches only this
  table: the classic trick every production BPE trainer uses.
* Each merge round is: narrow pair-explode → vocabulary-sized
  count shuffle → **one scalar row** collected to the driver (the
  argmax pair — the same bounded-scalar-action discipline as
  ``connected_components``' convergence check; never a ``.collect()``
  of data).
* Merge application is a **literal replace-all** on a
  sentinel-encoded symbol string, and the word table is
  ``localCheckpoint``-ed each round so lineage stays flat across the
  merge count.

Sentinel encoding — the correctness core, shared verbatim by the
DuckDB twin: a symbol sequence ``[a, b, c]`` is stored as
``\\x01a\\x02\\x01b\\x02\\x01c\\x02``. Because each symbol carries its
own opening/closing sentinel, adjacent pair matches share no
characters, so engine-native non-overlapping left-to-right
``replace(enc, '\\x01a\\x02\\x01b\\x02', '\\x01ab\\x02')`` implements
exactly BPE's greedy left-to-right merge pass (``a a a`` under merge
``(a,a)`` becomes ``aa a``, never ``a aa``). Tokens must not contain
the sentinel bytes; real text never does (C0 controls), and the word
stage drops offending words defensively on both engines.

Ties rank deterministically (count desc, then (left, right) asc in
binary collation) so the learned merge sequence is engine-independent
and the unrolled CTE oracle replays training bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENT_L = "\x01"
SENT_R = "\x02"


def _word_table(df: DataFrame) -> DataFrame:
    """(word, freq, enc): lowercased whitespace tokens of ``text`` →
    distinct-word frequencies → sentinel-encoded character symbols."""
    words = (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda w: (w != "")
                    & ~w.contains(SENT_L)
                    & ~w.contains(SENT_R),
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    enc = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("word"), ""),
            lambda c: F.concat(F.lit(SENT_L), c, F.lit(SENT_R)),
        ),
    )
    return words.select("word", "freq", enc.alias("enc"))


def _syms(enc: Column) -> Column:
    """Decode the sentinel string back to the symbol array."""
    return F.split(
        F.regexp_replace(enc, f"^{SENT_L}|{SENT_R}$", ""),
        f"{SENT_R}{SENT_L}",
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    syms = _syms(F.col("enc"))
    pairs = words.select(
        "freq",
        F.explode(
            F.when(
                F.size(syms) >= 2,
                F.zip_with(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("left"), F.col("p.r").alias("right")
    ).agg(F.sum("freq").alias("pair_count"))


def _merge_pattern(left: str, right: str) -> tuple[str, str]:
    return (
        f"{SENT_L}{left}{SENT_R}{SENT_L}{right}{SENT_R}",
        f"{SENT_L}{left}{right}{SENT_R}",
    )


def bpe_train(df: DataFrame, n_merges: int = 8) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (step, left, right, pair_count), step 1-based in learned order."""
    spark = df.sparkSession
    words = _word_table(df).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((step, l, r, cnt))
        old, new = _merge_pattern(l, r)
        words = words.withColumn(
            "enc", F.replace(F.col("enc"), F.lit(old), F.lit(new))
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count bigint"
    )


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list to documents: (id, n_tokens,
    tokens_md5). The merge chain is a static unroll of literal
    replace-alls per word — pure codegen column expressions; the merge
    list is driver-held (it IS the tokenizer model, a few 10k entries
    in production — broadcast territory)."""
    word_enc = F.transform(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda w: (w != "") & ~w.contains(SENT_L) & ~w.contains(SENT_R),
        ),
        lambda w: F.concat_ws(
            "",
            F.transform(
                F.split(w, ""),
                lambda c: F.concat(F.lit(SENT_L), c, F.lit(SENT_R)),
            ),
        ),
    )
    col = word_enc
    for l, r in merges:
        old, new = _merge_pattern(l, r)
        col = F.transform(col, lambda e: F.replace(e, F.lit(old), F.lit(new)))
    toks = F.flatten(F.transform(col, _syms))
    return df.select(
        F.col("doc_id").alias("id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", toks)).alias("tokens_md5"),
    )


# ---------------------------------------------------------------------------
# DuckDB twin: training unrolled as a CTE chain (w0 → b1 → w1 → … → bN),
# each bI a one-row argmax and each wI a scalar-cross-join replace.

_ENC_SQL = (
    "list_aggregate(list_transform(string_split(word, ''), "
    "c -> chr(1) || c || chr(2)), 'string_agg', '')"
)


def _pairs_sql(wtab: str) -> str:
    return f"""
  SELECT syms[i + 1] AS l, syms[i + 2] AS r, sum(freq) AS cnt
  FROM (
    SELECT freq,
           string_split(substr(enc, 2, length(enc) - 2),
                        chr(2) || chr(1)) AS syms
    FROM {wtab} WHERE length(enc) > 0
  ), unnest(range(0, len(syms) - 1)) AS u(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2"""


def _train_ctes(n_merges: int) -> tuple[str, list[str]]:
    """CTE body w0→b1→w1→…→w{n}; returns (body, per-step selects)."""
    parts = [
        f"""w0 AS (
  SELECT word, freq, {_ENC_SQL} AS enc
  FROM (
    SELECT w AS word, count(*) AS freq
    FROM documents,
         unnest(string_split_regex(lower(text), '\\s+')) AS t(w)
    WHERE w <> '' AND w NOT LIKE '%' || chr(1) || '%'
      AND w NOT LIKE '%' || chr(2) || '%'
    GROUP BY w
  )
)"""
    ]
    finals = []
    for i in range(1, n_merges + 1):
        parts.append(
            f"""b{i} AS (
  SELECT l, r, cnt FROM ({_pairs_sql(f'w{i - 1}')}
  ) ORDER BY cnt DESC, l, r LIMIT 1
)"""
        )
        parts.append(
            f"""w{i} AS (
  SELECT w.word, w.freq,
         replace(w.enc,
                 chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
                 chr(1) || b.l || b.r || chr(2)) AS enc
  FROM w{i - 1} w CROSS JOIN b{i} b
)"""
        )
        finals.append(
            f"SELECT {i} AS step, l AS \"left\", r AS \"right\", "
            f"cnt::bigint AS pair_count FROM b{i}"
        )
    return ",\n".join(parts), finals


def bpe_train_sql(n_merges: int = 8) -> str:
    body, finals = _train_ctes(n_merges)
    union = "\nUNION ALL\n".join(finals)
    return f"WITH {body}\n{union}\nORDER BY step"


def bpe_encode_sql(n_merges: int = 8) -> str:
    """DuckDB twin of train-then-encode: the trainer's final word table
    w{n} already holds every distinct word fully merged, so encoding is
    a join of each document's word stream against it (order kept via
    the word index)."""
    body, _ = _train_ctes(n_merges)
    return f"""WITH {body},
docw AS (
  SELECT id, i, ws[i + 1] AS word
  FROM (
    SELECT doc_id AS id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       w -> w <> ''
                            AND w NOT LIKE '%' || chr(1) || '%'
                            AND w NOT LIKE '%' || chr(2) || '%') AS ws
    FROM documents
  ), unnest(range(0, len(ws))) AS t(i)
),
tok AS (
  SELECT d.id, d.i,
         string_split(substr(w.enc, 2, length(w.enc) - 2),
                      chr(2) || chr(1)) AS syms
  FROM docw d JOIN w{n_merges} w USING (word)
)
SELECT id,
       len(flatten(list(syms ORDER BY i)))::bigint AS n_tokens,
       md5(list_aggregate(flatten(list(syms ORDER BY i)),
                          'string_agg', ' ')) AS tokens_md5
FROM tok GROUP BY id"""
