"""Connected components + as-of join: behavior and DuckDB parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_plus_spark.operators.graph import (
    asof_join,
    cc_dedup_keep,
    connected_components,
)
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20} self-loop ignored
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "id_a long, id_b long",
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert len(got) == n + 1
    assert set(got.values()) == {0}


def test_cc_dedup_vs_greedy(spark):
    """a-b and b-c similar but a-c never compared: greedy keeps a and c,
    components keep only a."""
    from docling_plus_spark.operators.dedup import minhash_dedup_keep

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "unrelated")],
        "id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9)], "id_a long, id_b long, est_jaccard double"
    )
    keep = sorted(
        r.keep_id for r in cc_dedup_keep(df, pairs).collect()
    )
    assert keep == [1, 9]


def test_cc_matches_duckdb_recursive_oracle(spark):
    """Full-corpus parity: components over the minhash candidate graph
    at sf0.001, vs a DuckDB recursive-CTE min-reachable-label."""
    from docling_plus_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_prepare,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_candidate_pairs(minhash_prepare(d)).filter(
        F.col("est_jaccard") >= 0.5
    )
    rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    got = {
        r.node: r.comp
        for r in connected_components(
            pairs.select("id_a", "id_b")
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE e (a BIGINT, b BIGINT);"
    )
    if rows:
        con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    ora = con.sql(
        """
WITH RECURSIVE sym AS (
  SELECT a, b FROM e UNION SELECT b, a FROM e
),
reach(n, m) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a
)
SELECT n AS node, least(n, min(m)) AS comp FROM reach GROUP BY n
"""
    ).df()
    want = {int(r["node"]): int(r["comp"]) for _, r in ora.iterrows()}
    assert got == want
    assert len(got) > 0


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [("k", 5, "q1"), ("k", 10, "q2"), ("k", 2, "q0"), ("j", 7, "r1")],
        "key string, t long, label string",
    )
    right = spark.createDataFrame(
        [("k", 3, 30.0), ("k", 10, 100.0), ("k", 8, 80.0), ("j", 9, 900.0)],
        "key string, rt long, price double",
    )
    out = {
        (r.key, r.t): r.price
        for r in asof_join(
            left, right, on="key", left_time="t", right_time="rt",
            value_cols=["price"],
        ).collect()
    }
    assert out[("k", 5)] == 30.0      # most recent rt <= 5 is 3
    assert out[("k", 10)] == 100.0    # equal timestamp is visible
    assert out[("k", 2)] is None      # nothing at-or-before 2
    assert out[("j", 7)] is None      # right row at 9 is in the future


def test_asof_join_matches_duckdb(spark):
    """Parity vs DuckDB's native ASOF LEFT JOIN on the events table."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("user_id", "ts", "event_id")
    # one right row per (key, time): ASOF with duplicate timestamps is
    # engine-defined on both sides, so pin it with a max() pre-agg
    right = (
        ev.filter(F.col("event_id") % 5 == 0)
        .groupBy("user_id", F.col("ts").alias("rts"))
        .agg(F.max("event_id").alias("ref_id"))
    )
    got = {
        (r.user_id, r.ts, r.event_id): r.ref_id
        for r in asof_join(
            left, right, on="user_id", left_time="ts", right_time="rts",
            value_cols=["ref_id"],
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    ora = con.sql(
        """
WITH r AS (
  SELECT user_id, ts AS rts, max(event_id) AS ref_id FROM events
  WHERE event_id % 5 = 0 GROUP BY user_id, ts
)
SELECT l.user_id, l.ts, l.event_id, r.ref_id
FROM events l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.rts
"""
    ).df()
    assert len(ora) == len(got)
    mismatch = 0
    for rec in ora.to_dict("records"):
        k = (rec["user_id"], rec["ts"].to_pydatetime(), rec["event_id"])
        want = None if rec["ref_id"] != rec["ref_id"] else int(rec["ref_id"])
        if got[k] != want:
            mismatch += 1
    assert mismatch == 0


def test_cc_keep_best_picks_max_score_per_cluster(spark):
    from docling_plus_spark.operators.graph import cc_dedup_keep_best

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 7)], "id long, text string"
    )
    # clusters {1,2,3} and {4,5}; 6 unpaired
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (4, 5, 0.8)],
        "id_a long, id_b long, est_jaccard double",
    )
    quality = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5), (4, 0.7), (5, 0.7), (6, 0.2)],
        "id long, score double",
    )
    rows = {r.keep_id: r for r in cc_dedup_keep_best(
        df, pairs, quality
    ).collect()}
    assert set(rows) == {2, 4, 6}          # best of {1,2,3}; tie 4 vs 5 -> min id; unpaired 6
    assert rows[2].comp == 1
    assert rows[4].comp == 4 and rows[4].score == 0.7
    assert rows[6].comp == 6


def test_hyperball_registers_grow_with_radius(spark):
    from docling_plus_spark.operators.graph import hyperball_registers

    # directed chain 0 -> 1 -> ... -> 9: node 0's ball grows each round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    r1 = hyperball_registers(edges, m=16, rounds=1)
    r4 = hyperball_registers(edges, m=16, rounds=4)

    def filled(df, node):
        return {
            (r.bucket, r.register) for r in df.collect() if r.node == node
        }

    # monotone: every round-1 register is dominated at round 4
    f1, f4 = dict(filled(r1, 0)), dict(filled(r4, 0))
    assert all(f4.get(b, 0) >= v for b, v in f1.items())
    # sink node's ball never grows: registers identical at both radii
    assert filled(r1, 9) == filled(r4, 9)


def test_hyperball_estimate_tracks_exact_ball_size(spark):
    from docling_plus_spark.operators.graph import (
        hyperball_estimate,
        hyperball_registers,
    )

    # two disjoint directed stars: hub -> 30 leaves each; hub ball = 31
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 31)] + [(100, 100 + i) for i in range(1, 31)],
        "src long, dst long",
    )
    regs = hyperball_registers(edges, m=64, rounds=2)
    est = {r.node: r.est_ball for r in hyperball_estimate(regs, m=64).collect()}
    # HLL with m=64 has ~13% stderr; accept a generous band around 31
    for hub in (0, 100):
        assert 12 <= est[hub] <= 75, est[hub]
    # a leaf's ball is exactly itself: linear counting makes this ~1
    assert 0.5 <= est[1] <= 3.0, est[1]


def test_hyperball_rejects_non_power_of_two(spark):
    import pytest as _pytest

    from docling_plus_spark.operators.graph import hyperball_registers

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        hyperball_registers(edges, m=12)
