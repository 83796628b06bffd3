"""Dedup / similarity / multimodal operator behavior tests (sf0.001)."""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_plus_spark.operators.ann import (
    cosine_topk_bruteforce,
    cosine_topk_bucketed,
    embedding_near_dup,
)
from docling_plus_spark.operators.dedup import (
    bucket_pairs,
    jaccard_on_pairs,
    minhash_candidate_pairs,
    minhash_dedup_keep,
    minhash_prepare,
    simhash,
    simhash_near_pairs,
)
from docling_plus_spark.operators.multimodal import (
    decode_media_stage,
    frame_sample_plan,
    synth_media_from_documents,
)
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def corpus(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    base = d.select(F.col("doc_id").alias("id"), "text")
    dups = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
        (F.col("doc_id") + 100000).alias("id"),
        F.concat(F.col("text"), F.lit(" dup tail marker")).alias("text"),
    )
    return base.unionByName(dups).cache()


def test_minhash_finds_planted_neardups(corpus):
    pairs = minhash_candidate_pairs(
        minhash_prepare(corpus, "id")
    ).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] == r["id_a"] + 100000}
    n_planted_total = corpus.filter("id >= 100000").count()
    # banded LSH (16 hashes, 4 bands of 4) must recover the vast majority
    # of the appended-tail near-duplicates
    assert len(planted) >= 0.8 * n_planted_total
    # and their estimated jaccard is high
    ests = [r["est_jaccard"] for r in pairs if (r["id_a"], r["id_b"]) in planted]
    assert sum(ests) / len(ests) > 0.6


def test_minhash_dedup_drops_copies(corpus):
    keep = {r["keep_id"] for r in minhash_dedup_keep(corpus, "id").collect()}
    originals = {r["id"] for r in corpus.filter("id < 100000").select("id").collect()}
    copies = {r["id"] for r in corpus.filter("id >= 100000").select("id").collect()}
    # the synthetic documents table itself contains some genuine near-dup
    # pairs, so a few originals legitimately drop; the planted copies must
    # almost all drop while originals almost all survive
    assert len(originals & keep) >= 0.9 * len(originals)
    assert len(copies & keep) <= 0.2 * len(copies)


def test_exact_jaccard_on_planted_pairs(spark, corpus):
    cand = minhash_candidate_pairs(minhash_prepare(corpus, "id"))
    jac = jaccard_on_pairs(corpus, cand.select("id_a", "id_b"))
    planted = jac.filter(F.col("id_b") == F.col("id_a") + 100000)
    row = planted.agg(F.min("jaccard").alias("mn")).first()
    assert row["mn"] > 0.5  # appended 3-word tail keeps jaccard high


def test_simhash_near_pairs_hamming(corpus):
    sim = simhash(corpus, "id")
    pairs = simhash_near_pairs(sim).collect()
    assert all(r["hamming"] <= 3 for r in pairs)
    planted = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] == r["id_a"] + 100000}
    # a 3-word tail on ~60-word docs flips few simhash bits
    assert len(planted) >= 1


def test_ann_bruteforce_topk_shape(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    out = cosine_topk_bruteforce(emb, k=3)
    rows = out.collect()
    assert len(rows) == 3 * n
    by_a = {}
    for r in rows:
        by_a.setdefault(r["id_a"], []).append(r)
    for a, rs in by_a.items():
        rs.sort(key=lambda r: r["rk"])
        sims = [r["cosine"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["id_b"] != a for r in rs)


def test_ann_bucketed_is_subset_quality(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_topk_bruteforce(emb, k=1).filter("rk = 1").collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_topk_bucketed(emb, k=1, tables=8, bits=4)
        .filter("rk = 1")
        .collect()
    }
    # standard ANN tradeoff: recall < 1 but well above random — multi-table
    # OR (8 tables × 4 sign bits) lifts single-table recall p to 1-(1-p)^8
    recall = len(exact & approx) / len(exact)
    assert recall > 0.4


def test_embedding_near_dup_threshold(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embedding_near_dup(emb, threshold=0.3, tables=8, bits=4).collect()
    assert all(r["cosine"] >= 0.3 and r["id_a"] < r["id_b"] for r in out)


def test_media_decode_stub(spark):
    media = synth_media_from_documents(spark, SF)
    out = decode_media_stage(media, allow_stub=True)
    rows = out.collect()
    assert len(rows) == media.count()
    assert all(r["status"] == "decoded" for r in rows)
    assert all(1 <= r["width"] <= 640 and 1 <= r["height"] <= 480 for r in rows)
    with pytest.raises(NotImplementedError):
        decode_media_stage(media, allow_stub=False)


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def extract_features_stage(media: DataFrame) -> DataFrame:
    """binary → FEATURE_DIM float vector (deterministic fake embedding).

    The stub hashes 16 byte-strides into [0,1) floats — stable across
    runs/partitions, exercising the exact Arrow shape a real vision
    encoder (batched, fixed-dim float output) would produce.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                b = bytes(blob or b"")
                vec = [
                    int.from_bytes(
                        hashlib.md5(b[i::FEATURE_DIM][:64] + bytes([i])).digest()[:4],
                        "big",
                    )
                    / 2**32
                    for i in range(FEATURE_DIM)
                ]
                ids.append(mid)
                feats.append(vec)
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return media.select("media_id", "media").mapInPandas(fn, FEATURES_SCHEMA)


def test_media_features_deterministic(spark):
    media = synth_media_from_documents(spark, SF).limit(20)
    a = {r["media_id"]: r["features"] for r in extract_features_stage(media).collect()}
    b = {r["media_id"]: r["features"] for r in extract_features_stage(media).collect()}
    assert a == b
    assert all(len(v) == 16 and all(0 <= x < 1 for x in v) for v in a.values())


def test_frame_sample_plan(spark):
    media = synth_media_from_documents(spark, SF).limit(5)
    out = frame_sample_plan(media).collect()
    assert all(r["frame_idx"] % 10 == 0 for r in out)
    assert len({r["media_id"] for r in out}) == 5


def _identical_docs(spark, n):
    """n identical docs: every band's LSH bucket holds all n rows."""
    df = spark.range(n).select(
        F.col("id").cast("long").alias("doc_id"),
        F.lit("identical content repeated across the corpus").alias("text"),
    )
    prepared = minhash_prepare(df, "doc_id")
    return prepared.select("band_key", "id", "sig"), "band_key", ("sig",)


def _dhash_shared_band0(spark, n):
    """n distinct 64-bit dHashes sharing band 0 (a low-texture image
    mega-bucket), keyed the way dhash_near_pairs keys its bands."""
    hashes = [
        "10110010" + format(i * 0x9E3779B97F4A7C15 % (1 << 56), "056b")
        for i in range(n)
    ]
    df = spark.createDataFrame(list(enumerate(hashes)), "id long, dhash string")
    bands = [
        F.concat(F.lit(f"{b}:"), F.col("dhash").substr(b * 8 + 1, 8))
        for b in range(8)
    ]
    keyed = df.select(F.explode(F.array(*bands)).alias("band"), "id", "dhash")
    return keyed, "band", ("dhash",)


@pytest.mark.parametrize(
    "shape", [_identical_docs, _dhash_shared_band0], ids=["minhash", "dhash"]
)
def test_megabucket_salt_split_preserves_pairs_and_bounds_cells(spark, shape):
    """A 1,000-row bucket under cap 100: the salt-split guard must (a)
    produce the same pair set as the unsplit join — every C(1000,2) pair,
    since the whole bucket is one key — and (b) bound each salted group
    of a (key, cell) join cell to ~max_bucket rows."""
    n, cap = 1000, 100
    keyed, key, payload = shape(spark, n)
    keyed = keyed.cache()
    guarded = bucket_pairs(keyed, key, payload, max_bucket=cap).cache()
    wide = bucket_pairs(keyed, key, payload, max_bucket=1 << 30)
    pairs = guarded.select("id_a", "id_b").distinct()
    wide_pairs = wide.select("id_a", "id_b").distinct()
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.exceptAll(wide_pairs).count() == 0
    assert wide_pairs.exceptAll(pairs).count() == 0
    # bound check, read from the cells the helper joined: a diagonal
    # cell (g, g) holds one salted group, any other cell two groups
    rows = (
        guarded.select(key, "cell", F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
        .groupBy(key, "cell")
        .agg(F.count("*").alias("rows"))
    )
    diag = rows.filter(F.col("cell.u") == F.col("cell.v"))
    group_max = diag.agg(F.max("rows")).collect()[0][0]
    cell_max = rows.agg(F.max("rows")).collect()[0][0]
    # hash split is uneven but must stay within ~2x of the cap
    assert group_max <= 2 * cap
    assert cell_max <= 2 * group_max
    if key == "band_key":
        assert minhash_candidate_pairs(keyed, max_bucket=cap).count() == (
            n * (n - 1) // 2
        )


def test_megabucket_guard_noop_on_small_buckets(corpus):
    """With buckets below the cap, guarded and effectively-unguarded runs
    produce identical candidate sets."""
    prepared = minhash_prepare(corpus, "id").cache()
    guarded = minhash_candidate_pairs(prepared, max_bucket=64)
    wide = minhash_candidate_pairs(prepared, max_bucket=1 << 30)
    assert sorted(map(tuple, guarded.collect())) == sorted(map(tuple, wide.collect()))


def test_simhash_four_block_recall(spark):
    """Pigeonhole guarantee: every pair within Hamming<=3 is found, even
    when the differing bits straddle a 2-half split (1+2 split)."""
    from docling_plus_spark.operators.dedup import SIMHASH_BITS

    base = 0x5A5A5A5A & ((1 << SIMHASH_BITS) - 1)
    # flip bit 2 (low half) and bits 17+22 (high half): 1+2 across halves
    variant = base ^ (1 << 2) ^ (1 << 17) ^ (1 << 22)
    sim_df = spark.createDataFrame(
        [(1, base), (2, variant)], "id long, simhash long"
    )
    got = simhash_near_pairs(sim_df).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 3)]


def test_ivf_probe_path_finds_near_duplicate(spark):
    """A vector cloned with tiny noise must appear as its source's top
    IVF neighbour (the clone lands in the same coarse list)."""
    import random

    from docling_plus_spark.operators.ann import cosine_topk_ivf

    rnd = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(16)]))
    src = rows[30][1]
    rows.append((1000, [v + 0.001 for v in src]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk_ivf(emb, k=3, n_lists=8, nprobe=3)
    top = {r.id_a: r.id_b for r in out.collect() if r.rk == 1}
    assert top[1000] == 30 and top[30] == 1000


def test_ivf_candidate_volume_bounded(spark):
    """IVF must scan only the probed lists: candidate pairs per query
    stay well under brute force's n-1."""
    from docling_plus_spark.operators.ann import cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    out = cosine_topk_ivf(emb, k=n, n_lists=16, nprobe=2)
    per_query = out.groupBy("id_a").count().agg(F.max("count")).collect()[0][0]
    assert per_query < n - 1  # strictly fewer candidates than brute force


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; disjoint-alphabet
    documents share none."""
    from docling_plus_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "completely different head " + shared),
            (3, "zzzz qqqq vvvv kkkk xxxx wwww yyyy uuuu"),
        ],
        "doc_id long, text string",
    )
    fps = {r.id: set(r.fingerprints) for r in winnow_fingerprints(df).collect()}
    assert fps[1] & fps[2]           # shared substring → shared fingerprint
    assert not (fps[1] & fps[3])     # disjoint alphabets → no overlap


def test_winnow_fingerprints_short_and_empty(spark):
    from docling_plus_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "abcdefgh")],
        "doc_id long, text string",
    )
    rows = {r.id: r.fingerprints for r in winnow_fingerprints(df).collect()}
    assert rows[1] == [0]
    assert len(rows[2]) == 1 and rows[2][0] > 0
    assert len(rows[3]) == 1


def test_winnow_candidate_pairs_planted(spark):
    """The MOSS consumer: planted-overlap pair surfaces as a candidate
    with shared_fingerprints >= 1; the disjoint-alphabet doc pairs with
    nobody. Counts agree with intersecting the per-doc fingerprint sets."""
    from docling_plus_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "completely different head " + shared),
            (3, "zzzz qqqq vvvv kkkk xxxx wwww yyyy uuuu"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.shared_fingerprints
        for r in winnow_candidate_pairs(df).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    fps = {r.id: set(r.fingerprints) for r in winnow_fingerprints(df).collect()}
    assert pairs[(1, 2)] == len(fps[1] & fps[2])


def test_winnow_candidate_pairs_mega_bucket(spark):
    """Degenerate corpus: many identical documents all share every
    fingerprint; the salt-split guard (tiny max_bucket) must still emit
    every unordered pair exactly once."""
    from docling_plus_spark.operators.dedup import winnow_candidate_pairs

    n = 30
    df = spark.createDataFrame(
        [(i, "identical content repeated for the degenerate case") for i in range(n)],
        "doc_id long, text string",
    )
    out = winnow_candidate_pairs(df, max_bucket=4).collect()
    assert len(out) == n * (n - 1) // 2
    counts = {r.shared_fingerprints for r in out}
    assert len(counts) == 1  # identical docs → identical overlap count
    # the MOSS boilerplate rule: fingerprints in >max_doc_freq docs are
    # uninteresting — on an all-identical corpus that drops everything
    assert winnow_candidate_pairs(df, max_doc_freq=10).count() == 0
    # and a threshold above the corpus size keeps all pairs
    assert winnow_candidate_pairs(df, max_doc_freq=n).count() == len(out)


def test_winnow_dedup_keep_policy(spark):
    """Keep-lowest-id: of two near-identical docs the lower id
    survives; the disjoint doc always survives."""
    from docling_plus_spark.operators.dedup import winnow_dedup_keep

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, shared + " alpha tail"),
            (2, shared + " beta tail"),
            (3, "zzzz qqqq vvvv kkkk xxxx wwww yyyy uuuu"),
        ],
        "doc_id long, text string",
    )
    keep = {r.keep_id for r in winnow_dedup_keep(df).collect()}
    assert keep == {1, 3}


def test_gopher_signals_rules(spark):
    """Hand-built documents exercising each Gopher rule branch."""
    from docling_plus_spark.operators.quality import gopher_signals

    good = (
        "The report describes the results of the survey and shows that "
        "most people have agreed with the main findings. "
    ) * 5  # ~90 words, stopword-rich, clean prose
    bullets = "\n".join(f"- item {i}" for i in range(20))
    repeated = "the same line of repeated text here\n" * 10
    symbols = "### " + "# ".join(["tag"] * 60)
    df = spark.createDataFrame(
        [
            (1, good),
            (2, bullets),
            (3, repeated + good),
            (4, symbols),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r.asDict() for r in gopher_signals(df).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["bullet_frac"] == 1.0 and out[2]["gopher_pass"] is False
    assert out[3]["dup_line_frac"] > 0.3 and out[3]["gopher_pass"] is False
    assert out[4]["symbol_ratio"] > 0.1 and out[4]["gopher_pass"] is False
    assert out[5]["word_count"] == 0 and out[5]["gopher_pass"] is False


def test_gopher_signals_matches_duckdb_oracle(spark):
    """Bit-identical signals vs the DuckDB twin on real corpus text."""
    import duckdb

    from docling_plus_spark.operators.quality import (
        gopher_signals,
        gopher_signals_sql,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sp = {
        r.id: r.asDict()
        for r in gopher_signals(d).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    ora = con.sql(gopher_signals_sql()).df()
    assert len(ora) == len(sp)
    for rec in ora.to_dict("records"):
        mine = sp[rec["id"]]
        for k, v in rec.items():
            if k == "id":
                continue
            assert mine[k] == pytest.approx(v, abs=0, rel=0), (rec["id"], k)


def test_c4_clean_rules(spark):
    """C4 line retention + page verdict on hand-built documents."""
    from docling_plus_spark.operators.quality import c4_clean

    good = (
        "This is a perfectly reasonable first sentence of prose.\n"
        "Here is another sentence with more than five words.\n"
        "And a third complete sentence finishes the page.\n"
        "short line\n"
        "No terminal punctuation on this line here\n"
    )
    js = (
        "Please enable javascript to view this page.\n"
        "This sentence talks about nothing in particular today.\n"
        "Another full sentence appears right here as well.\n"
        "A third full sentence appears right here too.\n"
    )
    brace = good + "function f() { return 1; }\n"
    df = spark.createDataFrame(
        [(1, good), (2, js), (3, brace), (4, "tiny page.")],
        "doc_id long, text string",
    )
    out = {r.id: r.asDict() for r in c4_clean(df).collect()}
    assert out[1]["c4_keep"] is True and out[1]["lines_kept"] == 3
    assert "short line" not in out[1]["clean_text"]
    # javascript line dropped but the page still has 3 sentences
    assert out[2]["lines_kept"] == 3 and out[2]["c4_keep"] is True
    assert "javascript" not in out[2]["clean_text"]
    assert out[3]["c4_keep"] is False      # curly brace kills the page
    assert out[4]["c4_keep"] is False      # < 3 sentences


def test_c4_clean_matches_duckdb_oracle(spark):
    import duckdb

    from docling_plus_spark.operators.quality import c4_clean, c4_clean_sql

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sp = {r.id: r.asDict() for r in c4_clean(d).collect()}
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    ora = con.sql(c4_clean_sql()).df()
    assert len(ora) == len(sp)
    for rec in ora.to_dict("records"):
        mine = sp[rec["id"]]
        for k, v in rec.items():
            if k != "id":
                assert mine[k] == v, (rec["id"], k)


def test_decontaminate_flags_benchmark_overlap(spark):
    from docling_plus_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally different words that share no gram with the bench"),
            (3, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string"
    )
    out = {r.id: (r.contaminated, r.n_hits) for r in
           decontaminate(docs, bench).collect()}
    assert out[1][0] is True and out[1][1] >= 1
    assert out[2] == (False, 0)
    assert out[3][0] is True
    # scale shape: the benchmark side must broadcast
    plan = decontaminate(docs, bench)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in plan


def test_minhash_incremental_shape(spark):
    """new-vs-index candidates exist for planted near-dups; no
    index-vs-index pair is ever formed; new-new pairs are canonical."""
    from pyspark.sql import functions as F

    from docling_plus_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_prepare,
    )

    idx_rows = [(i, f"the quick brown fox jumps over dog number {i} "
                    f"with words alpha beta gamma delta {i}") for i in range(20)]
    index = spark.createDataFrame(idx_rows, "id long, text string")
    new = spark.createDataFrame(
        # 100+i are near-dups of indexed i (tail mutation); 200/201 are
        # identical fresh twins (a new-new pair)
        [(100 + i, idx_rows[i][1] + " tail") for i in range(0, 20, 5)]
        + [(200, "completely fresh document words xyz abc def"),
           (201, "completely fresh document words xyz abc def")],
        "id long, text string",
    )
    pairs = minhash_incremental_pairs(
        minhash_prepare(new, "id"),
        minhash_prepare(index, "id"),
    ).collect()
    assert pairs
    for r in pairs:
        assert r["new_id"] >= 100  # left side is always a new doc
        if not r["vs_index"]:
            assert r["new_id"] < r["other_id"]
    # the planted twins must meet as a new-new candidate at est 1.0
    twin = [r for r in pairs
            if not r["vs_index"] and r["new_id"] == 200 and r["other_id"] == 201]
    assert twin and twin[0]["est_jaccard"] == 1.0
    # each mutated doc finds its indexed original
    vs_idx = {(r["new_id"], r["other_id"]) for r in pairs if r["vs_index"]}
    for i in range(0, 20, 5):
        assert (100 + i, i) in vs_idx


def test_containment_asymmetric(spark):
    """A short doc fully inside a long one: containment(short in long)
    = 1.0 while Jaccard is small."""
    from docling_plus_spark.operators.dedup import containment_on_pairs

    short = "alpha beta gamma delta epsilon"
    longd = short + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(30))
    df = spark.createDataFrame([(1, short), (2, longd)], "id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = containment_on_pairs(df, pairs).collect()[0]
    assert r["containment_a_in_b"] == 1.0
    assert r["containment_b_in_a"] < 0.2


# ---------------------------------------------------------------------------
# scale_params: the population-invariance law (BENCH.md §sf1 follow-up)


def test_scale_params_bucket_population_pinned():
    """Unclamped, expected per-table bucket population n / 2^bits stays
    within [target/2, target] — so within-bucket pair volume is Θ(n)."""
    from docling_plus_spark.operators.ann import scale_params

    target = 64
    for exp in range(8, 40):  # n from 256 up; huge dim removes the cap
        n = 1 << exp
        p = scale_params(n, dim=4096, tables=8, target_bucket=target)
        pop = n / (1 << p["bits"])
        assert target / 2 <= pop <= target, (n, p["bits"], pop)


def test_scale_params_dim_cap_and_floors():
    from docling_plus_spark.operators.ann import scale_params

    # sign-of-dim quantizer: tables*bits can never exceed dim
    p = scale_params(10**12, dim=64, tables=8)
    assert p["bits"] == 64 // 8
    for n in (0, 1, 100):  # tiny corpora hit every floor
        p = scale_params(n, dim=64)
        assert p["bits"] >= 2 and p["n_lists"] == 16
        assert p["nprobe"] == 4 and p["k_clusters"] == 8


def test_scale_params_pair_volume_linear_not_quadratic():
    """The §sf1 finding, as arithmetic: 10× data → ≤~10× expected pair
    volume with derived params, vs 100× with the fixed test defaults."""
    from docling_plus_spark.operators.ann import scale_params

    def pairs(n, bits, tables):  # tables · Σ_buckets pop² = tables · n·pop
        return tables * n * (n / (1 << bits))

    n = 1 << 20
    lo, hi = (scale_params(m, dim=4096) for m in (n, 10 * n))
    ratio_scaled = pairs(10 * n, hi["bits"], hi["tables"]) / pairs(
        n, lo["bits"], lo["tables"]
    )
    ratio_fixed = pairs(10 * n, 4, 8) / pairs(n, 4, 8)
    assert ratio_fixed == 100.0
    assert ratio_scaled <= 20.0  # log2(10) isn't integral; ≤2× of linear


def test_scale_params_ivf_candidates_sublinear():
    """Candidates scanned per query ≈ nprobe · n/n_lists = Θ(√n)."""
    from docling_plus_spark.operators.ann import scale_params

    def cands(n):
        p = scale_params(n)
        return p["nprobe"] * n / p["n_lists"]

    n = 1 << 22
    assert cands(100 * n) / cands(n) <= 15  # √100 = 10, + rounding slack


def test_scale_params_monotonic():
    from docling_plus_spark.operators.ann import scale_params

    prev = None
    for exp in range(6, 41, 2):
        p = scale_params(1 << exp, dim=4096)
        if prev is not None:
            for key in ("bits", "n_lists", "nprobe", "k_clusters"):
                assert p[key] >= prev[key], (exp, key)
        prev = p


def test_scale_params_derived_lsh_still_finds_planted_pair(spark):
    """End-to-end: derived (tables, bits) drive the real operator and the
    planted near-duplicate survives bucketing."""
    import random

    from docling_plus_spark.operators.ann import embedding_near_dup, scale_params

    rng = random.Random(7)
    rows = []
    for i in range(200):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    near = [v + rng.uniform(-0.01, 0.01) for v in rows[3][1]]
    rows.append((200, near))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = scale_params(len(rows), dim=64, target_bucket=32)
    got = embedding_near_dup(
        df, threshold=0.98, tables=p["tables"], bits=p["bits"]
    ).collect()
    assert any(r["id_a"] == 3 and r["id_b"] == 200 for r in got)
