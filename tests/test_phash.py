"""Perceptual-hash image near-dup (operators/phash.py)."""

import hashlib

import duckdb
import pytest

from docling_plus_spark.operators.media_codecs import bmp_pixel_array
from docling_plus_spark.operators.phash import (
    PAIR_MEDIA_SCHEMA,
    dhash_dedup,
    dhash_dedup_sql,
    dhash_of_bmp,
    image_dhash,
    image_dhash_sql,
    make_pair_bmp,
    synth_pair_images,
)
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_synth_is_real_bmp():
    arr = bmp_pixel_array(make_pair_bmp(6))
    # group 6: w = 6 % 8 + 9 = 15, h = 6 % 5 + 8 = 9
    assert arr.shape == (9, 15, 3)


def test_brightness_shift_preserves_hash():
    # role 1 is the same image +BRIGHT_DELTA per channel: every
    # horizontal gradient sign (and tie) is preserved, so the planted
    # near-duplicate hashes identically for every group
    for g in range(0, 60, 3):
        base, near = dhash_of_bmp(make_pair_bmp(g)), dhash_of_bmp(
            make_pair_bmp(g + 1)
        )
        assert base == near, f"group {g}"
        assert make_pair_bmp(g) != make_pair_bmp(g + 1)  # bytes DO differ


def test_unrelated_image_differs():
    for g in range(0, 60, 3):
        assert dhash_of_bmp(make_pair_bmp(g))[2] != dhash_of_bmp(
            make_pair_bmp(g + 2)
        )[2], f"group {g}"


def test_hash_shape():
    _, _, hx = dhash_of_bmp(make_pair_bmp(0))
    assert len(hx) == 64 and set(hx) <= {"0", "1"}


def test_decode_error_rows_not_failures(spark):
    df = spark.createDataFrame(
        [(1, make_pair_bmp(1)), (2, b"BMgarbage"), (3, None)],
        PAIR_MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in image_dhash(df).collect()}
    assert out[1].status == "decoded" and len(out[1].dhash) == 64
    assert out[2].status == "decode_error" and out[2].dhash is None
    assert out[3].status == "decode_error"


def test_dedup_marks_planted_pair(spark):
    ids = [0, 1, 2, 30, 31]
    df = spark.createDataFrame(
        [(i, make_pair_bmp(i)) for i in ids], PAIR_MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in dhash_dedup(image_dhash(df)).collect()}
    assert not rows[0].is_dup and rows[1].is_dup        # planted pair
    assert rows[0].dhash == rows[1].dhash
    assert not rows[30].is_dup and rows[31].is_dup
    assert rows[2].dhash != rows[0].dhash               # unrelated image
    assert not rows[2].is_dup


def test_hash_stage_is_narrow(spark):
    df = image_dhash(synth_pair_images(spark, SF))
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # decode+hash never shuffles: the only Exchange is read_split's
    # round-robin re-spread of the single-row-group test parquet
    # (web_pages.py:read_split), never a hash partitioning
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") == 1


def test_twin_parity(spark):
    got = sorted(
        tuple(r)
        for r in image_dhash(synth_pair_images(spark, SF)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    oracle = sorted(tuple(r) for r in con.execute(image_dhash_sql()).fetchall())
    assert oracle == got

    got_dd = sorted(
        tuple(r)
        for r in dhash_dedup(
            image_dhash(synth_pair_images(spark, SF))
        ).collect()
    )
    oracle_dd = sorted(tuple(r) for r in con.execute(dhash_dedup_sql()).fetchall())
    assert oracle_dd == got_dd


def test_laion_pipeline_composition(spark):
    """The composed harvest → bytes → gate → dedup plan: images shared
    across pages (site furniture) dedup to one exemplar; per-page
    unique images survive; twin parity is the driver oracle's job
    (oracle_check), semantic shape is locked here."""
    import __spark_entry__ as e

    out = e.queries()["laion_pipeline"](spark, SF).collect()
    assert out
    # dedup is global by hash: every hash group keeps exactly one
    # exemplar, everything else is marked dup
    groups = {}
    for r in out:
        groups.setdefault(r.dhash, []).append(r.is_dup)
    for flags in groups.values():
        assert flags.count(False) == 1
    # the width gate really gates: an image is seeded by the first 15
    # hex digits of md5(image_url) and survives iff its width
    # (seed % 8 + 9) is at least 12; harvested images below that never
    # survive, while per-doc unique images do
    def width(url: str) -> int:
        return int(hashlib.md5(url.encode()).hexdigest()[:15], 16) % 8 + 9

    kept = {r.image_url for r in out}
    assert all(width(u) >= 12 for u in kept)
    harvested = {r.image_url for r in e.queries()["image_alt_pairs"](spark, SF).collect()}
    gated = {u for u in harvested if width(u) < 12}
    assert gated and not gated & kept
    assert sum(1 for r in out if "/abs_" in r.image_url) > 100


def test_attach_seed_images_round_trip(spark):
    from docling_plus_spark.operators.phash import attach_seed_images

    df = spark.createDataFrame([(1, 7), (2, 700003)], "k long, seed long")
    rows = {r.k: r for r in attach_seed_images(df).collect()}
    arr = bmp_pixel_array(bytes(rows[1].media))
    assert arr.shape == (7 % 5 + 8, 7 % 8 + 9, 3)


def test_near_pairs_pigeonhole_parity(spark):
    """Banded near-match over exact-dup-class representatives equals
    the brute-force Hamming scan over the same representatives (the
    pigeonhole guarantee holds: max_hamming 6 < 8 bands). Distance-0
    pairs are dhash_dedup's domain by construction: representatives
    have distinct hashes, so every emitted distance is >= 1."""
    from itertools import combinations

    from docling_plus_spark.operators.phash import (
        dhash_near_pairs,
        synth_pair_images,
    )

    hashes = image_dhash(synth_pair_images(spark, SF))
    got = sorted(
        tuple(r) for r in dhash_near_pairs(hashes, max_hamming=6).collect()
    )
    reps: dict[str, int] = {}
    for r in hashes.collect():
        if r.status == "decoded":
            reps[r.dhash] = min(reps.get(r.dhash, r.media_id), r.media_id)
    rep = {mid: hx for hx, mid in reps.items()}
    brute = sorted(
        (a, b, sum(x != y for x, y in zip(rep[a], rep[b])))
        for a, b in combinations(sorted(rep), 2)
        if sum(x != y for x, y in zip(rep[a], rep[b])) <= 6
    )
    assert got == brute
    assert got and all(h >= 1 for _, _, h in got)


def test_near_pairs_requires_pigeonhole_slack():
    from docling_plus_spark.operators.phash import dhash_near_pairs

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dhash_near_pairs(None, max_hamming=8)
