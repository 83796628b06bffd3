"""Image-text pair mining + mixture planning (operators/imagepairs.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_plus_spark.operators.imagepairs import (
    image_alt_pairs,
    image_alt_pairs_sql,
)
from docling_plus_spark.operators.mixture import mixture_plan, mixture_plan_sql
from docling_plus_spark.plans import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


HTML = (
    '<p>x</p><img src="https://cdn.test/a.jpg" alt="a red apple on a table">'
    "<img alt=\"no src here at all\">"
    '<img src="//cdn2.test/b.png" alt="  spaced   caption  ">'
    '<img src="/c.gif" alt="root relative caption">'
    '<img src="d.png" alt="tiny">'
    "<IMG SRC='e.webp' ALT='single quoted uppercase tag caption'>"
)
PAGE_URL = "https://host.test/dir/page.html"


def _pairs(spark, html=HTML, url=PAGE_URL):
    df = spark.createDataFrame(
        [(1, url, html)], "doc_id long, url string, html string"
    )
    return [
        (r.img_idx, r.image_url, r.alt_text)
        for r in image_alt_pairs(df).orderBy("img_idx").collect()
    ]


def test_resolution_and_alt_gate(spark):
    got = _pairs(spark)
    assert got == [
        (0, "https://cdn.test/a.jpg", "a red apple on a table"),
        (1, "https://cdn2.test/b.png", "spaced caption"),   # ws collapsed
        (2, "https://host.test/c.gif", "root relative caption"),
        # d.png dropped: alt "tiny" < 5 chars; no-src img dropped
        (3, "https://host.test/dir/e.webp",
         "single quoted uppercase tag caption"),
    ]


def test_twin_parity(spark):
    df = spark.createDataFrame(
        [(3, PAGE_URL, HTML)], "doc_id long, url string, html string"
    )
    got = [
        tuple(r) for r in image_alt_pairs(df).orderBy("img_idx").collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT 3::bigint AS doc_id, "
        "? AS url, ? AS html",
        [PAGE_URL, HTML],
    )
    oracle = con.execute(
        "SELECT * FROM ("
        + image_alt_pairs_sql()
        + ") ORDER BY img_idx"
    ).fetchall()
    assert [tuple(r) for r in oracle] == got


def test_hostile_html(spark):
    bodies = [
        "",
        "<img",
        "<img src= alt=>",
        '<img src="x.png">' * 200,      # no alt at all
        '\x00<img src="y.png" alt="valid caption text">\xff',
    ]
    df = spark.createDataFrame(
        [(i, f"https://h.test/{i}", b) for i, b in enumerate(bodies)],
        "doc_id long, url string, html string",
    )
    out = image_alt_pairs(df).collect()
    assert len(out) == 1 and out[0].alt_text == "valid caption text"


def test_mixture_plan_semantics(spark):
    # src_a over-represented (60% actual vs 30% target),
    # src_b under-represented (20% vs 50%), src_c untargeted
    rows = (
        [(i, "src_a", 60) for i in range(10)]
        + [(i + 10, "src_b", 20) for i in range(10)]
        + [(i + 20, "src_c", 20) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = {
        r.source: r
        for r in mixture_plan(
            df, {"src_a": 0.3, "src_b": 0.5}, ntok_col="n"
        ).collect()
    }
    b = out["src_b"]
    assert b.sample_rate == 1.0          # reference source kept whole
    # ratio 0.5/0.2 = 2.5 -> 3 epochs needed at a full-corpus budget
    assert b.repeat_epochs == 3
    a = out["src_a"]
    # target/actual: a = 0.3/0.6 = 0.5; b = 0.5/0.2 = 2.5 → rel a = 0.2
    assert a.sample_rate == pytest.approx(0.2)
    assert a.repeat_epochs == 1          # over-represented: one pass
    c = out["src_c"]
    assert c.sample_rate == 0.0 and c.repeat_epochs == 0

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{s}', {n})" for i, s, n in rows)
        + ") t(doc_id, source, n)"
    )
    oracle = con.execute(
        "SELECT * FROM ("
        + mixture_plan_sql({"src_a": 0.3, "src_b": 0.5}, ntok_expr="n")
        + ") ORDER BY source"
    ).fetchall()
    got = sorted(
        (tuple(out[k]) for k in out), key=lambda t: t[0]
    )
    assert [tuple(r) for r in oracle] == got


def test_mixture_plan_targeted_but_missing_source(spark):
    """A targeted source ABSENT from the corpus must not be silently
    ignored (ADVICE r4): it appears as an explicit zero-count row
    (sample_rate 0, repeat_epochs 0) and must NOT distort the present
    sources' normalization. Twins agree."""
    rows = [(i, "src_a", 60) for i in range(10)] + [
        (i + 10, "src_b", 20) for i in range(10)
    ]
    weights = {"src_a": 0.3, "src_b": 0.5, "src_ghost": 0.2}
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = {r.source: r for r in mixture_plan(df, weights, ntok_col="n").collect()}
    g = out["src_ghost"]
    assert (g.n_docs, g.n_tokens, g.actual_frac) == (0, 0, 0.0)
    assert g.sample_rate == 0.0 and g.repeat_epochs == 0
    assert g.target_frac == pytest.approx(0.2)
    # present sources normalized over present ratios only: b is still
    # the reference source (kept whole) despite the infinite-ratio ghost
    assert out["src_b"].sample_rate == 1.0
    assert out["src_a"].sample_rate > 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{s}', {n})" for i, s, n in rows)
        + ") t(doc_id, source, n)"
    )
    oracle = con.execute(
        "SELECT * FROM ("
        + mixture_plan_sql(weights, ntok_expr="n")
        + ") ORDER BY source"
    ).fetchall()
    got = sorted((tuple(out[k]) for k in out), key=lambda t: t[0])
    assert [tuple(r) for r in oracle] == got


def test_curation_mixture_stage(spark):
    """The job_curate 'mixture' stage composes mixture_plan into the
    filter chain: deterministic, per-source survivor fractions track
    the plan's sample_rate."""
    from docling_plus_spark.job_curate import _st_mixture, parse_args

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    args = parse_args([
        "--input", "x", "--output", "y",
        "--mix-weights", "src0=0.5,src1=0.05",
    ])
    out = _st_mixture(df, args)
    surv = {r["source"]: r["n"] for r in
            out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    base = {r["source"]: r["n"] for r in
            df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # src0 is the most under-represented target -> kept whole
    assert surv["src0"] == base["src0"]
    # src1 heavily downsampled; untargeted sources dropped entirely
    assert surv.get("src1", 0) < base["src1"]
    assert "src5" not in surv
    # deterministic
    surv2 = {r["source"]: r["n"] for r in
             _st_mixture(df, args).groupBy("source")
             .agg(F.count("*").alias("n")).collect()}
    assert surv == surv2


def test_bitext_mine_recovers_planted_pairs(spark):
    """Planted translations: de vector i = en vector i + tiny noise ->
    mutual-top-1 margin mining must recover exactly the i<->i pairs."""
    import math

    from docling_plus_spark.operators.ann import bitext_mine

    def vec(i, flip):
        base = [math.sin(i * 1.7 + d) for d in range(8)]
        if flip:
            base[0] += 0.01  # tiny noise on the translation side
        return base

    rows = [(i, "en", vec(i, False)) for i in range(10)] + [
        (100 + i, "de", vec(i, True)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, lang string, embedding array<double>")
    out = bitext_mine(df, k=3, tau=1.0).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {(100 + i, i) for i in range(10)}  # 'de' < 'en' lexicographically
    assert all(r.margin > 1.0 for r in out)


def test_bitext_mine_rejects_non_two_lang(spark):
    from docling_plus_spark.operators.ann import bitext_mine

    df = spark.createDataFrame(
        [(1, "en", [1.0, 0.0])], "vec_id long, lang string, embedding array<double>"
    )
    with pytest.raises(ValueError):
        bitext_mine(df)

def test_bitext_mine_ivf_recovers_planted_pairs_and_twin(spark):
    """The production IVF candidate path must recover the planted
    translations too (probe-limited pair formation, same margin tail),
    and its DuckDB twin must agree exactly."""
    import math

    from docling_plus_spark.operators.ann import (
        bitext_mine_ivf,
        bitext_mine_ivf_sql,
    )

    def vec(i, flip):
        base = [math.sin(i * 1.7 + d) for d in range(8)]
        if flip:
            base[0] += 0.01
        return base

    rows = [(i, "en", vec(i, False)) for i in range(12)] + [
        (100 + i, "de", vec(i, True)) for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, lang string, embedding array<double>"
    )
    out = bitext_mine_ivf(df, k=3, tau=1.0, n_lists=4, nprobe=2).collect()
    got = {(r.id_a, r.id_b) for r in out}
    # planted i<->i pairs that survive probing; at nprobe=2/4 lists the
    # vast majority must be recovered (recall <1 is the documented trade)
    assert got <= {(100 + i, i) for i in range(12)}
    assert len(got) >= 9, got

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{l}', {v})" for i, l, v in rows)
        + ") t(vec_id, lang, embedding)"
    )
    oracle = con.execute(
        "SELECT * FROM ("
        + bitext_mine_ivf_sql(k=3, tau=1.0, n_lists=4, nprobe=2)
        + ") ORDER BY id_a"
    ).fetchall()
    spark_rows = sorted((r.id_a, r.id_b, r.cosine, r.margin) for r in out)
    assert [tuple(r) for r in oracle] == spark_rows
