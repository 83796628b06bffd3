"""Real spark-submit --py-files end-to-end: the north rule's deployment
surface. Builds the zip, submits docling_plus_spark/job.py as a fresh
driver process (local[2] standing in for a cluster master), and checks
extraction output + crash-free checkpoint resume across invocations.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.modules["pyspark"].__file__)
    if "pyspark" in sys.modules
    else "", "bin", "spark-submit"
)


def _submit(zip_path, *job_args):
    cmd = [
        SPARK_SUBMIT or "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "docling_plus_spark", "job.py"),
        *job_args,
    ]
    return subprocess.run(
        cmd, capture_output=True, text=True, timeout=420,
        cwd="/tmp",  # NOT the repo: the zip must be the only package source
        env={**os.environ, "PYTHONPATH": ""},
    )


def _summaries(stdout):
    return [json.loads(l) for l in stdout.splitlines() if l.startswith("{")]


def test_job_include_parsed_once_and_validated(capsys):
    from docling_plus_spark import job

    base = ["--input", "pages", "--output", "out"]
    assert job.parse_args(base).include == ()
    args = job.parse_args(base + ["--include", "json,doctags,html"])
    assert args.include == ("json", "doctags", "html")
    # a misspelt surface is a usage error (exit 2), not a silent drop
    with pytest.raises(SystemExit) as exc:
        job.parse_args(base + ["--include", "json,jsn"])
    assert exc.value.code == 2
    assert "unknown surface(s) jsn" in capsys.readouterr().err


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    # package zip exactly as a cluster submit would
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "docling_plus_spark.zip"))

    # stage a small pages table (sf0.001 synth pages, multi-file)
    from docling_plus_spark.plans import build_session
    from docling_plus_spark.sources.web_pages import synth_pages_from_documents

    spark = build_session("local[2]", shuffle_partitions=2)
    pages_path = str(tmp_path / "pages.parquet")
    synth_pages_from_documents(spark, "/root/testdata/sf0.001").repartition(
        4
    ).write.parquet(pages_path)
    n_pages = spark.read.parquet(pages_path).count()

    out_dir = str(tmp_path / "results")

    # epoch 1: bounded by --limit -> partial progress committed
    half = n_pages // 2
    r1 = _submit(zip_path, "--input", pages_path, "--output", out_dir,
                 "--epochs", "1", "--limit", str(half))
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = _summaries(r1.stdout)
    assert s1[0]["processed"] == half
    assert s1[0]["remaining_before"] == half  # post-limit todo count

    # second submit (fresh driver JVM): resumes from the committed
    # snapshot, processes only the remainder, then reports drained
    r2 = _submit(zip_path, "--input", pages_path, "--output", out_dir)
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = _summaries(r2.stdout)
    assert s2[0]["processed"] == n_pages - half
    assert s2[0]["remaining_before"] == n_pages - half
    assert s2[-1] == {"done": True, "total_processed": n_pages - half}

    # committed output is total over the input: every url exactly once
    from docling_plus_spark.sources.snapshot import SnapshotTable

    res = SnapshotTable(spark, out_dir).read()
    assert res.count() == n_pages
    assert res.select("url").distinct().count() == n_pages
    assert res.filter("status = 'success'").count() == n_pages
    # lineage metrics committed alongside, both epochs present
    met = SnapshotTable(spark, out_dir + "/_metrics").read()
    assert {r.epoch for r in met.select("epoch").distinct().collect()} == {0, 1}


def test_spark_submit_curation_job(tmp_path):
    """The curation CLI end-to-end via spark-submit --py-files: stages
    compose, the funnel is monotone non-increasing, and the run is
    deterministic (second run writes the identical id set)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "docling_plus_spark.zip"))
    from docling_plus_spark.plans import build_session

    spark = build_session("local[2]", shuffle_partitions=2)
    docs_path = str(tmp_path / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(
        4
    ).write.parquet(docs_path)

    def submit(outdir):
        cmd = [
            SPARK_SUBMIT or "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "docling_plus_spark", "job_curate.py"),
            "--input", docs_path,
            "--output", outdir,
            "--stages", "classifier,exact_dedup,minhash_dedup,sample",
            "--sample-rate", "0.5",
        ]
        return subprocess.run(
            cmd, capture_output=True, text=True, timeout=420,
            cwd="/tmp", env={**os.environ, "PYTHONPATH": ""},
        )

    r = submit(str(tmp_path / "out1"))
    assert r.returncode == 0, r.stderr[-2000:]
    line = [json.loads(l) for l in r.stdout.splitlines()
            if l.startswith("{")][-1]
    ns = [e["n"] for e in line["funnel"]]
    assert ns[0] == spark.read.parquet(docs_path).count()
    assert all(a >= b for a, b in zip(ns, ns[1:])), ns  # monotone funnel
    assert ns[-1] > 0
    ids1 = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out1")).collect()}
    assert len(ids1) == ns[-1]

    r2 = submit(str(tmp_path / "out2"))
    assert r2.returncode == 0, r2.stderr[-2000:]
    ids2 = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert ids1 == ids2  # deterministic end to end
