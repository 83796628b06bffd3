"""bench.py's headline corpus, and its refusal to time an empty corpus."""

from __future__ import annotations

import pytest
from conftest import bench_corpus
from pyspark.sql import functions as F

import bench
from docling_plus_spark.plans import build_session
from docling_plus_spark.sources import WEB_PAGES_SCHEMA


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_headline_scans_web_mixed_and_empty_corpus_exits(spark):
    # the headline scans the 432 pages of perfbench's web_mixed (seed 0)
    corpus = bench_corpus()
    urls = [d.url for d in corpus.web_pages(0, 16 * corpus.FIXTURE_BLOCK).docs]
    pages = spark.read.parquet(bench.web_mixed_parquet())
    assert bench.corpus_rows(pages, "web_mixed") == len(set(urls)) == 432
    assert sorted(r["url"] for r in pages.select("url").collect()) == sorted(urls)
    # one wiki_duck-scale page per file, so no scan task gets several
    sizes = pages.select(F.input_file_name().alias("f"),
                         (F.length("html") > 100_000).cast("int").alias("large"))
    per_file = sizes.groupBy("f").agg(F.sum("large").alias("large")).collect()
    assert sorted(r["large"] for r in per_file) == [1] * 16

    # a corpus of no rows ends the run with a non-zero exit naming it
    with pytest.raises(SystemExit) as exc:
        bench.corpus_rows(spark.createDataFrame([], WEB_PAGES_SCHEMA), "synth")
    assert exc.value.code not in (0, None)
    assert "synth" in str(exc.value.code)
