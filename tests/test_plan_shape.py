"""Physical-plan-shape assertions: the scale properties the 100 TB design
depends on, locked in as tests over ``explain`` output.

These don't execute the queries — they compile them and assert the plan
Catalyst produced has the shape BENCH.md §3 documents: pruned scans, no
cartesian products outside the one labeled brute-force baseline,
map-side partial aggregation on the wide paths, and broadcasts where a
side is known-small.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_extract_scan_prunes_to_url_html(spark, tmp_path):
    """The extract stage's parquet scan must read only the columns the
    UDF consumes (url, html) — a scan shipping the `text`/`lang` bytes
    it never uses would multiply 100 TB of IO."""
    from docling_plus_spark.plans import extract_pipeline

    src = str(tmp_path / "web_pages")
    spark.createDataFrame(
        [("https://a/x", bytearray(b"<p>hi</p>"), "hi", "en")],
        "url string, html binary, text string, lang string",
    ).write.parquet(src)
    plan = _plan(extract_pipeline(spark.read.parquet(src)))
    scans = [b for b in plan.split("\n\n") if "Scan parquet" in b and "ReadSchema" in b]
    assert scans, plan[:800]
    for block in scans:
        rs = next(ln for ln in block.splitlines() if "ReadSchema" in ln)
        assert "url" in rs and "html" in rs, rs
        assert "text" not in rs and "lang" not in rs, rs


def test_prepare_pushes_size_gate_into_scan_filter(spark):
    from docling_plus_spark.plans.pipeline import prepare_pages

    df = spark.createDataFrame(
        [("u", bytearray(b"<p>x</p>"))], "url string, html binary"
    )
    plan = _plan(prepare_pages(df).filter(F.col("valid")))
    # the validity gate stays a codegen filter (no shuffle/exchange)
    assert "Exchange" not in plan


def test_prepare_sniffs_head_and_magic_once(spark):
    """The format sniff reads each row's 1 KiB head and 16-byte magic
    once: the decision branches share one let-bound copy instead of each
    rebuilding it from the bytes."""
    import re

    from docling_plus_spark.plans.pipeline import prepare_pages

    df = spark.createDataFrame(
        [("u", bytearray(b"<p>x</p>"))], "url string, html binary"
    )
    plan = prepare_pages(df)._jdf.queryExecution().optimizedPlan().toString()
    for n in (1024, 16):
        found = re.findall(rf"substring\(html#\d+, 1, {n}\)", plan)
        assert len(found) == 1, (n, len(found), plan[:1500])


def test_minhash_candidates_no_cartesian(spark):
    from docling_plus_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_prepare,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_candidate_pairs(minhash_prepare(d), pin=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_bucketed_and_ivf_no_cartesian(spark):
    from docling_plus_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_bucketed,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_topk_bucketed(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # IVF: the centroid-assignment cross IS a broadcast NLJ against the
    # n_lists-row centroid table — O(N x n_lists), linear in N, the right
    # scale shape. A shuffle cartesian must still never appear.
    ivf = _plan(cosine_topk_ivf(emb))
    assert "CartesianProduct" not in ivf
    # the exact baseline is the one place an N x N cross join is allowed
    bf = _plan(cosine_topk_bruteforce(emb))
    assert "CartesianProduct" in bf or "BroadcastNestedLoopJoin" in bf


def test_simhash_partial_aggregation(spark):
    """The bit-vote groupBy must partially aggregate map-side: the
    shuffle then carries 32 counters per doc, not one row per token."""
    from docling_plus_spark.operators.dedup import simhash

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash(d))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_paragraph_dedup_shuffles_hashes_not_text(spark):
    """The distinct-doc count aggregates on the 8-byte line hash; the
    line text must not ride through that exchange."""
    from docling_plus_spark.operators.webclean import paragraph_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(paragraph_dedup(d))
    blocks = plan.split("\n\n")
    # find the exchange feeding the count-distinct aggregate on h
    assert "CartesianProduct" not in plan
    agg_blocks = [
        b for b in blocks if "HashAggregate" in b and "count(distinct" in b.lower()
    ]
    assert agg_blocks, plan[:800]
    for b in agg_blocks:
        assert "line#" not in b, b


def test_small_dim_join_broadcasts(spark):
    """A join against a tiny dimension table must broadcast, not
    shuffle both sides."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    dim = spark.createDataFrame(
        [("en", "english"), ("de", "german")], "lang string, lang_name string"
    )
    plan = _plan(d.join(F.broadcast(dim), "lang"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_output_prunes_partitions(spark, tmp_path):
    """Hive/Iceberg-style partitioned output must partition-prune on
    read: a lang='en' filter reads only the en directory, not the
    whole table — at 100 TB this is the difference between scanning
    one partition and all of them."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "by_lang")
    d.write.partitionBy("lang").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = _plan(back)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0], plan[:1200]
    # and the filter really prunes: only the en partition's rows return
    n_en_src = d.filter(F.col("lang") == "en").count()
    assert back.count() == n_en_src


def test_winnow_pairs_no_cartesian_and_filter_before_join(spark):
    """The winnow candidate join must shuffle on the fingerprint value
    (hash join, no cartesian), and the max_doc_freq boilerplate filter
    must land on the counts side BEFORE the pair join — that filter is
    the quadratic-output guard."""
    from docling_plus_spark.operators.dedup import winnow_candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(winnow_candidate_pairs(docs, max_doc_freq=20, pin=False))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # the df cap appears as a post-aggregation filter on the count
    assert "(_m" in plan or "_m#" in plan


def test_pdf_bytes_extract_no_shuffle(spark):
    """The pdf-bytes path is document == row: synth-write → parse →
    layout → serialize is one narrow mapInPandas chain; any exchange in
    this plan would be a 100-TB-scale regression (the only exchange
    allowed is the input repartition of the unsplittable test parquet)."""
    from docling_plus_spark.plans import extract_pipeline
    from docling_plus_spark.sources.web_pages import synth_pdf_pages_from_documents

    import re

    out = extract_pipeline(synth_pdf_pages_from_documents(spark, SF))
    plan = _plan(out.select("url", "status", "text"))
    # formatted explain lists each node once in the numbered detail
    # section; read_split repartitions the single-row-group input once
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 1, plan
    # exactly one Python map stage: gate rejects, conversion and every
    # surface share the extract UDF (the source's scalar pdf writer is
    # an ArrowEvalPython, not a map stage)
    maps = re.findall(r"^\(\d+\) (\w*Map\w*)", plan, re.M)
    assert maps == ["MapInPandas"], plan


def test_pdf_pipeline_one_grouped_stage(spark):
    """The page-table PDF path is one grouped stage: a single hash
    exchange on url brings a document's pages together and one
    FlatMapGroupsInPandas turns them into the document row; no per-page
    map stage runs before the shuffle. Building it warns nothing."""
    import re
    import warnings

    from pdf_fixtures import synth_pdf_pages

    from docling_plus_spark.pdf.pipeline import pdf_pipeline

    pages = synth_pdf_pages(spark, 2)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = pdf_pipeline(pages)
    assert not [w for w in caught if "type hints" in str(w.message)], caught
    plan = _plan(out)
    exchanges = [
        b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b)
    ]
    assert len(exchanges) == 1, plan
    assert re.search(r"^Arguments: hashpartitioning\(url#\d+, 4\)", exchanges[0], re.M), plan
    maps = re.findall(r"^\(\d+\) (\w*(?:Map|Pandas)\w*)", plan, re.M)
    assert maps == ["FlatMapGroupsInPandas"], plan


def test_job_epoch_scatters_only_after_limit(spark, tmp_path, monkeypatch):
    """job.run's epoch is extract_pipeline over the anti-joined rows, the
    benchmarked plan. A global limit gathers its rows onto one partition,
    so a --limit epoch carries exactly one xxhash64(url) scatter to
    defaultParallelism before the Python stage; an unlimited epoch
    carries none."""
    import re

    from docling_plus_spark import job
    from docling_plus_spark.plans import incremental
    from docling_plus_spark.sources.web_pages import synth_pages_from_documents

    src = str(tmp_path / "pages")
    synth_pages_from_documents(spark, SF).write.parquet(src)
    extracts = []
    real = incremental.extract_pipeline

    def recording(*args, **kwargs):
        extracts.append(real(*args, **kwargs))
        return extracts[-1]

    monkeypatch.setattr(incremental, "extract_pipeline", recording)
    base = ["--input", src, "--output", str(tmp_path / "results")]
    job.run(spark, job.parse_args(base + ["--epochs", "1", "--limit", "10"]))
    job.run(spark, job.parse_args(base))
    assert len(extracts) == 2  # the drain's second epoch finds nothing

    def scatters(df) -> list:
        plan = _plan(df)
        # the extract stage is the plan's root: every exchange is below it
        tree = plan.split("\n\n")[0]
        assert re.search(r"^\+- MapInPandas", tree, re.M), tree
        return re.findall(
            r"hashpartitioning\(xxhash64\(url#\d+, 42\), (\d+)\)", plan
        )

    width = str(spark.sparkContext.defaultParallelism)
    assert scatters(extracts[0]) == [width]
    assert scatters(extracts[1]) == []


def test_asof_join_single_shuffle(spark):
    """The as-of join must cost one exchange per side (hash on the
    key), never a range cross-product."""
    from docling_plus_spark.operators.graph import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.select(
        "user_id", F.col("ts").alias("rts"), F.col("event_id").alias("ref_id")
    )
    plan = _plan(
        asof_join(left, right, "user_id", "ts", "rts", ["ref_id"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 3  # two union legs + window partitioning


def test_span_offsets_zero_exchanges(spark):
    """The span stage is a strict row-explosion of the page scan — any
    Exchange in its plan would be a scale bug."""
    from docling_plus_spark.operators.spans import span_offsets_stage

    pages = spark.createDataFrame(
        [("u", bytearray(b"<p>x</p>"))], "url string, html binary"
    )
    plan = _plan(span_offsets_stage(pages))
    assert "Exchange" not in plan, plan[:1200]


def test_robots_gate_broadcasts_rules_no_page_shuffle(spark):
    """Rules are O(#hosts) → must broadcast; the page side must reach
    the join without any Exchange."""
    from docling_plus_spark.operators.robots import robots_gate, robots_rules

    rules = robots_rules(
        spark.createDataFrame(
            [("https://h.test", "User-agent: *\nDisallow: /p")],
            "host string, robots_txt string",
        )
    )
    pages = spark.createDataFrame([("https://h.test/a",)], "url string")
    plan = _plan(robots_gate(pages, rules))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "Exchange hashpartitioning" not in plan, plan[:1200]


def test_substring_dedup_shuffles_never_carry_text(spark):
    """Both k-gram exchanges move (hash, pos, id) tuples — the text
    column must stay out of every Exchange."""
    from docling_plus_spark.operators.substring import (
        strip_duplicate_substrings,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    plan = _plan(strip_duplicate_substrings(docs, k=3))
    blocks = [b for b in plan.split("\n\n") if b.startswith("(")]
    # formatted mode lists operator details; find Exchange argument lines
    for ln in plan.splitlines():
        if "Arguments: hashpartitioning" in ln:
            assert "text" not in ln, ln


def test_anchor_stats_partial_aggregation(spark):
    """Both anchor aggregations must show map-side partial_ functions
    before their exchanges."""
    from docling_plus_spark.operators.links import anchor_text_stats

    edges = spark.createDataFrame(
        [("s", "d", "a")], "src string, dst string, anchor string"
    )
    plan = _plan(anchor_text_stats(edges))
    assert "partial_count" in plan or "partial_sum" in plan, plan[:1200]


def test_gopher_repetition_single_scan_single_explode(spark):
    """All 9 n sizes ride ONE Generate over ONE scan (a 9-way union
    would re-read the corpus nine times)."""
    from docling_plus_spark.operators.quality import gopher_ngram_repetition

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    plan = _plan(gopher_ngram_repetition(docs))
    assert plan.count("Generate") <= 2, plan[:1500]


def test_ccnet_cutpoints_variant_has_no_sort(spark):
    """The 100 TB bucket-assignment path must not global-sort: no Sort
    outside a broadcast build side, cutpoints joined by broadcast."""
    from docling_plus_spark.operators.quality import (
        ccnet_buckets_by_cutpoints,
    )

    scored = spark.createDataFrame(
        [(1, "en", 0.5)], "id long, lang string, mean_nll double"
    )
    plan = _plan(ccnet_buckets_by_cutpoints(scored))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan


def write_bucketed(df, table: str, key: str, n_buckets: int) -> None:
    """Persist ``df`` as a managed table bucketed (and bucket-sorted) on
    ``key`` (``DataFrameWriter.bucketBy``: hive-style bucket files plus
    bucket metadata in the catalog; Spark's in-memory catalog needs no Hive
    metastore, the tables land under ``spark.sql.warehouse.dir``).
    ``n_buckets`` must match across tables that will be joined co-located."""
    df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators — the storage layout already
    co-locates keys (at 100 TB this converts every repeat doc_id join
    from a corpus-wide shuffle, paid once at write time, into a free zip
    of bucket files)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(0, 1000).selectExpr(
            "id AS doc_id", "concat('text ', id) AS text"
        )
        scores = spark.range(0, 1000).selectExpr(
            "id AS doc_id", "cast(id % 7 AS double) AS score"
        )
        write_bucketed(docs, "bt_docs", "doc_id", n_buckets=4)
        write_bucketed(scores, "bt_scores", "doc_id", n_buckets=4)
        joined = spark.table("bt_docs").join(spark.table("bt_scores"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, plan[:1500]
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_scores")


def test_new_cluster_ops_no_cartesian_and_broadcasts(spark):
    """PQ/ADC/incremental-minhash plans: the only nested-loop joins are
    broadcast-tiny codebooks; candidate joins are key-shuffled."""
    from docling_plus_spark.operators.cluster import pq_adc_topk, pq_codes
    from docling_plus_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_prepare,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p1 = _plan(pq_codes(emb, k=8))
    assert "CartesianProduct" not in p1
    p2 = _plan(pq_adc_topk(emb, k_codes=8, topk=3, query_mod=10))
    assert "CartesianProduct" not in p2
    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id AS id", "text"
    )
    new = docs.limit(50)
    p3 = _plan(
        minhash_incremental_pairs(
            minhash_prepare(new, "id"),
            minhash_prepare(docs, "id"),
        )
    )
    assert "CartesianProduct" not in p3
    # the band-key join shuffles/joins on band_key
    assert "band_key" in p3


def test_countmin_counter_shuffle_carries_no_terms(spark):
    """The CMS counter aggregation must shuffle (row, col, count) only —
    the term strings stay in the narrow explode stage (at 10^12 tokens
    the counters are the ONLY wide state besides the exact-count check)."""
    from docling_plus_spark.operators.textstats import countmin_heavy_hitters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(countmin_heavy_hitters(docs, d=2, w=64, topk=5))
    # partial aggregation before the exchange on the counter grid
    assert "partial_count" in plan or "HashAggregate" in plan
    exchanges = [
        b for b in plan.split("\n\n") if b.strip().startswith("(") and "Exchange" in b
    ]
    assert exchanges, plan[:800]


def test_boilerplate_blocks_shuffle_carries_features_not_html(spark):
    """jusText features fold in the narrow stage; the single window
    exchange (partitioned on doc id) must carry (id, pos, densities,
    raw label) only — at 10^12 pages the html must never shuffle."""
    from docling_plus_spark.operators.boilerplate import boilerplate_blocks

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("<p>"), "text",
            F.lit("</p><div><a href='/x'>nav</a></div>"),
        ).alias("html"),
    )
    plan = _plan(boilerplate_blocks(d))
    exchanges = [
        b
        for b in plan.split("\n\n")
        if b.strip().startswith("(") and b.split("\n")[0].endswith("Exchange")
    ]
    assert exchanges, plan[:800]
    for b in exchanges:
        assert "html#" not in b and "chunk#" not in b, b


def test_shard_manifest_no_global_single_task_window(spark):
    """The byte prefix sum must be the two-phase form: range partition
    + per-partition windows, never one Window over an Exchange
    SinglePartition of the full data."""
    from docling_plus_spark.operators.packing import shard_manifest

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("n_chars").alias("n_bytes")
    )
    plan = _plan(shard_manifest(d, target_bytes=65536))
    blocks = plan.split("\n\n")
    for i, b in enumerate(blocks):
        if "Exchange SinglePartition" in b:
            # only legal over the tiny per-partition sums table (its
            # input must aggregate on pid, not carry doc rows)
            ctx = "\n".join(blocks[max(0, i - 2): i + 2])
            assert "psum" in ctx or "pid" in ctx, ctx


def test_web_tables_zero_shuffle(spark):
    """The triple explode + regex harvest is a narrow projection of the
    scan — no Exchange anywhere in the plan."""
    from docling_plus_spark.operators.webtables import web_tables

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("<table><tr><td>"), "text", F.lit("</td></tr></table>")
        ).alias("html"),
    )
    plan = _plan(web_tables(d))
    assert "Exchange" not in plan, plan[:800]


def test_image_alt_pairs_single_rank_shuffle_no_html(spark):
    """Only the per-page rank shuffles, and it carries the kept pairs
    (id, raw_idx, urls, alt) — never the page html."""
    from docling_plus_spark.operators.imagepairs import image_alt_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.lit("https://h.test/d/p.html").alias("url"),
        F.concat(
            F.lit('<img src="/a.png" alt="a caption of the image">'),
            F.lit('<p>'), "text", F.lit("</p>"),
        ).alias("html"),
    )
    plan = _plan(image_alt_pairs(d))
    exchanges = [
        b
        for b in plan.split("\n\n")
        if b.strip().startswith("(") and b.split("\n")[0].endswith("Exchange")
    ]
    assert exchanges, plan[:800]
    for b in exchanges:
        assert "html#" not in b, b


def _single_partition_only_over_tiny(plan: str) -> None:
    """Shared assertion: any Exchange SinglePartition in `plan` must sit
    over a tiny side table (per-partition sums / a limit-k result), never
    over corpus-derived rows."""
    blocks = plan.split("\n\n")
    for i, b in enumerate(blocks):
        if "Exchange SinglePartition" in b:
            ctx = "\n".join(blocks[max(0, i - 3): i + 2])
            assert (
                "psum" in ctx or "pid" in ctx or "TakeOrdered" in ctx
                or "GlobalLimit" in ctx or "rank_one" in ctx
            ), ctx


def test_vocab_growth_no_global_single_task_window(spark):
    """r4 VERDICT scale-killer: the Heaps-law cumulative sums must be
    the two-phase distributed prefix sum (packing.distributed_prefix_sum),
    never Window.orderBy(id) with no partition key over the per-doc
    table."""
    from docling_plus_spark.operators.textstats import vocab_growth

    d = spark.read.parquet(f"{SF}/documents.parquet")
    _single_partition_only_over_tiny(_plan(vocab_growth(d)))


def test_global_topk_windows_are_take_ordered(spark):
    """countmin_topk / pmi_pairs / bpe_merge_pairs top-k: the full
    vocab/pair table must reach the driver-side k rows via
    TakeOrderedAndProject (per-partition heaps), not via a partition-less
    row_number Window single-tasking the whole table."""
    from docling_plus_spark.operators.textstats import (
        countmin_heavy_hitters,
        pmi_pairs,
    )
    from docling_plus_spark.operators.webclean import bpe_merge_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        countmin_heavy_hitters(d, topk=5),
        pmi_pairs(d, topk=5, min_count=2),
        bpe_merge_pairs(d, top_k=5),
    ):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan[:1200]
        _single_partition_only_over_tiny(plan)


def test_char_bigram_vocab_crossjoin_is_broadcast(spark):
    """r3 item 6 (two rounds old): the 1-row vocab crossJoin in
    char_bigram_logprob must be a BroadcastNestedLoopJoin by plan, not
    rescued at runtime by AQE."""
    from docling_plus_spark.operators.textstats import char_bigram_logprob

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(char_bigram_logprob(d))
    assert "CartesianProduct" not in plan, plan[:1200]


def test_quality_ensemble_rank_is_two_phase(spark):
    """The ensemble's exact 90th-percentile NLL cut must use the
    two-phase distributed rank, never a partition-less row_number over
    the corpus (ADVICE r4)."""
    import __spark_entry__ as e

    df = e.queries()["quality_ensemble"](spark, SF)
    _single_partition_only_over_tiny(_plan(df))


def test_bitext_mine_ivf_pairs_form_only_in_probed_lists(spark):
    """The production bitext path must never form pairs via a cross
    join: candidate formation is an equi-join on list_id (probe side x
    data side); the only nested-loop join allowed is the broadcast of
    the tiny centroid table."""
    from docling_plus_spark.operators.ann import bitext_mine_ivf

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.when(F.col("vec_id") % 2 == 0, "en")
            .otherwise("de")
            .alias("lang"),
            "embedding",
        )
    )
    plan = _plan(bitext_mine_ivf(emb, k=3, n_lists=8, nprobe=2, pin=False))
    assert "CartesianProduct" not in plan, plan[:1500]
    # the candidate join keys on list_id
    assert "list_id" in plan
