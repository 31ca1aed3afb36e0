"""IndexReader's driver path (one gather of the query's blocks, numpy
scoring on the driver): rank identity with the distributed search_store /
search_store_wand plans, the one-job pin, the fallbacks, and stats_out from
the same execution."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

import engine.query as query_mod
from engine.config import SCORE_DECIMALS, IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.query import IndexReader, search_store, spark_round
from engine.segments import IndexStore
from engine.wand import search_store_wand

# (query terms, kwargs) — disjunctive, duplicate terms, absent term, bool
# clauses; k=500 is larger than any hit count here
EXACT_CASES = [
    (["engine", "spark"], {"k": 10}),
    (["engine", "engine", "spark"], {"k": 7}),
    (["crawl"], {"k": 500}),
    (["zzqxnotaword"], {"k": 10}),
    (["engine", "zzqxnotaword"], {"k": 10}),
    (["index", "rank", "page"], {"k": 10, "conjunctive": True}),
    (["index", "rank", "page", "spark"], {"k": 10, "min_should_match": 2}),
    (["engine", "spark", "index"], {"k": 10, "must_not_terms": ["crawl"]}),
    (["engine", "spark"], {"k": 500, "must_not_terms": ["spark"]}),
]
WAND_CASES = [
    (["engine", "spark"], 10),
    (["engine", "engine"], 5),
    (["crawl"], 500),
    (["zzqxnotaword"], 10),
    (["index", "rank", "page"], 1),
]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _build(spark, root, codec, merged):
    """A multi-segment store whose first copies are superseded (the source
    is ingested twice), or that store merged into one segment."""
    cfg = IndexConfig(codec=codec)
    store = IndexStore(root, "rd", cfg=cfg).create()
    src = as_partitioned_source(webpages(spark, 120, partitions=2), 2)
    for _ in range(2):
        run_ingest_loop(spark, store, src, rows_per_partition=30,
                        start_option=EARLIEST, cfg=cfg)
    if merged:
        merge_segments(spark, store, cfg=cfg)
    return store


@pytest.fixture(scope="module", params=list(itertools.product(
    ("varint", "pfor"), ("merged", "superseded"))), ids=lambda p: "-".join(p))
def store(request, spark, tmp_path_factory):
    codec, shape = request.param
    root = str(tmp_path_factory.mktemp(f"rd-{codec}-{shape}"))
    st = _build(spark, root, codec, merged=shape == "merged")
    if shape == "merged":
        assert len(st.live_segments()) == 1
    else:
        assert len(st.live_segments()) > 1
    return st


def test_reader_exact_matches_search_store(spark, store):
    reader = IndexReader(spark, store)
    try:
        if len(store.live_segments()) > 1:
            assert reader.deleted and not reader._deleted_overflow
        for terms, kw in EXACT_CASES:
            want = _rows(search_store(spark, store, terms, **kw))
            assert _rows(reader.search(terms, **kw)) == want, (terms, kw)
    finally:
        reader.close()


def test_reader_wand_matches_search_store_wand(spark, store):
    reader = IndexReader(spark, store)
    try:
        for terms, k in WAND_CASES:
            want = _rows(search_store_wand(spark, store, terms, k=k))
            assert want == _rows(search_store(spark, store, terms, k=k))
            assert _rows(reader.search_wand(terms, k=k)) == want, (terms, k)
            got = _rows(reader.search_wand(terms, k=k, strategy="auto"))
            assert got == want, (terms, k)
    finally:
        reader.close()


def _pages(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "row_id long, text string")
    return df.select(
        "row_id",
        F.format_string("doc://%012d", F.col("row_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("row_id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "utf-8")
        .alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )


def test_rounded_tie_at_kth_rank_breaks_by_doc_id(spark, tmp_path):
    # docs 1..4 are identical, so their scores tie exactly; k=3 cuts the
    # tie between ranks 2 and 4, and doc_id asc must pick 1 and 2
    texts = ["alpha beta beta", "alpha beta", "alpha beta", "alpha beta",
             "alpha beta", "gamma delta", "beta gamma"]
    store = IndexStore(str(tmp_path), "tie").create()
    src = as_partitioned_source(_pages(spark, texts), num_partitions=2)
    run_ingest_loop(spark, store, src, rows_per_partition=4)
    reader = IndexReader(spark, store)
    try:
        for terms in (["alpha", "beta"], ["beta"]):
            want = _rows(search_store(spark, store, terms, k=3))
            assert want == _rows(search_store_wand(spark, store, terms, k=3))
            assert want[1][1] == want[2][1]  # the tie sits at the k-th rank
            assert _rows(reader.search(terms, k=3)) == want
            assert _rows(reader.search_wand(terms, k=3)) == want
    finally:
        reader.close()


# With b = 0 and tf = 1 a posting scores idf / (1 + k1). Over the store in
# the test below (4 docs, df 2, so idf = ln 2) this k1 makes that score the
# double whose shortest form is 0.10045: a half at the fifth decimal, where
# Spark's HALF_UP (0.1005) and Python's round() (0.1004) disagree.
K1_AT_HALF = 5.900419915977554


def test_exact_and_wand_round_a_decimal_half_alike(spark, tmp_path):
    raw = math.log(2.0) * (1.0 / (1.0 + K1_AT_HALF * 1.0))
    assert repr(raw) == "0.10045"
    assert round(raw, SCORE_DECIMALS) != spark_round(raw)[0] == 0.1005
    cfg = IndexConfig(k1=K1_AT_HALF, b=0.0)
    store = IndexStore(str(tmp_path), "half", cfg=cfg).create()
    src = as_partitioned_source(
        _pages(spark, ["alpha", "beta", "alpha", "gamma"]), num_partitions=2
    )
    run_ingest_loop(spark, store, src, rows_per_partition=2, cfg=cfg)
    want = _rows(search_store(spark, store, ["alpha"], k=2, cfg=cfg))
    assert [s for _, s in want] == [0.1005, 0.1005]
    assert _rows(search_store_wand(spark, store, ["alpha"], k=2, cfg=cfg)) == want
    reader = IndexReader(spark, store, cfg=cfg)
    try:
        assert _rows(reader.search(["alpha"], k=2)) == want
        assert _rows(reader.search_wand(["alpha"], k=2)) == want
    finally:
        reader.close()


def _jobs(spark, fn):
    """Spark jobs `fn` ran, as (job id, stage names), tagged by a job group
    of its own (the status tracker keeps the jobs of past groups)."""
    sc = spark.sparkContext
    group = f"reader-pin-{next(_GROUPS)}"
    sc.setJobGroup(group, "reader job-count pin")
    try:
        fn()
    finally:
        sc.setJobGroup("reader-pin-done", "after the pin")
    tracker = sc.statusTracker()
    return [
        (j, [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds])
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


_GROUPS = itertools.count()


def test_one_spark_job_per_search(spark, tmp_path):
    store = _build(spark, str(tmp_path), "varint", merged=True)
    reader = IndexReader(spark, store)
    try:
        reader.search(["warmup"], k=1).collect()
        reader.search_wand(["warmup"], k=1).collect()
        terms = ["engine", "spark"]
        assert len(_jobs(spark, lambda: reader.search(terms, k=10).collect())) == 1
        assert len(_jobs(spark, lambda: reader.search(
            terms, k=10, must_not_terms=["crawl"]).collect())) == 1
        assert len(_jobs(spark, lambda: reader.search_wand(
            terms, k=10, strategy="wand").collect())) == 1
        # an absent term returns no rows, still from the one gather
        assert len(_jobs(spark, lambda: reader.search(
            ["zzqxnotaword"], k=10).collect())) == 1
        assert len(_jobs(spark, lambda: reader.search_wand(
            ["zzqxnotaword"], k=10).collect())) == 1
        st: dict = {}
        assert len(_jobs(spark, lambda: reader.search_wand(
            terms, k=10, stats_out=st).collect())) == 1
        # stats_out comes from the same execution, with no extra actions;
        # the driver scores every gathered block
        assert st["strategy"] == "exact_driver" and st["num_ranges"] == 1
        n_blocks = store.postings(spark).where(F.col("term").isin(terms)).count()
        assert (st["candidate_blocks"] == st["candidate_block_ranges"]
                == st["blocks_scored"] == n_blocks)
    finally:
        reader.close()


def test_gather_cap_falls_back_to_distributed_plans(spark, tmp_path, monkeypatch):
    store = _build(spark, str(tmp_path), "varint", merged=False)
    reader = IndexReader(spark, store)
    try:
        terms = ["engine", "spark", "index"]
        driver = [_rows(reader.search(terms, k=10)),
                  _rows(reader.search(terms, k=10, must_not_terms=["crawl"])),
                  _rows(reader.search_wand(terms, k=10))]
        monkeypatch.setattr(query_mod, "GATHER_MAX_BLOCKS", 1)
        calls = []
        real = query_mod.bm25_topk_from_index
        monkeypatch.setattr(query_mod, "bm25_topk_from_index",
                            lambda *a, **kw: calls.append(1) or real(*a, **kw))
        st: dict = {}
        fallback = [_rows(reader.search(terms, k=10)),
                    _rows(reader.search(terms, k=10, must_not_terms=["crawl"])),
                    _rows(reader.search_wand(terms, k=10, stats_out=st))]
        assert fallback == driver
        assert len(calls) == 2  # both exact calls ran the distributed plan
        # the distributed WAND reports its doc-id range fan-out
        assert st["candidate_block_ranges"] >= st["candidate_blocks"] > 1
    finally:
        reader.close()


def test_concurrent_searches_match_sequential(spark, store):
    """More client threads than cores over one reader (the bench/soak.py
    shape): every result equals its sequential twin."""
    import sys
    import threading

    reader = IndexReader(spark, store)
    calls = [(fn, terms, k) for terms, k in WAND_CASES for fn in ("search", "search_wand")]
    try:
        want = [_rows(getattr(reader, fn)(terms, k=k)) for fn, terms, k in calls]
        got = [None] * len(calls)

        def run(i):
            fn, terms, k = calls[i]
            got[i] = _rows(getattr(reader, fn)(terms, k=k))

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            threads = [threading.Thread(target=run, args=(i,)) for i in range(len(calls))]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
        finally:
            sys.setswitchinterval(old)
        assert got == want
    finally:
        reader.close()


def test_spark_round_matches_spark(spark):
    vals = [0.12345, 1.00005, 2.71825, 0.00015, 3.14159265, 12.3456789,
            7.77775, 0.5, 1e-05, 123.45675, 9.99995] + [
        (i * 0.6180339887) % 17 for i in range(1, 300)]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r[0] for r in df.select(F.round("x", SCORE_DECIMALS)).collect()]
    assert spark_round(vals).tolist() == got
