"""End-to-end ingest loop, checkpoint/resume, quarantine, merge, and golden
search-vs-oracle (SURVEY.md §5.2-2/-3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engine.corpus import webpages, webpages_pandas
from engine.ingest import (
    EARLIEST,
    as_partitioned_source,
    ingest_batch,
    resolve_start_offsets,
    run_ingest_loop,
)
from engine.merge import live_doc_ids, merge_segments
from engine.oracle import bm25_topk_pandas
from engine.query import search_store
from engine.segments import IndexStore

N = 400
P = 4  # source partitions
TERMS = ["engine", "spark", "index"]


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(webpages(spark, N, partitions=4), P).cache()


def _expected_pdf():
    return webpages_pandas(N)


@pytest.fixture()
def store(tmp_path):
    return IndexStore(str(tmp_path), "webidx").create()


def test_ingest_loop_end_to_end(spark, source, store):
    results = run_ingest_loop(
        spark, store, source, rows_per_partition=40, start_option=EARLIEST
    )
    # 400 rows / 4 partitions = 100 offsets each; windows of 40 -> 3 batches
    assert len(results) == 3
    assert all(r.committed for r in results)
    # quarantine captured exactly the bad-html row (corpus id 3)
    q = spark.read.parquet(os.path.join(store.path, "quarantine", results[0].segment_id))
    assert [r["url"] for r in q.collect()] == ["https://site3.example/page/3"]
    # total live docs: 400 - 1 quarantined - 1 deduped (dup pair in batch 0)
    total = sum(r.n_docs for r in results)
    assert total == N - 2
    # committed offsets = full source drained
    assert store.committed_offsets() == {p: N // P - 1 for p in range(P)}
    # doc ids dense and unique across segments
    ids = [r["doc_id"] for r in store.docs(spark).select("doc_id").collect()]
    assert sorted(ids) == list(range(total))


def test_search_matches_golden_oracle(spark, source, store):
    run_ingest_loop(spark, store, source, rows_per_partition=40, start_option=EARLIEST)
    got = [(r["doc_id"], r["score"]) for r in search_store(spark, store, TERMS, k=15).collect()]

    # golden oracle: same docs, engine doc-id assignment reproduced in pandas
    docs_pdf = (
        store.docs(spark).select("doc_id", "url").toPandas().merge(
            _expected_pdf()[["url", "text", "warc_ts"]], on="url", how="left"
        )
    )
    # dup url: keep the text whose warc_ts matches what the store kept
    kept_ts = {
        (r["url"]): r["warc_ts"]
        for r in store.docs(spark).select("url", "warc_ts").collect()
    }
    docs_pdf = docs_pdf[
        docs_pdf.apply(lambda r: r["warc_ts"].to_pydatetime() == kept_ts[r["url"]], axis=1)
    ][["doc_id", "text"]]
    want = bm25_topk_pandas(docs_pdf, TERMS, k=15)
    assert got == want

    # the held-open IndexReader (query-server path) is rank-identical to the
    # per-query store readers on both the exact and the WAND executor
    from engine.query import IndexReader
    from engine.wand import search_store_wand

    reader = IndexReader(spark, store)
    try:
        got_r = [(r["doc_id"], r["score"]) for r in reader.search(TERMS, k=15).collect()]
        assert got_r == want
        got_w = [(r["doc_id"], r["score"]) for r in reader.search_wand(TERMS, k=15).collect()]
        assert got_w == want
        got_sw = [
            (r["doc_id"], r["score"])
            for r in search_store_wand(spark, store, TERMS, k=15).collect()
        ]
        assert got_sw == want
    finally:
        reader.close()


def test_kill_between_segment_and_ledger_then_resume(spark, source, store):
    # batch 0 crashes after segment write, before ledger commit (E1 window)
    hwm = resolve_start_offsets(store, source, EARLIEST)
    res = ingest_batch(
        spark, store, source, 0, hwm, rows_per_partition=40, fail_before_commit=True
    )
    assert res is not None and not res.committed
    assert store.ledger_entries() == []  # nothing committed
    assert os.path.exists(store.segment_path(res.segment_id))  # orphan exists

    # restart: the loop re-reads the ledger, re-runs batch 0, overwrites the
    # orphan, then drains the rest — nothing lost, nothing duplicated
    results = run_ingest_loop(spark, store, source, rows_per_partition=40)
    assert len(results) == 3
    total = sum(r.n_docs for r in results)
    assert total == N - 2
    urls = [r["url"] for r in store.docs(spark).select("url").collect()]
    assert len(urls) == len(set(urls)) == total


def test_restart_is_noop_when_drained(spark, source, store):
    run_ingest_loop(spark, store, source, rows_per_partition=40, start_option=EARLIEST)
    n_entries = len(store.ledger_entries())
    again = run_ingest_loop(spark, store, source, rows_per_partition=40)
    assert again == []
    assert len(store.ledger_entries()) == n_entries


def test_merge_equals_single_batch_rebuild(spark, source, store, tmp_path):
    run_ingest_loop(spark, store, source, rows_per_partition=40, start_option=EARLIEST)
    assert len(store.live_segments()) == 3
    merged = merge_segments(spark, store)
    assert store.live_segments() == [merged]

    # reference index: everything in ONE batch (no superseded docs stored)
    ref = IndexStore(str(tmp_path), "refidx").create()
    run_ingest_loop(spark, ref, source, rows_per_partition=100, start_option=EARLIEST)
    assert len(ref.live_segments()) == 1

    for terms in [TERMS, ["engine"], ["spark", "crawl"]]:
        a = [(r["doc_id"], r["score"]) for r in search_store(spark, store, terms, k=20).collect()]
        b = [(r["doc_id"], r["score"]) for r in search_store(spark, ref, terms, k=20).collect()]
        id2url_a = {r["doc_id"]: r["url"] for r in store.docs(spark).collect()}
        id2url_b = {r["doc_id"]: r["url"] for r in ref.docs(spark).collect()}
        ua = [(id2url_a[d], s) for d, s in a]
        ub = [(id2url_b[d], s) for d, s in b]
        # rank-identical scores; doc identity may differ ONLY within an
        # equal-score tie group at the k-boundary (tie-break is by doc_id,
        # and the two stores assign different doc_ids: merged keeps original
        # sparse ids, the rebuild densifies — ES has the same internal-docid
        # tie semantics)
        assert [s for _, s in ua] == [s for _, s in ub], terms
        boundary = ua[-1][1] if ua else None
        assert {u for u, s in ua if s != boundary} == {u for u, s in ub if s != boundary}, terms

    # merged stats expunged the superseded doc
    st = store.global_stats()
    assert st["n_docs"] == N - 2


def test_latest_start_option_skips_existing(spark, source, store):
    hwm = resolve_start_offsets(store, source, "LATEST")
    res = ingest_batch(spark, store, source, 0, hwm, rows_per_partition=40)
    assert res is None  # nothing beyond LATEST


def test_build_index_warns_on_flags_an_existing_store_overrides():
    import argparse

    from engine.config import IndexConfig
    from jobs.build_index import ignored_flag_warnings

    def args(codec=None, store_positions=False):
        return argparse.Namespace(index="web", codec=codec,
                                  store_positions=store_positions)

    stored = IndexConfig(codec="varint", store_positions=False)
    assert ignored_flag_warnings(args(), stored) == []
    assert ignored_flag_warnings(args(codec="varint"), stored) == []
    msgs = ignored_flag_warnings(args(codec="pfor", store_positions=True), stored)
    assert len(msgs) == 2
    assert "--codec pfor" in msgs[0] and "varint" in msgs[0]
    assert "--store-positions" in msgs[1]
    with_pos = IndexConfig(codec="pfor", store_positions=True)
    assert ignored_flag_warnings(args(codec="pfor", store_positions=True), with_pos) == []
