"""D9 routing-aware placement + D11 multi-index fan-out + T2 assigner.

Reference anchors: per-event (index, routing) assignment
(IMessageHandler.java:16-26, ElasticSearchBatchService.java:57-66), routing
applied to requests (ElasticSearchClientService.java:135-146), per-index
bulk map (ElasticSearchBatchService.java:34)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engine.assign import RecordAssigner, static_assigner
from engine.config import IndexConfig
from engine.corpus import webpages
from engine.fanout import (
    discover_indexes,
    fanout_offsets,
    run_fanout_loop,
)
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.query import search_store
from engine.segments import IndexStore

N = 200
ROUTED_CFG = IndexConfig(routing_col="lang")


@pytest.fixture(scope="module")
def src(spark):
    return as_partitioned_source(webpages(spark, N, partitions=2), 2).cache()


@pytest.fixture()
def routed_store(spark, src, tmp_path):
    store = IndexStore(str(tmp_path), "routed", cfg=ROUTED_CFG).create()
    run_ingest_loop(
        spark, store, src, rows_per_partition=50, start_option=EARLIEST,
        cfg=ROUTED_CFG,
    )
    return store


def test_routed_segments_are_hive_partitioned(spark, routed_store):
    seg = routed_store.live_segments()[0]
    pdir = os.path.join(routed_store.segment_path(seg), "postings")
    parts = [d for d in os.listdir(pdir) if d.startswith("routing=")]
    assert len(parts) >= 2  # corpus has several langs
    # docs partitioned too
    ddir = os.path.join(routed_store.segment_path(seg), "docs")
    assert any(d.startswith("routing=") for d in os.listdir(ddir))
    # per-routing stats recorded and consistent with the docs table
    st = routed_store.segment_stats(seg)
    assert "routing_stats" in st
    assert sum(v["n_docs"] for v in st["routing_stats"].values()) == st["n_docs"]


def test_routed_search_equals_subset_search(spark, routed_store, tmp_path):
    """Routed search == building a separate index from ONLY that routing
    subset and searching it (shard-local stats semantics)."""
    routing = sorted(routed_store.view().routing_values())[0]
    terms = ["engine", "spark"]
    got = [
        (r["doc_id"], r["score"])
        for r in search_store(
            spark, routed_store, terms, k=10, routing=routing
        ).collect()
    ]
    # reference: index only that subset -> urls must match (doc ids differ)
    id2url = {
        r["doc_id"]: r["url"] for r in routed_store.docs(spark).collect()
    }
    got_urls = [(id2url[d], s) for d, s in got]

    sub_docs = routed_store.view().docs(spark, routing=routing)
    n_sub = sub_docs.count()
    assert 0 < n_sub < routed_store.global_stats()["n_docs"]
    # score via exact BM25 over the raw subset text using bucket stats
    from engine.oracle import bm25_topk_pandas

    sub_pdf = (
        sub_docs.select("doc_id", "url").toPandas()
        .merge(
            __import__("engine.corpus", fromlist=["webpages_pandas"])
            .webpages_pandas(N)[["url", "text"]],
            on="url", how="left",
        )[["doc_id", "text"]]
    )
    want = bm25_topk_pandas(sub_pdf, terms, k=10)
    want_urls = [(id2url[d], s) for d, s in want]
    assert got_urls == want_urls


def test_routed_search_plan_prunes_partitions(spark, routed_store):
    """Multi-segment routed reads prune at PATH-LISTING level: every file
    backing the scan lives under routing=<val> — files of other routing
    values are never even listed (stronger than a hive PartitionFilter)."""
    routing = sorted(routed_store.view().routing_values())[0]
    files = routed_store.view().postings(spark, routing=routing).inputFiles()
    assert files, "routed read should have input files"
    assert all(f"routing={routing}/" in f for f in files), files[:5]
    # ... and the pruned read is a bounded union: one scan per ROUTING
    # VALUE would list all values; pruned to one value it must not
    all_files = routed_store.postings(spark).inputFiles()
    assert len(files) < len(all_files)

    # single-segment stores keep the hive PartitionFilters route
    merged_store = routed_store  # merged below in test_routing_survives_merge
    if len(merged_store.live_segments()) == 1:
        plan = (
            merged_store.view().postings(spark, routing=routing)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan


def test_routing_survives_merge(spark, routed_store):
    assert len(routed_store.live_segments()) > 1
    routing = sorted(routed_store.view().routing_values())[0]
    terms = ["engine", "spark"]
    before = [
        (r["doc_id"], r["score"])
        for r in search_store(spark, routed_store, terms, k=10, routing=routing).collect()
    ]
    merge_segments(spark, routed_store, cfg=ROUTED_CFG)
    seg = routed_store.live_segments()[0]
    pdir = os.path.join(routed_store.segment_path(seg), "postings")
    assert any(d.startswith("routing=") for d in os.listdir(pdir))
    after = [
        (r["doc_id"], r["score"])
        for r in search_store(spark, routed_store, terms, k=10, routing=routing).collect()
    ]
    assert before == after


# ---------------------------------------------------------------------------
# multi-index fan-out
# ---------------------------------------------------------------------------


def lang_assigner() -> RecordAssigner:
    return RecordAssigner(
        index_name=lambda df: F.when(F.col("lang") == "en", "idx_en").otherwise("idx_other")
    )


def test_fanout_splits_by_index_and_drains(spark, src, tmp_path):
    root = str(tmp_path / "multi")
    results = run_fanout_loop(
        spark, root, src, rows_per_partition=50, assigner=lang_assigner()
    )
    assert len(results) == 2  # 200 rows / 2 parts / 50 per part = 2 batches
    names = discover_indexes(root)
    assert names == ["idx_en", "idx_other"]
    en = IndexStore(root, "idx_en")
    other = IndexStore(root, "idx_other")
    # distinct urls = N minus the quarantined bad-html doc and the dup url;
    # the dup PAIR may span batches, in which case both versions are stored
    # until a merge expunges (same semantics as the single-index loop)
    all_urls = en.docs(spark).select("url").union(other.docs(spark).select("url"))
    assert all_urls.distinct().count() == N - 2
    n_en = en.docs(spark).count()
    n_other = other.docs(spark).count()
    assert N - 2 <= n_en + n_other <= N - 1
    assert {r["lang"] for r in en.docs(spark).select("lang").distinct().collect()} == {"en"}
    # global offsets drained
    assert fanout_offsets(root) == {p: N // 2 - 1 for p in range(2)}
    # restart is a no-op
    again = run_fanout_loop(
        spark, root, src, rows_per_partition=50, assigner=lang_assigner()
    )
    assert again == []


def test_fanout_search_equals_dedicated_index(spark, src, tmp_path):
    root = str(tmp_path / "multi2")
    run_fanout_loop(spark, root, src, rows_per_partition=100, assigner=lang_assigner())
    en = IndexStore(root, "idx_en")
    terms = ["engine", "crawl"]
    got = search_store(spark, en, terms, k=10).collect()

    # dedicated index over the same subset
    ded_root = str(tmp_path / "ded")
    ded = IndexStore(ded_root, "only_en").create()
    run_ingest_loop(
        spark, ded, src.where(F.col("lang") == "en"),
        rows_per_partition=100, start_option=EARLIEST,
    )
    want = search_store(spark, ded, terms, k=10).collect()
    id2url_a = {r["doc_id"]: r["url"] for r in en.docs(spark).collect()}
    id2url_b = {r["doc_id"]: r["url"] for r in ded.docs(spark).collect()}
    assert [(id2url_a[r["doc_id"]], r["score"]) for r in got] == [
        (id2url_b[r["doc_id"]], r["score"]) for r in want
    ]


def test_fanout_partial_crash_completes_batch(spark, src, tmp_path):
    """Crash after index A committed but before index B (and before the
    fanout ledger entry): the re-run re-delivers the SAME window, skips A
    via has_batch, completes B, then commits the fanout offsets — the
    reference's commit-offsets-after-all-bulks semantics."""
    from engine.fanout import fanout_process_window, next_fanout_batch_id

    root = str(tmp_path / "crash")
    # simulate the partial state: run the batch window against ONLY idx_en
    # (as if the process died before idx_other's commit)
    from pyspark.sql import functions as F

    from engine.ingest import process_window

    window = src.where(F.col("row_offset") < 50)
    en_store = IndexStore(root, "idx_en").create()
    process_window(spark, en_store, window.where(F.col("lang") == "en"), batch_id=0)
    assert en_store.has_batch(0)
    assert fanout_offsets(root) == {}  # no fanout commit yet -> re-delivery

    # restart: loop re-runs batch 0 over the same window
    results = run_fanout_loop(
        spark, root, src.where(F.col("row_offset") < 50),
        rows_per_partition=50, assigner=lang_assigner(),
    )
    assert next_fanout_batch_id(root) == 1
    en = IndexStore(root, "idx_en")
    other = IndexStore(root, "idx_other")
    # idx_en was NOT rebuilt (still exactly one ledger entry for batch 0)
    assert len([e for e in en.ledger_entries() if e.kind == "ingest"]) == 1
    assert other.exists() and other.docs(spark).count() > 0
    # no duplicates WITHIN an index (indexes are independent doc spaces; the
    # corpus dup-url pair may legitimately land in both when its two
    # versions carry different langs -> different index assignments)
    for st in (en, other):
        urls = [r["url"] for r in st.docs(spark).select("url").collect()]
        assert len(urls) == len(set(urls)), st.name


def test_static_assigner_matches_reference_default(spark, src):
    out = static_assigner("myindex").assign(src.limit(5))
    rows = out.select("index_name").distinct().collect()
    assert [r["index_name"] for r in rows] == ["myindex"]
    assert "routing" not in out.columns
    routed = static_assigner("myindex", routing_col="lang").assign(src.limit(5))
    assert "routing" in routed.columns
