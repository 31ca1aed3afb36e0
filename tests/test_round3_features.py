"""Round-3 feature tests: alias-driven routed search (reference
addAliasWithRoutingToExistingIndex, ElasticSearchClientService.java:135-138),
E2 bounded-retry taxonomy (ElasticSearchBatchService.java:93-129 +
ConsumerWorker.java:145-156), S8 delete-index, and the admin CLI
(ElasticSearchClientService.java:115-138)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.query import search_store, search_via_alias
from engine.segments import IndexStore

N = 200
ROUTED_CFG = IndexConfig(routing_col="lang")


@pytest.fixture(scope="module")
def src(spark):
    return as_partitioned_source(webpages(spark, N, partitions=2), 2).cache()


@pytest.fixture(scope="module")
def routed_store(spark, src, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("alias_store"))
    store = IndexStore(root, "routed", cfg=ROUTED_CFG).create()
    run_ingest_loop(
        spark, store, src, rows_per_partition=50, start_option=EARLIEST,
        cfg=ROUTED_CFG,
    )
    assert len(store.live_segments()) > 1  # exercise the multi-segment path
    return store


def test_alias_routed_search_equals_filtered_routed_search(spark, routed_store):
    """Alias(routing=R, filter part_id=0) search == routed search of R with
    results restricted to part_id=0 docs (non-scoring filter: same scores,
    subset of docs)."""
    routing = sorted(routed_store.view().routing_values())[0]
    routed_store.add_alias(
        "r_part0", filter_col="part_id", filter_val=0, routing=routing
    )
    terms = ["engine", "spark"]
    got = [
        (r["doc_id"], r["score"])
        for r in search_via_alias(spark, routed_store, "r_part0", terms, k=10).collect()
    ]
    # expected: full routed ranking, then keep part_id=0 docs, re-top-10
    full = search_store(spark, routed_store, terms, k=10_000, routing=routing)
    part0 = {
        r["doc_id"]
        for r in routed_store.view().docs(spark, routing=routing)
        .where(F.col("part_id") == 0).select("doc_id").collect()
    }
    want = [
        (r["doc_id"], r["score"]) for r in full.collect() if r["doc_id"] in part0
    ][:10]
    assert got == want
    assert got  # non-empty


def test_alias_without_routing_still_searches(spark, routed_store):
    routed_store.add_alias("plain", filter_col=None, filter_val=None)
    got = search_via_alias(spark, routed_store, "plain", ["engine"], k=5).collect()
    want = search_store(spark, routed_store, ["engine"], k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_docs_via_alias_applies_routing(spark, routed_store):
    routing = sorted(routed_store.view().routing_values())[0]
    routed_store.add_alias("r_docs", routing=routing)
    via = routed_store.docs_via_alias(spark, "r_docs")
    assert via.count() == routed_store.view().docs(spark, routing=routing).count()
    assert {r["routing"] for r in via.select("routing").distinct().collect()} == {routing}


def test_ingest_retry_recovers_transient_failure(spark, src, tmp_path):
    """One transient commit failure: the loop retries the SAME batch id,
    succeeds, and the ledger holds exactly one entry per batch."""
    store = IndexStore(str(tmp_path), "retry").create()
    real_commit = store.commit
    calls = {"n": 0}

    def flaky_commit(entry):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink unavailable")
        return real_commit(entry)

    store.commit = flaky_commit
    results = run_ingest_loop(
        spark, store, src, rows_per_partition=50, start_option=EARLIEST,
        max_retries=2,
    )
    assert len(results) == 2  # 200 rows / 2 parts / 50 per part
    entries = [e for e in store.ledger_entries() if e.kind == "ingest"]
    assert sorted(e.metrics["batch_id"] for e in entries) == [0, 1]
    assert calls["n"] == 3  # failed once, retried, then batch 1


def test_ingest_persistent_failure_aborts_with_clean_ledger(spark, src, tmp_path):
    from engine.ingest import FatalIngestError

    store = IndexStore(str(tmp_path), "fatal").create()

    def always_fail(entry):
        raise RuntimeError("sink down for good")

    store.commit = always_fail
    with pytest.raises(RuntimeError, match="sink down"):
        run_ingest_loop(
            spark, store, src, rows_per_partition=50, start_option=EARLIEST,
            max_retries=1,
        )
    assert store.ledger_entries() == []  # resume-safe: nothing committed

    # FatalIngestError skips the retry policy entirely
    calls = {"n": 0}

    def fatal(entry):
        calls["n"] += 1
        raise FatalIngestError("mapping rejected")

    store.commit = fatal
    with pytest.raises(FatalIngestError):
        run_ingest_loop(
            spark, store, src, rows_per_partition=50, start_option=EARLIEST,
            max_retries=5,
        )
    assert calls["n"] == 1  # no retries on fatal


def test_delete_index_removes_store(spark, src, tmp_path):
    """S8: delete removes data + ledger + aliases; exists() flips."""
    store = IndexStore(str(tmp_path), "doomed").create()
    run_ingest_loop(
        spark, store, src, rows_per_partition=100, start_option=EARLIEST,
        max_batches=1,
    )
    assert store.exists() and store.live_segments()
    store.delete()
    assert not store.exists()
    assert not os.path.exists(store.path)


def test_admin_cli_lifecycle(tmp_path):
    import importlib.util

    p = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "jobs", "index_admin.py"
    )
    spec = importlib.util.spec_from_file_location("index_admin", p)
    admin = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(admin)

    root = str(tmp_path / "adminroot")
    assert admin.main(["create", "--index-root", root, "--index", "web"]) == 0
    assert admin.main(["create", "--index-root", root, "--index", "web"]) == 0  # idempotent
    assert admin.main([
        "alias", "--index-root", root, "--index", "web",
        "--alias", "en_docs", "--filter", "lang=en", "--routing", "en",
    ]) == 0
    store = IndexStore(root, "web")
    assert store.exists()
    assert store.alias_spec("en_docs") == {
        "filter_col": "lang", "filter_val": "en", "routing": "en",
    }
    assert admin.main(["stats", "--index-root", root, "--index", "web"]) == 0
    assert admin.main(["delete", "--index-root", root, "--index", "web"]) == 0
    assert not store.exists()
    # delete of a missing index is an error exit, not a crash
    assert admin.main(["delete", "--index-root", root, "--index", "web"]) == 1
