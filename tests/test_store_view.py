"""One ledger state per store read (engine.segments.StoreView): every read
path folds the ledger once, a commit that lands mid-read stays invisible,
ledger commits are create-if-absent, and a partial merge never resurrects
a deleted doc."""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.fuzzy import search_store_fuzzy
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.positions import search_store_phrase
from engine.prefix import search_store_prefix
from engine.query import IndexReader, search_store, search_via_alias
from engine.querystring import simple_query_string_store
from engine.reindex import reindex
from engine.searchapi import count_query_store, mget_store
from engine.segments import IndexStore, LedgerEntry
from engine.snapshot import snapshot
from engine.updates import (
    delete_by_ids,
    delete_by_query,
    match_doc_ids,
    update_by_query,
)
from engine.wand import search_store_wand
from engine.wildcard import search_store_regexp, search_store_wildcard

CFG = IndexConfig(store_source=True, store_positions=True)
TERMS = ["engine", "spark", "index"]


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(webpages(spark, 200, partitions=4), 4).cache()


@pytest.fixture(scope="module")
def base_store(spark, source, tmp_path_factory):
    """Two ingest segments, an update (superseded versions) and a delete
    (active tombstones): every live-docs branch is taken."""
    store = IndexStore(str(tmp_path_factory.mktemp("view")), "base", cfg=CFG).create()
    run_ingest_loop(spark, store, source, rows_per_partition=25,
                    start_option=EARLIEST, cfg=CFG)
    update_by_query(spark, store, ["bajeqi"], lambda c: F.concat(c, F.lit(" zzupd")),
                    batch_id=store.next_entry_id())
    assert delete_by_query(spark, store, ["bajexo"]) > 0
    store.add_alias("all")
    assert len(store.live_segments()) == 3 and store.view().active_deletes
    return store


@pytest.fixture
def store(base_store, tmp_path):
    """A private copy of base_store: mutations stay in this test."""
    shutil.copytree(base_store.path, os.path.join(tmp_path, "copy"))
    return IndexStore(str(tmp_path), "copy", cfg=CFG)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# (spark, store, tmp_path, a live url) -> the call
ENTRY_POINTS = {
    "search_store": lambda sp, st, tmp, url: search_store(sp, st, TERMS),
    "search_via_alias": lambda sp, st, tmp, url: search_via_alias(sp, st, "all", TERMS),
    "search_store_wand": lambda sp, st, tmp, url: search_store_wand(sp, st, TERMS),
    "search_store_wand_auto_exact": lambda sp, st, tmp, url: search_store_wand(
        sp, st, TERMS, cfg=replace(CFG, wand_auto_max_terms=0), strategy="auto"),
    "search_store_wand_overflow": lambda sp, st, tmp, url: search_store_wand(
        sp, st, TERMS, cfg=replace(CFG, max_deleted_driver=0)),
    "search_store_fuzzy": lambda sp, st, tmp, url: search_store_fuzzy(sp, st, "engin"),
    "search_store_prefix": lambda sp, st, tmp, url: search_store_prefix(sp, st, "eng"),
    "search_store_wildcard": lambda sp, st, tmp, url: search_store_wildcard(sp, st, "en*e"),
    "search_store_regexp": lambda sp, st, tmp, url: search_store_regexp(sp, st, "en.*"),
    "search_store_phrase": lambda sp, st, tmp, url: search_store_phrase(sp, st, ["the", "engine"]),
    "simple_query_string_store": lambda sp, st, tmp, url: simple_query_string_store(
        sp, st, 'engine -spark "the index"'),
    "mget_store": lambda sp, st, tmp, url: mget_store(sp, st, [url]),
    "count_query_store": lambda sp, st, tmp, url: count_query_store(sp, st, TERMS),
    "match_doc_ids": lambda sp, st, tmp, url: match_doc_ids(sp, st, TERMS),
    "update_by_query": lambda sp, st, tmp, url: update_by_query(
        sp, st, ["engine"], lambda c: F.concat(c, F.lit(" zz")), batch_id=77),
    "delete_by_query": lambda sp, st, tmp, url: delete_by_query(sp, st, ["engine"]),
    "delete_by_ids": lambda sp, st, tmp, url: delete_by_ids(sp, st, [url]),
    "reindex": lambda sp, st, tmp, url: reindex(
        sp, st, IndexStore(str(tmp), "dst", cfg=CFG).create(), cfg=CFG),
    "merge_segments": lambda sp, st, tmp, url: merge_segments(sp, st, cfg=CFG),
    "snapshot": lambda sp, st, tmp, url: snapshot(st, os.path.join(tmp, "repo"), "s1"),
    "IndexReader": lambda sp, st, tmp, url: IndexReader(sp, st).close(),
}


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_each_entry_point_reads_the_ledger_once(spark, store, tmp_path, monkeypatch, name):
    calls = []
    real = IndexStore.ledger_entries

    def counted(self):
        if self.path == store.path:
            calls.append(1)
        return real(self)

    url = store.view().docs(spark).orderBy("doc_id").first()["url"]
    monkeypatch.setattr(IndexStore, "ledger_entries", counted)
    ENTRY_POINTS[name](spark, store, tmp_path, url)
    assert len(calls) == 1


def _commit_after_view(monkeypatch, spark, store):
    """Make the first store.view() land a delete commit (of docs the
    query matches) right after the view is taken, before anything is read
    through it."""
    real = IndexStore.view
    fired = []

    def view_then_commit(self):
        v = real(self)
        if not fired:
            fired.append(1)
            assert delete_by_query(spark, self, ["engine"]) > 0
        return v

    monkeypatch.setattr(IndexStore, "view", view_then_commit)
    return fired


def test_search_store_answers_from_its_view_despite_a_commit(spark, store, monkeypatch):
    before = _rows(search_store(spark, store, TERMS, k=50))
    fired = _commit_after_view(monkeypatch, spark, store)
    assert _rows(search_store(spark, store, TERMS, k=50)) == before
    assert fired
    monkeypatch.undo()
    assert _rows(search_store(spark, store, TERMS, k=50)) != before


def test_search_store_wand_answers_from_its_view_despite_a_commit(spark, store, monkeypatch):
    before = _rows(search_store_wand(spark, store, TERMS, k=50))
    fired = _commit_after_view(monkeypatch, spark, store)
    assert _rows(search_store_wand(spark, store, TERMS, k=50)) == before
    assert fired
    monkeypatch.undo()
    assert _rows(search_store_wand(spark, store, TERMS, k=50)) != before


def test_snapshot_records_one_ledger_state_despite_a_commit(spark, store, tmp_path, monkeypatch):
    want = snapshot(store, str(tmp_path / "repo_a"), "s")
    fired = _commit_after_view(monkeypatch, spark, store)
    got = snapshot(store, str(tmp_path / "repo_b"), "s")
    assert fired
    for key in ("segments", "deletes", "committed_offsets", "doc_id_hwm"):
        assert got[key] == want[key], key
    assert len(store.view().active_deletes) == len(want["deletes"]) + 1


def test_ledger_commit_is_create_if_absent(tmp_path, monkeypatch):
    """Two writers holding one entry id both get past any existence check:
    the second commit raises and the first entry stays on disk."""
    store = IndexStore(str(tmp_path), "race").create()
    ledger = os.path.join(store.path, "ledger")
    real_exists = os.path.exists
    monkeypatch.setattr(os.path, "exists",
                        lambda p: False if str(p).startswith(ledger) else real_exists(p))
    first = LedgerEntry(entry_id=0, kind="ingest", segments_added=["seg-a"])
    store.commit(first)
    with pytest.raises(RuntimeError, match="already committed"):
        store.commit(LedgerEntry(entry_id=0, kind="ingest", segments_added=["seg-b"]))
    monkeypatch.undo()
    with open(os.path.join(ledger, f"{0:010d}.json")) as f:
        assert json.load(f)["segments_added"] == ["seg-a"]
    assert store.live_segments() == ["seg-a"]
    assert [n for n in os.listdir(ledger) if not n.endswith(".json")] == []


def test_view_fold_and_restrict(spark, base_store):
    view = base_store.view()
    assert view.view() is view
    assert list(view.segments) == base_store.live_segments()
    sub = view.restrict(view.segments[:1])
    assert sub.segments == view.segments[:1] and sub.entries == view.entries
    with pytest.raises(ValueError, match="not live"):
        view.restrict(["seg-missing"])


def _live_urls(spark, store):
    view = store.view()
    live = view.live_docs(spark)
    rel = live if live is not None else view.docs(spark)
    return {r["url"] for r in rel.select("url").collect()}


def test_partial_merge_does_not_resurrect_deleted_docs(spark, source, tmp_path):
    """update_by_query then delete_by_query of the updated docs, then a
    merge of the update segment with ONE older segment: the merge expunges
    the tombstoned newest versions, and the older versions in the other
    segments must stay dead."""
    cfg = IndexConfig(store_source=True)
    store = IndexStore(str(tmp_path), "res", cfg=cfg).create()
    run_ingest_loop(spark, store, source, rows_per_partition=10,
                    start_option=EARLIEST, cfg=cfg)
    assert len(store.live_segments()) == 5
    update_by_query(spark, store, ["engine"], lambda c: F.concat(c, F.lit(" zzmarker")),
                    batch_id=store.next_entry_id())
    assert delete_by_query(spark, store, ["zzmarker"]) > 0
    live_before = _live_urls(spark, store)
    segs = store.live_segments()
    merge_segments(spark, store, [segs[-1], segs[4]], cfg=cfg)
    assert _live_urls(spark, store) == live_before
    hits = search_store(spark, store, ["engine"], k=1000)
    assert hits.count() == 0
    # a full merge afterwards expunges the shielded versions and agrees
    merge_segments(spark, store, cfg=cfg)
    assert _live_urls(spark, store) == live_before
