"""_delete_by_query / _update_by_query over the persisted store
(engine/updates.py) and the deletion-aware read paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.query import IndexReader, search_store
from engine.segments import IndexStore
from engine.updates import delete_by_query, match_doc_ids, update_by_query

N = 200
TERMS = ["engine", "spark", "index"]
CFG = IndexConfig(store_source=True)


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(webpages(spark, N, partitions=4), 4).cache()


def _build(spark, source, tmp_path, name="updidx"):
    store = IndexStore(str(tmp_path), name, cfg=CFG).create()
    run_ingest_loop(
        spark, store, source, rows_per_partition=50, start_option=EARLIEST,
        cfg=CFG,
    )
    return store


def _ids(df):
    return {r.doc_id for r in df.collect()}


def test_delete_by_query_excludes_from_search(spark, source, tmp_path):
    store = _build(spark, source, tmp_path)
    victims = _ids(match_doc_ids(spark, store, ["spark"]))
    assert victims
    before = search_store(spark, store, TERMS, k=N)
    n = delete_by_query(spark, store, ["spark"])
    assert n == len(victims)
    after = search_store(spark, store, TERMS, k=N)
    assert _ids(after) == _ids(before) - victims
    # stats stay at their stored values until merge (Lucene semantics):
    # surviving docs keep their exact scores
    before_scores = {r.doc_id: r.score for r in before.collect()}
    for r in after.collect():
        assert r.score == before_scores[r.doc_id]


def test_delete_by_query_noop_when_nothing_matches(spark, source, tmp_path):
    store = _build(spark, source, tmp_path)
    entries_before = len(store.ledger_entries())
    assert delete_by_query(spark, store, ["zzzznotaword"]) == 0
    assert len(store.ledger_entries()) == entries_before
    assert not store.view().active_deletes


def test_delete_respects_reader_and_count_and_mget(spark, source, tmp_path):
    from engine.searchapi import count_query_store, mget_store

    store = _build(spark, source, tmp_path)
    victims = _ids(match_doc_ids(spark, store, ["spark"]))
    victim_urls = [
        r.url for r in store.docs(spark)
        .where(F.col("doc_id").isin(list(victims))).select("url").collect()
    ]
    delete_by_query(spark, store, ["spark"])
    # count: no deleted doc counted
    n_hits = count_query_store(spark, store, ["spark"]).collect()[0]["n_hits"]
    assert n_hits == 0
    # mget: deleted url -> found:false (no row)
    assert mget_store(spark, store, victim_urls[:3]).count() == 0
    # held-open reader: deleted ids land in the exclusion set
    reader = IndexReader(spark, store, cfg=CFG)
    try:
        assert victims <= set(reader.deleted)
        assert not (_ids(reader.search(TERMS, k=N)) & victims)
        assert not (_ids(reader.search_wand(TERMS, k=N)) & victims)
    finally:
        reader.close()


def test_merge_expunges_tombstones_and_inerts_entry(spark, source, tmp_path):
    store = _build(spark, source, tmp_path)
    n_before = int(store.global_stats()["n_docs"])
    victims = _ids(match_doc_ids(spark, store, ["spark"]))
    survivors_before = _ids(search_store(spark, store, TERMS, k=N))
    delete_by_query(spark, store, ["spark"])
    assert store.view().active_deletes
    merge_segments(spark, store, cfg=CFG)
    # the merged store no longer needs the tombstone anti-join
    assert not store.view().active_deletes
    assert store.view().deleted_ids(spark) is None
    # postings were expunged: stats count only survivors
    assert store.global_stats()["n_docs"] == n_before - len(victims)
    # re-ingesting a deleted url later is NOT suppressed (ids are fresh):
    # just verify search over the merged store returns the survivors
    assert _ids(search_store(spark, store, TERMS, k=N)) == survivors_before - victims


def test_delete_latest_does_not_resurrect_old_version(spark, source, tmp_path):
    store = _build(spark, source, tmp_path)
    # upsert matching docs with a unique marker token, then delete by it:
    # the tombstone kills the NEW version; the superseded original must
    # not resurrect
    upd = update_by_query(
        spark, store, ["engine"],
        transform=lambda c: F.concat(c, F.lit(" zzzmarker")),
        cfg=CFG, batch_id=901,
    )
    assert upd is not None
    marked = _ids(match_doc_ids(spark, store, ["zzzmarker"]))
    assert marked
    delete_by_query(spark, store, ["zzzmarker"])
    # neither the new (marked) versions nor their superseded originals
    # may appear: the urls are gone entirely
    live = search_store(spark, store, TERMS, k=N)
    gone_urls = {
        r.url for r in store.docs(spark)
        .where(F.col("doc_id").isin(list(marked))).select("url").collect()
    }
    live_urls = {
        r.url for r in store.docs(spark)
        .where(F.col("doc_id").isin(list(_ids(live)))).select("url").collect()
    }
    assert not (gone_urls & live_urls)


def test_update_by_query_rewrites_and_supersedes(spark, source, tmp_path):
    store = _build(spark, source, tmp_path)
    res = update_by_query(
        spark, store, ["spark"],
        transform=lambda c: F.regexp_replace(c, r"\bspark\b", "sparkle"),
        cfg=CFG, batch_id=902,
    )
    assert res is not None
    # updated docs now match the new token and not the old one
    new_hits = _ids(search_store(spark, store, ["sparkle"], k=N))
    assert new_hits
    old_hits = _ids(search_store(spark, store, ["spark"], k=N))
    assert not (new_hits & old_hits)
    # nothing matched -> None, no segment committed
    entries = len(store.ledger_entries())
    assert update_by_query(
        spark, store, ["zzzznotaword"], transform=lambda c: c,
        cfg=CFG, batch_id=903,
    ) is None
    assert len(store.ledger_entries()) == entries


def test_snapshot_restore_preserves_tombstones(spark, source, tmp_path):
    from engine.snapshot import restore, snapshot

    store = _build(spark, source, tmp_path)
    delete_by_query(spark, store, ["spark"])
    survivors = _ids(search_store(spark, store, TERMS, k=N))
    repo = str(tmp_path / "repo")
    snapshot(store, repo, "snap1")
    restored = restore(repo, "snap1", str(tmp_path / "restored"))
    assert restored.view().active_deletes
    assert _ids(search_store(spark, restored, TERMS, k=N)) == survivors


def test_delete_update_cli(spark, source, tmp_path, capsys):
    import json

    from jobs.index_admin import main

    store = _build(spark, source, tmp_path, name="cliidx")
    rc = main([
        "delete-by-query", "--index-root", str(tmp_path), "--index", "cliidx",
        "--terms", "spark",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["deleted"] > 0
    rc = main([
        "update-by-query", "--index-root", str(tmp_path), "--index", "cliidx",
        "--terms", "engine", "--replace-pattern", r"\bengine\b",
        "--replace-with", "motor", "--batch-id", "907",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["updated"] > 0
    assert _ids(search_store(spark, store, ["motor"], k=N))


def test_update_by_query_keeps_store_contract(spark, source, tmp_path):
    """Review fix: an update without an explicit cfg must resolve the
    store's persisted settings — the rewrite segment keeps _source (a
    second update over the updated docs still sees real text)."""
    store = _build(spark, source, tmp_path, name="contractidx")
    assert store.persisted_config().store_source is True
    update_by_query(
        spark, store, ["engine"],
        transform=lambda c: F.regexp_replace(c, r"\bengine\b", "motor"),
        batch_id=911,  # no cfg passed — persisted settings must apply
    )
    # updated docs' new versions must carry source (not NULL)
    marked = _ids(match_doc_ids(spark, store, ["motor"]))
    assert marked
    upd_docs = store.docs(spark).where(F.col("doc_id").isin(list(marked)))
    assert upd_docs.where(F.col("source").isNull()).count() == 0
    # second update over the SAME docs sees the real text and rewrites it
    res2 = update_by_query(
        spark, store, ["motor"],
        transform=lambda c: F.regexp_replace(c, r"\bmotor\b", "turbine"),
        batch_id=912,
    )
    assert res2 is not None
    assert _ids(match_doc_ids(spark, store, ["turbine"]))


def test_reindex_does_not_resurrect_deleted_docs(spark, source, tmp_path):
    from engine.reindex import reindex
    from engine.segments import IndexStore

    store = _build(spark, source, tmp_path, name="srcidx")
    victims = _ids(match_doc_ids(spark, store, ["spark"]))
    victim_urls = {
        r.url for r in store.docs(spark)
        .where(F.col("doc_id").isin(list(victims))).select("url").collect()
    }
    delete_by_query(spark, store, ["spark"])
    dst = IndexStore(str(tmp_path), "dstidx", cfg=CFG).create()
    reindex(spark, store, dst, cfg=CFG)
    # dst assigns fresh doc ids — compare by url (the external id)
    dst_urls = {r.url for r in dst.docs(spark).select("url").collect()}
    assert not (dst_urls & victim_urls)
    assert search_store(spark, dst, ["spark"], k=N).count() == 0


def test_delete_by_ids(spark, source, tmp_path):
    from engine.updates import delete_by_ids

    store = _build(spark, source, tmp_path, name="byidsidx")
    some = [
        r.url for r in store.docs(spark).orderBy("doc_id").limit(3)
        .select("url").collect()
    ]
    before = _ids(search_store(spark, store, TERMS, k=N))
    n = delete_by_ids(spark, store, some + ["http://nope.example/x"])
    assert n == 3  # unknown url ignored (not_found)
    after = _ids(search_store(spark, store, TERMS, k=N))
    gone = {
        r.doc_id for r in store.docs(spark)
        .where(F.col("url").isin(some)).select("doc_id").collect()
    }
    assert after == before - gone
    # idempotent-ish: deleting again finds no live versions
    assert delete_by_ids(spark, store, some) == 0
    assert delete_by_ids(spark, store, []) == 0


def test_update_by_query_rewrite_follows_token_boundaries(spark):
    # the update_by_query_search rewrite must turn exactly the `vector`
    # tokens into `tensorx` and touch nothing else, or its oracle (which
    # counts tokens) and the rewritten store disagree
    import __spark_entry__ as entry
    from engine.analysis import tokens

    texts = ["vector_x and Vector", "vectors evector é-vector", "x2vector vector2",
             "VECTOR,vector.vector"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        tokens("text").alias("before"),
        tokens(F.regexp_replace("text", entry.UBQ_PATTERN, "tensorx")).alias("after"),
    ).collect()
    for r in rows:
        assert r["after"] == ["tensorx" if t == "vector" else t for t in r["before"]]
    assert sum(t == "vector" for r in rows for t in r["before"]) == 6


@pytest.mark.parametrize("cap", [10_000, 0], ids=["driver", "spark"])
def test_update_by_query_on_a_store_routed_by_region(spark, tmp_path, monkeypatch, cap):
    """On a store routed by a column other than lang, the rewrite window
    carries each doc's routing value: the new versions stay in their
    routing partitions, on the driver build and the Spark build."""
    import engine.ingest as ingest_mod

    pages = webpages(spark, 40, partitions=2).withColumn(
        "region", F.when(F.col("lang") == "en", F.lit("en:US")).otherwise(F.lit("eu")))
    cfg = IndexConfig(routing_col="region", store_source=True)
    store = IndexStore(str(tmp_path), "region", cfg=cfg).create()
    run_ingest_loop(spark, store, as_partitioned_source(pages, 2), rows_per_partition=20,
                    start_option=EARLIEST, cfg=cfg)
    hwm = store.view().doc_id_hwm
    reader = IndexReader(spark, store)
    try:
        monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        res = update_by_query(spark, store, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
                              batch_id=store.next_entry_id())
        monkeypatch.undo()
        assert res.n_docs > 0 and res.metrics["build_path"] == ("driver" if cap else "spark")
        reader.refresh()
        new = {r.doc_id for r in reader.search(["zzupd"], k=100).collect()}
    finally:
        reader.close()
    docs = store.view().table("docs", ["url", "doc_id", "routing"]).to_pylist()
    region = {}
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        assert region.setdefault(d["url"], d["routing"]) == d["routing"], d
    assert new == {d["doc_id"] for d in docs if d["doc_id"] >= hwm} and len(new) == res.n_docs
    for r in ("en:US", "eu"):
        want = {d["doc_id"] for d in docs if d["doc_id"] >= hwm and d["routing"] == r}
        assert want
        assert _ids(search_store(spark, store, ["zzupd"], k=100, routing=r)) == want
