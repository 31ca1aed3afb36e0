"""Small bulks built on the driver (engine/ingest.py _build_on_driver):
parity with the distributed build on every store shape, Spark job counts
of the write paths and of reader open / refresh, crash safety, and
deterministic last-write-wins."""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import engine.ingest as ingest_mod
import engine.segments as segments_mod
from engine.codecs import decode_posting_blocks_batch
from engine.config import IndexConfig
from engine.corpus import webpages
from engine.docids import dedup_assign_ids_ranged, dedup_last_write_wins
from engine.fanout import discover_indexes, fanout_process_window
from engine.ingest import as_partitioned_source, ingest_batch, process_window
from engine.positions import decode_position_rows
from engine.query import IndexReader, search_store
from engine.reindex import reindex
from engine.segments import IndexStore, _unescape_hive, parquet_files
from engine.updates import delete_by_ids, delete_by_query, update_by_query

N = 60
TERMS = ["engine", "spark", "index", "héllo", "zzupd"]
TIE_URL = "https://site8.example/page/8"


def _pages(spark):
    """The corpus with its edge rows (empty doc, 1-token doc, non-ASCII
    doc, no-<p> quarantine row, duplicate url) plus a `region` routing
    column holding a value that needs hive escaping, nulls and empty
    strings (both land in __HIVE_DEFAULT_PARTITION__), and a row
    with the url and warc_ts of row 8 but other text, later in the source
    (a last-write-wins tie)."""
    pages = webpages(spark, N, partitions=3)
    tie = pages.where(F.col("row_id") == 8).select(
        F.lit(N + 3).cast("long").alias("row_id"), "url", "warc_ts",
        F.lit(b"<html><body><p>tie breaker text</p></body></html>").alias("html"),
        F.lit("tie breaker text").alias("text"), "lang")
    return pages.unionByName(tie).withColumn(
        "region",
        F.when(F.col("row_id") % 9 == 4, F.lit(None).cast("string"))
        .when(F.col("row_id") % 9 == 5, F.lit(""))
        .when(F.col("lang") == "en", F.lit("en:US")).otherwise(F.col("lang")),
    )


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(_pages(spark), 4).cache()


def _read_sub(path: str):
    """A segment subdir's rows as a pyarrow Table, with `routing` from the
    hive directory names when the subdir is routed."""
    import pyarrow as pa

    tables = []
    for f in parquet_files([path]):
        t = pq.read_table(f, coerce_int96_timestamp_unit="us")
        d = os.path.basename(os.path.dirname(f))
        if d.startswith("routing="):
            t = t.append_column("routing", pa.array(
                [_unescape_hive(d[len("routing="):])] * t.num_rows, pa.string()))
        tables.append(t)
    return pa.concat_tables(tables)


def _rows(table) -> list[tuple]:
    return sorted((tuple(r.values()) for r in table.to_pylist()), key=repr)


def _contents(store, seg: str, codec: str) -> dict:
    """Everything the two build paths must agree on for one segment."""
    sp = store.segment_path(seg)
    out = {"stats": json.load(open(os.path.join(sp, "stats.json")))}
    blocks = _read_sub(os.path.join(sp, "postings"))
    ns = blocks.column("n").to_numpy()
    docs, tfs, dls = decode_posting_blocks_batch(
        *(blocks.column(c).to_pylist() for c in ("doc_bytes", "tf_bytes", "dl_bytes")),
        ns, codec=codec)
    routing = (np.repeat(np.array(blocks.column("routing").to_pylist(), dtype=object), ns)
               if "routing" in blocks.column_names else [None] * len(docs))
    out["postings"] = sorted(zip(
        routing, np.repeat(np.array(blocks.column("term").to_pylist(), dtype=object), ns),
        docs.tolist(), tfs.tolist(), dls.tolist()), key=repr)
    out["docs"] = _rows(_read_sub(os.path.join(sp, "docs")))
    for sub in ("postings", "docs", "positions"):
        files = parquet_files([os.path.join(sp, sub)])
        out[f"{sub}_dirs"] = sorted({os.path.relpath(os.path.dirname(f), sp) for f in files})
        out[f"{sub}_schema"] = [
            (c.path, c.physical_type, str(c.logical_type))
            for c in pq.ParquetFile(files[0]).schema] if files else None
    if os.path.isdir(os.path.join(sp, "positions")):
        pos = _read_sub(os.path.join(sp, "positions"))
        flat = decode_position_rows(pos.column("pos_blob").to_pylist(),
                                    pos.column("n_pos").to_numpy()).tolist()
        bounds = np.cumsum(pos.column("n_pos").to_numpy())
        out["positions"] = sorted(
            ((r.get("routing"), r["term"], r["doc_id"], tuple(flat[e - r["n_pos"]:e]))
             for r, e in zip(pos.to_pylist(), bounds)), key=repr)
    return out


def _ledger(store) -> list[tuple]:
    keep = ("batch_id", "n_docs", "n_failed")
    return [(e.entry_id, e.kind, e.segments_added, e.partition_offsets,
             {k: e.metrics.get(k) for k in keep}) for e in store.ledger_entries()]


def _build(spark, root, name, source, cfg, cap, monkeypatch):
    """Two ingest batches with DRIVER_BUILD_MAX_DOCS set to `cap`."""
    monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
    store = IndexStore(root, name, cfg=cfg).create()
    for _ in range(2):
        res = ingest_batch(spark, store, source, store.next_entry_id(),
                           store.committed_offsets(), 10, cfg)
        assert res.metrics["build_path"] == ("spark" if cap == 0 else "driver")
    monkeypatch.undo()
    return store


@pytest.mark.parametrize("codec,routed,positions,source_on", list(itertools.product(
    ("varint", "pfor"), (False, True), (False, True), (False, True))))
def test_driver_build_matches_spark_build(spark, source, tmp_path, monkeypatch,
                                          codec, routed, positions, source_on):
    cfg = IndexConfig(codec=codec, routing_col="region" if routed else None,
                      store_positions=positions, store_source=source_on)
    root = str(tmp_path)
    drv = _build(spark, root, "drv", source, cfg, cap=10_000, monkeypatch=monkeypatch)
    spk = _build(spark, root, "spk", source, cfg, cap=0, monkeypatch=monkeypatch)
    assert _ledger(drv) == _ledger(spk)
    segs = drv.live_segments()
    assert segs == spk.live_segments() and len(segs) == 2
    for seg in segs:
        want = _contents(spk, seg, codec)
        got = _contents(drv, seg, codec)
        assert got.keys() == want.keys()
        for k in want:
            assert got[k] == want[k], (seg, k)
    if routed:
        assert "postings/routing=en%3AUS" in want["postings_dirs"]
        assert "postings/routing=__HIVE_DEFAULT_PARTITION__" in want["postings_dirs"]
    q = os.path.join("quarantine", segs[0])
    assert _rows(_read_sub(os.path.join(drv.path, q))) == _rows(
        _read_sub(os.path.join(spk.path, q)))
    for terms in (TERMS, ["tie", "breaker"], ["engine"]):
        want = search_store(spark, spk, terms, k=100).collect()
        assert want
        assert search_store(spark, drv, terms, k=100).collect() == want
        reader = IndexReader(spark, drv)
        try:
            assert [tuple(r) for r in reader.search(terms, k=100).collect()] == [
                tuple(r) for r in want]
        finally:
            reader.close()


def _assert_same_segments(drv, spk, codec="varint"):
    assert _ledger(drv) == _ledger(spk)
    segs = drv.live_segments()
    assert segs == spk.live_segments()
    for seg in segs:
        want, got = _contents(spk, seg, codec), _contents(drv, seg, codec)
        assert got == want, seg


@pytest.mark.parametrize("kind", ["window_strategy", "update", "reindex", "fanout"])
def test_other_windows_match_spark_build(spark, source, tmp_path, monkeypatch, kind):
    """The windows the parity matrix leaves out build the same segments on
    the driver as with Spark: the "window" doc-id strategy (routed, with
    its rollup stats), and the pre-extracted windows of update_by_query
    (no n_tokens column), reindex and a two-index fanout (staged, with
    quarantine payloads)."""
    from engine.assign import RecordAssigner

    routed = kind in ("window_strategy", "fanout")
    cfg = IndexConfig(routing_col="region" if routed else None, store_source=True,
                      store_positions=True,
                      docid_strategy="window" if kind == "window_strategy" else "range")

    def build(cap, name):
        root = str(tmp_path / name)
        if kind == "fanout":
            monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
            res = fanout_process_window(
                spark, root, source.where(F.col("row_offset") < 10), 0,
                RecordAssigner(index_name=lambda df: F.when(
                    F.col("lang") == "en", "idx_en").otherwise("idx_other")), cfg)
            monkeypatch.undo()
            assert sorted(res) == discover_indexes(root) == ["idx_en", "idx_other"]
            return [IndexStore(root, n) for n in sorted(res)]
        store = _build(spark, root, "s", source, cfg,
                       cap if kind == "window_strategy" else 10_000, monkeypatch)
        monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        if kind == "update":
            res = update_by_query(spark, store, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
                                  batch_id=store.next_entry_id())
        elif kind == "reindex":
            dst = IndexStore(root, "dst", cfg=cfg).create()
            res = reindex(spark, store, dst, cfg=cfg)
            store = dst
        monkeypatch.undo()
        if kind != "window_strategy":
            assert res.metrics["build_path"] == ("spark" if cap == 0 else "driver")
        return [store]

    for drv, spk in zip(build(10_000, "drv"), build(0, "spk"), strict=True):
        _assert_same_segments(drv, spk)


def test_max_rows_bound_skips_the_collect(spark, source, tmp_path, monkeypatch):
    """A window whose caller bounds its rows (max_rows) past the cap
    reaches the Spark build with no Arrow collect; within the cap it is
    collected and built on the driver."""
    cfg = IndexConfig(store_source=True)
    store = IndexStore(str(tmp_path), "bound", cfg=cfg).create()
    collects = []
    to_arrow = type(source).toArrow
    monkeypatch.setattr(type(source), "toArrow",
                        lambda self: collects.append(1) or to_arrow(self))
    monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", 30)
    paths = []
    # bounds 4 x 10 = 40 rows, then 4 x 5 = 20, then an empty window past the cap
    for rows_per_partition in (10, 5, 10):
        res = ingest_batch(spark, store, source, store.next_entry_id(),
                           store.committed_offsets(), rows_per_partition, cfg,
                           max_rows=4 * rows_per_partition)
        paths.append(res and (res.metrics["build_path"], len(collects)))
    assert paths == [("spark", 0), ("driver", 1), ("spark", 1)]
    assert ingest_batch(spark, store, source, store.next_entry_id(),
                        store.committed_offsets(), 10, cfg, max_rows=40) is None
    assert len(collects) == 1


def test_unknown_docid_strategy_is_rejected_on_both_paths(spark, source, tmp_path, monkeypatch):
    store = IndexStore(str(tmp_path), "bad").create()
    for cap in (10_000, 0):
        monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        with pytest.raises(ValueError, match="unknown docid strategy"):
            ingest_batch(spark, store, source, 0, {}, 10, IndexConfig(docid_strategy="dense"))
    assert store.ledger_entries() == []


def test_mixed_store_reads_through_spark_and_duckdb(spark, source, tmp_path, monkeypatch):
    """A Spark-built segment and a driver-built one in one store read
    through _read_union (the footers' union schema) and through DuckDB."""
    import duckdb

    cfg = IndexConfig(routing_col="region", store_source=True)
    store = IndexStore(str(tmp_path), "mix", cfg=cfg).create()
    for cap in (0, 10_000):
        monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        ingest_batch(spark, store, source, store.next_entry_id(),
                     store.committed_offsets(), 10, cfg)
    paths = [e.metrics["build_path"] for e in store.ledger_entries()]
    assert paths == ["spark", "driver"]
    view = store.view()
    docs = view.docs(spark)
    assert dict(docs.dtypes)["warc_ts"] == "timestamp"
    assert dict(docs.dtypes)["part_id"] == "int"
    n_docs = sum(store.segment_stats(s)["n_docs"] for s in view.segments)
    assert docs.count() == n_docs
    assert docs.where(F.col("source").isNull()).count() == 0
    assert view.postings(spark).count() == sum(pq.read_metadata(f).num_rows for f in parquet_files(
        os.path.join(store.segment_path(s), "postings") for s in view.segments))
    files = parquet_files(os.path.join(store.segment_path(s), "docs") for s in view.segments)
    con = duckdb.connect()
    got = con.execute(
        "SELECT count(*), count(DISTINCT url), min(warc_ts), max(warc_ts) "
        "FROM read_parquet(?, union_by_name=true)", [files]).fetchone()
    want = docs.agg(F.count(F.lit(1)), F.countDistinct("url"),
                    F.min("warc_ts"), F.max("warc_ts")).first()
    assert got[:2] == (want[0], want[1])
    assert (got[2], got[3]) == (want[2].replace(tzinfo=None), want[3].replace(tzinfo=None))


def _jobs(spark, fn):
    """(ids of the Spark jobs `fn` ran, its result), the jobs tagged by a
    job group of their own."""
    sc = spark.sparkContext
    group = f"driver-build-pin-{next(_GROUPS)}"
    sc.setJobGroup(group, "driver build job-count pin")
    try:
        out = fn()
    finally:
        sc.setJobGroup("driver-build-pin-done", "after the pin")
    return sorted(sc.statusTracker().getJobIdsForGroup(group)), out


_GROUPS = itertools.count()


def test_job_counts_of_small_bulks(spark, tmp_path):
    cfg = IndexConfig(store_source=True)
    store = IndexStore(str(tmp_path), "jobs", cfg=cfg).create()
    src = as_partitioned_source(webpages(spark, N, partitions=3), 4)
    for _ in range(2):
        jobs, res = _jobs(spark, lambda: ingest_batch(
            spark, store, src, store.next_entry_id(), store.committed_offsets(), 10, cfg))
        assert len(jobs) == 1 and res.metrics["build_path"] == "driver"
    jobs, upd = _jobs(spark, lambda: update_by_query(
        spark, store, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
        batch_id=store.next_entry_id()))
    assert len(jobs) == 1 and upd.n_docs > 0
    jobs, n_del = _jobs(spark, lambda: delete_by_query(spark, store, ["index"]))
    assert jobs == [] and n_del > 0
    url = store.view().table("docs", ["url"]).column("url")[0].as_py()
    assert _jobs(spark, lambda: delete_by_ids(spark, store, [url])) == ([], 1)
    # superseded (the update) and tombstoned docs: the deleted set is
    # read on the driver at open and refresh
    jobs, reader = _jobs(spark, lambda: IndexReader(spark, store))
    try:
        assert jobs == []
        assert len(reader.deleted) >= upd.n_docs + n_del + 1
        assert _jobs(spark, reader.refresh) == ([], None)
    finally:
        reader.close()


def test_update_rewrites_every_match_across_segments(spark, tmp_path):
    """The matched docs are read from every segment's docs files, where
    segments without a match yield empty record batches between the
    others; every matched doc is rewritten."""
    from engine.analysis import py_tokenize
    from engine.updates import matched_ids

    cfg = IndexConfig(store_source=True)
    store = IndexStore(str(tmp_path), "upd", cfg=cfg).create()
    src = as_partitioned_source(webpages(spark, N, partitions=3), 4)
    for _ in range(3):
        ingest_batch(spark, store, src, store.next_entry_id(), store.committed_offsets(), 5, cfg)
    view = store.view()
    terms = [set().union(*map(py_tokenize, view.restrict([s]).table("docs", ["source"])
                              .column("source").to_pylist())) for s in view.segments]
    term = sorted((terms[0] & terms[2]) - terms[1])[0]
    want = matched_ids(spark, view, [term])
    res = update_by_query(spark, store, [term], lambda c: F.concat(c, F.lit(" zzupd")),
                          batch_id=store.next_entry_id())
    assert res.n_docs == len(want) > 1
    assert len(matched_ids(spark, store.view(), ["zzupd"])) == len(want)


def test_match_falls_back_to_the_distributed_plan(spark, tmp_path, monkeypatch):
    """Past GATHER_MAX_BLOCKS query blocks, or a deleted set past
    max_deleted_driver, the match runs the Spark plan, with the same ids."""
    import engine.query as query_mod
    from engine.updates import matched_ids

    cfg = IndexConfig(store_source=True)
    store = IndexStore(str(tmp_path), "fb", cfg=cfg).create()
    src = as_partitioned_source(webpages(spark, N, partitions=3), 4)
    for _ in range(2):
        ingest_batch(spark, store, src, store.next_entry_id(), store.committed_offsets(), 10, cfg)
    update_by_query(spark, store, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
                    batch_id=store.next_entry_id())
    assert delete_by_query(spark, store, ["cecepe"]) > 0
    view = store.view()
    small = IndexStore(str(tmp_path), "fb", cfg=IndexConfig(store_source=True, max_deleted_driver=0))
    deleted = view.deleted_doc_ids(spark, 10**6)
    assert len(deleted) and small.view().deleted_doc_ids(spark, 0) is None
    # past DELETED_DRIVER_MAX_DOCS the deleted set comes from the Spark anti-join
    monkeypatch.setattr(segments_mod, "DELETED_DRIVER_MAX_DOCS", 0)
    assert store.view().deleted_doc_ids(spark, 10**6) == deleted
    assert small.view().deleted_doc_ids(spark, 0) is None
    monkeypatch.undo()
    for conj in (False, True):
        want = matched_ids(spark, view, ["engine", "zzupd"], conj).tolist()
        assert want
        assert matched_ids(spark, small.view(), ["engine", "zzupd"], conj).tolist() == want
        monkeypatch.setattr(query_mod, "GATHER_MAX_BLOCKS", 0)
        assert matched_ids(spark, view, ["engine", "zzupd"], conj).tolist() == want
        monkeypatch.undo()


def test_fail_before_commit_then_rerun_overwrites_orphan(spark, source, tmp_path, monkeypatch):
    """A crash between the segment write and the commit leaves the ledger
    untouched; the re-run rebuilds the segment from scratch, here over a
    Spark-built orphan with more files."""
    cfg = IndexConfig(routing_col="region")
    store = IndexStore(str(tmp_path), "crash", cfg=cfg).create()
    monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", 0)
    res = ingest_batch(spark, store, source, 0, {}, 10, cfg, fail_before_commit=True)
    assert not res.committed and store.ledger_entries() == []
    seg = store.segment_path(res.segment_id)
    orphan = set(parquet_files([seg]))
    assert len(orphan) > 1
    monkeypatch.undo()
    res = ingest_batch(spark, store, source, 0, {}, 10, cfg, fail_before_commit=True)
    assert not res.committed and store.ledger_entries() == []
    res = ingest_batch(spark, store, source, 0, {}, 10, cfg)
    assert res.committed and res.metrics["build_path"] == "driver"
    files = set(parquet_files([seg]))
    assert not files & orphan
    assert {os.path.basename(f) for f in files} == {"part-00000.zstd.parquet"}
    assert store.view().docs(spark).count() == res.n_docs


@pytest.mark.parametrize("parts", [1, 3, 7])
def test_last_write_wins_tie_is_deterministic(spark, tmp_path, parts):
    """Two differing rows with one url and one warc_ts: the one later in
    the source (higher part_id, then row_offset) wins in both Spark dedup
    windows and on the driver, however the input is partitioned."""
    pages = as_partitioned_source(_pages(spark), 4).repartition(parts)
    ties = pages.where(F.col("url") == TIE_URL).collect()
    assert len(ties) == 2 and ties[0]["warc_ts"] == ties[1]["warc_ts"]
    win = max(ties, key=lambda r: (r["part_id"], r["row_offset"]))
    assert win["text"] == "tie breaker text"
    kept = dedup_last_write_wins(pages).where(F.col("url") == TIE_URL).collect()
    assert [r["text"] for r in kept] == [win["text"]]
    cleanup: list = []
    fused, _ = dedup_assign_ids_ranged(pages, num_partitions=parts, cleanup=cleanup)
    try:
        assert [r["text"] for r in fused.where(F.col("url") == TIE_URL).collect()] == [win["text"]]
    finally:
        for c in cleanup:
            c.unpersist()
    store = IndexStore(str(tmp_path), f"tie{parts}", cfg=IndexConfig(store_source=True)).create()
    res = process_window(spark, store, pages, 0, cfg=IndexConfig(store_source=True))
    assert res.metrics["build_path"] == "driver"
    src = store.view().table("docs", ["url", "source"]).to_pylist()
    assert [r["source"] for r in src if r["url"] == TIE_URL] == [win["text"]]
