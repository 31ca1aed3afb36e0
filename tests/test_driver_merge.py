"""Append-only merges on the driver (engine/merge.py _merge_on_driver):
parity with the Spark merge on every store shape, the Spark job counts of
each merge shape, crash and race safety of the driver path, and the
Parquet codec every store writer uses (PARQUET_CODEC), on stores that
still hold segments of another codec too."""

from __future__ import annotations

import itertools
import json
import os
import shutil
from dataclasses import asdict, replace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_driver_build import N, _contents, _jobs, _pages, _read_sub, _rows

import engine.ingest as ingest_mod
import engine.segments as segments_mod
from engine.config import IndexConfig
from engine.ingest import as_partitioned_source, ingest_batch
from engine.merge import merge_segments
from engine.query import IndexReader, bm25_topk_oracle_sql, search_store
from engine.segments import IndexStore, parquet_files
from engine.updates import delete_by_ids, delete_by_query, update_by_query
from engine.wand import search_store_wand

EXACT = [(["engine", "spark", "index"], 100), (["héllo"], 10), (["crawl", "page"], 5),
         (["zzqxnotaword"], 10)]
CASES = list(itertools.product(("varint", "pfor"), (False, True), (False, True), (False, True)))


@pytest.fixture(scope="module")
def source(spark):
    """The driver-build corpus (edge rows, `region` routing with an
    escaped value, nulls and empty strings) without its two rows that
    repeat a url, so no url repeats across ingest batches."""
    return as_partitioned_source(
        _pages(spark).where(~F.col("row_id").isin(5, N + 3)), 4).cache()


def _ingest(spark, store, source, cfg, batches, cap=10_000):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        for _ in range(batches):
            ingest_batch(spark, store, source, store.next_entry_id(),
                         store.committed_offsets(), 5, cfg)


def _merge(spark, store, cfg, cap) -> str:
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", cap)
        return merge_segments(spark, store, cfg=cfg)


def _copy(store, name, cfg=None) -> IndexStore:
    shutil.copytree(store.path, os.path.join(store.root, name))
    return IndexStore(store.root, name, cfg=cfg or store.cfg)


def _entries(store) -> list[dict]:
    out = []
    for e in store.ledger_entries():
        d = asdict(e)
        d["metrics"].pop("build_path", None)
        out.append(d)
    return out


def _strip(store, positions: bool, source_on: bool) -> None:
    """Turn a store ingested with positions and `_source` into the one an
    ingest without them writes: no positions sidecars, no `source` column
    in the docs files, and the flags off in `_meta.json`."""
    for seg in store.live_segments():
        sp = store.segment_path(seg)
        if not positions:
            shutil.rmtree(os.path.join(sp, "positions"))
        if not source_on:
            for f in parquet_files([os.path.join(sp, "docs")]):
                t = pq.read_table(f, coerce_int96_timestamp_unit="us")
                # without Spark's row metadata, which still names `source`
                pq.write_table(t.drop(["source"]).replace_schema_metadata(None), f,
                               use_deprecated_int96_timestamps=True)
                crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
                if os.path.exists(crc):  # Spark's checksum of the old bytes
                    os.remove(crc)
    meta = os.path.join(store.path, "_meta.json")
    with open(meta) as fh:
        m = json.load(fh)
    with open(meta, "w") as fh:
        json.dump({**m, "store_positions": positions, "store_source": source_on}, fh)


@pytest.fixture(scope="module")
def merged(spark, source, tmp_path_factory):
    """case -> (driver-merged store, Spark-merged store) over the same
    three input segments, built once per case for the module. The inputs
    are ingested once per codec x routing with positions and `_source`
    on; the other cases copy them and strip what they leave out. The pfor
    inputs' first segment is built by Spark, so the driver merge reads
    Spark-written files too."""
    bases, built = {}, {}

    def get(case):
        if case not in built:
            codec, routed, positions, source_on = case
            cfg = IndexConfig(codec=codec, routing_col="region" if routed else None,
                              store_positions=positions, store_source=source_on)
            if (codec, routed) not in bases:
                full = replace(cfg, store_positions=True, store_source=True)
                root = str(tmp_path_factory.mktemp(f"merge-{codec}-{routed}"))
                base = IndexStore(root, "base", cfg=full).create()
                _ingest(spark, base, source, full, 1, cap=0 if codec == "pfor" else 10_000)
                _ingest(spark, base, source, full, 2)
                assert len(base.live_segments()) == 3
                bases[codec, routed] = base
            drv = _copy(bases[codec, routed], f"drv-{positions}-{source_on}", cfg)
            _strip(drv, positions, source_on)
            spk = _copy(drv, f"spk-{positions}-{source_on}", cfg)
            assert _merge(spark, spk, cfg, cap=0) == _merge(spark, drv, cfg, cap=10_000)
            built[case] = (drv, spk)
        return built[case]

    return get


@pytest.mark.parametrize("case", CASES, ids=lambda c: "-".join(map(str, c)))
def test_driver_merge_matches_spark_merge(spark, merged, case):
    codec, routed = case[0], case[1]
    drv, spk = merged(case)
    assert _entries(drv) == _entries(spk)
    assert [e.metrics["build_path"] for e in (drv.ledger_entries()[-1], spk.ledger_entries()[-1])
            ] == ["driver", "spark"]
    (seg,) = drv.live_segments()
    assert spk.live_segments() == [seg]
    want, got = _contents(spk, seg, codec), _contents(drv, seg, codec)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], k
    assert want["postings"] and ("positions" in want) == case[2]
    if routed:
        assert "postings/routing=en%3AUS" in want["postings_dirs"]
        assert "postings/routing=__HIVE_DEFAULT_PARTITION__" in want["postings_dirs"]
    term_stats = [_rows(_read_sub(os.path.join(s.segment_path(seg), "term_stats")))
                  for s in (drv, spk)]
    assert term_stats[0] == term_stats[1] and term_stats[0]
    # the ranged layout: one term-sorted postings file per routing value
    for d in want["postings_dirs"]:
        (f,) = parquet_files([os.path.join(drv.segment_path(seg), d)])
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms)


@pytest.mark.parametrize("case", CASES, ids=lambda c: "-".join(map(str, c)))
def test_driver_merged_store_searches_like_spark_merged(spark, merged, case):
    drv, spk = merged(case)
    readers = [IndexReader(spark, s) for s in (drv, spk)]
    try:
        for terms, k in EXACT:
            got, want = (r.search(terms, k=k).collect() for r in readers)
            assert got == want, terms
            assert bool(want) == ("zzqxnotaword" not in terms)
            got, want = (r.search_wand(terms, k=k).collect() for r in readers)
            assert got == want, terms
    finally:
        for r in readers:
            r.close()
    routing = "en:US" if case[1] else None
    got, want = (search_store(spark, s, EXACT[0][0], k=20, routing=routing).collect()
                 for s in (drv, spk))
    assert got == want and want


def test_job_counts_of_merge_shapes(spark, source, tmp_path):
    """An append-only merge within the caps runs no Spark job; a merge
    with a tombstone, with a superseded url, past the doc cap or past the
    postings bound runs the Spark plan."""
    cfg = IndexConfig(store_source=True)
    base = IndexStore(str(tmp_path), "jobs", cfg=cfg).create()
    _ingest(spark, base, source, cfg, 2)

    append = _copy(base, "append")
    jobs, out = _jobs(spark, lambda: merge_segments(spark, append, cfg=cfg))
    assert jobs == [] and append.live_segments() == [out]

    tomb = _copy(base, "tomb")
    url = tomb.view().table("docs", ["url"]).column("url")[0].as_py()
    assert delete_by_ids(spark, tomb, [url]) == 1
    superseded = _copy(base, "superseded")
    assert update_by_query(spark, superseded, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
                           batch_id=superseded.next_entry_id()).n_docs > 0
    long = replace(cfg, postings_per_merge_partition=1)
    for store, cap, c in ((tomb, 10_000, cfg), (superseded, 10_000, cfg),
                          (_copy(base, "big"), 0, cfg), (_copy(base, "long"), 10_000, long)):
        jobs, _ = _jobs(spark, lambda: _merge(spark, store, c, cap))
        assert jobs and store.ledger_entries()[-1].metrics["build_path"] == "spark"
    assert url not in set(tomb.view().table("docs", ["url"]).column("url").to_pylist())


def test_crashed_driver_merge_keeps_inputs_and_retry_converges(spark, source, tmp_path,
                                                                monkeypatch):
    """A crash at the merge's commit leaves its inputs live; the retry
    overwrites the orphan output (here a Spark-written one, with more
    files) and gives the segment an uninterrupted merge gives."""
    cfg = IndexConfig(routing_col="region", store_positions=True)
    store = IndexStore(str(tmp_path), "crash", cfg=cfg).create()
    _ingest(spark, store, source, cfg, 3)
    ref = _copy(store, "ref")
    seg = _merge(spark, ref, cfg, 10_000)
    before = store.ledger_entries()
    real = IndexStore.commit

    def crash(self, entry):
        if entry.kind == "merge":
            raise OSError("crash before the merge commit")
        return real(self, entry)

    monkeypatch.setattr(IndexStore, "commit", crash)
    for cap in (0, 10_000):
        with pytest.raises(OSError, match="crash before"):
            _merge(spark, store, cfg, cap)
        assert store.ledger_entries() == before
        assert store.live_segments() == [s for e in before for s in e.segments_added]
        if cap == 0:
            orphan = set(parquet_files([store.segment_path(seg)]))
            assert any(os.path.basename(f) != "part-00000.zstd.parquet" for f in orphan)
    monkeypatch.undo()
    assert _merge(spark, store, cfg, 10_000) == seg
    assert not set(parquet_files([store.segment_path(seg)])) & orphan
    assert _entries(store) == _entries(ref)
    assert _contents(store, seg, "varint") == _contents(ref, seg, "varint")


def test_commit_during_driver_merge_fails_the_merge(spark, source, tmp_path, monkeypatch):
    """A commit that lands between the merge's view and its commit takes
    the merge's entry id: the merge fails, its inputs stay live, and the
    retry (now expunging the tombstone) drops the deleted doc."""
    cfg = IndexConfig()
    store = IndexStore(str(tmp_path), "race", cfg=cfg).create()
    _ingest(spark, store, source, cfg, 2)
    inputs = store.live_segments()
    url = store.view().table("docs", ["url"]).column("url")[0].as_py()
    real = IndexStore.write_segment_tables

    def write_then_delete(self, *args, **kwargs):
        real(self, *args, **kwargs)
        assert delete_by_ids(spark, store, [url]) == 1

    monkeypatch.setattr(IndexStore, "write_segment_tables", write_then_delete)
    with pytest.raises(RuntimeError, match="already committed"):
        merge_segments(spark, store, cfg=cfg)
    monkeypatch.undo()
    assert [e.kind for e in store.ledger_entries()] == ["ingest", "ingest", "delete"]
    assert store.live_segments() == inputs
    out = merge_segments(spark, store, cfg=cfg)
    assert store.ledger_entries()[-1].metrics["build_path"] == "spark"
    assert store.live_segments() == [out]
    urls = store.view().table("docs", ["url"]).column("url").to_pylist()
    assert url not in urls and len(urls) == store.global_stats()["n_docs"]


def _codecs(*dirs) -> dict[str, set[str]]:
    """Parquet file under `dirs` -> the codecs of its column chunks."""
    out = {}
    for f in parquet_files(dirs):
        md = pq.ParquetFile(f).metadata
        out[f] = {md.row_group(i).column(j).compression
                  for i in range(md.num_row_groups) for j in range(md.num_columns)}
    return out


@pytest.mark.parametrize("routed", [False, True], ids=["unrouted", "routed"])
def test_every_store_writer_writes_zstd(spark, source, tmp_path, routed):
    """Driver and Spark ingests (with their quarantine rows), an update, a
    delete, a driver (append-only) merge and a Spark (expunge) merge on a
    store with positions and `_source`: every Parquet file under the store
    has zstd pages only. The update reads the Spark-written segment on the
    driver, which takes term-sorted row groups."""
    cfg = IndexConfig(routing_col="region" if routed else None, store_positions=True,
                      store_source=True)
    store = IndexStore(str(tmp_path), "zstd", cfg=cfg).create()
    _ingest(spark, store, source, cfg, 2)
    _merge(spark, store, cfg, 10_000)
    _ingest(spark, store, source, cfg, 1, cap=0)
    assert update_by_query(spark, store, ["spark"], lambda c: F.concat(c, F.lit(" zzupd")),
                           batch_id=store.next_entry_id()).n_docs > 0
    assert delete_by_query(spark, store, ["engine"]) > 0
    _merge(spark, store, cfg, 10_000)
    assert [(e.kind, e.metrics.get("build_path")) for e in store.ledger_entries()] == [
        ("ingest", "driver"), ("ingest", "driver"), ("merge", "driver"), ("ingest", "spark"),
        ("ingest", "driver"), ("delete", None), ("merge", "spark")]
    codecs = _codecs(store.path)
    rel = [os.path.relpath(f, store.path).split(os.sep) for f in codecs]
    assert {p[2] if p[0] == "segments" else p[0] for p in rel} == {
        "postings", "docs", "positions", "term_stats", "deletes", "quarantine"}
    assert {c for cs in codecs.values() for c in cs} == {"ZSTD"}
    assert all(f.endswith(".zstd.parquet") for f in codecs)
    # every postings file is sorted by term, also the Spark-written one of
    # the directory that "" and null routing values share
    for f, p in zip(codecs, rel):
        if p[0] == "segments" and p[2] == "postings":
            terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f


def test_store_with_a_snappy_segment_reads_and_merges_as_zstd(spark, source, tmp_path):
    """A store whose first two segments (one Spark-written, one
    driver-written) have snappy pages, as a store written before the codec
    changed does, answers every read path as its all-zstd twin does, and
    both merge paths rewrite it to zstd with the same contents."""
    cfg = IndexConfig(store_positions=True, store_source=True)
    mixed, twin = (IndexStore(str(tmp_path), n, cfg=cfg).create() for n in ("mixed", "twin"))
    for store in (mixed, twin):
        with pytest.MonkeyPatch.context() as mp:
            if store is mixed:
                mp.setattr(segments_mod, "PARQUET_CODEC", "snappy")
                mp.setattr(segments_mod, "PARQUET_CODEC_LEVEL", None)
            _ingest(spark, store, source, cfg, 1, cap=0)
            _ingest(spark, store, source, cfg, 1)
        _ingest(spark, store, source, cfg, 1)
    segs = mixed.live_segments()
    assert [set().union(*_codecs(mixed.segment_path(s)).values()) for s in segs] == [
        {"SNAPPY"}, {"SNAPPY"}, {"ZSTD"}]
    assert [e.metrics["build_path"] for e in mixed.ledger_entries()] == [
        "spark", "driver", "driver"]

    import duckdb

    def oracle(store, terms, k):
        files = parquet_files(os.path.join(store.segment_path(s), "docs")
                              for s in store.live_segments())
        table = f"read_parquet({files!r}, union_by_name=true)"
        return duckdb.connect().execute(
            bm25_topk_oracle_sql(terms, k=k, table=table, text_col="source")).fetchall()

    readers = [IndexReader(spark, s) for s in (mixed, twin)]
    try:
        for terms, k in EXACT:
            for run in (lambda r: r.search(terms, k=k), lambda r: r.search_wand(terms, k=k)):
                got, want = (run(r).collect() for r in readers)
                assert got == want, terms
            for plan in (search_store, search_store_wand):
                got, want = (plan(spark, s, terms, k=k).collect() for s in (mixed, twin))
                assert got == want, (plan.__name__, terms)
            got, want = (oracle(s, terms, k) for s in (mixed, twin))
            assert got == want and bool(want) == ("zzqxnotaword" not in terms), terms
    finally:
        for r in readers:
            r.close()

    for cap in (0, 10_000):
        m, t = (_copy(s, f"{s.name}-{cap}") for s in (mixed, twin))
        seg = _merge(spark, m, cfg, cap)
        assert _merge(spark, t, cfg, cap) == seg
        assert m.ledger_entries()[-1].metrics["build_path"] == ("spark" if cap == 0 else "driver")
        assert set().union(*_codecs(m.segment_path(seg)).values()) == {"ZSTD"}
        assert _contents(m, seg, "varint") == _contents(t, seg, "varint")
