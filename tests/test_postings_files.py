"""PostingsFiles, the driver-side postings reader behind every IndexReader
search, df lookup and match: the same rows in the same order as a
pyarrow.dataset scan with an `is_in` filter (the oracle, used only here)
on every store shape and on files no engine writer makes, the byte-bounded
row-group cache (eviction, concurrent readers, repeat reads from memory),
and the row-group counts search_wand reports."""

from __future__ import annotations

import itertools
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import engine.ingest as ingest_mod
import engine.segments as segments_mod
from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import as_partitioned_source, ingest_batch
from engine.query import IndexReader
from engine.segments import IndexStore, PostingsFiles, parquet_files

GATHER = ("term", "n", "doc_bytes", "tf_bytes", "dl_bytes")
ABSENT = "zzqxnotaword"


def _oracle(paths, terms, columns, limit=None):
    scanner = ds.dataset(paths, format="parquet").scanner(
        columns=list(columns),
        filter=pc.field("term").isin(pa.array(sorted(set(terms)), pa.string())))
    return scanner.to_table() if limit is None else scanner.head(limit)


def _check(pf, paths, terms, columns=GATHER, limit=None):
    got = pf.read(terms, columns, limit)
    assert all(c.num_chunks == 1 for c in got.columns)
    want = _oracle(paths, terms, columns, limit)
    assert got.column_names == list(columns)
    assert got.equals(want.combine_chunks()), (terms, columns, limit)
    return got


def _term_sets(paths) -> list[list[str]]:
    """Term sets that cover the store: the term with the most blocks, the
    first and last term of every row group (row-group edges), a seeded
    sample, an absent term alone and mixed in, and every term at once."""
    terms = pa.concat_arrays([pq.read_table(p, columns=["term"]).column("term").combine_chunks()
                              for p in paths])
    counts = pc.value_counts(terms)
    hot = counts.field("values")[int(np.argmax(counts.field("counts").to_numpy()))].as_py()
    vocab = sorted(set(terms.to_pylist()))
    edges = []
    for p in paths:
        md = pq.read_metadata(p)
        col = md.schema.names.index("term")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            edges += [st.min, st.max]
    rng = np.random.default_rng(8)
    sample = [list(rng.choice(vocab, size=k, replace=False)) for k in (1, 2, 3, 5)]
    return [[hot], edges, [ABSENT], [hot, ABSENT], vocab] + sample


def _pages(spark):
    return webpages(spark, 60, partitions=3).withColumn(
        "region", F.when(F.col("row_id") % 3 == 0, F.lit("eu")).otherwise(F.lit("us:west")))


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(_pages(spark), 3).cache()


# (codec, build path of each of the two batches, routed)
SHAPES = [
    ("varint", ("driver", "driver"), False),
    ("varint", ("spark", "spark"), False),
    ("pfor", ("driver", "driver"), False),
    ("pfor", ("spark", "spark"), False),
    ("varint", ("spark", "driver"), False),
    ("varint", ("spark", "spark"), True),
    ("pfor", ("driver", "driver"), True),
]


@pytest.fixture(scope="module")
def stores(spark, source, tmp_path_factory):
    """Each shape's postings files, two ingest batches each, written with
    small row groups so that every file has several."""
    root = str(tmp_path_factory.mktemp("postings_files"))
    out = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(segments_mod, "POSTINGS_ROW_GROUP_BYTES", 1024)
        for n, (codec, paths, routed) in enumerate(SHAPES):
            cfg = IndexConfig(codec=codec, routing_col="region" if routed else None)
            store = IndexStore(root, f"s{n}", cfg=cfg).create()
            for path in paths:
                m.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", 0 if path == "spark" else 10**6)
                res = ingest_batch(spark, store, source, store.next_entry_id(),
                                   store.committed_offsets(), 10, cfg)
                assert res.metrics["build_path"] == path
            out[SHAPES[n]] = parquet_files(
                os.path.join(store.segment_path(s), "postings") for s in store.view().segments)
    return out


@pytest.mark.parametrize("shape", SHAPES, ids=lambda s: f"{s[0]}-{'+'.join(s[1])}"
                         + ("-routed" if s[2] else ""))
def test_reads_equal_a_dataset_scan(stores, shape):
    paths = stores[shape]
    md = [pq.read_metadata(p) for p in paths]
    assert sum(m.num_row_groups for m in md) > len(paths)  # several row groups a file
    if shape[2]:
        assert len(paths) > 2  # one file (or more) per routing value and segment
    pf = PostingsFiles(paths)
    sets = _term_sets(paths)
    for _ in range(2):  # the second pass reads every row group from memory
        for terms in sets:
            _check(pf, paths, terms)
            # columns without `term`, as matched_ids reads them
            _check(pf, paths, terms, ("n", "doc_bytes"))
    hot, everything = sets[0], sets[4]
    for limit in (0, 1, 3, 10**6):
        _check(pf, paths, hot, limit=limit)
        _check(pf, paths, everything, ("term", "n"), limit=limit)
    empty = _check(pf, paths, [])
    assert empty.num_rows == 0 and empty.schema == _oracle(paths, [], GATHER).schema


def _write(path, terms, **kw):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = len(terms)
    pq.write_table(pa.table({
        "term": pa.array(terms, pa.string()),
        "n": pa.array(range(n), pa.int32()),
        "doc_bytes": pa.array([bytes([i % 256]) * (i % 5 + 1) for i in range(n)], pa.binary()),
    }), path, row_group_size=3, **kw)


def test_files_no_writer_makes(tmp_path):
    """A file without statistics (every row group read), terms holding a
    NUL byte (which numpy's str dtype strips) and a query term longer than
    any term of a row group read like a scan; a row group not sorted by
    term, which no writer makes, fails the read instead of missing rows."""
    unsorted = ["b", "a", "c", "a", "b", "b", "ab", "a", "abc", "c"]
    srt = sorted(unsorted)
    files = {
        "sorted": [str(tmp_path / "s" / "part-0.parquet")],
        "no_stats": [str(tmp_path / "ns" / "part-0.parquet")],
        "nul": [str(tmp_path / "nul" / "part-0.parquet")],
        "two": [str(tmp_path / "t" / "part-0.parquet"), str(tmp_path / "t" / "part-1.parquet")],
    }
    _write(files["sorted"][0], srt)
    _write(files["no_stats"][0], srt, write_statistics=False)
    _write(files["nul"][0], ["a", "a", "a\0", "a\0b", "ab", "ab", "b"])
    _write(files["two"][0], srt)
    _write(files["two"][1], ["a", "a\0", "b", "ba", "c", "cc", "cc"])
    sets = [["a"], ["b", "c"], ["ab", "abc"], ["abcdefgh"], ["a\0"], ["a", "a\0b"],
            ["zz", "a"], [], unsorted]
    for name, paths in files.items():
        pf = PostingsFiles(paths)
        for _ in range(2):
            for terms, limit in itertools.product(sets, (None, 2)):
                _check(pf, paths, terms, ("term", "n", "doc_bytes"), limit)
                _check(pf, paths, terms, ("n",), limit)
    for kw in ({}, {"write_statistics": False}):
        path = str(tmp_path / f"u{len(kw)}" / "part-0.parquet")
        _write(path, unsorted, **kw)  # the first row group, b a c, is not sorted
        with pytest.raises(ValueError, match="not sorted by term"):
            PostingsFiles([path]).read(["a"], ("n",))


def test_a_long_term_costs_the_cache_only_its_bytes(tmp_path):
    """A tokenizer run with no break (a hash, a long CJK run) is one long
    term. A row group whose min or max term is past the writer's 4 KB
    statistics limit is still found, and the cache charges it for its
    decoded columns and terms, not its row count times its longest
    term."""
    path = str(tmp_path / "long" / "part-0.parquet")
    first, last = "a" * 100_000, "x" * 100_000
    terms = sorted([f"t{i:05d}" for i in range(5_000)] + [first, last])
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"term": terms, "n": pa.array(range(len(terms)), pa.int32())}),
                   path, row_group_size=len(terms) // 2)
    # past 4 KB the writer keeps no bound, and it reads back as ""
    md = pq.read_metadata(path)
    lo, hi = (md.row_group(i).column(0).statistics for i in (0, 1))
    assert lo.has_min_max and lo.min == "" and hi.has_min_max and hi.max == ""
    pf = PostingsFiles([path])
    for q in (["t00007", last], [last], [first], ["t04999"], [ABSENT], [first, last]):
        _check(pf, [path], q, ("term", "n"))
    # the columns plus one str a row: here, where every term is short and
    # the other column small, about three times the columns. Padded to the
    # longest term, the terms alone would take 5,002 x 100 KB
    decoded = pq.read_table(path).nbytes
    assert len(pf._cache) == 2 and pf._cached_bytes < 4 * decoded


def _count_disk_reads(monkeypatch) -> list:
    calls = []
    real = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups",
                        lambda self, ids, *a, **kw: calls.extend(ids) or real(self, ids, *a, **kw))
    return calls


def test_repeat_read_reads_no_row_group_from_disk(stores, monkeypatch):
    paths = stores[SHAPES[1]]
    terms = _term_sets(paths)[1]  # every row group's edge terms: every row group
    calls = _count_disk_reads(monkeypatch)
    pf = PostingsFiles(paths)
    st: dict = {}
    first = pf.read(terms, ("term", "n"), stats_out=st)
    n_rg = sum(pq.read_metadata(p).num_row_groups for p in paths)
    assert st == {"row_groups_read": n_rg, "row_groups_cached": 0}
    assert len(calls) == n_rg
    # a later read of more columns reads only the columns it lacks
    wider = pf.read(terms, GATHER, stats_out=st)
    assert st == {"row_groups_read": n_rg, "row_groups_cached": 0}
    assert wider.select(["term", "n"]).equals(first)
    calls.clear()
    for cols in (GATHER, ("term", "n"), ("doc_bytes",)):
        again = pf.read(terms, cols, stats_out=st)
        assert st == {"row_groups_read": 0, "row_groups_cached": n_rg}
        assert again.equals(wider.select(list(cols)))
    assert calls == []


def test_eviction_keeps_the_cache_within_its_budget(stores, monkeypatch):
    paths = stores[SHAPES[0]]
    sets = _term_sets(paths)
    full = PostingsFiles(paths)
    full.read(sets[4], GATHER)  # every term: every row group
    sizes = sorted(rg.nbytes for rg in full._cache.values())
    assert len(sizes) > 2
    budget = sizes[-1] + sizes[-2] - 1  # holds the largest row group, never the two largest
    monkeypatch.setattr(segments_mod, "POSTINGS_CACHE_BYTES", budget)
    pf = PostingsFiles(paths)
    for terms in sets * 2:
        _check(pf, paths, terms)
        assert pf._cached_bytes == sum(rg.nbytes for rg in pf._cache.values()) <= budget
    # least recently used goes first: after a read of every row group in
    # order, the first one is evicted and a read of its first term reads it
    _check(pf, paths, sets[4])
    assert 0 not in pf._cache
    st: dict = {}
    pf.read([pf._lo[0]], ("n",), stats_out=st)
    assert st["row_groups_read"] >= 1 and 0 in pf._cache
    # a zero budget keeps nothing, and every read is from disk
    monkeypatch.setattr(segments_mod, "POSTINGS_CACHE_BYTES", 0)
    pf = PostingsFiles(paths)
    for _ in range(2):
        _check(pf, paths, sets[0])
        pf.read(sets[0], GATHER, stats_out=st)
        assert st["row_groups_cached"] == 0 and st["row_groups_read"] >= 1
        assert not pf._cache and pf._cached_bytes == 0


@pytest.mark.parametrize("budget", ["default", "tiny"])
def test_concurrent_readers_get_the_sequential_rows(stores, monkeypatch, budget):
    paths = stores[SHAPES[5]]  # routed: many files
    sets = _term_sets(paths)
    want = [_oracle(paths, t, GATHER).combine_chunks() for t in sets]
    if budget == "tiny":
        monkeypatch.setattr(segments_mod, "POSTINGS_CACHE_BYTES", 4096)
    pf = PostingsFiles(paths)
    jobs = [i % len(sets) for i in range(8 * 12)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, to expose a lost update
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda i: pf.read(sets[i], GATHER), jobs, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert all(g.equals(want[i]) for g, i in zip(got, jobs))
    assert pf._cached_bytes == sum(rg.nbytes for rg in pf._cache.values())
    assert pf._cached_bytes <= segments_mod.POSTINGS_CACHE_BYTES


def test_search_wand_reports_row_groups_read_and_cached(spark, source, tmp_path):
    store = IndexStore(str(tmp_path), "rg").create()
    ingest_batch(spark, store, source, 0, {}, 10)
    reader = IndexReader(spark, store)
    try:
        terms = ["engine", "spark"]
        cold: dict = {}
        hits = reader.search_wand(terms, k=10, stats_out=cold).collect()
        assert cold["row_groups_read"] >= 1 and cold["row_groups_cached"] == 0
        warm: dict = {}
        assert reader.search_wand(terms, k=10, stats_out=warm).collect() == hits
        assert warm["row_groups_read"] == 0
        assert warm["row_groups_cached"] == cold["row_groups_read"]
        # a refresh takes a new view, with its own (empty) cache
        reader.refresh()
        again: dict = {}
        assert reader.search_wand(terms, k=10, stats_out=again).collect() == hits
        assert again["row_groups_read"] == cold["row_groups_read"]
    finally:
        reader.close()
