"""IndexReader's driver path (each term read once from the pinned
segments' postings files, scored in numpy on the driver and kept in the
view's term memo): rank identity with the distributed search_store /
search_store_wand plans, cold and from the memo, the memo's reads, bound
and lifetime, the zero-job pin, df_for_terms, the pinned ledger state, the
fallbacks, and stats_out from the same execution, and the driver-side
`Hits` every reader search returns, and the driver scorer's summation
order and top-k cut against brute-force references."""

from __future__ import annotations

import itertools
import json
import math
import os
import pickle
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import engine.query as query_mod
import engine.segments as segments_mod
from engine.config import SCORE_DECIMALS, IndexConfig
from engine.corpus import webpages
from engine.fuzzy import search_store_fuzzy
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.positions import search_store_phrase
from engine.query import Hits, IndexReader, search_store, spark_round, topk_rounded
from engine.segments import IndexStore
from engine.updates import delete_by_ids
from engine.wand import search_store_wand

# (query terms, kwargs) — disjunctive, duplicate terms, absent term, bool
# clauses, k from 0 to 500 (larger than any hit count here)
EXACT_CASES = [
    (["engine", "spark"], {"k": 10}),
    (["engine", "engine", "spark"], {"k": 7}),
    (["engine", "spark"], {"k": 0}),
    (["crawl"], {"k": 500}),
    (["crawl"], {"k": 1}),
    (["zzqxnotaword"], {"k": 10}),
    (["engine", "zzqxnotaword"], {"k": 10}),
    (["index", "rank", "page"], {"k": 10, "conjunctive": True}),
    (["index", "rank", "page"], {"k": 1, "conjunctive": True}),
    (["index", "rank", "zzqxnotaword"], {"k": 100, "conjunctive": True}),
    (["index", "rank", "page", "spark"], {"k": 10, "min_should_match": 2}),
    (["index", "rank", "page", "zzqxnotaword"], {"k": 100, "min_should_match": 2}),
    (["engine", "spark", "index"], {"k": 10, "must_not_terms": ["crawl"]}),
    (["engine", "spark"], {"k": 500, "must_not_terms": ["spark"]}),
    (["page", "crawl"], {"k": 100, "must_not_terms": ["zzqxnotaword", "rank"]}),
    (["index", "spark", "page"], {"k": 1, "min_should_match": 2,
                                  "must_not_terms": ["engine"]}),
]
WAND_CASES = [
    (["engine", "spark"], 10),
    (["engine", "engine"], 5),
    (["engine", "spark"], 0),
    (["crawl"], 500),
    (["zzqxnotaword"], 10),
    (["index", "rank", "page"], 1),
    (["page", "rank", "zzqxnotaword"], 100),
]
# phrase and fuzzy searches, one of each matching nothing
PHRASE_CASES = [(["index", "spark"], 10), (["merge", "index"], 500),
                (["zzqxnotaword", "index"], 10)]
FUZZY_CASES = [("sprk", 10), ("qqqqqq", 10)]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _hit_rows(hits):
    """A reader result's rows, checked to be driver rows of Python int /
    float fields that json.dumps takes (as jobs/run_queries.py prints
    them), so a leaked numpy scalar fails."""
    assert isinstance(hits, Hits) and hits.columns == ["doc_id", "score"]
    rows = hits.collect()
    assert hits.count() == len(rows)
    assert all(isinstance(r, Row) and type(r.doc_id) is int and type(r.score) is float
               for r in rows), rows
    assert json.loads(json.dumps(rows)) == [[d, s] for d, s in rows]
    return rows


def _build(spark, root, codec, merged, routing_col=None):
    """A multi-segment store whose first copies are superseded (the source
    is ingested twice), or that store merged into one segment. With
    `routing_col`, segments are hive-partitioned into routing= dirs."""
    cfg = IndexConfig(codec=codec, routing_col=routing_col, store_positions=True)
    store = IndexStore(root, "rd", cfg=cfg).create()
    src = as_partitioned_source(webpages(spark, 120, partitions=2), 2)
    for _ in range(2):
        run_ingest_loop(spark, store, src, rows_per_partition=30,
                        start_option=EARLIEST, cfg=cfg)
    if merged:
        merge_segments(spark, store, cfg=cfg)
    return store


@pytest.fixture(scope="module", params=list(itertools.product(
    ("varint", "pfor"), ("merged", "superseded", "routed", "tombstoned"))),
    ids=lambda p: "-".join(p))
def store(request, spark, tmp_path_factory):
    """The store shapes every rank-identity test runs on; "tombstoned" is
    the superseded store with every 7th url deleted by id."""
    codec, shape = request.param
    root = str(tmp_path_factory.mktemp(f"rd-{codec}-{shape}"))
    st = _build(spark, root, codec, merged=shape == "merged",
                routing_col="lang" if shape == "routed" else None)
    if shape == "tombstoned":
        urls = sorted({r["url"] for r in st.docs(spark).select("url").collect()})
        assert delete_by_ids(spark, st, urls[::7]) > 0
        assert len(st.view().tombstoned_ids)
    if shape == "merged":
        assert len(st.live_segments()) == 1
    else:
        assert len(st.live_segments()) > 1
    if shape == "routed":
        seg = os.path.join(st.segment_path(st.live_segments()[0]), "postings")
        assert any(d.startswith("routing=") for d in os.listdir(seg))
    return st


def test_reader_exact_matches_search_store(spark, store):
    reader = IndexReader(spark, store)
    try:
        if len(store.live_segments()) > 1:
            assert reader.deleted and not reader._deleted_overflow
        assert set(store.view().tombstoned_ids.tolist()) <= reader.deleted
        wants = [search_store(spark, store, terms, **kw).collect() for terms, kw in EXACT_CASES]
        # the first pass scores each case from a memo that lacks some of
        # its terms (misses and hits mixed), the second from the memo alone
        for _ in range(2):
            for (terms, kw), want in zip(EXACT_CASES, wants):
                assert _hit_rows(reader.search(terms, **kw)) == want, (terms, kw)
        for phrase, k in PHRASE_CASES:
            want = search_store_phrase(spark, store, phrase, k=k).collect()
            assert _hit_rows(reader.search_phrase(phrase, k=k)) == want, phrase
            assert bool(want) == ("zzqxnotaword" not in phrase)
        for term, k in FUZZY_CASES:
            want = search_store_fuzzy(spark, store, term, k=k).collect()
            assert _hit_rows(reader.search_fuzzy(term, k=k)) == want, term
            assert bool(want) == (term != "qqqqqq")
    finally:
        reader.close()


def test_reader_wand_matches_search_store_wand(spark, store):
    reader = IndexReader(spark, store)
    try:
        wants = [search_store_wand(spark, store, terms, k=k).collect() for terms, k in WAND_CASES]
        for (terms, k), want in zip(WAND_CASES, wants):
            assert want == search_store(spark, store, terms, k=k).collect()
        for _ in range(2):  # misses and hits, then the memo alone
            for (terms, k), want in zip(WAND_CASES, wants):
                assert _hit_rows(reader.search_wand(terms, k=k)) == want, (terms, k)
                got = _hit_rows(reader.search_wand(terms, k=k, strategy="auto"))
                assert got == want, (terms, k)
    finally:
        reader.close()


def test_memoized_search_reads_and_decodes_nothing(spark, store, monkeypatch):
    """A search whose terms earlier searches of the view scored makes no
    PostingsFiles.read and no decode: it scores from the term memo. A term
    the memo lacks is read, decoded and scored once, alone."""
    reader = IndexReader(spark, store)
    terms = ["engine", "index", "spark", "zzqxnotaword"]
    calls = [
        lambda: reader.search(terms, k=10),
        lambda: reader.search(terms[:2], k=3, must_not_terms=["spark"]),
        lambda: reader.search(terms, k=100, min_should_match=2),
        lambda: reader.search(terms[1:3], k=10, conjunctive=True),
        lambda: reader.search_wand(["spark", "engine"], k=10),
    ]
    try:
        reader.search(terms, k=1)
        want = [_hit_rows(fn()) for fn in calls]
        reads, decodes = [], []
        read = segments_mod.PostingsFiles.read
        monkeypatch.setattr(segments_mod.PostingsFiles, "read",
                            lambda self, *a, **kw: reads.append(a[0]) or read(self, *a, **kw))
        decode = query_mod.decode_posting_blocks_batch
        monkeypatch.setattr(query_mod, "decode_posting_blocks_batch",
                            lambda *a, **kw: decodes.append(1) or decode(*a, **kw))
        assert [_hit_rows(fn()) for fn in calls] == want
        assert reads == [] and decodes == []
        got = _hit_rows(reader.search(["crawl", "engine"], k=10))
        assert reads == [["crawl"]] and decodes == [1]
        assert got == search_store(spark, store, ["crawl", "engine"], k=10).collect()
    finally:
        reader.close()


def test_term_memo_stays_within_its_bound(spark, store, monkeypatch):
    """The memo is an LRU of at most POSTINGS_CACHE_BYTES; evicting an
    entry, or not keeping one past the bound, changes no result."""
    full = IndexReader(spark, store)
    try:
        want = [_rows(full.search(terms, **kw)) for terms, kw in EXACT_CASES]
        sizes = sorted(e.nbytes for e in full._memo._entries.values())
        assert full._memo.nbytes == sum(sizes)
    finally:
        full.close()
    # holds the largest entry, never the two largest
    budget = sizes[-1] + sizes[-2] - 1
    monkeypatch.setattr(segments_mod, "POSTINGS_CACHE_BYTES", budget)
    reader = IndexReader(spark, store)
    try:
        memo = reader._memo
        for _ in range(2):
            for (terms, kw), w in zip(EXACT_CASES, want):
                assert _rows(reader.search(terms, **kw)) == w, (terms, kw)
                assert memo.nbytes == sum(e.nbytes for e in memo._entries.values()) <= budget
        assert 0 < len(memo._entries) < len(sizes)
        # below the smallest entry nothing is kept
        monkeypatch.setattr(segments_mod, "POSTINGS_CACHE_BYTES", sizes[0] - 1)
        reader.refresh()
        for (terms, kw), w in zip(EXACT_CASES, want):
            assert _rows(reader.search(terms, **kw)) == w, (terms, kw)
        assert not reader._memo._entries and reader._memo.nbytes == 0
    finally:
        reader.close()


def _pages(spark, texts, url_base=0):
    df = spark.createDataFrame(list(enumerate(texts)), "row_id long, text string")
    return df.select(
        "row_id",
        F.format_string("doc://%012d", F.col("row_id") + url_base).alias("url"),
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
    out = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        job = tracker.getJobInfo(j)
        stages = [tracker.getStageInfo(s) for s in (job.stageIds if job else ())]
        if job is None or None in stages:
            raise AssertionError(f"the status tracker dropped job {j} or one of its stages "
                                 "(spark.ui.retainedJobs / retainedStages)")
        out.append((j, [s.name for s in stages]))
    return out


_GROUPS = itertools.count()


def _py4j_commands(spark, monkeypatch, fn) -> list[str]:
    """The py4j commands the session's gateway client sent while `fn` ran:
    every Python -> JVM call (a DataFrame built, a plan run, a conf read)
    goes through it."""
    client = spark.sparkContext._gateway._gateway_client
    sent: list[str] = []
    real = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command)
        return real(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        fn()
    return sent


def test_zero_spark_jobs_per_search(spark, tmp_path, monkeypatch):
    store = _build(spark, str(tmp_path), "varint", merged=True)
    reader = IndexReader(spark, store)
    try:
        reader.search(["warmup"], k=1).collect()
        reader.search_wand(["warmup"], k=1).collect()
        terms = ["engine", "spark"]
        st: dict = {}
        calls = [
            lambda: reader.search(terms, k=10).collect(),
            lambda: reader.search(terms, k=10, must_not_terms=["crawl"]).collect(),
            lambda: reader.search_wand(terms, k=10, strategy="wand").collect(),
            # an absent term returns no rows, still from the driver read
            lambda: reader.search(["zzqxnotaword"], k=10).collect(),
            lambda: reader.search_wand(["zzqxnotaword"], k=10).collect(),
            lambda: reader.df_for_terms(["index", "zzqxnotaword"]),
            lambda: reader.search_wand(terms, k=10, stats_out=st).collect(),
        ]
        for fn in calls:
            # no Spark job, and no Python -> JVM call either: the rows
            # never leave the driver (the job-group calls stay outside)
            sent: list[str] = []
            assert _jobs(spark, lambda: sent.extend(
                _py4j_commands(spark, monkeypatch, fn))) == []
            assert sent == []
        # stats_out comes from the same execution, with no extra actions;
        # the driver scores every block it read
        assert st["strategy"] == "exact_driver" and st["num_ranges"] == 1
        n_blocks = store.postings(spark).where(F.col("term").isin(terms)).count()
        assert (st["candidate_blocks"] == st["candidate_block_ranges"]
                == st["blocks_scored"] == n_blocks)
    finally:
        reader.close()


def test_df_for_terms_matches_term_stats_without_spark_caches(
        spark, store, monkeypatch):
    terms = ["engine", "spark", "crawl", "index", "zzqxnotaword"]
    rows = store.view().term_stats_df(spark).where(F.col("term").isin(terms)).collect()
    want = {t: 0 for t in terms} | {r["term"]: r["df"] for r in rows}
    assert want["engine"] > 0 and want["zzqxnotaword"] == 0
    reader = IndexReader(spark, store)
    try:
        assert reader.df_for_terms(terms) == want
        assert reader.df_for_terms(terms[:2]) == {t: want[t] for t in terms[:2]}
        reader.search(terms, k=10).collect()
        reader.search_wand(terms, k=10).collect()
        assert reader._term_stats_cache is None
        reader.suggest("engin").collect()
        assert reader._term_stats_cache is not None
        monkeypatch.setattr(query_mod, "GATHER_MAX_BLOCKS", 1)
        reader.search(terms, k=10).collect()  # the distributed fallback
    finally:
        reader.close()
    assert reader._term_stats_cache is None


@pytest.mark.parametrize("plan", ["driver", "gather_cap", "overflow"])
def test_reader_pins_its_ledger_state_until_refresh(spark, tmp_path, monkeypatch, plan):
    """The driver path, and the store plans the fallbacks run on the
    reader's view (past GATHER_MAX_BLOCKS, or with an overflowed deleted
    set), answer from the state the reader opened on until refresh()."""
    cfg = IndexConfig(store_positions=True)
    if plan == "overflow":
        cfg = replace(cfg, max_deleted_driver=0)
    if plan == "gather_cap":
        monkeypatch.setattr(query_mod, "GATHER_MAX_BLOCKS", 1)
    store = IndexStore(str(tmp_path), "pin", cfg=cfg).create()
    first = ["alpha beta", "beta gamma", "alpha alpha delta", "gamma"]
    # ingested twice: the first copies are superseded, so the deleted set
    # is not empty (and overflows a cap of 0)
    for _ in range(2):
        run_ingest_loop(spark, store, as_partitioned_source(
            _pages(spark, first), num_partitions=2), rows_per_partition=4,
            start_option=EARLIEST, cfg=cfg)
    terms, phrase = ["alpha", "omega"], ["alpha", "omega"]
    before = _rows(search_store(spark, store, terms, k=10))
    reader = IndexReader(spark, store, cfg=cfg)
    try:
        assert reader._deleted_overflow == (plan == "overflow")
        assert _rows(reader.search(terms, k=10)) == before
        assert _rows(reader.search_phrase(phrase, k=10)) == []
        memo = reader._memo
        # the driver path scored both terms into the view's memo (the
        # fallbacks keep nothing in it)
        assert (memo is None) == (plan == "overflow")
        assert plan != "driver" or set(memo._entries) == set(terms)
        # a commit after the open, with new docs holding the query terms
        more = ["alpha omega", "omega omega beta", "alpha"]
        run_ingest_loop(spark, store, as_partitioned_source(
            _pages(spark, more, url_base=100), num_partitions=2),
            rows_per_partition=4, start_option=EARLIEST, cfg=cfg)
        after = _rows(search_store(spark, store, terms, k=10))
        after_phrase = _rows(search_store_phrase(spark, store, phrase, k=10))
        assert after != before and after_phrase
        assert _rows(reader.search(terms, k=10)) == before
        assert _rows(reader.search_wand(terms, k=10)) == before
        assert _rows(reader.search_phrase(phrase, k=10)) == []
        assert reader.df_for_terms(["omega"]) == {"omega": 0}
        reader.refresh()
        # a new view, with an empty memo
        assert (reader._memo is None) == (plan == "overflow")
        assert plan == "overflow" or (reader._memo is not memo and not reader._memo._entries)
        assert _rows(reader.search(terms, k=10)) == after
        assert _rows(reader.search_wand(terms, k=10)) == after
        assert _rows(reader.search_phrase(phrase, k=10)) == after_phrase
        assert reader.df_for_terms(["omega"]) == {"omega": 2}
    finally:
        reader.close()


def test_gather_cap_falls_back_to_distributed_plans(spark, tmp_path, monkeypatch):
    store = _build(spark, str(tmp_path), "varint", merged=False)
    reader = IndexReader(spark, store)
    try:
        terms = ["engine", "spark", "index"]

        def searches(r, stats_out=None):
            return [_hit_rows(r.search(terms, k=10)),
                    _hit_rows(r.search(terms, k=10, must_not_terms=["crawl"])),
                    _hit_rows(r.search_wand(terms, k=10, stats_out=stats_out))]

        driver = searches(reader)
        monkeypatch.setattr(query_mod, "GATHER_MAX_BLOCKS", 1)
        calls = []
        real = query_mod.bm25_topk_from_index
        monkeypatch.setattr(query_mod, "bm25_topk_from_index",
                            lambda *a, **kw: calls.append(1) or real(*a, **kw))
        st: dict = {}
        assert searches(reader, st) == driver
        assert len(calls) == 2  # both exact calls ran the distributed plan
        # the distributed WAND reports its doc-id range fan-out
        assert st["candidate_block_ranges"] >= st["candidate_blocks"] > 1
    finally:
        reader.close()
    # an overflowed deleted set: every call runs the live-docs-join plan
    overflow = IndexReader(spark, store, cfg=IndexConfig(max_deleted_driver=0))
    try:
        assert overflow._deleted_overflow
        assert searches(overflow) == driver
        assert len(calls) == 5
    finally:
        overflow.close()


def test_reader_phrase_runs_the_store_phrase_plan(spark, tmp_path, monkeypatch):
    """search_phrase is search_store_phrase on the reader's view: the
    superseded docs drop out by its live-docs join, never by a literal of
    the deleted set in the plan."""
    import engine.positions as positions_mod

    store = _build(spark, str(tmp_path), "varint", merged=False)
    phrase = ["index", "spark"]
    want = search_store_phrase(spark, store, phrase, k=10).collect()
    calls = []
    real = positions_mod.search_store_phrase
    monkeypatch.setattr(positions_mod, "search_store_phrase",
                        lambda *a, **kw: calls.append(a[1]) or real(*a, **kw))
    reader = IndexReader(spark, store)
    try:
        assert reader.deleted and _hit_rows(reader.search_phrase(phrase, k=10)) == want
        assert calls == [reader._view]
    finally:
        reader.close()


def test_store_wand_stats_out_takes_candidates_from_the_driver_read(
        spark, tmp_path, monkeypatch):
    """search_store_wand reads df and the candidate counts on the driver:
    building its plan runs no Spark job, not even a Parquet schema read
    (the schema comes from the footers, read on the driver), and stats_out
    adds only the scan's two actions (block-range replicas and blocks
    scored), not a count of the candidate blocks."""
    def plan_jobs(fn):
        return [names for _, names in _jobs(spark, fn)]

    store = _build(spark, str(tmp_path), "varint", merged=True)
    terms = ["engine", "spark"]
    assert plan_jobs(lambda: search_store_wand(spark, store, terms, k=10)) == []
    assert plan_jobs(lambda: search_store(spark, store, terms, k=10)) == []
    actions = []
    frame = type(spark.range(1))
    for name in ("count", "collect"):
        real = getattr(frame, name)
        monkeypatch.setattr(frame, name, lambda self, _n=name, _f=real:
                            actions.append(_n) or _f(self))
    st: dict = {}
    scan_jobs = plan_jobs(lambda: search_store_wand(spark, store, terms, k=10, stats_out=st))
    monkeypatch.undo()
    assert sorted(actions) == ["collect", "count"] and scan_jobs
    blocks = store.postings(spark).where(F.col("term").isin(terms)).select("n").collect()
    assert st["candidate_blocks"] == len(blocks)
    assert st["candidate_postings"] == sum(r["n"] for r in blocks)
    assert st["candidate_block_ranges"] >= len(blocks) and st["blocks_scored"] >= 1


def test_concurrent_searches_match_sequential(spark, store):
    """More client threads than cores over one reader (the bench/soak.py
    shape): every result equals its sequential twin."""
    import sys
    import threading

    reader = IndexReader(spark, store)
    calls = [(fn, terms, k) for terms, k in WAND_CASES for fn in ("search", "search_wand")]
    try:
        want = [_rows(getattr(reader, fn)(terms, k=k)) for fn, terms, k in calls]
        # an empty memo: the threads race to fill it
        reader.refresh()
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
        memo = reader._memo
        assert memo.nbytes == sum(e.nbytes for e in memo._entries.values())
        assert set(memo._entries) == {t for _, terms, _ in calls for t in terms}
    finally:
        reader.close()


def test_spark_round_matches_spark(spark):
    vals = [0.12345, 1.00005, 2.71825, 0.00015, 3.14159265, 12.3456789,
            7.77775, 0.5, 1e-05, 123.45675, 9.99995] + [
        (i * 0.6180339887) % 17 for i in range(1, 300)]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r[0] for r in df.select(F.round("x", SCORE_DECIMALS)).collect()]
    assert spark_round(vals).tolist() == got


def _brute_topk(ids, raw, k):
    """The top-k by definition: every score rounded, sorted by (score
    desc, doc_id asc), cut at k."""
    scores = spark_round(raw)
    order = np.lexsort((ids, -scores))[:max(k, 0)]
    return list(zip(ids[order].tolist(), scores[order].tolist()))


def _five_decimals(rng, n):
    """`n` scores of five decimals over a few rounded values: many ties
    after rounding, exact halves (fifth decimal 5, Spark's HALF_UP on the
    Decimal path) and scores 0.6 to 0.9 of a quantum below others they
    round level with."""
    whole = int(rng.choice([0, 1, 7, 123]))
    quanta = rng.integers(0, 4, size=n)
    fifth = rng.integers(0, 10, size=n)
    return np.array([float(f"{whole}.{q:04d}{f}") for q, f in zip(quanta, fifth)])


# k-th raw score 1.23454 (rounds down to 1.2345); docs 1 and 5 sit 0.7 and
# 0.8 of a quantum below it and round up into the tie, which their lower
# doc ids win
TIE_BELOW_KTH = (np.array([9, 3, 7, 1, 5, 2]),
                 np.array([1.23454, 1.23454, 1.2346, 1.23447, 1.23446, 1.2343]))


@pytest.mark.parametrize("seed", [None, *range(60)])
def test_topk_rounded_matches_brute_force(seed):
    if seed is None:
        ids, raw = TIE_BELOW_KTH
        assert _brute_topk(ids, raw, 3) == [(7, 1.2346), (1, 1.2345), (3, 1.2345)]
    else:
        rng = np.random.default_rng(seed)
        n = int(rng.integers(2, 40))
        raw = _five_decimals(rng, n)
        ids = rng.choice(10 * n, size=n, replace=False)  # distinct, unsorted
    n = len(raw)
    for k in (0, 1, 2, 3, n - 1, n, n + 5):
        hits = topk_rounded(ids, raw, k)
        assert [tuple(r) for r in hits.collect()] == _brute_topk(ids, raw, k), (seed, k)


def test_driver_sums_a_docs_contributions_in_sorted_term_order():
    """Nine contributions whose left-to-right sum is a decimal half, 1.23455
    (rounds up), while numpy's pairwise sum and the sum in reverse term
    order fall an ulp short (round down): a doc's score is the sum in
    sorted term order, the Spark plan's."""
    rng = np.random.default_rng(0)
    target = 1.23455

    def left_to_right(vals):
        total = 0.0
        for v in vals:
            total += v
        return total

    for _ in range(10_000):
        c = rng.uniform(0.05, 0.14, size=9)
        c[-1] = target - left_to_right(c[:-1])
        if (left_to_right(c) == target and np.add.reduce(c) < target
                and left_to_right(c[::-1]) < target):
            break
    else:
        pytest.fail("no contributions found")
    assert spark_round(target)[0] == 1.2346 != spark_round(np.add.reduce(c))[0]
    terms = [f"t{i}" for i in range(9)]
    # doc 5 holds every term; docs 2 and 8 some, so the union interleaves
    scored = {t: query_mod._Scored(1, 2, np.array([8, 5] if i % 2 else [5, 2]),
                                   np.array([0.5, c[i]] if i % 2 else [c[i], 0.25]),
                                   np.zeros(0, np.int64))
              for i, t in enumerate(terms)}
    got = [tuple(r) for r in query_mod._topk_scored(scored, terms, k=3).collect()]
    assert got == _brute_topk(np.array([5, 8, 2]), np.array([target, 2.0, 1.25]), 3)
    assert got[2] == (5, 1.2346)


def test_reader_hits_are_pyspark_rows():
    hits = topk_rounded(np.array([7, 3, 4]), np.array([0.25, 0.5, 0.125]), 2)
    assert hits.collect() == [Row(doc_id=3, score=0.5), Row(doc_id=7, score=0.25)]
    for r in hits.collect() + Hits([(11, 2.0)]).collect():
        d, s = r
        assert isinstance(r, Row) and r.doc_id == r[0] == d and r["score"] == r[1] == s
        assert r.asDict() == {"doc_id": d, "score": s} and "score" in r
        assert r == Row(doc_id=d, score=s)
        back = pickle.loads(pickle.dumps(r))
        assert back == r and isinstance(back, Row) and back.score == s
        assert repr(r) == repr(Row(doc_id=d, score=s)) == f"Row(doc_id={d}, score={s!r})"
    assert repr(hits) == "Hits([Row(doc_id=3, score=0.5), Row(doc_id=7, score=0.25)])"


def test_many_term_sums_equal_search_store(spark, tmp_path):
    """Ten query terms, passed unsorted, over docs that each hold all of
    them with varied tf: every reader score is == (not approx) to
    search_store's, from a sum of ten contributions per doc."""
    rng = np.random.default_rng(7)
    terms = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet"]
    texts = [" ".join([t for t in terms for _ in range(int(rng.integers(1, 5)))]
                      + ["filler"] * int(rng.integers(0, 6))) for _ in range(40)]
    texts += ["kilo lima", "alpha mike"]
    store = IndexStore(str(tmp_path), "sums").create()
    run_ingest_loop(spark, store, as_partitioned_source(_pages(spark, texts), num_partitions=2),
                    rows_per_partition=11)
    query = [terms[i] for i in rng.permutation(len(terms))]
    assert query != sorted(query)
    want = _rows(search_store(spark, store, query, k=100))
    conj = _rows(search_store(spark, store, query, k=100, conjunctive=True))
    assert len(want) == 41 and len(conj) == 40
    reader = IndexReader(spark, store)
    try:
        for _ in range(2):  # scored on the read, then from the memo
            assert _rows(reader.search(query, k=100)) == want
            assert _rows(reader.search_wand(query, k=100)) == want
            assert _rows(reader.search(query, k=100, conjunctive=True)) == conj
    finally:
        reader.close()
