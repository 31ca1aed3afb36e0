"""IndexReader's driver path (each term read once from the pinned
segments' postings files, scored in numpy on the driver and kept in the
view's term memo): rank identity with the distributed search_store /
search_store_wand plans, cold and from the memo, the memo's reads, bound
and lifetime, the zero-job pin, df_for_terms, the pinned ledger state, the
fallbacks, and stats_out from the same execution, and the driver-side
`Hits` every reader search returns."""

from __future__ import annotations

import itertools
import json
import math
import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

import engine.query as query_mod
import engine.segments as segments_mod
from engine.config import SCORE_DECIMALS, IndexConfig
from engine.corpus import webpages
from engine.fuzzy import search_store_fuzzy
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.positions import search_store_phrase
from engine.query import Hits, IndexReader, search_store, spark_round
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
    assert all(type(r.doc_id) is int and type(r.score) is float for r in rows), rows
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
