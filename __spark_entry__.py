"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Engine: PySpark-native inverted-index + BM25 query engine (see engine/),
re-implementing the capabilities of songfj/kafka-elasticsearch-consumer
(the explicit ingest layer) plus the Elasticsearch 5.5 analytics it
delegated (the implicit layer) — SURVEY.md §0.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.config import SCORE_DECIMALS, TOKEN_PATTERN
from engine.query import (
    bm25_topk,
    bm25_topk_from_index,
    bm25_topk_oracle_sql,
    corpus_stats,
    doc_frequencies,
    doc_lengths,
    term_frequencies,
)

FLAGSHIP_TERMS = ["spark", "vector", "merge", "table"]


@functools.cache
def _tmp_root() -> str:
    """This process's one temp root for the stores the queries build,
    removed when the process exits."""
    root = tempfile.mkdtemp(prefix="sparkgraft_")
    atexit.register(shutil.rmtree, root, True)
    return root


def _tmpdir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_tmp_root())


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact BM25 top-10 over sf0.001 documents."""
    return bm25_topk(spark, _docs(spark, "/root/testdata/sf0.001"), FLAGSHIP_TERMS, k=10)


# ---------------------------------------------------------------------------
# queries() / oracle_sql() — one entry per implemented operator (SURVEY.md §2)
# ---------------------------------------------------------------------------


def _q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_frequencies(_docs(spark, sf_dir)).select("doc_id", "term", "tf")


def _q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_lengths(_docs(spark, sf_dir))


def _q_doc_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_frequencies(term_frequencies(_docs(spark, sf_dir)))


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_stats(doc_lengths(_docs(spark, sf_dir))).select(
        "n_docs", F.round("avgdl", SCORE_DECIMALS).alias("avgdl")
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, k=20)


def _q_postings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build compressed posting blocks (production shuffle-free builder),
    decode back to (term, doc_id, tf, dl).

    The oracle is plain SQL term frequencies, so the driver's value-hash
    directly checks the per-partition tokenize+count+encode path AND the
    delta+varint block codec end-to-end."""
    from engine.postings import build_posting_blocks_local, decode_postings

    return decode_postings(build_posting_blocks_local(_docs(spark, sf_dir)))


def _q_postings_roundtrip_pfor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same build->decode round-trip with the 'pfor' block codec (per-block
    FOR bit-packing, engine/codecs.py — the unpatched PForDelta base the
    north star names alongside varint). Same SQL oracle: the value-hash
    certifies the bit-packed encode AND the width-grouped vectorized decode
    end-to-end."""
    from engine.config import IndexConfig
    from engine.postings import build_posting_blocks_local, decode_postings

    cfg = IndexConfig(codec="pfor")
    return decode_postings(
        build_posting_blocks_local(_docs(spark, sf_dir), cfg=cfg), codec="pfor"
    )


def _q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k answered from the compressed index, not the raw corpus."""
    from engine.postings import build_posting_blocks_local

    docs = _docs(spark, sf_dir)
    blocks = build_posting_blocks_local(docs)
    stats = corpus_stats(doc_lengths(docs)).collect()[0]
    return bm25_topk_from_index(
        blocks, stats["n_docs"], stats["avgdl"], FLAGSHIP_TERMS, k=20
    )


_TITLE_LEN = 8  # synthetic title = first 8 tokens of text (derived field)


def _docs_with_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.analysis import tokens

    return _docs(spark, sf_dir).withColumn(
        "title", F.array_join(F.slice(tokens("text"), 1, _TITLE_LEN), " ")
    )


def _q_bm25_topk_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field BM25 (ES most_fields, title^2 + text) with per-field
    norms — the documents table has no title column, so a deterministic one
    is derived (first 8 tokens) identically in the engine and the oracle."""
    from engine.query import bm25_topk_fields

    return bm25_topk_fields(
        spark, _docs_with_title(spark, sf_dir), FLAGSHIP_TERMS,
        [("title", 2.0), ("text", 1.0)], k=20,
    )


def _q_bm25_dismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES best_fields / dis_max (title^2 + text, tie_breaker 0.3): the best
    single field's score + 0.3 * the others — the multi-field mode ES uses
    by default for multi_match."""
    from engine.query import bm25_topk_fields

    return bm25_topk_fields(
        spark, _docs_with_title(spark, sf_dir), FLAGSHIP_TERMS,
        [("title", 2.0), ("text", 1.0)], k=20,
        mode="best_fields", tie_breaker=0.3,
    )


_BOOSTING_NEG = ["slow"]  # demoted (not excluded) term


def _q_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting query: positive BM25 match; docs also matching the
    negative query are DEMOTED (score * negative_boost), not excluded —
    the complement of bool must_not."""
    from engine.searchapi import boosting_query

    return boosting_query(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, _BOOSTING_NEG,
        negative_boost=0.5, k=20,
    )


# ES match_phrase (engine/phrase.py): "table hash" is a mid-selectivity
# bigram in the synthetic corpus (46 docs at sf0.01).
_PHRASE = ["table", "hash"]


def _q_phrase_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ptf) exact-phrase occurrence counts (Lucene ExactPhraseMatcher
    semantics, overlaps counted)."""
    from engine.phrase import phrase_frequencies

    return phrase_frequencies(spark, _docs(spark, sf_dir), _PHRASE)


def _q_bm25_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase top-k: BM25 with tf := phrase frequency and
    idf := summed member-term idfs (Lucene PhraseQuery scoring)."""
    from engine.phrase import bm25_phrase_topk

    return bm25_phrase_topk(spark, _docs(spark, sf_dir), _PHRASE, k=20)


# match_phrase_prefix: fixed word + prefix, bounded expansion set
_PHRASE_PREFIX = ["table", "ha"]
_SPAN_SLOP = 2


def _q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_near (in_order) / match_phrase slop>0: "table ... hash"
    within 2 intervening positions; (doc_id, snf) distinct-start counts —
    a strict superset of the exact-phrase matches (tested)."""
    from engine.phrase import span_near_freqs

    return span_near_freqs(spark, _docs(spark, sf_dir), _PHRASE,
                           slop=_SPAN_SLOP)


def _q_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix: last word is a prefix expanded to at most
    max_expansions index terms in term-dict order (the autocomplete query).
    Output (doc_id, pptf) occurrence counts."""
    from engine.phrase import phrase_prefix_freqs

    return phrase_prefix_freqs(
        spark, _docs(spark, sf_dir), _PHRASE_PREFIX, max_expansions=10
    )


def _q_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_set query: per-document minimum_should_match read from a
    field (required = least(3, greatest(1, floor(n_chars/150)))) — BM25
    top-k over docs meeting their own threshold."""
    from engine.searchapi import terms_set_topk

    return terms_set_topk(spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, k=20)


_PHRASE_STORE_CACHE: dict = {}


def _phrase_store(spark: SparkSession, sf_dir: str):
    """Positions-enabled store (IndexConfig(store_positions=True)): 2 ingest
    batches + a merge, so the positional sidecar is exercised through BOTH
    the batch write and the merge carry-through."""
    if sf_dir in _PHRASE_STORE_CACHE:
        return _PHRASE_STORE_CACHE[sf_dir]
    import math

    from engine.config import IndexConfig
    from engine.ingest import as_partitioned_source, run_ingest_loop
    from engine.merge import merge_segments
    from engine.segments import IndexStore

    cfg = IndexConfig(store_positions=True)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    src = as_partitioned_source(
        _pages_from_documents(docs), num_partitions=4, id_col="row_id"
    )
    root = _tmpdir("sparkgraft_posstore_")
    store = IndexStore(root, "phrase_idx", cfg=cfg).create()
    rpp = max(1, math.ceil(n / (4 * 2)))  # ~2 ingest batches
    run_ingest_loop(spark, store, src, rows_per_partition=rpp, cfg=cfg)
    merge_segments(spark, store, cfg=cfg)
    _PHRASE_STORE_CACHE[sf_dir] = store
    return store


def _q_bm25_phrase_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase answered from the persisted index's positional sidecar
    (engine/positions.py) — no raw text touched at query time. Store doc ids
    coincide with documents.doc_id (padded-url rank order), and the merged
    stats cover the whole corpus, so the raw-corpus phrase oracle applies."""
    from engine.positions import search_store_phrase

    store = _phrase_store(spark, sf_dir)
    return search_store_phrase(spark, store, _PHRASE, k=20)


def _q_bm25_topk_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(
        spark, _docs(spark, sf_dir), ["spark", "table"], k=20, conjunctive=True
    )


# ES bool query (D14): should-terms scored, minimum_should_match=2 of the 4,
# docs containing the must_not term excluded (non-scoring filter context).
_BOOL_MSM = 2
_BOOL_MUST_NOT = ["hash"]


def _q_bm25_topk_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, k=20,
        min_should_match=_BOOL_MSM, must_not_terms=_BOOL_MUST_NOT,
    )


def _q_bm25_topk_bool_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same bool query answered from the persisted index: must_not doc ids
    come from the excluded term's posting blocks via the doc-ids-only
    decode (pushed isin scan), minimum_should_match from the per-doc
    matched-term count."""
    from engine.query import search_store

    store = _shared_store(spark, sf_dir)
    hits = search_store(
        spark, store, FLAGSHIP_TERMS, k=20,
        min_should_match=_BOOL_MSM, must_not_terms=_BOOL_MUST_NOT,
    )
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


# ES wildcard query (D16): constant-score; "s?a*" matches the vocabulary
# terms scan / small / spark (one fixed char after the leading s).
_WILDCARD = "s?a*"


def _q_wildcard_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.wildcard import wildcard_match

    return wildcard_match(spark, _docs(spark, sf_dir), _WILDCARD, k=25)


def _q_wildcard_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard query answered from the persisted index: the pattern's
    leading literal pushes StringStartsWith into the posting-block scan,
    the LIKE filter picks matching terms' blocks, decoded doc-ids-only."""
    from engine.wildcard import search_store_wildcard

    store = _shared_store(spark, sf_dir)
    hits = search_store_wildcard(spark, store, _WILDCARD, k=None)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("doc_id").asc())
        .limit(25)
    )


# ES regexp query: anchored term regex (Lucene whole-term semantics);
# "[kq].*y" matches the vocabulary terms key / query.
_REGEXP = "[kq].*y"


def _q_regexp_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp query answered from the persisted index: the pattern's
    leading literal (none here — dictionary scan, as Lucene warns) plus
    anchored RLIKE select matching terms' blocks, decoded doc-ids-only."""
    from engine.wildcard import search_store_regexp

    store = _shared_store(spark, sf_dir)
    hits = search_store_regexp(spark, store, _REGEXP, k=None)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("doc_id").asc())
        .limit(25)
    )


def _q_regexp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.wildcard import regexp_match

    return regexp_match(spark, _docs(spark, sf_dir), _REGEXP, k=25)


# ES collapse (field collapsing): flagship BM25, at most one hit per
# `source` (the webtext "one best page per site" idiom).
def _q_collapse_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.rerank import collapse_topk

    return collapse_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, "source", k=10
    )


# ES rescore (query_rescorer): flagship BM25 first pass, top-50 window
# rescored by a second BM25 query, total = 1.0*first + 2.0*second.
_RESCORE_TERMS = ["hash", "join"]


def _q_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.rerank import rescore_topk

    return rescore_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, _RESCORE_TERMS,
        window_size=50, k=20, query_weight=1.0, rescore_weight=2.0,
    )


# ES percolator: stored queries matched against the corpus in one pass
# (query_id, required terms, minimum_should_match).
_PERC_QUERIES = [
    (1, ["spark", "join"], 2),             # conjunctive pair
    (2, ["vector", "merge", "table"], 2),  # 2-of-3 minimum_should_match
    (3, ["zzznope"], 1),                   # matches nothing
    (4, ["hash"], 1),                      # single-term alert
]


def _q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.percolate import percolate

    return percolate(spark, _docs(spark, sf_dir), _PERC_QUERIES)


# ES fuzzy query (D15): "part" within 2 edits expands against the corpus
# vocabulary to {part, fast, sort, spark}; max_expansions=3 exercises the
# deterministic (distance ASC, term ASC) truncation -> {part, fast, sort}.
_FUZZY_TERM = "part"
_FUZZY_EDITS = 2
_FUZZY_EXPANSIONS = 3


def _q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.fuzzy import fuzzy_match_topk

    return fuzzy_match_topk(
        spark, _docs(spark, sf_dir), _FUZZY_TERM, k=20,
        max_edits=_FUZZY_EDITS, max_expansions=_FUZZY_EXPANSIONS,
    )


def _q_fuzzy_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy query answered from the persisted index: the expansion scans
    the store's term-stats relation (term dictionary — postings untouched),
    then the bounded disjunction runs the pushed-isin indexed BM25 path."""
    from engine.fuzzy import search_store_fuzzy

    store = _shared_store(spark, sf_dir)
    hits = search_store_fuzzy(
        spark, store, _FUZZY_TERM, k=20,
        max_edits=_FUZZY_EDITS, max_expansions=_FUZZY_EXPANSIONS,
    )
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


# ES prefix query (engine/prefix.py): constant-score multi-term expansion;
# "s" expands to several vocabulary terms (scan/slow/small/sort/spark/...)
_PREFIX = "s"


def _q_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.prefix import prefix_match

    return prefix_match(spark, _docs(spark, sf_dir), _PREFIX, k=25)


def _q_prefix_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix query answered from the persisted index: StringStartsWith is
    pushed to the posting-block scan, matching blocks decode doc-ids-only.
    Store doc ids map back to documents.doc_id via the padded url."""
    from engine.prefix import search_store_prefix

    store = _shared_store(spark, sf_dir)
    hits = search_store_prefix(spark, store, _PREFIX, k=None)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("doc_id").asc())
        .limit(25)
    )


def _q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND top-k (D7): rank-identical to the exact BM25 oracle but
    decodes only blocks whose upper bound can still enter the top-k."""
    from engine.postings import build_posting_blocks_local
    from engine.wand import wand_topk

    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    dl = doc_lengths(docs)
    avgdl = corpus_stats(dl).collect()[0]["avgdl"]
    tf = term_frequencies(docs)
    df_map = {
        r["term"]: r["df"]
        for r in doc_frequencies(tf.where(F.col("term").isin(FLAGSHIP_TERMS)))
        .collect()
    }
    blocks = build_posting_blocks_local(docs)
    return wand_topk(
        spark, blocks, n_docs, avgdl, df_map, FLAGSHIP_TERMS, k=20,
        doc_id_hwm=n_docs,
    )


_STORE_CACHE: dict = {}


def _pages_from_documents(docs: DataFrame) -> DataFrame:
    """documents table -> Common-Crawl-style page rows. Zero-padded url:
    lexicographic order == numeric doc_id order, so the store's (url)-ranked
    doc ids coincide with the table's doc_id and the top-k tie-break matches
    the oracle exactly."""
    return docs.select(
        F.col("doc_id").alias("row_id"),
        F.format_string("doc://%012d", F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _shared_store(spark: SparkSession, sf_dir: str):
    """ONE persisted index per sf_dir, built once per process and shared by
    every store-backed driver entry (ingest loop -> merge; routing_col=lang
    so the same store also certifies D9 partition pruning). Segments are
    hive-partitioned by routing=lang; global (unrouted) queries read all
    partitions — identical results to an unrouted store (tested)."""
    if sf_dir in _STORE_CACHE:
        return _STORE_CACHE[sf_dir]
    import math

    from engine.config import IndexConfig
    from engine.ingest import as_partitioned_source, run_ingest_loop
    from engine.merge import merge_segments
    from engine.segments import IndexStore

    cfg = IndexConfig(routing_col="lang", store_source=True)
    docs = _docs(spark, sf_dir)
    n = docs.count()
    src = as_partitioned_source(
        _pages_from_documents(docs), num_partitions=4, id_col="row_id"
    )
    root = _tmpdir("sparkgraft_store_")
    store = IndexStore(root, "docs_idx", cfg=cfg).create()
    rpp = max(1, math.ceil(n / (4 * 3)))  # ~3 ingest batches
    run_ingest_loop(spark, store, src, rows_per_partition=rpp, cfg=cfg)
    merge_segments(spark, store, cfg=cfg)
    _STORE_CACHE[sf_dir] = store
    return store


def _store_doc_map(spark: SparkSession, store) -> DataFrame:
    """store doc_id -> original documents.doc_id (parse the padded url)."""
    return store.view().docs(spark).select(
        F.col("doc_id").alias("store_doc_id"),
        F.substring("url", 7, 12).cast("long").alias("orig_doc_id"),
    )


def _q_bm25_topk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the persisted index: micro-ingest loop (3+ batches,
    offset-windowed, commit-after-success) -> log-structured merge into one
    segment -> block-max WAND search. Rank-identical to the raw-corpus BM25
    oracle because extracted text == text byte-identically and the merged
    stats cover the whole corpus (SURVEY.md §7.2 steps 4-6)."""
    from engine.wand import search_store_wand

    store = _shared_store(spark, sf_dir)
    hits = search_store_wand(spark, store, FLAGSHIP_TERMS, k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


_REINDEX_CACHE: dict = {}


def _reindexed_store(spark: SparkSession, sf_dir: str):
    """ES `_reindex`: copy the shared store (varint, routed by lang,
    source-enabled) into a fresh index with DESTINATION settings — pfor
    codec, unrouted — from its stored `_source` alone. Cached per sf_dir
    like the source store."""
    if sf_dir in _REINDEX_CACHE:
        return _REINDEX_CACHE[sf_dir]
    from engine.config import IndexConfig
    from engine.reindex import reindex
    from engine.segments import IndexStore

    src = _shared_store(spark, sf_dir)
    dst_cfg = IndexConfig(codec="pfor")
    root = _tmpdir("sparkgraft_reindex_")
    dst = IndexStore(root, "docs_idx_v2", cfg=dst_cfg).create()
    reindex(spark, src, dst, cfg=dst_cfg)
    _REINDEX_CACHE[sf_dir] = dst
    return dst


def _q_reindex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the REINDEXED store (new codec, built purely from the source
    store's stored _source): results must be rank- and score-identical to
    the raw-corpus BM25 oracle — the end-to-end reindex correctness check."""
    from engine.query import search_store

    store = _reindexed_store(spark, sf_dir)
    hits = search_store(spark, store, FLAGSHIP_TERMS, k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


_SNAPSHOT_CACHE: dict = {}


def _q_snapshot_restore_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _snapshot -> _restore round-trip: the restored index (file-level
    copy of immutable segments + synthetic ledger, engine/snapshot.py) must
    answer the flagship query identically to the raw-corpus oracle."""
    from engine.query import search_store

    if sf_dir not in _SNAPSHOT_CACHE:
        from engine.snapshot import restore, snapshot

        src = _shared_store(spark, sf_dir)
        repo = _tmpdir("sparkgraft_snaprepo_")
        snapshot(src, repo, "bench")
        _SNAPSHOT_CACHE[sf_dir] = restore(
            repo, "bench", _tmpdir("sparkgraft_restored_")
        )
    store = _SNAPSHOT_CACHE[sf_dir]
    hits = search_store(spark, store, FLAGSHIP_TERMS, k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def _q_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 routing-aware placement: search ONE routing partition (lang=en).
    The postings/docs scans prune to routing=en files (PartitionFilters in
    PLANS.md) and scoring uses that partition's own stats — ES shard-local
    BM25 semantics for a routed query_then_fetch search
    (ElasticSearchClientService.java:135-146)."""
    from engine.query import search_store

    store = _shared_store(spark, sf_dir)
    hits = search_store(spark, store, FLAGSHIP_TERMS, k=20, routing="en")
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def _q_alias_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-driven SEARCH with routing (reference
    addAliasWithRoutingToExistingIndex, ElasticSearchClientService.java:
    135-138): the alias carries routing='en' (prunes the search to the en
    partition, shard-local stats) AND a term filter part_id=1 (non-scoring
    result restriction). Rank-identical to scoring the en subset and
    keeping only part_id=1 docs."""
    from engine.query import search_via_alias

    store = _shared_store(spark, sf_dir)
    store.add_alias("en_part1", filter_col="part_id", filter_val=1, routing="en")
    hits = search_via_alias(spark, store, "en_part1", FLAGSHIP_TERMS, k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def _q_multi_index_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 multi-index fan-out: one ingest loop writes TWO indexes in one
    pass (per-batch partitionBy(index_name) staging, per-index segment
    commits, fanout ledger committed after all indexes succeed —
    ElasticSearchBatchService.java:34,57-66). Returns per-index corpus
    stats read back from the stores."""
    import math

    from engine.assign import RecordAssigner
    from engine.fanout import discover_indexes, run_fanout_loop
    from engine.ingest import as_partitioned_source
    from engine.segments import IndexStore

    docs = _docs(spark, sf_dir)
    n = docs.count()
    src = as_partitioned_source(
        _pages_from_documents(docs), num_partitions=4, id_col="row_id"
    )
    root = _tmpdir("sparkgraft_fanout_")
    assigner = RecordAssigner(
        index_name=lambda df: F.when(F.col("lang") == "en", "idx_en").otherwise("idx_other")
    )
    run_fanout_loop(
        spark, root, src,
        rows_per_partition=max(1, math.ceil(n / (4 * 2))),  # ~2 batches
        assigner=assigner,
    )
    rows = []
    for name in discover_indexes(root):
        st = IndexStore(root, name).view().stats()
        rows.append((name, st["n_docs"], st["sum_dl"]))
    return spark.createDataFrame(rows, "index_name string, n_docs long, sum_dl long")


def _q_upsert_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-by-id last-write-wins (D10: prepareIndex with an existing id
    replaces the doc, ElasticSearchClientService.java:140-142) expressed over
    the events table: latest event per user_id, ties by event_id desc."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            "event_type",
            "value",
        )
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_ANN_QUERY_VEC = None


def _ann_query_vec() -> list[float]:
    global _ANN_QUERY_VEC
    if _ANN_QUERY_VEC is None:
        import numpy as np

        _ANN_QUERY_VEC = [float(x) for x in np.random.default_rng(7).standard_normal(64)]
    return _ANN_QUERY_VEC


def _q_quality_features(spark, sf_dir):
    from engine.textstats import quality_features

    return quality_features(_docs(spark, sf_dir))


def _q_token_count(spark, sf_dir):
    from engine.textstats import token_count_bpe

    return token_count_bpe(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    from engine.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from engine.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_exact_duplicates(spark, sf_dir):
    from engine.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    from engine.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, k=3)


def _q_minhash_lsh(spark, sf_dir):
    from engine.dedup import minhash_lsh_pairs

    # max_bucket_size=None: the DuckDB oracle is the UNCAPPED banding, so
    # the value-hash contract must run uncapped too (exact at any sf, not
    # just where no bucket happens to be hot). The capped default is the
    # corpus-scale path and has its own property test.
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), num_perm=64, bands=16, threshold=0.5,
        max_bucket_size=None,
    )


def _q_training_corpus(spark, sf_dir):
    """The composed cleaning pipeline: language filter + quality gate +
    exact-dedup canonical selection in one scan + one WindowGroupLimit
    shuffle (engine/pipeline.py)."""
    from engine.pipeline import training_corpus

    return training_corpus(spark, _docs(spark, sf_dir))


def _q_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES matrix_stats over (n_chars, token length): per-field moments +
    covariance/correlation in one map-side aggregate."""
    from engine.aggs import matrix_stats_agg

    return matrix_stats_agg(_docs(spark, sf_dir), "n_chars")


def _q_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester: prefix autocomplete from the dictionary
    relation ranked by df ("s" -> scan/small/spark/... by popularity)."""
    from engine.fuzzy import completion_suggest, corpus_vocab_df

    return completion_suggest(corpus_vocab_df(_docs(spark, sf_dir)), "s", size=6)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition fractions (tokens + 3-grams),
    shuffle-free array expressions."""
    from engine.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score (deterministic unigram subset): mean
    token log-prob + perplexity under the corpus's own unigram model."""
    from engine.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


# PII injection shared by _q_pii_redact and its oracle: the synthetic corpus
# carries no real PII, so the query plants deterministic addresses per doc —
# the redaction (and its counts) then does real work the value-hash checks.
_PII_SUFFIX_SPARK = lambda: (  # noqa: E731 — tiny shared expression factory
    F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact doc"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
)
_PII_SUFFIX_SQL = (
    "coalesce(text, '') || ' contact doc' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or 555-123-4567 at 10.0.0.'"
    " || CAST(doc_id % 256 AS VARCHAR)"
)


def _q_bigram_lm_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM (KenLM-style conditional MLE, order 2):
    top-50 bigrams with conditional log-probs."""
    from engine.textstats import bigram_lm

    return bigram_lm(_docs(spark, sf_dir), top_n=50)


def _q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity under the corpus-trained bigram model (the CCNet
    filtering signal with a conditional model)."""
    from engine.textstats import bigram_perplexity

    return bigram_perplexity(_docs(spark, sf_dir))


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: logistic score over the engineered
    quality features (deterministic fasttext stand-in), zero shuffles."""
    from engine.textstats import quality_classifier

    return quality_classifier(_docs(spark, sf_dir), threshold=0.5)


def _q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords (WindowGroupLimit per-doc top-k)."""
    from engine.textstats import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), top_k=5)


def _q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training context-window chunking: overlapping 12-token windows every
    10 tokens, partition-local (zero shuffles)."""
    from engine.trainprep import token_chunks

    return token_chunks(_docs(spark, sf_dir), window=12, stride=10)


def _q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide span dedup over disjoint 8-token chunks:
    WindowGroupLimit keep-first per chunk md5, docs reassembled."""
    from engine.trainprep import chunk_dedup

    return chunk_dedup(_docs(spark, sf_dir), chunk_tokens=8)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/phones/IPv4 -> typed tags + counts) over docs
    with deterministically planted addresses (see _PII_SUFFIX_SPARK)."""
    from engine.trainprep import pii_redact

    docs = _docs(spark, sf_dir).select(
        "doc_id", _PII_SUFFIX_SPARK().alias("text")
    )
    return pii_redact(docs)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 8-gram overlap of training docs
    (doc_id % 10 != 0) against the broadcast benchmark split
    (doc_id % 10 == 0) — the 10% split lands on planted near-dup pairs at
    every sf, so the check is non-vacuous."""
    from engine.trainprep import contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    return contamination(train, bench, k=8)


def _shared_store_cfg():
    from engine.config import IndexConfig

    return IndexConfig(routing_col="lang", store_source=True)


_MUTATED_CACHE: dict = {}


def _cloned_store(spark: SparkSession, sf_dir: str, tag: str):
    """Snapshot/restore clone of the shared store (file copies — cheap),
    used by the _delete_by_query/_update_by_query driver queries so the
    shared store stays immutable for every other query."""
    key = (sf_dir, tag)
    if key in _MUTATED_CACHE:
        return _MUTATED_CACHE[key]
    from engine.snapshot import restore, snapshot

    src = _shared_store(spark, sf_dir)
    repo = _tmpdir(f"sparkgraft_{tag}_repo_")
    root = _tmpdir(f"sparkgraft_{tag}_")
    snapshot(src, repo, tag)
    store = restore(repo, tag, root)
    _MUTATED_CACHE[key] = store
    return store


def _q_delete_by_query_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _delete_by_query: tombstone every doc matching `vector` on a
    snapshot-clone of the store, then search. Equivalent by construction to
    a bool must_not search (stats stay at stored values until merge —
    Lucene deleted-doc semantics), which is exactly what the oracle says."""
    from engine.query import search_store
    from engine.updates import delete_by_query

    store = _cloned_store(spark, sf_dir, "dbq")
    if not store.view().active_deletes:  # idempotent across repeated calls
        delete_by_query(spark, store, ["vector"])
    hits = search_store(spark, store, FLAGSHIP_TERMS, k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


# the update_by_query rewrite of the token `vector`: case-insensitive and
# bounded by the tokenizer's own classes (TOKEN_PATTERN), so it rewrites
# exactly the occurrences the tokenizer emits as `vector`, which is what
# the oracle counts. `\b` uses the regex word class, which holds `_`, so
# it would miss the token in `vector_x`.
UBQ_PATTERN = r"(?i)(?<![\p{L}\p{N}])vector(?![\p{L}\p{N}])"


def _q_update_by_query_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _update_by_query: rewrite every doc matching `vector` (the token
    becomes `tensorx`) on a snapshot-clone, then search the NEW token. The
    updated versions supersede by last-write-wins; stats now span old+new
    segments (stored-stats semantics), which the oracle reproduces."""
    from engine.query import search_store
    from engine.updates import update_by_query

    store = _cloned_store(spark, sf_dir, "ubq")
    if len(store.view().segments) == 1:  # idempotent across repeated calls
        update_by_query(
            spark, store, ["vector"],
            transform=lambda c: F.regexp_replace(c, UBQ_PATTERN, "tensorx"),
            cfg=_shared_store_cfg(), batch_id=9001,
        )
    hits = search_store(spark, store, ["tensorx"], k=20)
    return (
        hits.withColumnRenamed("doc_id", "store_doc_id")
        .join(F.broadcast(_store_doc_map(spark, store)), "store_doc_id")
        .select(F.col("orig_doc_id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def _update_by_query_oracle_sql(k: int = 20) -> str:
    """Score a search for the post-update token: df = number of updated
    docs, n_docs/avgdl from the union of the original segment and the
    update segment (old versions still count until merge), tf/dl unchanged
    by the token-for-token rewrite."""
    from engine.config import DEFAULT_CONFIG as _C

    toks = f"regexp_extract_all(lower(coalesce(text, '')), '{TOKEN_PATTERN}')"
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks}) AS doc_len,
         len(list_filter({toks}, t -> t = 'vector')) AS tfv
  FROM documents
), base AS (
  SELECT count(*) AS n0, sum(doc_len) AS s0 FROM dl
), upd AS (
  SELECT doc_id, doc_len, tfv FROM dl WHERE tfv > 0
), params AS (
  SELECT base.n0 + count(*) AS n_docs,
         CAST(base.s0 + sum(upd.doc_len) AS DOUBLE)
           / (base.n0 + count(*)) AS avgdl,
         count(*) AS dfreq
  FROM upd CROSS JOIN base GROUP BY base.n0, base.s0
)
SELECT upd.doc_id,
       round( ln(1 + (params.n_docs - params.dfreq + 0.5) / (params.dfreq + 0.5))
              * (upd.tfv / (upd.tfv + {_C.k1} * (1 - {_C.b} + {_C.b} * upd.doc_len / params.avgdl))),
              {SCORE_DECIMALS}) AS score
FROM upd CROSS JOIN params
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# simple_query_string driver queries: one OR-default mixed query exercising
# must/should/must_not/phrase, one AND-default query
_SQS_QUERY = 'merge +table -vector "table scan" spark'
_SQS_AND_QUERY = 'merge table scan'


def _q_simple_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES simple_query_string (OR default): must/should/must_not/phrase
    clauses compiled onto the shared bm25_contribs + phrase_scores
    relations; parser shared verbatim with the SQL oracle."""
    from engine.querystring import simple_query_string_topk

    return simple_query_string_topk(spark, _docs(spark, sf_dir), _SQS_QUERY, k=20)


def _q_simple_query_string_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME simple_query_string served from the persisted index (term
    clauses from pushed posting-block scans, phrase from the positions
    sidecar) — rank-identical to the corpus path, so the corpus oracle
    applies verbatim (merged store, stats cover the corpus, store doc ids
    coincide with documents.doc_id)."""
    from engine.querystring import simple_query_string_store

    store = _phrase_store(spark, sf_dir)
    return simple_query_string_store(spark, store, _SQS_QUERY, k=20)


def _q_simple_query_string_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES simple_query_string with default_operator=and (all bare clauses
    required)."""
    from engine.querystring import simple_query_string_topk

    return simple_query_string_topk(
        spark, _docs(spark, sf_dir), _SQS_AND_QUERY, k=20, default_operator="and"
    )


def _q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.searchapi import exists_query

    return exists_query(spark, _docs(spark, sf_dir), "text")


def _q_sliced_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.searchapi import sliced_export

    return sliced_export(spark, _docs(spark, sf_dir), slice_id=1, max_slices=4)


# corpus mixing rates: all en, 30% fr, 10% of everything else
_SAMPLE_RATES = {"en": 1.0, "fr": 0.3, "*": 0.1}


def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling (corpus mixing):
    reproducible at any parallelism, regenerated exactly by the oracle."""
    from engine.pipeline import stratified_sample

    return stratified_sample(spark, _docs(spark, sf_dir), _SAMPLE_RATES)


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> connected components -> one canonical doc per
    cluster (the keep/drop decision of the training-data dedup pipeline).
    Pairs come from the same uncapped minhash-LSH run the driver already
    value-hashes; the oracle resolves the identical closure with a
    recursive CTE."""
    from engine.clusters import dedup_clusters
    from engine.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, num_perm=64, bands=16, threshold=0.5, max_bucket_size=None
    )
    return dedup_clusters(docs, pairs)


def _q_simhash_pairs(spark, sf_dir):
    from engine.dedup import simhash_near_pairs

    # max_bucket_size=None for the same reason as _q_minhash_lsh: the
    # oracle filters ALL pairs (sound vs uncapped blocking by pigeonhole).
    return simhash_near_pairs(
        _docs(spark, sf_dir), max_hamming=10, max_bucket_size=None
    )


def _q_semdedup(spark, sf_dir):
    """SemDeDup: k-means blocking + within-cluster cosine near-dup pairs —
    the all-pairs compare is bounded by the largest cluster, not the
    corpus (cosine_pairs is the full recall oracle, pytest-compared).
    Threshold 0.35 targets this synthetic table's similarity tail (its
    max pairwise cosine is ~0.5) so the check is non-vacuous."""
    from engine.similarity import semdedup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup_pairs(spark, emb, threshold=0.35, k=10, n_iters=2)


def _q_kmeans(spark, sf_dir):
    """Deterministic Lloyd k-means over embeddings (k=10, 2 iters) — the
    SemDeDup cluster-then-dedup scale path; assignment is a partition-local
    JVM argmin, means are one k*dim-row groupBy per iteration."""
    from engine.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_assign(spark, emb, k=10, n_iters=2)


def _q_cosine_topk(spark, sf_dir):
    from engine.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), _ann_query_vec(), k=15)


def _q_cosine_pairs(spark, sf_dir):
    from engine.similarity import cosine_pairs

    return cosine_pairs(_emb(spark, sf_dir), threshold=0.5)


_ANN_CACHE: dict = {}


def _q_ann_lsh_topk(spark, sf_dir):
    """ANN over a PERSISTED bucket-partitioned LSH index: built once per
    process, each query probes pruned bucket groups (no full-table
    signature recompute)."""
    from engine.similarity import AnnIndex

    if sf_dir not in _ANN_CACHE:
        _ANN_CACHE[sf_dir] = AnnIndex.build(
            _emb(spark, sf_dir), _tmpdir("sparkgraft_ann_"),
            dim=64, n_bits=12, n_groups=64,
        )
    return _ANN_CACHE[sf_dir].topk(spark, _ann_query_vec(), k=15, n_probes=12)


def _q_ann_lsh_pairs(spark, sf_dir):
    """Embedding near-dup pairs via sign-LSH banding (the scale path next
    to brute-force cosine_pairs): banded bucket join -> exact-cosine
    verify, precision 1.0, recall approximate."""
    from engine.similarity import ann_lsh_pairs

    return ann_lsh_pairs(
        _emb(spark, sf_dir), dim=64, threshold=0.5, n_bits=16, n_bands=4
    )


def _q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN (second ANN family next to LSH): md5-sampled centroids,
    map-side max_by nearest-centroid assignment, n_probes-cell pruning,
    exact re-rank inside probed cells. Whole pipeline (centroids ->
    assignment -> probe -> re-rank) regenerates in the DuckDB oracle."""
    from engine.similarity import ivf_ann_topk

    return ivf_ann_topk(
        _emb(spark, sf_dir), _ann_query_vec(), k=15, n_cells=16, n_probes=4
    )


def _q_resize_plan(spark, sf_dir):
    """Multimodal metadata op (REAL logic, JVM-side): aspect-preserving
    resize targets over the deterministic media table. The decode-requiring
    ops (image_features / frame_sample) are rows-only entries — their
    kernels are clearly-marked deterministic stubs (no PIL/ffmpeg in this
    container), but the Arrow plumbing is real and pytest-covered."""
    from engine.multimodal import resize_plan, synthetic_media

    return resize_plan(synthetic_media(spark, 64), max_side=128)


def _q_image_features(spark, sf_dir):
    from engine.multimodal import image_features, synthetic_media

    return image_features(synthetic_media(spark, 64))


def _q_frame_sample(spark, sf_dir):
    from engine.multimodal import frame_sample, synthetic_media

    return frame_sample(synthetic_media(spark, 64), every_ms=500).drop("frame")


_SORT_AFTER = (306, 100)  # (n_chars, doc_id) cursor — mid-corpus page
_MGET_IDS = [3, 17, 42, 99, 123]


def _q_terms_agg(spark, sf_dir):
    """ES `terms` aggregation (top-N buckets by doc_count, avg sub-agg):
    one hash-aggregate shuffle keyed by lang, TakeOrderedAndProject top-N."""
    from engine.aggs import terms_agg

    return terms_agg(_docs(spark, sf_dir), "lang", size=10, metric_col="n_chars")


def _q_date_histogram(spark, sf_dir):
    """ES `date_histogram` (calendar day) with a sum sub-agg over events."""
    from engine.aggs import date_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return date_histogram(ev, "ts", interval="day", value_col="value")


def _q_pipeline_metrics(spark, sf_dir):
    """ES pipeline aggs (derivative / cumulative_sum / moving_avg /
    serial_diff / bucket_script) over the daily date_histogram — one window
    pass over the reduce-phase bucket relation (bounded by time span, not
    corpus size), exactly ES's reduce-phase pipeline semantics."""
    from engine.aggs import date_histogram
    from engine.aggs_pipeline import pipeline_metrics

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = date_histogram(ev, "ts", interval="day", value_col="value")
    return pipeline_metrics(hist, "sum_value", moving_window=3, serial_lag=2)


def _q_bucket_siblings(spark, sf_dir):
    """ES sibling pipeline aggs (avg/min/max/sum/stats_bucket + max_bucket
    key) in one row over the daily histogram's buckets."""
    from engine.aggs import date_histogram
    from engine.aggs_pipeline import bucket_siblings

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = date_histogram(ev, "ts", interval="day", value_col="value")
    return bucket_siblings(hist, "sum_value")


def _q_bucket_select_sort(spark, sf_dir):
    """ES bucket_selector (doc_count gate) + bucket_sort (top-N buckets by
    the sum metric, deterministic bucket-key tie-break)."""
    from engine.aggs import date_histogram
    from engine.aggs_pipeline import bucket_select_sort

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = date_histogram(ev, "ts", interval="day", value_col="value")
    return bucket_select_sort(hist, "sum_value", min_doc_count=2, top_n=10)


def _q_multi_terms(spark, sf_dir):
    """ES multi_terms: composite (lang, source) buckets, top-10 by count —
    one hash-aggregate shuffle on the widened key."""
    from engine.aggs import multi_terms_agg

    return multi_terms_agg(
        _docs(spark, sf_dir), ["lang", "source"], size=10, metric_col="n_chars"
    )


def _q_rare_terms(spark, sf_dir):
    """ES rare_terms over the 2-gram shingle field: shingles in at most 2
    docs (the long-tail complement of terms)."""
    from engine.aggs import rare_terms_agg

    return rare_terms_agg(_docs(spark, sf_dir), max_doc_count=2, ngram=2)


def _q_weighted_avg(spark, sf_dir):
    """ES weighted_avg per event_type: `value` weighted by the JSON props
    field `k` (get_json_object both engines), plus value_count."""
    from engine.aggs import weighted_avg_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        F.get_json_object("props", "$.k").cast("double").alias("w"),
    )
    return weighted_avg_agg(ev, "event_type", "value", "w")


def _q_mad_agg(spark, sf_dir):
    """ES median_absolute_deviation (exact tier) of n_chars per lang."""
    from engine.aggs import mad_agg

    return mad_agg(_docs(spark, sf_dir), "lang", "n_chars")


def _q_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix: 'merge sc' — `merge` as a scoring term clause,
    `sc` as a constant-score prefix clause, bool should."""
    from engine.prefix import match_bool_prefix

    return match_bool_prefix(spark, _docs(spark, sf_dir), ["merge", "sc"], k=20)


def _q_stats_agg(spark, sf_dir):
    """ES search with `query` + `stats` agg: doc-length stats over ALL hits
    of a disjunctive match query (size:0 search semantics — the agg visits
    every hit, not a top-k page)."""
    from engine.aggs import stats_agg

    return stats_agg(_docs(spark, sf_dir), FLAGSHIP_TERMS)


def _q_cardinality_agg(spark, sf_dir):
    """ES `cardinality` agg, exact tier (count DISTINCT user per event
    type). The HLL++ scale path is cardinality_approx (pytest-checked
    rel-error vs this exact tier; ES's own cardinality agg is approximate)."""
    from engine.aggs import cardinality_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cardinality_agg(ev, "event_type", "user_id")


def _q_histogram_agg(spark, sf_dir):
    """ES `histogram`: fixed-width numeric buckets (n_chars / 50) with an
    avg sub-agg — one hash-aggregate shuffle keyed by the bucket."""
    from engine.aggs import histogram_agg

    return histogram_agg(_docs(spark, sf_dir), "n_chars", 50, value_col="n_chars")


def _q_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks (inverse percentiles), exact tier: one
    conditional-sum aggregate pass for all requested values."""
    from engine.aggs import percentile_ranks_agg

    return percentile_ranks_agg(
        _docs(spark, sf_dir), "n_chars", [200.0, 300.0, 400.0]
    )


def _q_percentiles_agg(spark, sf_dir):
    """ES `percentiles`, exact tier (linear interpolation, identical in
    Spark `percentile` and DuckDB `quantile_cont`); the t-digest-style
    approx_percentile scale path is pytest-bounded against this."""
    from engine.aggs import percentiles_agg

    return percentiles_agg(_docs(spark, sf_dir), "n_chars")


_COMPOSITE_AFTER = ("en", "src15")  # mid-bucket-space after_key
_RANGES = [("short", None, 200), ("medium", 200, 400),
           ("long", 400, None), ("broad", 150, 450)]


def _q_top_hits_agg(spark, sf_dir):
    """ES `terms` + `top_hits` sub-agg: per-bucket top-3 docs by n_chars.
    The row_number<=k filter plans as WindowGroupLimit (map-side partial
    top-k per bucket), so a hot bucket ships k rows per partition."""
    from engine.aggs_bucket import top_hits_agg

    return top_hits_agg(
        _docs(spark, sf_dir), "lang", "n_chars", n_buckets=4, n_hits=3
    )


def _q_composite_agg(spark, sf_dir):
    """ES `composite` agg: key-ordered (lang, source) buckets paged with an
    after_key — the unbounded-cardinality answer to `terms`. The after-key
    predicate is on grouping columns, so it pushes to the scan."""
    from engine.aggs_bucket import composite_agg

    return composite_agg(
        _docs(spark, sf_dir), ["lang", "source"], size=12,
        after=_COMPOSITE_AFTER,
    )


def _q_range_agg(spark, sf_dir):
    """ES `range` agg ([from, to) buckets, overlap allowed — a doc counts
    in EVERY matching range) with an avg sub-agg, empty buckets emitted."""
    from engine.aggs_bucket import range_agg

    return range_agg(_docs(spark, sf_dir), "n_chars", _RANGES,
                     metric_col="n_chars")


def _filters_spec():
    return {
        "english": ("lang = 'en'", lambda: F.col("lang") == "en"),
        "mentions_spark": (
            "contains(lower(coalesce(text, '')), 'spark')",
            lambda: F.lower(F.coalesce(F.col("text"), F.lit(""))).contains(
                "spark"
            ),
        ),
        "short": ("n_chars < 200", lambda: F.col("n_chars") < 200),
    }


def _q_adjacency_matrix(spark, sf_dir):
    """ES adjacency_matrix: singleton + pairwise-intersection doc counts
    for the named filters, all in ONE scan (conditional count columns +
    literal unpivot; empty intersections omitted, ES key format a&b)."""
    from engine.aggs_bucket import adjacency_matrix_agg

    return adjacency_matrix_agg(
        _docs(spark, sf_dir),
        {n: col() for n, (_, col) in _filters_spec().items()},
    )


def _q_filters_agg(spark, sf_dir):
    """ES `filters` agg: one named bucket per predicate, ALL predicates in
    one scan (conditional counts in a single global aggregate, then a
    literal unpivot of the 1-row result)."""
    from engine.aggs_bucket import filters_agg

    return filters_agg(
        _docs(spark, sf_dir),
        {n: col() for n, (_, col) in _filters_spec().items()},
    )


_ANALYZE_TEXT = "Spark-Graft's Block-Max WAND: 2 engines, 1 contract?"
_TERMVEC_IDS = [3, 42, 123]
_MSEARCH = {
    "q_flagship": FLAGSHIP_TERMS,
    "q_pair": ["table", "hash"],
    "q_single": ["spark"],
    "q_shared": ["spark", "index"],  # shares a term with q_single/flagship
}


# fixed relevance judgments for _rank_eval (the human-input side of the
# API — chosen once so some are retrieved at sf0.01 and some are not,
# exercising hit/miss/graded paths; metrics at other SFs just differ)
_QRELS = {
    "q_flagship": {111: 3, 97: 2, 14: 1, 5: 2, 250: 1},
    "q_pair": {206: 2, 98: 1, 400: 3},
    "q_single": {368: 1, 89: 2, 7: 1},
    "q_shared": {368: 2, 14: 1, 42: 3},
}


def _q_rank_eval(spark, sf_dir):
    """ES _rank_eval: precision@k / recall@k / MRR / NDCG@k per query
    against literal graded judgments — retrieval is one msearch pass."""
    from engine.searchapi import rank_eval

    return rank_eval(spark, _docs(spark, sf_dir), _MSEARCH, _QRELS, k=10)


def _q_msearch(spark, sf_dir):
    """ES _msearch: a 4-query batch answered in ONE corpus pass — shared
    terms' tf/df computed once, per-query top-k via a WindowGroupLimit
    window keyed by query_id."""
    from engine.searchapi import msearch_topk

    return msearch_topk(spark, _docs(spark, sf_dir), _MSEARCH, k=10)


def _q_analyze(spark, sf_dir):
    """ES _analyze: token stream of a literal text through the SAME JVM
    tokenizer column the indexer uses (frozen contract)."""
    from engine.searchapi import analyze_text

    return analyze_text(spark, _ANALYZE_TEXT)


def _q_term_vectors(spark, sf_dir):
    """ES _termvectors with term_statistics: per-doc (term, tf, df, ttf);
    corpus-wide stats computed only for the requested docs' terms."""
    from engine.searchapi import term_vectors

    return term_vectors(spark, _docs(spark, sf_dir), _TERMVEC_IDS)


def _q_shard_doc_stats(spark, sf_dir):
    """ES `_stats`/`_cat/shards` shape: per-routing doc counts + total doc
    length folded from segment METADATA (routing_stats in stats.json) —
    zero parquet data files opened, O(live segments) driver work."""
    from engine.aggs import routing_doc_counts

    return routing_doc_counts(spark, _shared_store(spark, sf_dir))


def _q_terms_lookup(spark, sf_dir):
    """ES terms query with document lookup: term set fetched from doc 7
    (pushed point filter), broadcast arrays_overlap constant-score match."""
    from engine.searchapi import terms_lookup_query

    return terms_lookup_query(
        spark, _docs(spark, sf_dir), lookup_doc_id=7, max_terms=8, k=25
    )


def _q_sort_search_after(spark, sf_dir):
    """ES sorted search + search_after cursor pagination: the cursor is a
    pushed range predicate (page N+1's scan skips page N's rows at the
    parquet level), top-k via TakeOrderedAndProject."""
    from engine.searchapi import sort_search_after

    return sort_search_after(
        _docs(spark, sf_dir), "n_chars", after=_SORT_AFTER, k=20
    )


def _q_mget_store(spark, sf_dir):
    """ES `_mget` point lookup on the persisted index's doc table: pushed
    In(url, ...) filter -> row-group skipping; newest live version per url."""
    from engine.searchapi import mget_store

    store = _shared_store(spark, sf_dir)
    urls = ["doc://%012d" % i for i in _MGET_IDS]
    out = mget_store(spark, store, urls)
    return out.select(
        "url",
        F.substring("url", 7, 12).cast("long").alias("doc_id"),
        F.col("doc_len").cast("long").alias("doc_len"),
    )


def _q_count_query_store(spark, sf_dir):
    """ES `_count` served from the index: pushed IN(term) block filter,
    ids-only posting decode (tf/dl streams untouched), distinct count."""
    from engine.searchapi import count_query_store

    store = _shared_store(spark, sf_dir)
    return count_query_store(spark, store, FLAGSHIP_TERMS)


def _q_highlight(spark, sf_dir):
    """ES highlight: <em>-marked fragment around the first query-term
    occurrence for each BM25 top-k hit — pure JVM string expressions over
    the bounded top-k page."""
    from engine.searchapi import highlight_snippets

    docs = _docs(spark, sf_dir)
    hits = bm25_topk(spark, docs, FLAGSHIP_TERMS, k=20).select("doc_id")
    page = hits.join(docs.select("doc_id", "text"), "doc_id")
    return highlight_snippets(page, FLAGSHIP_TERMS)


_RANGE = (250, 450)  # n_chars bounds for the bool-filter range clause
_MLT_DOC = 7  # more_like_this source doc


def _q_range_filter_search(spark, sf_dir):
    """ES bool query with a `range` clause in FILTER context: BM25-scored
    match, results restricted to n_chars in [250,450] WITHOUT touching
    scores/df/avgdl (non-scoring filter — left-semi join before top-k)."""
    docs = _docs(spark, sf_dir)
    lo, hi = _RANGE
    allowed = docs.where(F.col("n_chars").between(lo, hi)).select("doc_id")
    return bm25_topk(spark, docs, FLAGSHIP_TERMS, k=20, filter_docs=allowed)


def _q_explain_score(spark, sf_dir):
    """ES `_explain` for every top-k hit: per-(doc, term) BM25 breakdown
    (tf, df, idf, contribution) — the explanation tree ES renders."""
    from engine.searchapi import explain_scores

    return explain_scores(spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, k=10)


def _q_significant_terms(spark, sf_dir):
    """ES `significant_terms` agg (JLH heuristic) over the hits of a match
    query: two (term, doc-count) aggregates (foreground semi-joined to the
    hit set, background corpus-wide) + a term-keyed join — documents never
    cross the shuffle."""
    from engine.aggs import significant_terms

    return significant_terms(
        _docs(spark, sf_dir), ["spark", "table"], size=10, min_doc_count=3
    )


def _q_more_like_this(spark, sf_dir):
    """ES `more_like_this`: top tf*idf terms of the source doc (bounded
    driver collect, exactly ES's MLT term extraction) -> BM25 disjunction
    excluding the source doc."""
    from engine.searchapi import more_like_this

    return more_like_this(
        spark, _docs(spark, sf_dir), _MLT_DOC, max_query_terms=10, k=20
    )


_SUGGEST_SEED = "scor"  # misspelled input for the term suggester
_SUGGEST_PHRASE = "spak tabel hash"  # two misspellings + one valid term


def _q_phrase_suggest(spark, sf_dir):
    """ES phrase suggester (deterministic unigram subset): best correction
    per position from the dictionary relation; "spak tabel hash" ->
    "spark table hash"."""
    from engine.fuzzy import corpus_vocab_df, phrase_suggest

    vocab = corpus_vocab_df(_docs(spark, sf_dir))
    return phrase_suggest(spark, vocab, _SUGGEST_PHRASE, max_edits=2)


def _q_term_suggest(spark, sf_dir):
    """ES term suggester ("did you mean"): corrections within 2 edits from
    the corpus vocabulary, ranked (distance, df desc, term) — the
    dictionary relation is the only thing scanned."""
    from engine.fuzzy import corpus_vocab_df, term_suggest

    vocab = corpus_vocab_df(_docs(spark, sf_dir))
    return term_suggest(vocab, _SUGGEST_SEED, size=8, max_edits=2)


def _q_term_suggest_store(spark, sf_dir):
    """Term suggester served from the persisted store's term_stats relation
    (the term DICTIONARY — postings/docs untouched). df values match the
    corpus because the store is fully merged."""
    from engine.fuzzy import term_suggest

    store = _shared_store(spark, sf_dir)
    vocab = store.view().term_stats_df(spark)
    return term_suggest(vocab, _SUGGEST_SEED, size=8, max_edits=2)


def _q_function_score(spark, sf_dir):
    """ES function_score + field_value_factor (boost_mode multiply,
    modifier log1p over n_chars): BM25 relevance multiplied by a per-doc
    attribute factor before the single rounding — the standard
    recency/popularity/length boost."""
    from engine.searchapi import function_score_topk

    return function_score_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, "n_chars", k=20
    )


def _q_filtered_alias(spark, sf_dir):
    """Filtered alias (S11) — the reference's only literal query operator:
    a view restricted by termQuery(field, value)
    (ElasticSearchClientService.java:135-138). Goes through the store's
    REAL alias machinery (add_alias + docs_via_alias, S9-S11): the alias
    filter is pushed into the segment docs scan."""
    store = _shared_store(spark, sf_dir)
    store.add_alias("en_docs", filter_col="lang", filter_val="en")
    via = store.docs_via_alias(spark, "en_docs")
    return via.select(
        F.substring("url", 7, 12).cast("long").alias("doc_id"),
        "lang",
        "doc_len",
    )


def _q_offset_ledger(spark, sf_dir):
    """Per-partition committed-offset high-water marks over the events table
    (reference S2/S3 offset semantics: partition = event_id % 4,
    offset = event_id / 4)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("part_id", (F.col("event_id") % 4).cast("int"))
        .withColumn("row_offset", F.floor(F.col("event_id") / 4).cast("long"))
        .groupBy("part_id")
        .agg(
            F.max("row_offset").alias("committed_offset"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_frequencies": _q_term_frequencies,
        "doc_lengths": _q_doc_lengths,
        "doc_frequencies": _q_doc_frequencies,
        "corpus_stats": _q_corpus_stats,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_fields": _q_bm25_topk_fields,
        "bm25_dismax": _q_bm25_dismax,
        "boosting_query": _q_boosting_query,
        "phrase_freqs": _q_phrase_freqs,
        "bm25_phrase_topk": _q_bm25_phrase_topk,
        "phrase_prefix_match": _q_phrase_prefix,
        "span_near_match": _q_span_near,
        "terms_set_query": _q_terms_set,
        "bm25_phrase_store": _q_bm25_phrase_store,
        "prefix_match": _q_prefix_match,
        "prefix_search_store": _q_prefix_search_store,
        "bm25_topk_conjunctive": _q_bm25_topk_conjunctive,
        "bm25_topk_bool": _q_bm25_topk_bool,
        "bm25_topk_bool_store": _q_bm25_topk_bool_store,
        "fuzzy_match": _q_fuzzy_match,
        "fuzzy_search_store": _q_fuzzy_search_store,
        "wildcard_match": _q_wildcard_match,
        "wildcard_search_store": _q_wildcard_search_store,
        "regexp_match": _q_regexp_match,
        "regexp_search_store": _q_regexp_search_store,
        "percolate_matches": _q_percolate,
        "collapse_source": _q_collapse_source,
        "rescore_topk": _q_rescore_topk,
        "bm25_topk_wand": _q_bm25_topk_wand,
        "bm25_topk_store": _q_bm25_topk_store,
        "reindex_search": _q_reindex_search,
        "snapshot_restore_search": _q_snapshot_restore_search,
        "upsert_last_wins": _q_upsert_last_wins,
        "postings_roundtrip": _q_postings_roundtrip,
        "postings_roundtrip_pfor": _q_postings_roundtrip_pfor,
        "bm25_topk_indexed": _q_bm25_topk_indexed,
        "quality_features": _q_quality_features,
        "token_count_bpe": _q_token_count,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "exact_duplicates": _q_exact_duplicates,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "dedup_clusters": _q_dedup_clusters,
        "training_corpus": _q_training_corpus,
        "stratified_sample": _q_stratified_sample,
        "exists_query": _q_exists,
        "sliced_export": _q_sliced_export,
        "matrix_stats_agg": _q_matrix_stats,
        "completion_suggest": _q_completion_suggest,
        "repetition_stats": _q_repetition_stats,
        "unigram_logprob": _q_unigram_logprob,
        "bigram_lm_top": _q_bigram_lm_top,
        "bigram_perplexity": _q_bigram_perplexity,
        "simple_query_string": _q_simple_query_string,
        "simple_query_string_store": _q_simple_query_string_store,
        "simple_query_string_and": _q_simple_query_string_and,
        "delete_by_query_search": _q_delete_by_query_search,
        "update_by_query_search": _q_update_by_query_search,
        "quality_classifier": _q_quality_classifier,
        "tfidf_keywords": _q_tfidf_keywords,
        "token_chunks": _q_token_chunks,
        "chunk_dedup": _q_chunk_dedup,
        "pii_redact": _q_pii_redact,
        "contamination": _q_contamination,
        "simhash_near_pairs": _q_simhash_pairs,
        "kmeans_clusters": _q_kmeans,
        "semdedup_pairs": _q_semdedup,
        "cosine_topk": _q_cosine_topk,
        "cosine_pairs": _q_cosine_pairs,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "ann_lsh_pairs": _q_ann_lsh_pairs,
        "function_score": _q_function_score,
        "term_suggest": _q_term_suggest,
        "phrase_suggest": _q_phrase_suggest,
        "term_suggest_store": _q_term_suggest_store,
        "range_filter_search": _q_range_filter_search,
        "explain_score": _q_explain_score,
        "significant_terms_agg": _q_significant_terms,
        "more_like_this": _q_more_like_this,
        "terms_agg": _q_terms_agg,
        "date_histogram_agg": _q_date_histogram,
        "pipeline_metrics": _q_pipeline_metrics,
        "bucket_siblings": _q_bucket_siblings,
        "bucket_select_sort": _q_bucket_select_sort,
        "stats_agg": _q_stats_agg,
        "multi_terms_agg": _q_multi_terms,
        "rare_terms_agg": _q_rare_terms,
        "weighted_avg_agg": _q_weighted_avg,
        "mad_agg": _q_mad_agg,
        "match_bool_prefix_topk": _q_match_bool_prefix,
        "cardinality_agg": _q_cardinality_agg,
        "histogram_agg": _q_histogram_agg,
        "percentiles_agg": _q_percentiles_agg,
        "percentile_ranks_agg": _q_percentile_ranks,
        "top_hits_agg": _q_top_hits_agg,
        "composite_agg": _q_composite_agg,
        "range_agg": _q_range_agg,
        "filters_agg": _q_filters_agg,
        "adjacency_matrix_agg": _q_adjacency_matrix,
        "shard_doc_stats": _q_shard_doc_stats,
        "sort_search_after": _q_sort_search_after,
        "terms_lookup": _q_terms_lookup,
        "analyze_text": _q_analyze,
        "term_vectors": _q_term_vectors,
        "msearch": _q_msearch,
        "rank_eval": _q_rank_eval,
        "mget_store": _q_mget_store,
        "count_query_store": _q_count_query_store,
        "highlight_snippets": _q_highlight,
        "filtered_alias_view": _q_filtered_alias,
        "offset_ledger": _q_offset_ledger,
        "routed_search": _q_routed_search,
        "alias_routed_search": _q_alias_routed_search,
        "multi_index_fanout": _q_multi_index_fanout,
        "resize_plan": _q_resize_plan,
        "image_features": _q_image_features,
        "frame_sample": _q_frame_sample,
    }


_TOKS = f"unnest(regexp_extract_all(lower(coalesce(text, '')), '{TOKEN_PATTERN}'))"
_DLEN = f"len(regexp_extract_all(lower(coalesce(text, '')), '{TOKEN_PATTERN}'))"


def oracle_sql() -> dict[str, str]:
    return {
        "term_frequencies": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS term FROM documents)
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        """,
        "doc_lengths": f"SELECT doc_id, {_DLEN} AS doc_len FROM documents",
        "doc_frequencies": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS term FROM documents),
            tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term)
            SELECT term, count(*) AS df FROM tf GROUP BY term
        """,
        "corpus_stats": f"""
            WITH dl AS (SELECT {_DLEN} AS doc_len FROM documents)
            SELECT count(*) AS n_docs, round(avg(doc_len), {SCORE_DECIMALS}) AS avgdl FROM dl
        """,
        "bm25_topk": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        "bm25_topk_fields": _bm25_fields_oracle(),
        "bm25_dismax": _bm25_dismax_oracle(),
        "boosting_query": _sa().boosting_oracle_sql(
            FLAGSHIP_TERMS, _BOOSTING_NEG, negative_boost=0.5, k=20
        ),
        "phrase_freqs": _phr().phrase_freq_oracle_sql(_PHRASE),
        "bm25_phrase_topk": _phr().bm25_phrase_oracle_sql(_PHRASE, k=20),
        "phrase_prefix_match": _phr().phrase_prefix_oracle_sql(
            _PHRASE_PREFIX, max_expansions=10
        ),
        "span_near_match": _phr().span_near_oracle_sql(_PHRASE, slop=_SPAN_SLOP),
        "terms_set_query": _sa().terms_set_oracle_sql(FLAGSHIP_TERMS, k=20),
        "bm25_phrase_store": _phr().bm25_phrase_oracle_sql(_PHRASE, k=20),
        "prefix_match": _pfx().prefix_oracle_sql(_PREFIX, k=25),
        "prefix_search_store": _pfx().prefix_oracle_sql(_PREFIX, k=25),
        "bm25_topk_conjunctive": bm25_topk_oracle_sql(
            ["spark", "table"], k=20, conjunctive=True
        ),
        "bm25_topk_bool": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20,
            min_should_match=_BOOL_MSM, must_not_terms=_BOOL_MUST_NOT,
        ),
        "bm25_topk_bool_store": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20,
            min_should_match=_BOOL_MSM, must_not_terms=_BOOL_MUST_NOT,
        ),
        "fuzzy_match": _fz().fuzzy_oracle_sql(
            _FUZZY_TERM, k=20,
            max_edits=_FUZZY_EDITS, max_expansions=_FUZZY_EXPANSIONS,
        ),
        "fuzzy_search_store": _fz().fuzzy_oracle_sql(
            _FUZZY_TERM, k=20,
            max_edits=_FUZZY_EDITS, max_expansions=_FUZZY_EXPANSIONS,
        ),
        "wildcard_match": _wc().wildcard_oracle_sql(_WILDCARD, k=25),
        "wildcard_search_store": _wc().wildcard_oracle_sql(_WILDCARD, k=25),
        "regexp_match": _wc().regexp_oracle_sql(_REGEXP, k=25),
        "regexp_search_store": _wc().regexp_oracle_sql(_REGEXP, k=25),
        "percolate_matches": _pc().percolate_oracle_sql(_PERC_QUERIES),
        "collapse_source": _rr().collapse_oracle_sql(
            FLAGSHIP_TERMS, "source", k=10
        ),
        "rescore_topk": _rr().rescore_oracle_sql(
            FLAGSHIP_TERMS, _RESCORE_TERMS,
            window_size=50, k=20, query_weight=1.0, rescore_weight=2.0,
        ),
        "postings_roundtrip": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS term FROM documents),
            tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, {_DLEN} AS dl FROM documents)
            SELECT term, tf.doc_id, tf, dl FROM tf JOIN dl USING (doc_id)
        """,
        "postings_roundtrip_pfor": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS term FROM documents),
            tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, {_DLEN} AS dl FROM documents)
            SELECT term, tf.doc_id, tf, dl FROM tf JOIN dl USING (doc_id)
        """,
        "bm25_topk_indexed": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        "bm25_topk_wand": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        "bm25_topk_store": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        # reindexed store (new codec, rebuilt from stored _source) must
        # answer identically to the raw corpus
        "reindex_search": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        # restored-from-snapshot store must answer identically too
        "snapshot_restore_search": bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20),
        "upsert_last_wins": """
            SELECT user_id,
                   event_id AS last_event_id,
                   event_type,
                   value
            FROM (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ) AS rk
              FROM events
            )
            WHERE rk = 1
        """,
        "quality_features": _ts().quality_features_oracle_sql(),
        "token_count_bpe": _ts().token_count_bpe_oracle_sql(),
        "lang_id": _ts().lang_id_oracle_sql(),
        "fingerprint": _ts().fingerprint_oracle_sql(),
        "exact_duplicates": _dd().exact_duplicates_oracle_sql(),
        "ngram_jaccard_pairs": _dd().ngram_jaccard_oracle_sql(threshold=0.5, k=3),
        # the hash families are md5-derived since round 5, so ANSI SQL
        # regenerates signatures / fingerprints / buckets bit-identically —
        # full rows+schema+value-hash checks (VERDICT r04 item 1)
        "minhash_lsh_pairs": _dd().minhash_lsh_oracle_sql(
            num_perm=64, bands=16, k=3, threshold=0.5
        ),
        "simhash_near_pairs": _dd().simhash_oracle_sql(max_hamming=10),
        # transitive closure of the SAME uncapped minhash pairs via a
        # recursive CTE — pairs generation AND cluster resolution are both
        # value-hash checked end to end
        "dedup_clusters": _cl().dedup_clusters_oracle_sql(
            _dd().minhash_lsh_oracle_sql(num_perm=64, bands=16, k=3, threshold=0.5)
        ),
        "training_corpus": _pl().training_corpus_oracle_sql(),
        "stratified_sample": _pl().stratified_sample_oracle_sql(_SAMPLE_RATES),
        "exists_query": _sa().exists_oracle_sql("text"),
        "sliced_export": _sa().sliced_export_oracle_sql(slice_id=1, max_slices=4),
        "matrix_stats_agg": _ag().matrix_stats_oracle_sql("n_chars"),
        "completion_suggest": _fz().completion_suggest_oracle_sql("s", size=6),
        "repetition_stats": _ts().repetition_stats_oracle_sql(),
        "unigram_logprob": _ts().unigram_logprob_oracle_sql(),
        "bigram_lm_top": _ts().bigram_lm_oracle_sql(top_n=50),
        "bigram_perplexity": _ts().bigram_perplexity_oracle_sql(),
        "delete_by_query_search": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20, must_not_terms=["vector"]
        ),
        "update_by_query_search": _update_by_query_oracle_sql(k=20),
        "simple_query_string": _qs().simple_query_string_oracle_sql(
            _SQS_QUERY, k=20
        ),
        "simple_query_string_store": _qs().simple_query_string_oracle_sql(
            _SQS_QUERY, k=20
        ),
        "simple_query_string_and": _qs().simple_query_string_oracle_sql(
            _SQS_AND_QUERY, k=20, default_operator="and"
        ),
        "quality_classifier": _ts().quality_classifier_oracle_sql(threshold=0.5),
        "tfidf_keywords": _ts().tfidf_keywords_oracle_sql(top_k=5),
        "token_chunks": _tp().token_chunks_oracle_sql(window=12, stride=10),
        "chunk_dedup": _tp().chunk_dedup_oracle_sql(chunk_tokens=8),
        "pii_redact": _tp().pii_redact_oracle_sql(
            table=f"(SELECT doc_id, {_PII_SUFFIX_SQL} AS text FROM documents)"
        ),
        "contamination": _tp().contamination_oracle_sql(
            train_pred="doc_id % 10 <> 0", bench_pred="doc_id % 10 = 0", k=8
        ),
        "ann_lsh_topk": _sim().ann_lsh_topk_oracle_sql(
            _ann_query_vec(), k=15, n_bits=12, n_probes=12
        ),
        "ann_lsh_pairs": _sim().ann_lsh_pairs_oracle_sql(
            dim=64, threshold=0.5, n_bits=16, n_bands=4
        ),
        "ivf_ann_topk": _sim().ivf_ann_topk_oracle_sql(
            _ann_query_vec(), k=15, n_cells=16, n_probes=4
        ),
        "kmeans_clusters": _sim().kmeans_oracle_sql(k=10, n_iters=2),
        "semdedup_pairs": _sim().semdedup_oracle_sql(
            threshold=0.35, k=10, n_iters=2
        ),
        "cosine_topk": _sim().cosine_topk_oracle_sql(_ann_query_vec(), k=15),
        "cosine_pairs": _sim().cosine_pairs_oracle_sql(threshold=0.5),
        "function_score": _sa().function_score_oracle_sql(
            FLAGSHIP_TERMS, "n_chars", k=20
        ),
        "term_suggest": _fz().term_suggest_oracle_sql(
            _SUGGEST_SEED, size=8, max_edits=2
        ),
        "term_suggest_store": _fz().term_suggest_oracle_sql(
            _SUGGEST_SEED, size=8, max_edits=2
        ),
        "phrase_suggest": _fz().phrase_suggest_oracle_sql(
            _SUGGEST_PHRASE, max_edits=2
        ),
        "range_filter_search": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20,
            doc_filter=(
                "tf.doc_id IN (SELECT doc_id FROM documents "
                f"WHERE n_chars BETWEEN {_RANGE[0]} AND {_RANGE[1]})"
            ),
        ),
        "explain_score": _sa().explain_oracle_sql(FLAGSHIP_TERMS, k=10),
        "significant_terms_agg": _ag().significant_terms_oracle_sql(
            ["spark", "table"], size=10, min_doc_count=3
        ),
        "more_like_this": _sa().more_like_this_oracle_sql(
            _MLT_DOC, max_query_terms=10, k=20
        ),
        "terms_agg": _ag().terms_agg_oracle_sql("lang", size=10, metric_col="n_chars"),
        "date_histogram_agg": _ag().date_histogram_oracle_sql(
            "ts", interval="day", value_col="value"
        ),
        "pipeline_metrics": _ap().pipeline_metrics_oracle_sql(
            _ag().date_histogram_oracle_sql("ts", interval="day", value_col="value"),
            "sum_value", moving_window=3, serial_lag=2,
        ),
        "bucket_siblings": _ap().bucket_siblings_oracle_sql(
            _ag().date_histogram_oracle_sql("ts", interval="day", value_col="value"),
            "sum_value",
        ),
        "bucket_select_sort": _ap().bucket_select_sort_oracle_sql(
            _ag().date_histogram_oracle_sql("ts", interval="day", value_col="value"),
            "sum_value", min_doc_count=2, top_n=10,
        ),
        "stats_agg": _ag().stats_agg_oracle_sql(FLAGSHIP_TERMS),
        "multi_terms_agg": _ag().multi_terms_oracle_sql(
            ["lang", "source"], size=10, metric_col="n_chars"
        ),
        "rare_terms_agg": _ag().rare_terms_oracle_sql(max_doc_count=2, ngram=2),
        "weighted_avg_agg": _ag().weighted_avg_oracle_sql(
            "event_type", "value", "w",
            table="(SELECT event_type, value,"
                  " CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w"
                  " FROM events)",
        ),
        "mad_agg": _ag().mad_oracle_sql("lang", "n_chars"),
        "match_bool_prefix_topk": _pf().match_bool_prefix_oracle_sql(
            ["merge", "sc"], k=20
        ),
        "cardinality_agg": _ag().cardinality_agg_oracle_sql("event_type", "user_id"),
        "histogram_agg": _ag().histogram_agg_oracle_sql(
            "n_chars", 50, value_col="n_chars"
        ),
        "percentiles_agg": _ag().percentiles_agg_oracle_sql("n_chars"),
        "percentile_ranks_agg": _ag().percentile_ranks_oracle_sql(
            "n_chars", [200.0, 300.0, 400.0]
        ),
        "top_hits_agg": _ab().top_hits_oracle_sql(
            "lang", "n_chars", n_buckets=4, n_hits=3
        ),
        "composite_agg": _ab().composite_oracle_sql(
            ["lang", "source"], size=12, after=_COMPOSITE_AFTER
        ),
        "range_agg": _ab().range_agg_oracle_sql(
            "n_chars", _RANGES, metric_col="n_chars"
        ),
        "filters_agg": _ab().filters_oracle_sql(
            {n: sql for n, (sql, _) in _filters_spec().items()}
        ),
        "adjacency_matrix_agg": _ab().adjacency_matrix_oracle_sql(
            {n: sql for n, (sql, _) in _filters_spec().items()}
        ),
        # metadata-served per-routing stats must equal the full data scan
        "shard_doc_stats": _ag().routing_doc_counts_oracle_sql("lang"),
        "analyze_text": _sa().analyze_oracle_sql(_ANALYZE_TEXT),
        "term_vectors": _sa().term_vectors_oracle_sql(_TERMVEC_IDS),
        "msearch": _sa().msearch_oracle_sql(_MSEARCH, k=10),
        "rank_eval": _sa().rank_eval_oracle_sql(_MSEARCH, _QRELS, k=10),
        "terms_lookup": _sa().terms_lookup_oracle_sql(
            lookup_doc_id=7, max_terms=8, k=25
        ),
        "sort_search_after": _sa().sort_search_after_oracle_sql(
            "n_chars", after=_SORT_AFTER, k=20
        ),
        "mget_store": f"""
            SELECT printf('doc://%012d', doc_id) AS url, doc_id,
                   CAST({_DLEN} AS BIGINT) AS doc_len
            FROM documents
            WHERE doc_id IN ({", ".join(str(i) for i in _MGET_IDS)})
            ORDER BY url
        """,
        "count_query_store": _sa().count_query_oracle_sql(FLAGSHIP_TERMS),
        "highlight_snippets": _sa().highlight_oracle_sql(
            FLAGSHIP_TERMS,
            hits_cte=(
                "SELECT h.doc_id, d.text FROM ("
                + bm25_topk_oracle_sql(FLAGSHIP_TERMS, k=20)
                + ") h JOIN documents d USING (doc_id)"
            ),
        ),
        "filtered_alias_view": f"SELECT doc_id, lang, {_DLEN} AS doc_len FROM documents WHERE lang = 'en'",
        "routed_search": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20,
            table="(SELECT * FROM documents WHERE lang = 'en') AS routed",
        ),
        # alias routing='en' -> shard-local stats over the en subset;
        # alias filter part_id=1 -> non-scoring doc restriction
        # (part_id = doc_id % 4, engine/ingest.py as_partitioned_source)
        "alias_routed_search": bm25_topk_oracle_sql(
            FLAGSHIP_TERMS, k=20,
            table="(SELECT * FROM documents WHERE lang = 'en') AS routed",
            doc_filter="doc_id % 4 = 1",
        ),
        "multi_index_fanout": f"""
            SELECT CASE WHEN lang = 'en' THEN 'idx_en' ELSE 'idx_other' END AS index_name,
                   count(*) AS n_docs,
                   CAST(sum({_DLEN}) AS BIGINT) AS sum_dl
            FROM documents GROUP BY 1
        """,
        # resize_plan / image_features / frame_sample: the media table is a
        # pure function of the row index, so the oracles regenerate it in
        # SQL (engine/multimodal.py synthetic_media) and recompute each op.
        # image_features' stub luma = mean of the payload's uint8 bytes; the
        # payload is '%08d' % i repeated, and repetition preserves the mean,
        # so the oracle averages the 8 digit ASCII codes. The decode kernel
        # stays a clearly-marked stub — the oracle certifies the Arrow
        # plumbing + error isolation end-to-end.
        "image_features": """
            WITH m AS (
              SELECT CAST(i AS BIGINT) AS media_id, CAST(i % 3 AS INT) AS mt,
                     printf('%08d', i) AS s
              FROM range(64) t(i)
            )
            SELECT media_id,
                   CASE WHEN mt < 2 THEN 3 END AS channels,
                   CASE WHEN mt < 2 THEN round((
                     ascii(substr(s,1,1))+ascii(substr(s,2,1))+ascii(substr(s,3,1))+ascii(substr(s,4,1))+
                     ascii(substr(s,5,1))+ascii(substr(s,6,1))+ascii(substr(s,7,1))+ascii(substr(s,8,1))
                   )/8.0, 4) END AS mean_luma,
                   CASE WHEN mt = 2 THEN 'not an image: video/mp4' END AS error
            FROM m
        """,
        "frame_sample": """
            WITH m AS (
              SELECT CAST(i AS BIGINT) AS media_id, 1000 + i*40 AS dur
              FROM range(64) t(i) WHERE i % 3 = 2
            )
            SELECT media_id, CAST(x AS INT) AS frame_idx, CAST(x*500 AS INT) AS ts_ms
            FROM m, LATERAL (SELECT unnest(range(0, (dur + 499) // 500)) AS x) f
        """,
        "resize_plan": """
            WITH m AS (
              SELECT CAST(i AS BIGINT) AS media_id,
                     CAST(64 + (i % 7) * 32 AS INT) AS width,
                     CAST(48 + (i % 5) * 24 AS INT) AS height
              FROM range(64) t(i)
            ), s AS (
              SELECT media_id, width, height,
                     least(1.0, 128.0 / greatest(width, height)) AS sc
              FROM m
            )
            SELECT media_id, width, height,
                   CAST(round(width * sc) AS INT) AS target_w,
                   CAST(round(height * sc) AS INT) AS target_h,
                   round(sc, 6) AS scale
            FROM s
        """,
        "offset_ledger": """
            SELECT CAST(event_id % 4 AS INT) AS part_id,
                   CAST(max(floor(event_id / 4)) AS BIGINT) AS committed_offset,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
    }


def _bm25_fields_oracle() -> str:
    from engine.query import bm25_fields_oracle_sql

    title_expr = (
        "array_to_string(regexp_extract_all(lower(coalesce(text, '')), "
        f"'{TOKEN_PATTERN}')[1:{_TITLE_LEN}], ' ')"
    )
    return bm25_fields_oracle_sql(
        FLAGSHIP_TERMS, [(title_expr, 2.0), ("text", 1.0)], k=20
    )


def _bm25_dismax_oracle() -> str:
    from engine.query import bm25_fields_oracle_sql

    title_expr = (
        "array_to_string(regexp_extract_all(lower(coalesce(text, '')), "
        f"'{TOKEN_PATTERN}')[1:{_TITLE_LEN}], ' ')"
    )
    return bm25_fields_oracle_sql(
        FLAGSHIP_TERMS, [(title_expr, 2.0), ("text", 1.0)], k=20,
        mode="best_fields", tie_breaker=0.3,
    )


def _phr():
    from engine import phrase

    return phrase


def _pfx():
    from engine import prefix

    return prefix


def _fz():
    from engine import fuzzy

    return fuzzy


def _wc():
    from engine import wildcard

    return wildcard


def _ag():
    from engine import aggs

    return aggs


def _ab():
    from engine import aggs_bucket

    return aggs_bucket


def _ap():
    from engine import aggs_pipeline

    return aggs_pipeline


def _sa():
    from engine import searchapi

    return searchapi


def _rr():
    from engine import rerank

    return rerank


def _cl():
    from engine import clusters

    return clusters


def _pc():
    from engine import percolate

    return percolate


def _pl():
    from engine import pipeline

    return pipeline


def _ts():
    from engine import textstats

    return textstats


def _tp():
    from engine import trainprep

    return trainprep


def _qs():
    from engine import querystring

    return querystring


def _pf():
    from engine import prefix

    return prefix


def _dd():
    from engine import dedup

    return dedup


def _sim():
    from engine import similarity

    return similarity
