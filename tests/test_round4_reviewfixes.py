"""Round-4 review findings: _meta.json clobber, hive-escaped routing
values, null routing in the builders, int32 flush guard."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.segments import IndexStore, _unescape_hive


def test_create_never_rewrites_meta(tmp_path):
    store = IndexStore(str(tmp_path), "w", cfg=IndexConfig(codec="pfor")).create()
    assert store.codec == "pfor"
    # re-create with a different cfg (the admin CLI default): codec keeps
    IndexStore(str(tmp_path), "w", cfg=IndexConfig(codec="varint")).create()
    assert store.codec == "pfor"
    IndexStore(str(tmp_path), "w").create_and_alias("a1")
    assert store.codec == "pfor"


def test_unescape_hive():
    assert _unescape_hive("en") == "en"
    assert _unescape_hive("en%3AUS") == "en:US"
    assert _unescape_hive("50%25off") == "50%off"
    assert _unescape_hive("__HIVE_DEFAULT_PARTITION__") is None


def test_routed_store_with_special_chars_and_nulls(spark, tmp_path):
    # routing values that hive-escape (':') plus a NULL routing doc; two
    # ingest passes -> multi-segment path-listing read (the r04 finding:
    # raw-suffix comparison matched nothing once a second segment existed,
    # and null routing crashed the builder run-walk)
    from engine.query import search_store

    cfg = IndexConfig(routing_col="routing")
    base = webpages(spark, 120, partitions=2)
    routed_col = (
        F.when(F.col("row_id") % 3 == 0, F.lit("en:US"))
        .when(F.col("row_id") % 3 == 1, F.lit("fr"))
        .otherwise(F.lit(None))
    )
    src = as_partitioned_source(base.withColumn("routing", routed_col), 2)
    store = IndexStore(str(tmp_path), "rsc").create()
    run_ingest_loop(spark, store, src, rows_per_partition=30,
                    start_option=EARLIEST, cfg=cfg)
    assert len(store.live_segments()) > 1

    # routed read returns exactly the en:US docs (path-level pruning must
    # decode the %3A directory suffix)
    docs = store.view().docs(spark, routing="en:US")
    got_urls = {r["url"] for r in docs.select("url").collect()}
    want_urls = {
        r["url"]
        for r in base.where(F.col("row_id") % 3 == 0).select("url").collect()
    }
    # quarantined bad-html docs never land in the store
    assert got_urls and got_urls <= want_urls
    # routed search works end-to-end on the escaped value
    hits = search_store(spark, store, ["engine"], k=5, cfg=cfg,
                        routing="en:US").collect()
    assert hits
    # stats keys are the TRUE values; no escaped or sentinel keys
    vals = set(store.view().routing_values())
    assert vals == {"en:US", "fr"}
    # null-routing docs survive (builder run-walk must not crash) and come
    # back with routing NULL in the unrouted read
    all_docs = store.docs(spark)
    n_null = all_docs.where(F.col("routing").isNull()).count()
    assert n_null > 0
    assert "__HIVE_DEFAULT_PARTITION__" not in {
        r["routing"] for r in all_docs.select("routing").distinct().collect()
    }


def test_flush_bytes_guard():
    from engine.postings import _check_flush_bytes

    _check_flush_bytes(100)
    with pytest.raises(ValueError, match="int32 offset range"):
        _check_flush_bytes((1 << 31))


def test_iter_routing_runs_null_safe():
    import pyarrow as pa

    from engine.postings import iter_routing_runs

    col = pa.chunked_array([pa.array([None, None, "a", "a", "b", None])])
    runs = list(iter_routing_runs(col))
    assert runs == [(0, 2, None), (2, 4, "a"), (4, 5, "b"), (5, 6, None)]


def test_wand_sparse_wide_blocks_rank_identical(spark):
    # rare terms whose single block spans a huge doc-id range (the r04
    # finding: sequence() replication is O(span/width)); the decode-assign
    # path must stay rank-identical to the exact executor
    from engine.postings import build_posting_blocks_local, term_stats
    from engine.query import bm25_topk_from_index
    from engine.wand import SPAN_EXPLODE_MAX, wand_topk

    docs = webpages(spark, 200, partitions=2).select(
        (F.col("row_id") * 10_000).alias("doc_id"), "text"
    )
    blocks = build_posting_blocks_local(docs).cache()
    hwm = 200 * 10_000
    terms = ["engine", "spark", "crawl"]
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(F.split(F.col("text"), r"\s+"))).alias("a"),
    ).first()
    n_docs, avgdl = stats["n"], float(stats["a"])
    df_map = {
        r["term"]: int(r["df"])
        for r in term_stats(blocks.where(F.col("term").isin(terms))).collect()
    }
    exact = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_from_index(
            blocks, n_docs, avgdl, terms, k=12
        ).collect()
    ]
    # num_ranges=512 -> width ~3907 -> every term's block spans far more
    # than SPAN_EXPLODE_MAX ranges -> the decode-assign path runs
    assert hwm / 512 * SPAN_EXPLODE_MAX < hwm  # sanity: spans exceed cap
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            spark, blocks, n_docs, avgdl, df_map, terms, k=12,
            num_ranges=512, doc_id_hwm=hwm,
        ).collect()
    ]
    assert got == exact
    # and with a handful of ranges (dense path) — same answer
    got2 = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            spark, blocks, n_docs, avgdl, df_map, terms, k=12,
            num_ranges=4, doc_id_hwm=hwm,
        ).collect()
    ]
    assert got2 == exact
