"""Store-backed phrase search (engine/positions.py): positional sidecar
build, merge carry-through, superseded-doc exclusion, and the missing-
sidecar guard."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.ingest import as_partitioned_source, process_window, run_ingest_loop
from engine.merge import merge_segments
from engine.phrase import bm25_phrase_topk
from engine.positions import (
    decode_position_rows,
    encode_position_rows,
    search_store_phrase,
)
from engine.segments import IndexStore

PH = ["red", "fox"]

TEXTS = [
    "the red fox jumped over the red fox again",  # ptf 2
    "a red fox",  # ptf 1
    "fox red reversed order",  # no match
    "red red red fox",  # ptf 1
    "nothing here",  # no match
    "red fox red fox red fox",  # ptf 3
    "just a filler document about indexes",
    "another filler about tables and rows",
]


def _pages(spark, texts, ts_base=0):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "row_id long, text string")
    return df.select(
        "row_id",
        F.format_string("doc://%012d", F.col("row_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200 + ts_base) + F.col("row_id")).alias(
            "warc_ts"
        ),
        F.encode(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "utf-8"
        ).alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )


def _docs_frame(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_positions_codec_roundtrip():
    rows = [
        np.array([0, 1, 5, 300, 70000], dtype=np.int64),
        np.array([2], dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([10, 11, 12], dtype=np.int64),
    ]
    blobs = encode_position_rows(rows)
    flat = decode_position_rows(blobs, np.array([len(r) for r in rows]))
    assert np.array_equal(flat, np.concatenate(rows))
    assert blobs[2] == b""


def test_store_phrase_matches_corpus_path(spark, tmp_path):
    cfg = IndexConfig(store_positions=True)
    store = IndexStore(str(tmp_path), "pidx", cfg=cfg).create()
    src = as_partitioned_source(_pages(spark, TEXTS), num_partitions=2, id_col="row_id")
    # 8 docs / 2 partitions, 2 offsets per window -> 2 batches
    run_ingest_loop(spark, store, src, rows_per_partition=2, cfg=cfg)
    assert len(store.live_segments()) == 2 and store.view().has_positions

    ref = [(r["doc_id"], r["score"]) for r in
           bm25_phrase_topk(spark, _docs_frame(spark, TEXTS), PH, k=10).collect()]
    got_pre = [(r["doc_id"], r["score"]) for r in
               search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()]
    assert got_pre == ref  # store doc ids == row ids (padded-url rank order)

    merge_segments(spark, store, cfg=cfg)
    assert store.view().has_positions
    got_post = [(r["doc_id"], r["score"]) for r in
                search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()]
    assert got_post == ref


def test_overlapping_phrase_through_store(spark, tmp_path):
    cfg = IndexConfig(store_positions=True)
    store = IndexStore(str(tmp_path), "ovidx", cfg=cfg).create()
    texts = ["a a a a", "b a a b"]
    src = as_partitioned_source(_pages(spark, texts), num_partitions=1, id_col="row_id")
    run_ingest_loop(spark, store, src, rows_per_partition=10, cfg=cfg)
    rows = {(r["doc_id"], r["score"]) for r in
            search_store_phrase(spark, store, ["a", "a"], k=10, cfg=cfg).collect()}
    ref = {(r["doc_id"], r["score"]) for r in
           bm25_phrase_topk(spark, _docs_frame(spark, texts), ["a", "a"], k=10).collect()}
    assert rows == ref and len(rows) == 2


def test_store_phrase_excludes_superseded(spark, tmp_path):
    """url 0's ORIGINAL text contains the phrase; a later re-ingest of the
    same url does not. The superseded doc must not match, pre- or
    post-merge (live-docs exclusion, then merge expunge)."""
    cfg = IndexConfig(store_positions=True)
    store = IndexStore(str(tmp_path), "upidx", cfg=cfg).create()
    batch0 = as_partitioned_source(
        _pages(spark, TEXTS), num_partitions=2, id_col="row_id"
    )
    process_window(spark, store, batch0, batch_id=0, cfg=cfg)
    # re-ingest url 0 with phrase-free text, later warc_ts
    upd = _pages(spark, ["no foxes in the update"], ts_base=10_000)
    batch1 = as_partitioned_source(upd, num_partitions=2, id_col="row_id")
    process_window(spark, store, batch1, batch_id=1, cfg=cfg)

    url0 = "doc://000000000000"
    old_id = min(
        r["doc_id"]
        for r in store.docs(spark).where(F.col("url") == url0).collect()
    )
    pre_ids = {r["doc_id"] for r in
               search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()}
    assert old_id not in pre_ids
    assert pre_ids == {1, 3, 5}  # the other matching docs still hit

    merge_segments(spark, store, cfg=cfg)
    post_ids = {r["doc_id"] for r in
                search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()}
    assert post_ids == pre_ids


def test_reader_phrase_matches_store_path(spark, tmp_path):
    """IndexReader.search_phrase (search_store_phrase on the held-open
    reader's view) is result-identical to search_store_phrase — with a
    bounded deleted set, an overflowed one, and after refresh() past a
    merge."""
    from engine.query import IndexReader

    cfg = IndexConfig(store_positions=True)
    store = IndexStore(str(tmp_path), "rdidx", cfg=cfg).create()
    batch0 = as_partitioned_source(
        _pages(spark, TEXTS), num_partitions=2, id_col="row_id"
    )
    process_window(spark, store, batch0, batch_id=0, cfg=cfg)
    # supersede url 0 (its original text matched the phrase)
    upd = _pages(spark, ["no foxes in the update"], ts_base=10_000)
    process_window(
        spark, store,
        as_partitioned_source(upd, num_partitions=2, id_col="row_id"),
        batch_id=1, cfg=cfg,
    )

    ref = [(r["doc_id"], r["score"]) for r in
           search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()]
    assert {d for d, _ in ref} == {1, 3, 5}

    reader = IndexReader(spark, store, cfg=cfg)
    try:
        assert not reader._deleted_overflow  # bounded deleted set
        got = [(r["doc_id"], r["score"]) for r in
               reader.search_phrase(PH, k=10).collect()]
        assert got == ref
        # a repeat query gives the same result
        assert [(r["doc_id"], r["score"]) for r in
                reader.search_phrase(PH, k=10).collect()] == ref
    finally:
        reader.close()

    # overflow: cap=0 leaves the deleted set off the driver
    cfg0 = IndexConfig(store_positions=True, max_deleted_driver=0)
    reader0 = IndexReader(spark, store, cfg=cfg0)
    try:
        assert reader0._deleted_overflow
        assert [(r["doc_id"], r["score"]) for r in
                reader0.search_phrase(PH, k=10).collect()] == ref
    finally:
        reader0.close()

    # post-merge: the expunge changes n_docs/df (scores shift) — reader and
    # store paths must still agree exactly, and the hit set is unchanged
    merge_segments(spark, store, cfg=cfg)
    ref_post = [(r["doc_id"], r["score"]) for r in
                search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()]
    assert {d for d, _ in ref_post} == {1, 3, 5}
    reader = IndexReader(spark, store, cfg=cfg)
    try:
        assert [(r["doc_id"], r["score"]) for r in
                reader.search_phrase(PH, k=10).collect()] == ref_post
    finally:
        reader.close()


def test_phrase_requires_positions_sidecar(spark, tmp_path):
    store = IndexStore(str(tmp_path), "noidx").create()
    src = as_partitioned_source(_pages(spark, TEXTS[:4]), num_partitions=1, id_col="row_id")
    run_ingest_loop(spark, store, src, rows_per_partition=10)
    with pytest.raises(ValueError, match="positions sidecar"):
        search_store_phrase(spark, store, PH, k=5)
    from engine.query import IndexReader

    reader = IndexReader(spark, store)
    try:
        with pytest.raises(ValueError, match="positions sidecar"):
            reader.search_phrase(PH, k=5)
    finally:
        reader.close()


def test_routed_store_phrase(spark, tmp_path):
    """Routed store (hive-partitioned positions): phrase search reads all
    routing partitions and matches the corpus path."""
    cfg = IndexConfig(store_positions=True, routing_col="lang")
    store = IndexStore(str(tmp_path), "ridx", cfg=cfg).create()
    texts = TEXTS[:6]
    rows = [(i, t, "en" if i % 2 == 0 else "de") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "row_id long, text string, lang string")
    pages = df.select(
        "row_id",
        F.format_string("doc://%012d", F.col("row_id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("row_id")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    src = as_partitioned_source(pages, num_partitions=2, id_col="row_id")
    run_ingest_loop(spark, store, src, rows_per_partition=2, cfg=cfg)
    ref = [(r["doc_id"], r["score"]) for r in
           bm25_phrase_topk(spark, _docs_frame(spark, texts), PH, k=10).collect()]
    got = [(r["doc_id"], r["score"]) for r in
           search_store_phrase(spark, store, PH, k=10, cfg=cfg).collect()]
    assert got == ref
