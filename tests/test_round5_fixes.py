"""Round-5 ADVICE regression tests: rollup grand-total selection with
null-routing docs (merge + window-strategy ingest), pfor codec guards,
--codec CLI scoping."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.merge import merge_segments
from engine.segments import IndexStore


def _null_routed_pages(spark, n=90):
    base = webpages(spark, n, partitions=2)
    routed = (
        F.when(F.col("row_id") % 3 == 0, F.lit("en"))
        .when(F.col("row_id") % 3 == 1, F.lit("fr"))
        .otherwise(F.lit(None))  # a third of docs carry NULL routing
    )
    return base.withColumn("routing", routed)


def test_rollup_grand_total_with_null_routing(spark, tmp_path, monkeypatch):
    """ADVICE r04 (medium): with null-routing docs, rollup('routing') emits
    TWO routing=None rows (null subgroup + grand total); selecting the total
    by `routing IS NULL` picks one nondeterministically and can record the
    null subgroup's n_docs/sum_dl as segment totals, corrupting avgdl.
    grouping()==1 must select the true total in BOTH the window-strategy
    ingest branch and the merge stats path. The rollup is in the
    distributed build, so the ingest runs with the driver build's cap at 0."""
    import engine.ingest as ingest_mod

    monkeypatch.setattr(ingest_mod, "DRIVER_BUILD_MAX_DOCS", 0)
    cfg = IndexConfig(routing_col="routing", docid_strategy="window")
    pages = _null_routed_pages(spark)
    src = as_partitioned_source(pages, 2)
    store = IndexStore(str(tmp_path), "nr").create()
    run_ingest_loop(spark, store, src, rows_per_partition=60,
                    start_option=EARLIEST, cfg=cfg)

    docs = store.docs(spark)
    n_live = docs.count()
    sum_dl = int(docs.agg(F.sum("doc_len")).collect()[0][0])
    st = store.global_stats()
    # the null subgroup is a strict subset of the corpus: picking it as the
    # total would make these equalities fail
    assert st["n_docs"] == n_live
    assert st["sum_dl"] == sum_dl

    # second EARLIEST pass re-ingests every page (pure upserts) -> the merge
    # sees dead superseded docs and takes its rollup stats path
    run_ingest_loop(spark, store, as_partitioned_source(pages, 2),
                    rows_per_partition=60, start_option=EARLIEST, cfg=cfg)
    merge_segments(spark, store, cfg=cfg)
    st2 = store.global_stats()
    assert st2["n_docs"] == n_live
    assert st2["sum_dl"] == sum_dl
    # per-routing stats exclude the NULL key but keep the real values
    assert set(store.view().routing_values()) == {"en", "fr"}


def test_pfor_requires_n():
    from engine.codecs import decode_posting_block, encode_posting_block

    docs = np.array([3, 7, 20], dtype=np.int64)
    tfs = np.array([1, 2, 1], dtype=np.int64)
    db, tb = encode_posting_block(docs, tfs)
    with pytest.raises(ValueError, match="n is required"):
        decode_posting_block(db, tb, codec="pfor")


def test_pfor_pack_rejects_non_contiguous_blocks():
    from engine.codecs import pfor_pack_blocks

    v = np.arange(10, dtype=np.uint64)
    with pytest.raises(ValueError, match="contiguous"):
        pfor_pack_blocks(v, np.array([0, 6]), np.array([5, 10]))
    with pytest.raises(ValueError, match="contiguous"):
        pfor_pack_blocks(v, np.array([0, 5]), np.array([5, 9]))


def test_index_admin_codec_only_on_create(tmp_path):
    from jobs.index_admin import main

    # delete must not accept --codec any more
    with pytest.raises(SystemExit):
        main(["delete", "--index-root", str(tmp_path), "--index", "x",
              "--codec", "pfor"])
    # create records it
    assert main(["create", "--index-root", str(tmp_path), "--index", "x",
                 "--codec", "pfor"]) == 0
    store = IndexStore(str(tmp_path), "x")
    assert store.codec == "pfor"


def test_lsh_hot_bucket_cap_bounds_identical_corpus(spark, caplog):
    """VERDICT r04 item 2: an all-identical corpus puts every doc in ONE
    LSH bucket per band — without the cap the banded self-join emits
    O(n^2) pairs. With the cap the hot buckets are skipped AND logged."""
    import logging

    from engine.dedup import minhash_lsh_pairs, simhash_near_pairs

    n = 60
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page text repeated across the corpus "
              "identical boilerplate page text").alias("text"),
    )
    # ALL buckets hot: the cap would silently empty the candidate set, so
    # drop_hot_buckets refuses outright (review finding r05 — a cap that
    # zeroes recall must be loud, not a confident empty result)
    with pytest.raises(ValueError, match="recall 0"):
        minhash_lsh_pairs(docs, max_bucket_size=10).collect()
    with pytest.raises(ValueError, match="recall 0"):
        simhash_near_pairs(docs, max_hamming=3, max_bucket_size=10).collect()

    # PARTIALLY hot: one boilerplate cluster among distinct docs — the hot
    # buckets are skipped AND logged, the rest of the corpus still pairs
    from engine.corpus import webpages

    mixed = webpages(spark, 40, partitions=2).select(
        F.col("row_id").alias("doc_id"),
        F.when(F.col("row_id") < 25, F.lit("identical boilerplate page"))
        .otherwise(F.col("text")).alias("text"),
    )
    with caplog.at_level(logging.WARNING, logger="engine.dedup"):
        capped = minhash_lsh_pairs(mixed, max_bucket_size=10).collect()
    assert any("minhash_lsh_pairs" in r.message and "hot" in r.message
               for r in caplog.records)
    boiler = {i for i in range(25)}
    assert all(not (r["id_a"] in boiler and r["id_b"] in boiler)
               for r in capped)  # the hot cluster's pairs were dropped

    # uncapped (None) demonstrates the degenerate O(n^2) output
    uncapped = minhash_lsh_pairs(docs, max_bucket_size=None).collect()
    assert len(uncapped) == n * (n - 1) // 2


def test_lsh_cap_inert_on_normal_corpus(spark, docs_small):
    """The default cap must not change results on a normal corpus."""
    from engine.dedup import minhash_lsh_pairs

    docs = docs_small.limit(80)
    with_cap = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()}
    no_cap = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_pairs(docs, max_bucket_size=None).collect()}
    assert with_cap == no_cap


def test_bm25_fields_title_boost_ranks_title_hit_first(spark):
    """Multi-field BM25 (title^2 + text, per-field norms): two docs with
    the SAME body-field stats for the query term; the one whose derived
    title (first tokens) also contains it must rank first."""
    from engine.analysis import tokens
    from engine.query import bm25_topk, bm25_topk_fields

    filler = "the quick brown fox jumps over lazy dogs again and"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {filler} end"),          # 'alpha' inside the title
            (2, f"{filler} alpha end"),          # 'alpha' only past token 8
            (3, f"{filler} {filler} end"),       # no match
        ],
        "doc_id long, text string",
    ).withColumn("title", F.array_join(F.slice(tokens("text"), 1, 8), " "))

    both = bm25_topk_fields(
        spark, docs, ["alpha"], [("title", 2.0), ("text", 1.0)], k=3
    ).collect()
    assert [r["doc_id"] for r in both][0] == 1
    assert {r["doc_id"] for r in both} == {1, 2}  # doc 3 never matches

    # body-only scoring can't separate docs 1 and 2 by much; the title field
    # contributes a strictly positive extra component for doc 1
    body_only = {r["doc_id"]: r["score"]
                 for r in bm25_topk(spark, docs, ["alpha"], k=3).collect()}
    fields = {r["doc_id"]: r["score"] for r in both}
    assert fields[1] > body_only[1]          # title adds score
    assert abs(fields[2] - body_only[2]) < 1e-9  # no title hit -> body only


# ---------------------------------------------------------------------------
# block impacts: Pareto (tf, dl) frontier upper bounds (VERDICT r04 item 6)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=50),
                  st.integers(min_value=1, max_value=2000)),
        min_size=1, max_size=128,
    ),
    st.floats(min_value=50.0, max_value=1000.0),
)
@settings(max_examples=150, deadline=None)
def test_block_impacts_frontier_attains_true_max(pairs, avgdl):
    """The stored frontier must yield the SAME maximum of the BM25 tf-part
    as scanning every posting, for any avgdl (merges change avgdl after the
    impacts are frozen) — the soundness+tightness contract of the WAND
    upper bound."""
    from engine.postings import _block_impacts

    k1, b = 1.2, 0.75
    tf = np.array([t for t, _ in pairs], dtype=np.int64)
    dl = np.array([d for _, d in pairs], dtype=np.int64)
    off, itf, idl = _block_impacts(
        tf, dl, np.array([0], dtype=np.int64), np.array([len(tf)], dtype=np.int64)
    )

    def s(t, d):
        return t / (t + k1 * (1.0 - b + b * d / avgdl))

    true_max = max(s(t, d) for t, d in pairs)
    frontier = list(zip(itf[off[0]:off[1]], idl[off[0]:off[1]]))
    got_max = max(s(t, d) for t, d in frontier)
    assert abs(got_max - true_max) < 1e-12
    # frontier is minimal: no pair dominated by another
    for i, (t1, d1) in enumerate(frontier):
        for j, (t2, d2) in enumerate(frontier):
            if i != j:
                assert not (t2 >= t1 and d2 <= d1)


def test_block_impacts_multi_block_segmentation():
    """Running max must reset at block boundaries (offset trick)."""
    from engine.postings import _block_impacts

    tf = np.array([5, 1, 9, 2], dtype=np.int64)
    dl = np.array([100, 50, 100, 50], dtype=np.int64)
    off, itf, idl = _block_impacts(
        tf, dl, np.array([0, 2], dtype=np.int64), np.array([2, 4], dtype=np.int64)
    )
    b0 = set(zip(itf[off[0]:off[1]], idl[off[0]:off[1]]))
    b1 = set(zip(itf[off[1]:off[2]], idl[off[1]:off[2]]))
    assert b0 == {(1, 50), (5, 100)}
    assert b1 == {(2, 50), (9, 100)}


def test_impacts_bound_tighter_than_legacy_and_rank_identical(spark):
    """A block whose max-tf posting is LONG and min-dl posting has tf=1
    must get a visibly smaller upper bound than the legacy cross-posting
    (max_tf, min_dl) bound — and WAND results stay identical to exact."""
    import pandas as pd

    from engine.wand import _block_upper_bounds

    pdf = pd.DataFrame({
        "term": ["t"],
        "max_tf": [8],          # from a 2000-token doc
        "min_dl": [40],         # from a tf=1 doc
        "imp_tf": [np.array([1, 8], dtype=np.int64)],
        "imp_dl": [np.array([40, 2000], dtype=np.int64)],
    })
    idf = {"t": 1.0}
    tight = _block_upper_bounds(pdf, idf, 1.2, 0.75, 300.0)[0]
    legacy = _block_upper_bounds(
        pdf.drop(columns=["imp_tf", "imp_dl"]), idf, 1.2, 0.75, 300.0
    )[0]
    assert tight < legacy - 0.05
