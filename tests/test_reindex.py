"""ES `_reindex` (engine/reindex.py) + the stored-`_source` option.

The contract: a destination built purely from the source store's stored
_source answers every query identically to the source, under the
DESTINATION's settings (codec switch, routing change) — and refuses to run
against a source built without store_source.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import webpages
from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
from engine.query import search_store
from engine.reindex import reindex
from engine.segments import IndexStore

N, P = 180, 4
TERMS = ["the", "data", "spark"]


@pytest.fixture(scope="module")
def source(spark):
    return as_partitioned_source(webpages(spark, N, partitions=4), P).cache()


@pytest.fixture(scope="module")
def src_store(spark, source, tmp_path_factory):
    cfg = IndexConfig(store_source=True)
    st = IndexStore(
        str(tmp_path_factory.mktemp("reidx_src")), "src_idx", cfg=cfg
    ).create()
    run_ingest_loop(spark, st, source, rows_per_partition=25,
                    start_option=EARLIEST, cfg=cfg)
    return st


def test_store_source_column_persisted(spark, src_store):
    docs = src_store.docs(spark)
    assert "source" in docs.columns
    # _source is the extracted text, byte-identical (T1 invariant): spot
    # check it re-tokenizes to the stored doc_len
    from engine.analysis import tokens

    bad = docs.where(F.size(tokens("source")) != F.col("doc_len")).count()
    assert bad == 0


def test_reindex_codec_switch_same_results(spark, src_store, tmp_path):
    dst_cfg = IndexConfig(codec="pfor")
    dst = IndexStore(str(tmp_path), "dst_idx", cfg=dst_cfg).create()
    res = reindex(spark, src_store, dst, cfg=dst_cfg)
    assert res is not None and res.committed
    assert dst.codec == "pfor"
    # doc ids are store-local (reassigned by url rank on reindex) and the
    # k-boundary tie-break follows them, so compare the FULL url -> score
    # map — the store-independent invariant
    def by_url(store):
        hits = search_store(spark, store, TERMS, k=10 * N)
        return sorted(
            (r["url"], r["score"]) for r in hits.join(
                store.docs(spark).select("doc_id", "url"), "doc_id"
            ).collect()
        )

    src_hits, dst_hits = by_url(src_store), by_url(dst)
    assert len(src_hits) > 0
    assert src_hits == dst_hits
    # lineage carried: destination ledger reflects the source offsets
    assert dst.committed_offsets() == src_store.committed_offsets()


def test_reindex_applies_destination_routing(spark, src_store, tmp_path):
    # destination routed by lang: hive-partitioned layout appears and the
    # routed read returns only that routing's docs
    dst_cfg = IndexConfig(routing_col="lang", store_source=True)
    dst = IndexStore(str(tmp_path), "dst_routed", cfg=dst_cfg).create()
    reindex(spark, src_store, dst, cfg=dst_cfg)
    langs = dst.view().routing_values()
    assert len(langs) > 1
    one = dst.view().docs(spark, routing=langs[0])
    assert one.where(F.col("lang") != langs[0]).count() == 0
    # chained: the routed destination is itself source-enabled
    assert "source" in dst.docs(spark).columns


def test_reindex_requires_stored_source(spark, source, tmp_path):
    no_src = IndexStore(str(tmp_path), "nosrc", cfg=IndexConfig()).create()
    run_ingest_loop(spark, no_src, source, rows_per_partition=50,
                    start_option=EARLIEST)
    dst = IndexStore(str(tmp_path), "dst", cfg=IndexConfig()).create()
    with pytest.raises(ValueError, match="store_source"):
        reindex(spark, no_src, dst)


def test_reindex_dedups_superseded_docs(spark, src_store, tmp_path, source):
    # append an updated version of some urls to the source store, then
    # reindex: the destination must keep only the latest versions
    upd = (
        source.where(F.col("row_id") < 10)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" updatedmarker")))
        .withColumn("html", F.encode(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "utf-8"))
    )
    from engine.ingest import process_window

    cfg = IndexConfig(store_source=True)
    process_window(spark, src_store, upd, batch_id=99, cfg=cfg)
    dst = IndexStore(str(tmp_path), "dst_upd", cfg=cfg).create()
    res = reindex(spark, src_store, dst, cfg=cfg)
    # source store carries originals + 10 updated versions across segments;
    # the destination keeps one doc per distinct url (the corpus itself
    # contains a deliberate duplicate-url pair, hence distinct, not N)
    n_urls = source.select("url").distinct().count()
    assert res.n_docs == n_urls
    assert dst.docs(spark).groupBy("url").count().where("count > 1").count() == 0
    # and the surviving version is the updated one
    marked = dst.docs(spark).where(
        F.col("source").contains("updatedmarker")
    ).count()
    n_upd_urls = source.where(F.col("row_id") < 10).select("url").distinct().count()
    assert marked == n_upd_urls


def test_reindex_cli_guards(tmp_path):
    from jobs.index_admin import main

    # missing source index -> error JSON, exit 1 (no spark session spun up)
    rc = main(["reindex", "--index-root", str(tmp_path), "--index", "nope",
               "--dest", "d2"])
    assert rc == 1
