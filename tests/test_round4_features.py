"""Round-4 features: per-partition start-options file (S2), query-side
hash routing (routing_for), data-derived WAND ranges, minhash mapInPandas
signatures, merge write path without the redundant block re-range."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.corpus import webpages
from engine.ingest import (
    CUSTOM,
    EARLIEST,
    LATEST,
    RESTART,
    as_partitioned_source,
    parse_start_options_file,
    resolve_start_offsets_per_partition,
    run_ingest_loop,
)
from engine.segments import IndexStore

N, P = 200, 4


@pytest.fixture()
def source(spark):
    return as_partitioned_source(webpages(spark, N, partitions=4), P).cache()


@pytest.fixture()
def store(tmp_path):
    return IndexStore(str(tmp_path), "webidx").create()


# ---------------------------------------------------------------------------
# S2: per-partition start-options config file (ConsumerStartOption.java:31-89)
# ---------------------------------------------------------------------------


def _write(tmp_path, text):
    p = tmp_path / "start-options.config"
    p.write_text(text)
    return str(p)


def test_parse_start_options_file_reference_format(tmp_path):
    path = _write(
        tmp_path,
        "# comment line\n"
        "\n"
        "default:EARLIEST\n"
        "0:LATEST\n"
        "1:CUSTOM:10358\n"
        "5:RESTART\n",
    )
    default, per = parse_start_options_file(path)
    assert default == (EARLIEST, 0)
    assert per == {0: (LATEST, 0), 1: (CUSTOM, 10358), 5: (RESTART, 0)}


def test_parse_start_options_missing_file_defaults_restart(tmp_path):
    assert parse_start_options_file(str(tmp_path / "nope.config")) == (
        (RESTART, 0),
        {},
    )
    assert parse_start_options_file(None) == ((RESTART, 0), {})


def test_parse_start_options_rejects_bad_lines(tmp_path):
    with pytest.raises(ValueError, match="bad start option"):
        parse_start_options_file(_write(tmp_path, "justoneword\n"))
    with pytest.raises(ValueError, match="unknown start option"):
        parse_start_options_file(_write(tmp_path, "0:SIDEWAYS\n"))
    with pytest.raises(ValueError, match="CUSTOM needs an offset"):
        parse_start_options_file(_write(tmp_path, "0:CUSTOM\n"))


def test_resolve_mixed_start_options(spark, source, store):
    # commit two batches so RESTART has a ledger to read
    run_ingest_loop(
        spark, store, source, rows_per_partition=20, start_option=EARLIEST,
        max_batches=1,
    )
    ledger = store.committed_offsets()
    assert ledger  # every partition has a committed offset now

    hwm = resolve_start_offsets_per_partition(
        store,
        source,
        default=(RESTART, 0),
        per_partition={
            0: (EARLIEST, 0),      # re-read partition 0 from the beginning
            1: (CUSTOM, 7),        # seek to offset 7 -> hwm 6
            2: (LATEST, 0),        # skip partition 2 entirely
        },
    )
    assert 0 not in hwm  # EARLIEST -> absent -> starts at offset 0
    assert hwm[1] == 6  # CUSTOM seek semantics: start AT 7
    max2 = (
        source.where(F.col("part_id") == 2)
        .agg(F.max("row_offset"))
        .first()[0]
    )
    assert hwm[2] == max2
    assert hwm[3] == ledger[3]  # default RESTART follows the ledger


def test_resolve_mixed_needs_no_scan_without_latest(spark, source, store):
    # no LATEST anywhere -> the source is never scanned (pure ledger read);
    # passing a DataFrame whose evaluation would fail proves it
    poisoned = source.where(F.expr("assert_true(false)").isNotNull())
    hwm = resolve_start_offsets_per_partition(
        store, poisoned, default=(EARLIEST, 0), per_partition={1: (CUSTOM, 3)}
    )
    assert hwm == {1: 2}


# ---------------------------------------------------------------------------
# Query-side hash routing (routing_for) — ES client-side routing analog
# ---------------------------------------------------------------------------


def test_routing_for_matches_write_path(spark):
    from engine.assign import routing_for, static_assigner

    df = webpages(spark, 50, partitions=2)
    assigner = static_assigner("web", routing_col="url", num_shards=4)
    placed = assigner.assign(df).select("url", "routing")
    for row in placed.limit(8).collect():
        assert routing_for(spark, row["url"], 4) == row["routing"]


def test_search_store_routing_key_equals_partition_literal(spark, tmp_path):
    from engine.assign import routing_for
    from engine.config import IndexConfig
    from engine.query import search_store

    cfg = IndexConfig(routing_col="routing")
    src = as_partitioned_source(
        webpages(spark, N, partitions=4).withColumn(
            "routing",
            F.pmod(F.xxhash64(F.col("url")), F.lit(3)).cast("string"),
        ),
        P,
    )
    store = IndexStore(str(tmp_path), "routedidx").create()
    run_ingest_loop(
        spark, store, src, rows_per_partition=100, start_option=EARLIEST,
        cfg=cfg,
    )
    some_url = webpages(spark, N, partitions=4).select("url").first()[0]
    shard = routing_for(spark, some_url, 3)
    by_key = search_store(
        spark, store, ["engine"], k=5, cfg=cfg, routing_key=some_url, num_shards=3
    ).collect()
    by_literal = search_store(
        spark, store, ["engine"], k=5, cfg=cfg, routing=shard
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in by_key] == [
        (r["doc_id"], r["score"]) for r in by_literal
    ]
    with pytest.raises(ValueError, match="not both"):
        search_store(
            spark, store, ["engine"], cfg=cfg, routing="0", routing_key="x",
            num_shards=3,
        )
    with pytest.raises(ValueError, match="requires num_shards"):
        search_store(spark, store, ["engine"], cfg=cfg, routing_key="x")


# ---------------------------------------------------------------------------
# WAND: num_ranges derived from data; any count gives identical results
# ---------------------------------------------------------------------------


def test_wand_range_count_never_changes_results(spark, source, store):
    from engine.config import IndexConfig
    from engine.wand import search_store_wand

    run_ingest_loop(
        spark, store, source, rows_per_partition=100, start_option=EARLIEST
    )
    terms = ["the", "crawl", "rank"]
    golden = None
    for nr in (None, 1, 3, 64):
        got = [
            (r["doc_id"], r["score"])
            for r in search_store_wand(
                spark, store, terms, k=10, num_ranges=nr
            ).collect()
        ]
        if golden is None:
            golden = got
        assert got == golden, f"num_ranges={nr} changed results"


def test_wand_derived_ranges_scale_with_corpus():
    from engine.config import DEFAULT_CONFIG, plan_fanout

    cfg = DEFAULT_CONFIG
    small = plan_fanout(
        5_000, cfg.wand_range_floor_docs, cfg.docs_per_wand_range, 32
    )
    huge = plan_fanout(
        10**9, cfg.wand_range_floor_docs, cfg.docs_per_wand_range, 32
    )
    assert small <= 4  # a 5k-doc store no longer fans to 32 Python groups
    assert huge == 10**9 // cfg.docs_per_wand_range  # bounded range width


# ---------------------------------------------------------------------------
# MinHash signatures: mapInPandas segmented min-reduce == per-doc reference
# ---------------------------------------------------------------------------


def test_minhash_signatures_match_per_doc_reference(spark, docs_small):
    # per-doc reference: hashlib md5 (independent of Spark's F.md5),
    # (h1 + i*h2) mod 2^60, pandas groupby min
    import hashlib

    from engine.dedup import minhash_signatures, shingles

    docs = docs_small.limit(40)
    num_perm, k = 16, 3
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, num_perm=num_perm, k=k).collect()
    }
    sh = shingles(docs, k, "text", "doc_id").toPandas()
    perms = np.arange(num_perm, dtype=np.uint64)
    mask = np.uint64((1 << 60) - 1)
    hx = np.array(
        [
            [int(hashlib.md5(s.encode()).hexdigest()[0:15], 16),
             int(hashlib.md5(s.encode()).hexdigest()[16:31], 16)]
            for s in sh["shingle"]
        ],
        dtype=np.uint64,
    )
    want = {}
    for doc_id, grp in sh.groupby("doc_id"):
        h = hx[grp.index.to_numpy()]
        vals = (h[:, 0:1] + perms[None, :] * h[:, 1:2]) & mask
        want[doc_id] = vals.min(axis=0).view(np.int64).tolist()
    assert got == want


def test_minhash_signature_split_across_batches(spark, docs_small):
    # force tiny Arrow batches so one doc's shingles straddle batch
    # boundaries — the carry-across-batches path must still min correctly
    from engine.dedup import minhash_signatures

    docs = docs_small.limit(10)
    base = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, num_perm=8).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = {
            r["doc_id"]: list(r["sig"])
            for r in minhash_signatures(docs, num_perm=8).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert tiny == base


def test_create_and_alias_one_call(tmp_path):
    """createIndexAndAlias analog (ElasticSearchClientService.java:125-128):
    one call creates the index and points a (filtered, routed) alias at it;
    idempotent on an existing index like create()."""
    import json
    import subprocess
    import sys

    from engine.segments import IndexStore

    store = IndexStore(str(tmp_path), "web").create_and_alias(
        "en_docs", filter_col="lang", filter_val="en", routing="en"
    )
    assert store.exists()
    assert store.alias_spec("en_docs") == {
        "filter_col": "lang", "filter_val": "en", "routing": "en"
    }
    # second call: no error, alias spec replaced (reference re-alias)
    store.create_and_alias("en_docs", routing="fr")
    assert store.alias_spec("en_docs")["routing"] == "fr"

    # CLI surface prints one JSON line and types the filter value
    out = subprocess.run(
        [sys.executable, "jobs/index_admin.py", "create-and-alias",
         "--index-root", str(tmp_path), "--index", "web2",
         "--alias", "p1", "--filter", "part_id=1"],
        capture_output=True, text=True, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    assert json.loads(out.stdout)["created"] is True
    assert IndexStore(str(tmp_path), "web2").alias_spec("p1") == {
        "filter_col": "part_id", "filter_val": 1, "routing": None
    }


# ---------------------------------------------------------------------------
# pfor codec: store-level rank-identity with varint across every query path
# ---------------------------------------------------------------------------


def test_pfor_store_rank_identical_to_varint(spark, tmp_path):
    from engine.config import IndexConfig
    from engine.merge import merge_segments
    from engine.query import IndexReader, search_store
    from engine.wand import search_store_wand

    src = as_partitioned_source(webpages(spark, 300, partitions=4), 4).cache()
    terms = ["engine", "spark", "index"]
    results = {}
    for codec in ("varint", "pfor"):
        store = IndexStore(
            str(tmp_path / codec), codec, cfg=IndexConfig(codec=codec)
        ).create()
        run_ingest_loop(spark, store, src, rows_per_partition=25,
                        start_option=EARLIEST)
        assert store.codec == codec
        exact = [(r["doc_id"], r["score"])
                 for r in search_store(spark, store, terms, k=15).collect()]
        wand = [(r["doc_id"], r["score"])
                for r in search_store_wand(spark, store, terms, k=15).collect()]
        merge_segments(spark, store)  # merge re-encodes with the store codec
        merged = [(r["doc_id"], r["score"])
                  for r in search_store(spark, store, terms, k=15).collect()]
        reader = IndexReader(spark, store)
        try:
            rd = [(r["doc_id"], r["score"])
                  for r in reader.search_wand(terms, k=15).collect()]
        finally:
            reader.close()
        assert exact == wand == merged == rd
        results[codec] = exact
    assert results["varint"] == results["pfor"]


def test_ingest_resolves_codec_from_store_meta(spark, tmp_path):
    # a store created with pfor keeps pfor even when the caller's cfg says
    # varint (the store's _meta.json wins — segments must share one codec)
    from engine.config import IndexConfig
    from engine.postings import decode_postings

    store = IndexStore(str(tmp_path), "p", cfg=IndexConfig(codec="pfor")).create()
    src = as_partitioned_source(webpages(spark, 60, partitions=2), 2)
    run_ingest_loop(spark, store, src, rows_per_partition=30,
                    start_option=EARLIEST, cfg=IndexConfig(codec="varint"))
    # decoding the blocks as pfor works (i.e. they WERE written as pfor)
    n = decode_postings(store.postings(spark), codec="pfor").count()
    assert n > 0


def test_default_custom_reaches_unledgered_partitions(spark, source, store):
    # fresh store + `default:CUSTOM:n` (review finding r04): every source
    # partition must seek, not just ones present in ledger/per-partition map
    hwm = resolve_start_offsets_per_partition(
        store, source, default=(CUSTOM, 10), per_partition={1: (EARLIEST, 0)}
    )
    assert hwm == {0: 9, 2: 9, 3: 9}  # partition 1 starts at 0 (absent)
