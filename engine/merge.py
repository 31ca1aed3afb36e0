"""Log-structured segment merge (SURVEY.md §2.5 D5).

Re-implements Lucene's background merge semantics (the reference's output
system; anchor /root/reference/build.gradle:42 + index lifecycle S7-S11):
k segments -> one segment with
  - per-term posting lists k-way merged (doc-id bases are disjoint and
    increasing, so a term's per-segment lists concatenate in doc order;
    re-encoding restores full 128-blocks),
  - superseded docs expunged (last-write-wins by (url, warc_ts, doc_id) —
    Lucene's "expunge deletes"; reference upsert D10),
  - corpus stats recomputed over surviving docs only.

Two plans write the same segment. An append-only merge (no url repeated
across the inputs, no active delete entry) of at most
DRIVER_BUILD_MAX_DOCS docs and at most `postings_per_merge_partition`
tokens (the inputs' summed sum_dl: what one Spark merge task may hold)
runs on the driver with no Spark job: pyarrow reads the inputs'
postings, docs and positions files, numpy decodes the blocks and
re-encodes them in (routing, term, doc) order, and pyarrow writes one
term-sorted file per routing value; its stats are the sums of the
inputs' stats. Every other merge (bigger, or with superseded or
tombstoned docs to expunge) is a Spark plan: decode, expunge, a range
exchange on (routing, term, doc) and a per-partition re-encode.

The merge commits one ledger entry (adds merged, removes inputs) — readers
flip atomically; input segment files can be garbage-collected afterwards.
Merge policy: log-structured — merge when >= `merge_factor` live segments.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from engine.codecs import decode_posting_blocks_batch
from engine.config import DEFAULT_CONFIG, IndexConfig, plan_fanout
from engine.postings import (
    _encode_term_major,
    _out_arrow_schema,
    build_posting_blocks,
    decode_postings,
)
from engine.segments import IndexStore, LedgerEntry, StoreView, live_doc_ids

# largest superseded-doc set expunged via broadcast anti-join; beyond this
# (an update-heavy merge) fall back to a shuffled semi-join against live ids
BROADCAST_DEAD_MAX = 2_000_000


def merge_segments(
    spark: SparkSession,
    store: IndexStore | StoreView,
    segment_ids: list[str] | None = None,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> str:
    """Merge `segment_ids` (default: all live) into one segment. Returns the
    new segment id. Crash-safe: the ledger entry is committed last; a failed
    merge leaves inputs live and the orphan output is overwritten on retry.
    The whole merge reads one view of the store (its inputs through
    `view.restrict`); a commit that lands during the merge makes the merge's
    own commit fail instead of silently mixing ledger states. A small
    append-only merge runs on the driver with no Spark job (see the
    module docstring).

    The Spark plan runs under build_confs (AQE off) — same per-job
    fixed-cost rationale as the ingest batch body (engine/ingest.py
    process_window)."""
    from engine.session import build_confs

    with build_confs(spark):
        return _merge_segments_body(spark, store.view(), segment_ids, cfg)


def _shield_older_versions(spark, view: StoreView, src: StoreView, docs, dels) -> bool:
    """Tombstone the versions outside the merge that the merge would
    resurrect; True when a delete entry was committed. The merge
    drops every input version of a url whose newest input version is
    tombstoned; a version of that url outside the merge that ranks below it
    is superseded now, and nothing would supersede it after the merge (the
    tombstone names only the expunged id). Those versions are dead now, so
    tombstoning them first changes nothing, whichever commit a crash hits."""
    from engine.updates import commit_tombstones

    rest = [s for s in view.segments if s not in set(src.segments)]
    if not rest:
        return False
    top = live_doc_ids(docs).join(dels, "doc_id", "left_semi").select(
        "url", F.struct("warc_ts", "doc_id").alias("_top")
    )
    # struct order (ascending, nulls first) is the reverse of the ranking
    older = (
        view.restrict(rest).docs(spark).join(top, "url")
        .where(F.struct("warc_ts", "doc_id") < F.col("_top"))
        .select("doc_id").join(dels, "doc_id", "left_anti")
    )
    return commit_tombstones(
        view, older.toArrow().column("doc_id").to_numpy(),
        {"by": "merge", "merge_inputs": list(src.segments)},
    ) > 0


def _merge_segments_body(
    spark: SparkSession,
    view: StoreView,
    segment_ids: list[str] | None,
    cfg: IndexConfig,
) -> str:
    from engine.ingest import DRIVER_BUILD_MAX_DOCS

    src = view if segment_ids is None else view.restrict(segment_ids)
    inputs = list(src.segments)
    if len(inputs) < 2 and not view.active_deletes:
        # a single-segment "merge" is meaningful only as ES forcemerge's
        # only_expunge_deletes: rewrite the segment without its tombstoned
        # docs (engine/updates.py delete_by_query)
        raise ValueError(
            "need at least 2 segments to merge (or active deletes to expunge)"
        )
    if cfg.codec != view.codec:
        cfg = replace(cfg, codec=view.codec)
    in_stats = [view.store.segment_stats(s) for s in inputs]
    n_input_docs = sum(int(s["n_docs"]) for s in in_stats)

    # Cross-segment duplicates exist only when a url was re-ingested in a
    # later batch (update). An append-only merge (no repeated url, no
    # active delete entry: the common case) has live == docs and stats
    # that are the SUM of the inputs' stats.json. A small one runs on the
    # driver, and the docs it reads there decide the shape with no Spark
    # job. Append-only merges of 2k-50k docs (~310 tokens a doc, 2 inputs,
    # 4-core host, warm medians of 3) took 0.32 / 2.96 s driver / Spark at
    # 2k docs, 1.34 / 5.47 s at 10k, 3.57 / 8.84 s at 20k and 11.6 /
    # 16.4 s at 50k, so time sets no bound. Driver memory does: its peak
    # RSS rose ~100 bytes per input token (+93 MB at 2k docs, +338 MB at
    # 10k, +1.58 GB at 50k), so besides the doc cap the inputs' tokens are
    # held to the postings one Spark merge task may take (2M by default:
    # ~+200 MB, ~6.5k docs of that corpus).
    n_distinct = None
    if (not view.active_deletes and n_input_docs <= DRIVER_BUILD_MAX_DOCS
            and sum(int(s["sum_dl"]) for s in in_stats) <= cfg.postings_per_merge_partition):
        docs_tbl = src.table("docs")
        n_distinct = int(pc.count_distinct(docs_tbl.column("url")).as_py())
        if n_distinct == docs_tbl.num_rows:
            return _merge_on_driver(view, src, docs_tbl, in_stats, cfg)
    return _merge_with_spark(spark, view, src, in_stats, n_distinct, cfg)


def _summed_stats(in_stats: list[dict], routed: bool):
    """(n_docs, sum_dl, routing_stats) of an append-only merge: the sums of
    its inputs' stats."""
    n_docs = sum(int(s["n_docs"]) for s in in_stats)
    sum_dl = sum(int(s["sum_dl"]) for s in in_stats)
    routing_stats: dict[str, dict[str, int]] | None = None
    if routed:
        routing_stats = {}
        for s in in_stats:
            for k, v in (s.get("routing_stats") or {}).items():
                d = routing_stats.setdefault(k, {"n_docs": 0, "sum_dl": 0})
                d["n_docs"] += int(v["n_docs"])
                d["sum_dl"] += int(v["sum_dl"])
    return n_docs, sum_dl, routing_stats


def _merge_stats(out_id, view, inputs, n_docs, sum_dl, routing_stats) -> dict:
    stats = {
        "segment_id": out_id,
        "base_doc_id": 0,
        "doc_id_hwm": view.doc_id_hwm,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "merged_from": inputs,
    }
    if routing_stats is not None:
        stats["routing_stats"] = routing_stats
    return stats


def _commit_merge(view, entry_id, out_id, inputs, n_docs, path) -> str:
    view.store.commit(
        LedgerEntry(
            entry_id=entry_id,
            kind="merge",
            segments_added=[out_id],
            segments_removed=inputs,
            metrics={"n_inputs": len(inputs), "n_docs": int(n_docs), "build_path": path},
        )
    )
    return out_id


def _reencode(blocks, routed: bool, routing: str | None, cfg: IndexConfig):
    """The blocks of one routing value (a pyarrow Table of term, n and the
    three value streams) decoded and re-encoded as one RecordBatch of
    routing-pure blocks in (term, doc) order: each term's postings from
    every input concatenate into full block_size blocks."""
    ns = np.asarray(blocks.column("n").to_numpy(), dtype=np.int64)
    doc, tf, dl = decode_posting_blocks_batch(
        *(blocks.column(c).to_pylist() for c in ("doc_bytes", "tf_bytes", "dl_bytes")),
        ns, codec=cfg.codec)
    enc = blocks.column("term").combine_chunks().dictionary_encode()
    order = np.asarray(pc.sort_indices(enc.dictionary), dtype=np.int64)
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    code = np.repeat(rank[np.asarray(enc.indices, dtype=np.int64)], ns)
    o = np.lexsort((doc, code))
    return _encode_term_major(
        enc.dictionary.take(pa.array(order)), code[o], doc[o], tf[o], dl[o],
        cfg.block_size, routing, _out_arrow_schema(routed), routed, codec=cfg.codec,
    )


def _merge_on_driver(view: StoreView, src: StoreView, docs, in_stats: list[dict],
                     cfg: IndexConfig) -> str:
    """An append-only merge of `src` (`docs`: its docs rows, with no url
    repeated) read, re-encoded and written on the driver with no Spark
    job, in the layout and with the stats and ledger entry of the Spark
    plan: one term-sorted postings file per routing value, term_stats,
    positions re-sorted, docs (and `source`) carried verbatim, stats
    summed from the inputs'."""
    inputs = list(src.segments)
    routed = "routing" in docs.column_names
    entry_id = view.next_entry_id
    out_id = f"merge-{entry_id:08d}"
    blocks = src.table("postings", ["term", "n", "doc_bytes", "tf_bytes", "dl_bytes"]
                       + (["routing"] if routed else []))
    if not routed:
        parts = [(blocks, None)] if blocks.num_rows else []
    else:
        rv = blocks.column("routing")
        parts = [(blocks.filter(pc.is_null(rv) if v is None else pc.equal(rv, v)), v)
                 for v in pc.unique(rv).to_pylist()]
    postings = pa.Table.from_batches([_reencode(b, routed, v, cfg) for b, v in parts],
                                     schema=_out_arrow_schema(routed))
    n_docs, sum_dl, routing_stats = _summed_stats(in_stats, routed)
    view.store.write_segment_tables(
        out_id, postings, docs,
        _merge_stats(out_id, view, inputs, n_docs, sum_dl, routing_stats),
        positions=src.table("positions") if src.has_positions else None, ranged=True,
    )
    return _commit_merge(view, entry_id, out_id, inputs, n_docs, "driver")


def _merge_with_spark(spark: SparkSession, view: StoreView, src: StoreView,
                      in_stats: list[dict], n_distinct: int | None,
                      cfg: IndexConfig) -> str:
    """The merge as a Spark plan: any size, superseded versions and
    tombstones expunged. `n_distinct`: the inputs' distinct url count when
    the caller counted it already."""
    store = view.store
    inputs = list(src.segments)
    docs = src.docs(spark)
    routed = "routing" in docs.columns
    n_input_docs = sum(int(s["n_docs"]) for s in in_stats)

    # ONE countDistinct job decides the shape: append-only -> live == docs,
    # stats are the driver-side SUM of the inputs' stats.json (zero further
    # jobs, no dedup window in any downstream plan); updates -> full
    # expunge path below.
    if n_distinct is None:
        n_distinct = int(
            docs.select(F.countDistinct("url").alias("u")).collect()[0]["u"]
        )
    n_dead = n_input_docs - n_distinct

    # delete_by_query tombstones (engine/updates.py): merged output must
    # expunge them, so their presence forces the full stats/expunge path
    # even for an append-only (all-distinct-urls) input set
    dels = view.deleted_ids(spark)
    entry_id = view.next_entry_id
    if dels is not None and _shield_older_versions(spark, view, src, docs, dels):
        entry_id += 1
    out_id = f"merge-{entry_id:08d}"

    merged_tf_dl = None
    live_cached = None
    try:
        if n_dead == 0 and dels is None:
            live = docs
            n_docs, sum_dl, routing_stats = _summed_stats(in_stats, routed)
        else:
            live = live_doc_ids(docs)
            if dels is not None:
                # version ranking FIRST, tombstones second (see
                # StoreView.live_docs: deletes must not resurrect older
                # superseded versions)
                live = live.join(dels, "doc_id", "left_anti")
            live = live.cache()
            live_cached = live
            # ONE action for total + per-routing stats (rollup). grouping()
            # — not `routing IS NULL` — picks the grand total: with
            # null-routing docs the rollup emits TWO routing=None rows (the
            # null subgroup and the total) and a NULL filter would choose
            # nondeterministically, corrupting avgdl (ADVICE r04).
            stat_rows = (
                live.rollup(*(["routing"] if routed else []))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("doc_len").alias("s"),
                    *([F.grouping("routing").alias("_g")] if routed else []),
                )
                .collect()
            )
            if routed:
                total = [r for r in stat_rows if r["_g"] == 1][0]
                routing_stats = {
                    r["routing"]: {"n_docs": int(r["n"]), "sum_dl": int(r["s"] or 0)}
                    for r in stat_rows
                    if r["_g"] == 0 and r["routing"] is not None
                }
            else:
                total = stat_rows[0]
                routing_stats = None
            n_docs, sum_dl = int(total["n"]), int(total["s"] or 0)
            n_dead = n_input_docs - n_docs

        # expunge superseded docs' postings. The superseded (dead) set is
        # input_docs - live_docs — bounded by the UPDATE rate, not corpus
        # size, so the common shapes are: nothing to expunge (pure-append
        # ingest: skip the join entirely) or a small dead set (broadcast
        # anti-join — the posting stream never shuffles for the expunge).
        # Only a merge where a large fraction of docs were superseded pays
        # a shuffled semi-join against the live set. dl travels in the
        # blocks; routed blocks are routing-pure, so decode replicates
        # `routing` per posting and no join is needed to recover it.
        postings_long = decode_postings(
            src.postings(spark),
            keep_cols=("routing",) if routed else (),
            codec=cfg.codec,
        )
        if n_dead == 0:
            merged_tf_dl = postings_long
        elif n_dead <= BROADCAST_DEAD_MAX:
            dead = docs.select("doc_id").join(
                live.select("doc_id"), "doc_id", "left_anti"
            )
            merged_tf_dl = postings_long.join(
                F.broadcast(dead), "doc_id", "left_anti"
            )
        else:
            merged_tf_dl = postings_long.join(
                live.select("doc_id"), "doc_id", "left_semi"
            )

        hwm = view.doc_id_hwm
        # size the re-encode fan-out from the merged token count (sum_dl is
        # an upper bound on posting rows): a small-tier merge collapses to a
        # few tasks, a big merge uses every core and grows past the core
        # count so no partition exceeds postings_per_merge_partition
        n_parts = plan_fanout(
            sum_dl, cfg.merge_task_floor_postings,
            cfg.postings_per_merge_partition,
            spark.sparkContext.defaultParallelism,
        )
        # persist BEFORE the builder's range exchange: repartitionByRange
        # samples its input to pick boundaries, which would execute the
        # decode+expunge upstream a second time (ADVICE r03). The sampling
        # job populates the cache; the real exchange reads it back. Size is
        # bounded by the merge tier (O(merge_factor * tier tokens)), spills
        # to disk, and is released right after the segment write.
        from pyspark import StorageLevel

        merged_tf_dl = merged_tf_dl.persist(StorageLevel.MEMORY_AND_DISK)
        blocks = build_posting_blocks(
            merged_tf_dl, max(hwm, 1), cfg, num_partitions=n_parts
        )
        stats = _merge_stats(out_id, view, inputs, n_docs, sum_dl, routing_stats)
        # merged segment gets the globally range-partitioned layout — it is
        # the long-lived segment queries hit; micro-ingest segments skip it
        store.write_segment(out_id, blocks, live, stats, ranged=True)
        from engine.positions import write_segment_positions

        if src.has_positions:
            # doc ids survive the merge unchanged, so merged positions are a
            # filter (drop superseded docs — same broadcast/semi-join shapes
            # as the posting expunge above) + rewrite; blobs carry verbatim
            posn = src.positions(spark)
            if n_dead == 0:
                merged_pos = posn
            elif n_dead <= BROADCAST_DEAD_MAX:
                dead_pos = docs.select("doc_id").join(
                    live.select("doc_id"), "doc_id", "left_anti"
                )
                merged_pos = posn.join(F.broadcast(dead_pos), "doc_id", "left_anti")
            else:
                merged_pos = posn.join(live.select("doc_id"), "doc_id", "left_semi")
            write_segment_positions(store, out_id, merged_pos)
        return _commit_merge(view, entry_id, out_id, inputs, n_docs, "spark")
    finally:
        if live_cached is not None:
            live_cached.unpersist()
        if merged_tf_dl is not None:
            merged_tf_dl.unpersist()


def select_merge_tier(store: IndexStore | StoreView,
                      merge_factor: int = 8) -> list[str] | None:
    """Size-tiered merge selection (Lucene TieredMergePolicy shape): bucket
    live segments into power-of-two doc-count tiers and pick the smallest
    tier holding >= merge_factor segments. Bounds every merge to at most
    merge_factor similar-sized inputs — at 100 TB a merge job's input is
    O(merge_factor * tier_size), never "all live segments at once"."""
    view = store.view()
    if len(view.segments) < merge_factor:
        return None
    tiers: dict[int, list[str]] = {}
    for s in view.segments:
        n = max(1, int(view.store.segment_stats(s)["n_docs"]))
        tiers.setdefault(n.bit_length(), []).append(s)
    for t in sorted(tiers):
        if len(tiers[t]) >= merge_factor:
            return sorted(tiers[t])[:merge_factor]
    return None


def maybe_merge(
    spark: SparkSession,
    store: IndexStore,
    merge_factor: int = 8,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> str | None:
    """Tiered log-structured policy: merge the smallest over-full size tier
    (bounded input count), not every live segment."""
    view = store.view()
    sel = select_merge_tier(view, merge_factor)
    if sel is not None:
        return merge_segments(spark, view, sel, cfg)
    return None
