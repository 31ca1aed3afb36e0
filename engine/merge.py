"""Log-structured segment merge (SURVEY.md §2.5 D5).

Re-implements Lucene's background merge semantics (the reference's output
system; anchor /root/reference/build.gradle:42 + index lifecycle S7-S11):
k segments -> one segment with
  - per-term posting lists k-way merged (doc-id bases are disjoint and
    increasing, so a term's per-segment lists concatenate in segment order;
    the relational groupBy(term) + re-encode restores full 128-blocks),
  - superseded docs expunged (last-write-wins by (url, warc_ts, doc_id) —
    Lucene's "expunge deletes"; reference upsert D10),
  - corpus stats recomputed over surviving docs only.

The merge commits one ledger entry (adds merged, removes inputs) — readers
flip atomically; input segment files can be garbage-collected afterwards.
Merge policy: log-structured — merge when >= `merge_factor` live segments.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from engine.config import DEFAULT_CONFIG, IndexConfig, plan_fanout
from engine.postings import build_posting_blocks, decode_postings
from engine.segments import IndexStore, LedgerEntry

# largest superseded-doc set expunged via broadcast anti-join; beyond this
# (an update-heavy merge) fall back to a shuffled semi-join against live ids
BROADCAST_DEAD_MAX = 2_000_000


def live_doc_ids(docs_df):
    """Latest doc per url: rank by (warc_ts desc, doc_id desc) — newest
    segment wins ties, matching ES upsert-by-id last-write-wins (D10)."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("doc_id").desc()
    )
    return (
        docs_df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def live_docs_for_store(spark, store, docs=None, entries=None):
    """The store-aware live-docs relation every store read path shares:
    last-write-wins version ranking (multi-segment upsert, D10) MINUS
    delete_by_query tombstones (engine/updates.py). Returns None when no
    filtering is needed — single segment and no active deletes — so callers
    skip the join entirely (the common path costs nothing).

    Ordering matters: the version ranking runs BEFORE the tombstone
    anti-join. Deleting a url's latest version must delete the url, not
    resurrect the superseded older version (ES delete-by-id semantics).

    `entries`: the ledger state to read (default: the ledger now); pass
    `docs` of the same state."""
    segs = store.live_segments(entries)
    multi = len(segs) > 1
    dels = store.deleted_ids(spark, entries)
    if not multi and dels is None:
        return None
    if docs is None:
        docs = store.docs(spark, segs)
    live = live_doc_ids(docs) if multi else docs
    if dels is not None:
        live = live.join(dels, "doc_id", "left_anti")
    return live


def merge_segments(
    spark: SparkSession,
    store: IndexStore,
    segment_ids: list[str] | None = None,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> str:
    """Merge `segment_ids` (default: all live) into one segment. Returns the
    new segment id. Crash-safe: the ledger entry is committed last; a failed
    merge leaves inputs live and the orphan output is overwritten on retry.

    Runs under build_confs (AQE off) — same per-job fixed-cost rationale as
    the ingest batch body (engine/ingest.py process_window)."""
    from engine.session import build_confs

    with build_confs(spark):
        return _merge_segments_body(spark, store, segment_ids, cfg)


def _merge_segments_body(
    spark: SparkSession,
    store: IndexStore,
    segment_ids: list[str] | None = None,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> str:
    inputs = store.live_segments() if segment_ids is None else list(segment_ids)
    if len(inputs) < 2 and not store.has_deletes():
        # a single-segment "merge" is meaningful only as ES forcemerge's
        # only_expunge_deletes: rewrite the segment without its tombstoned
        # docs (engine/updates.py delete_by_query)
        raise ValueError(
            "need at least 2 segments to merge (or active deletes to expunge)"
        )

    entry_id = store.next_entry_id()
    out_id = f"merge-{entry_id:08d}"

    docs = store.docs(spark, inputs)
    routed = "routing" in docs.columns
    in_stats = [store.segment_stats(s) for s in inputs]
    n_input_docs = sum(int(s["n_docs"]) for s in in_stats)

    # Cross-segment duplicates exist only when a url was re-ingested in a
    # later batch (update). ONE countDistinct job decides the shape:
    # append-only (the common case) -> live == docs, stats are the driver-
    # side SUM of the inputs' stats.json (zero further jobs, no dedup
    # window in any downstream plan); updates -> full expunge path below.
    n_distinct = int(
        docs.select(F.countDistinct("url").alias("u")).collect()[0]["u"]
    )
    n_dead = n_input_docs - n_distinct

    # delete_by_query tombstones (engine/updates.py): merged output must
    # expunge them, so their presence forces the full stats/expunge path
    # even for an append-only (all-distinct-urls) input set
    dels = store.deleted_ids(spark)

    merged_tf_dl = None
    live_cached = None
    try:
        if n_dead == 0 and dels is None:
            live = docs
            n_docs, sum_dl = n_input_docs, sum(int(s["sum_dl"]) for s in in_stats)
            routing_stats: dict[str, dict[str, int]] | None = None
            if routed:
                routing_stats = {}
                for s in in_stats:
                    for k, v in (s.get("routing_stats") or {}).items():
                        d = routing_stats.setdefault(k, {"n_docs": 0, "sum_dl": 0})
                        d["n_docs"] += int(v["n_docs"])
                        d["sum_dl"] += int(v["sum_dl"])
        else:
            live = live_doc_ids(docs)
            if dels is not None:
                # version ranking FIRST, tombstones second (see
                # live_docs_for_store: deletes must not resurrect older
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
        codec = store.codec
        if cfg.codec != codec:
            from dataclasses import replace as _dc_replace

            cfg = _dc_replace(cfg, codec=codec)
        postings_long = decode_postings(
            store.postings(spark, inputs),
            keep_cols=("routing",) if routed else (),
            codec=codec,
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

        hwm = store.next_doc_id_base()
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
        stats = {
            "segment_id": out_id,
            "base_doc_id": 0,
            "doc_id_hwm": hwm,
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "merged_from": inputs,
        }
        if routed and routing_stats is not None:
            stats["routing_stats"] = routing_stats
        # merged segment gets the globally range-partitioned layout — it is
        # the long-lived segment queries hit; micro-ingest segments skip it
        store.write_segment(out_id, blocks, live, stats, ranged=True)
        from engine.positions import store_has_positions, write_segment_positions

        if store_has_positions(store, inputs):
            # doc ids survive the merge unchanged, so merged positions are a
            # filter (drop superseded docs — same broadcast/semi-join shapes
            # as the posting expunge above) + rewrite; blobs carry verbatim
            posn = store.positions(spark, inputs)
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
        store.commit(
            LedgerEntry(
                entry_id=entry_id,
                kind="merge",
                segments_added=[out_id],
                segments_removed=inputs,
                metrics={"n_inputs": len(inputs), "n_docs": int(n_docs)},
            )
        )
        return out_id
    finally:
        if live_cached is not None:
            live_cached.unpersist()
        if merged_tf_dl is not None:
            merged_tf_dl.unpersist()


def select_merge_tier(store: IndexStore, merge_factor: int = 8) -> list[str] | None:
    """Size-tiered merge selection (Lucene TieredMergePolicy shape): bucket
    live segments into power-of-two doc-count tiers and pick the smallest
    tier holding >= merge_factor segments. Bounds every merge to at most
    merge_factor similar-sized inputs — at 100 TB a merge job's input is
    O(merge_factor * tier_size), never "all live segments at once"."""
    live = store.live_segments()
    if len(live) < merge_factor:
        return None
    tiers: dict[int, list[str]] = {}
    for s in live:
        n = max(1, int(store.segment_stats(s)["n_docs"]))
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
    sel = select_merge_tier(store, merge_factor)
    if sel is not None:
        return merge_segments(spark, store, sel, cfg)
    return None
