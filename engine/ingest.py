"""Micro-ingest loop: the reference's consumer hot path.

One loop iteration == one `consumer.poll` cycle of the reference's
consumer (org/elasticsearch/kafka/indexer/jobs/ConsumerWorker.java:50-143):

    slice next batch (per-partition offset window)        # poll, S1
      -> extract_text transform, failures -> quarantine   # T1/T3/S13
      -> dedup last-write-wins within batch               # D10
      -> assign doc ids (base from ledger)                # D2
      -> build posting blocks + doc table + stats         # D3/D4
      -> write immutable segment                          # S5 (bulk post)
      -> commit ledger entry with partition offsets       # S3 (commitAsync
         only after successful post, ConsumerWorker.java:117-120)

Small bulks run on the driver: the window is taken in one bounded Arrow
collect (the batch's only Spark job), and when it holds at most
DRIVER_BUILD_MAX_DOCS rows every step after the slice runs in numpy and
pyarrow on the driver, with the same encoder (postings.encode_docs) and
the same segment layout and ledger entry as the distributed plan. A
bigger window (a bulk build) runs the distributed plan, which a window
its caller bounds past the cap (`max_rows`) reaches with no collect, so
its html never reaches the driver.

Start options mirror ConsumerStartOption (jobs/ConsumerManager.java:144-178):
EARLIEST / LATEST / RESTART (resume from committed) / CUSTOM(offsets).

Recovery (E1, IndexerESRecoverableException semantics): any failure before
the ledger commit leaves the ledger untouched; re-running the same batch id
deterministically rebuilds and overwrites the orphan segment. Idempotency
comes from segment_id = f(batch_id) and deterministic doc-id assignment.
"""

from __future__ import annotations

import logging
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens, with_extracted_text
from engine.config import DEFAULT_CONFIG, IndexConfig, plan_fanout
from engine.docids import (
    assign_doc_ids,
    dedup_assign_ids_ranged,
    dedup_last_write_wins,
    last_write_wins,
    literal_long_map,
)
from engine.postings import build_posting_blocks_local
from engine.segments import IndexStore, LedgerEntry, StoreView, store_writer

EARLIEST = "EARLIEST"
LATEST = "LATEST"
RESTART = "RESTART"
CUSTOM = "CUSTOM"

# Largest window, in rows, built on the driver; a bigger one runs the
# distributed plan. Set from a timed warm sweep of one window's
# process_window (webpages corpus, store_source, cached source, local[4],
# 4-core host), driver / Spark medians of 3: 0.65 / 3.05 s at 1k docs,
# 2.49 / 4.46 s at 5k, 4.91 / 5.71 s at 10k, 10.9 / 8.6 s at 20k, and
# (before the driver build tokenized each doc once) 27.6 / 14.1 s at 50k.
# The cap is the largest size measured where the driver still wins. It
# also bounds what a build holds on the driver (the window's html and
# token strings) and stays below postings.FLUSH_DOCS.
DRIVER_BUILD_MAX_DOCS = 10_000


class FatalIngestError(Exception):
    """Non-recoverable failure (reference IndexerESNotRecoverableException,
    ElasticSearchBatchService.java:93-129 rethrow path consumed at
    ConsumerWorker.java:145-156): the loop aborts immediately, no retry.
    Any OTHER exception from a batch is treated as recoverable (the
    IndexerESRecoverableException analog) and the batch is retried a
    bounded number of times — safe because the ledger is untouched until
    commit and the deterministic re-run overwrites the orphan segment."""


def as_partitioned_source(pages: DataFrame, num_partitions: int, id_col: str = "row_id") -> DataFrame:
    """Give a corpus table Kafka-like lineage: (part_id, row_offset).

    part_id = row_id % P, row_offset = row_id / P — dense, monotone per
    partition, deterministic (the reference's topic-partition + offset model,
    ConsumerWorker.java:69-72)."""
    return pages.withColumn(
        "part_id", (F.col(id_col) % num_partitions).cast("int")
    ).withColumn(
        # integer division (no float rounding at any id magnitude)
        "row_offset", F.expr(f"{id_col} DIV {int(num_partitions)}").cast("long")
    )


@dataclass
class BatchResult:
    batch_id: int
    segment_id: str
    n_docs: int
    n_failed: int
    committed: bool
    metrics: dict


def resolve_start_offsets(
    store: IndexStore,
    source: DataFrame,
    start_option: str = RESTART,
    custom: dict[int, int] | None = None,
) -> dict[int, int]:
    """Per-partition high-water marks to resume from (S2)."""
    if start_option == EARLIEST:
        return {}
    if start_option == RESTART:
        return store.committed_offsets()
    if start_option == LATEST:
        rows = source.groupBy("part_id").agg(F.max("row_offset").alias("m")).collect()
        return {r["part_id"]: r["m"] for r in rows}
    if start_option == CUSTOM:
        return dict(custom or {})
    raise ValueError(f"unknown start option: {start_option}")


def parse_start_options_file(
    path: str | None,
) -> tuple[tuple[str, int], dict[int, tuple[str, int]]]:
    """Parse the reference's per-partition start-options config file (S2;
    ConsumerStartOption.java:31-89 + kafka-es-indexer-start-options.config):
    one `default|<partition>:<EARLIEST|LATEST|RESTART|CUSTOM>[:<offset>]`
    per line, '#' comments and blank lines skipped. A missing/absent file or
    a file without a `default` line falls back to RESTART (the reference's
    warn-and-default). Returns ((default_option, default_offset),
    {partition: (option, offset)}); offset is meaningful for CUSTOM only
    and means "start reading AT this offset" (seek semantics)."""
    default: tuple[str, int] = (RESTART, 0)
    per: dict[int, tuple[str, int]] = {}
    if not path or not os.path.exists(path):
        if path:
            logging.getLogger(__name__).warning(
                "start options file %r not found; using RESTART", path
            )
        return default, per
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split(":")
            if len(parts) < 2:
                raise ValueError(f"bad start option line: {line!r}")
            opt = parts[1].strip().upper()
            if opt not in (EARLIEST, LATEST, RESTART, CUSTOM):
                raise ValueError(f"unknown start option in line: {line!r}")
            off = 0
            if opt == CUSTOM:
                if len(parts) != 3:
                    raise ValueError(f"CUSTOM needs an offset: {line!r}")
                off = int(parts[2])
            if parts[0].strip().lower() == "default":
                default = (opt, off)
            else:
                per[int(parts[0])] = (opt, off)
    return default, per


def resolve_start_offsets_per_partition(
    store: IndexStore,
    source: DataFrame,
    default: tuple[str, int],
    per_partition: dict[int, tuple[str, int]],
) -> dict[int, int]:
    """Mixed per-partition start options -> one high-water-mark dict.

    hwm semantics: "last consumed offset" (reads start at hwm+1), so the
    reference's CUSTOM `seek(offset)` maps to hwm = offset - 1; EARLIEST
    omits the partition (start at 0); RESTART takes the ledger's value;
    LATEST takes the partition's current max offset (one source scan, only
    when some option actually asks for LATEST)."""
    d_opt, _ = default
    ledger = store.committed_offsets()
    need_latest = d_opt == LATEST or any(
        o == LATEST for o, _ in per_partition.values()
    )
    # a CUSTOM default must reach EVERY source partition, including ones
    # absent from the ledger and the per-partition map (fresh store with
    # `default:CUSTOM:n` in the options file) — that needs the partition
    # universe, which the LATEST scan provides
    need_latest = need_latest or d_opt == CUSTOM
    latest: dict[int, int] = {}
    if need_latest:
        rows = (
            source.groupBy("part_id").agg(F.max("row_offset").alias("m")).collect()
        )
        latest = {int(r["part_id"]): int(r["m"]) for r in rows}
    hwm: dict[int, int] = {}
    for p in {int(k) for k in ledger} | set(latest) | set(per_partition):
        opt, off = per_partition.get(p, default)
        if opt == RESTART:
            v = ledger.get(p)
        elif opt == LATEST:
            v = latest.get(p)
        elif opt == CUSTOM:
            v = off - 1
        else:  # EARLIEST: absent -> start at offset 0
            v = None
        if v is not None:
            hwm[p] = int(v)
    return hwm


def ingest_batch(
    spark: SparkSession,
    store: IndexStore,
    source: DataFrame,
    batch_id: int,
    hwm: dict[int, int],
    rows_per_partition: int,
    cfg: IndexConfig = DEFAULT_CONFIG,
    fail_before_commit: bool = False,
    max_rows: int | None = None,
) -> BatchResult | None:
    """Ingest one offset window above `hwm`. Returns None when the window is
    empty (S6 empty-batch no-op). `fail_before_commit` simulates a crash
    between segment write and ledger commit (recovery tests, SURVEY.md §5.2-3).
    `max_rows`: process_window's bound on the window's rows, when the
    caller knows one (rows_per_partition x the source's partition count,
    or the source's row count if smaller)."""
    if store.has_batch(batch_id):
        raise RuntimeError(f"batch {batch_id} already committed")  # E4 guard

    # per-partition committed offsets as a LITERAL map predicate — a
    # broadcast join here costs one broadcast-build job per batch (~0.4s
    # fixed, eventlog attribution in BENCH/NOTES.md); the filter stays a
    # plain pushable predicate on (part_id, row_offset)
    if hwm:
        committed = F.coalesce(
            literal_long_map(hwm, "part_id"), F.lit(-1)
        )
    else:
        committed = F.lit(-1)
    window = source.where(
        (F.col("row_offset") > committed)
        & (F.col("row_offset") <= committed + rows_per_partition)
    )
    return process_window(
        spark, store, window, batch_id, cfg=cfg, fail_before_commit=fail_before_commit,
        max_rows=max_rows,
    )


def process_window(
    spark: SparkSession,
    store: IndexStore | StoreView,
    window: DataFrame,
    batch_id: int,
    cfg: IndexConfig = DEFAULT_CONFIG,
    fail_before_commit: bool = False,
    extra_metrics: dict | None = None,
    pre_extracted: bool = False,
    max_rows: int | None = None,
) -> BatchResult | None:
    """Build + commit one segment from an already-sliced page window.

    Shared by the batch loop (ingest_batch) and the Structured Streaming
    twin (engine.streaming.stream_ingest's foreachBatch body): the window is
    whatever the slicer handed us — an offset window or a stream micro-batch.
    The doc-id base and the entry id come from one view (the caller's, if
    it passes one): a commit by another writer in between fails this one.

    `pre_extracted`: the window already carries extracted_text/extract_error
    (and a `payload` column holding the raw bytes of failed rows only, and
    optionally n_tokens) — the fanout staging path, which extracts ONCE for
    the whole batch instead of once per index, and update_by_query's
    rewritten docs.

    The window is collected once, at most DRIVER_BUILD_MAX_DOCS + 1 rows of
    it, as Arrow: that is the only Spark job of a window up to the cap,
    which is then built on the driver (_build_on_driver). A bigger window
    runs the distributed plan (_build_with_spark), which re-reads it.
    `max_rows`: an upper bound on the window's rows, when the caller knows
    one. Past the cap, the window goes to the distributed plan with no
    collect, so a bulk window's html never reaches the driver; the plan's
    first job then serves as the emptiness check, as the collect does. Runs
    under build_confs (AQE off): with AQE, every action containing a
    shuffle splits into 2-5 Spark jobs and the ~0.3-0.5s driver fixed cost
    per job dominates a micro-batch; the distributed plan sizes its own
    partitions via plan_fanout. The ledger entry's metrics record which
    path ran (`build_path`)."""
    from engine.session import build_confs

    with build_confs(spark):
        return _process_window_body(
            spark, store, window, batch_id, cfg=cfg,
            fail_before_commit=fail_before_commit,
            extra_metrics=extra_metrics, pre_extracted=pre_extracted,
            max_rows=max_rows,
        )


def _process_window_body(
    spark: SparkSession,
    store: IndexStore | StoreView,
    window: DataFrame,
    batch_id: int,
    cfg: IndexConfig = DEFAULT_CONFIG,
    fail_before_commit: bool = False,
    extra_metrics: dict | None = None,
    pre_extracted: bool = False,
    max_rows: int | None = None,
) -> BatchResult | None:
    t0 = time.monotonic()
    view = store.view()
    # the STORE's codec wins over cfg (a store's segments must all share
    # one block codec; _meta.json records it at create time)
    if cfg.codec != view.codec:
        from dataclasses import replace as _dc_replace

        cfg = _dc_replace(cfg, codec=view.codec)
    if cfg.routing_col is not None and cfg.routing_col not in window.columns:
        raise ValueError(f"routing_col {cfg.routing_col!r} not in window columns")
    if cfg.docid_strategy not in ("range", "window"):
        raise ValueError(f"unknown docid strategy: {cfg.docid_strategy}")
    # ONE bounded Arrow collect: a window of at most DRIVER_BUILD_MAX_DOCS
    # rows is built on the driver, a bigger one by the Spark plan, which a
    # window the caller bounds past the cap reaches without the collect
    rows = None
    if max_rows is None or max_rows <= DRIVER_BUILD_MAX_DOCS:
        cols = [c for c in ("url", "warc_ts", "lang", "part_id", "row_offset")
                if c in window.columns]
        cols += ["extracted_text", "extract_error", "payload"] if pre_extracted else ["html"]
        if cfg.routing_col and cfg.routing_col not in cols:
            cols.append(cfg.routing_col)
        rows = window.select(*cols).limit(DRIVER_BUILD_MAX_DOCS + 1).toArrow()
    if rows is not None and rows.num_rows <= DRIVER_BUILD_MAX_DOCS:
        if rows.num_rows == 0:
            return None
        built = _build_on_driver(view, rows, batch_id, cfg, pre_extracted, t0)
    else:
        built = _build_with_spark(spark, view, window, batch_id, cfg, pre_extracted, t0)
        if built is None:  # an empty window
            return None
    segment_id, offs, n_docs, n_failed, stage_t, skew = built
    build_s = time.monotonic() - t0
    metrics = {
        "batch_id": batch_id,
        "n_docs": int(n_docs),
        "n_failed": int(n_failed),
        "build_sec": round(build_s, 3),
        "docs_per_sec": round(n_docs / build_s, 1) if build_s > 0 else None,
        "skew_max_over_median_df": skew,
        **stage_t,
        **(extra_metrics or {}),
    }

    if fail_before_commit:  # crash window simulation (E1)
        return BatchResult(batch_id, segment_id, n_docs, n_failed, False, metrics)

    view.store.commit(
        LedgerEntry(
            entry_id=view.next_entry_id,
            kind="ingest",
            segments_added=[segment_id],
            partition_offsets=offs,
            metrics=metrics,
        )
    )
    return BatchResult(batch_id, segment_id, n_docs, n_failed, True, metrics)


def _stage_timer(t0: float):
    """(stage_t, mark): mark(name) records the seconds since the previous
    mark (or `t0`) in stage_t[name]."""
    stage_t: dict = {}
    last = [t0]

    def mark(name: str) -> None:
        now = time.monotonic()
        stage_t[name] = round(now - last[0], 2)
        last[0] = now

    return stage_t, mark


def _segment_stats(segment_id, base, n_docs, sum_dl, batch_id, routing_stats) -> dict:
    return {
        "segment_id": segment_id,
        "base_doc_id": base,
        "doc_id_hwm": base + int(n_docs),
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl),
        "batch_id": batch_id,
        **({"routing_stats": routing_stats} if routing_stats else {}),
    }


def _build_on_driver(view: StoreView, rows, batch_id: int, cfg: IndexConfig,
                     pre_extracted: bool, t0: float):
    """Build one segment from a window collected to the driver (`rows`, a
    pyarrow Table) with no Spark job: extract, dedup, ids and encode in
    numpy, then pyarrow writes in the layout the Spark plan writes.
    Returns (segment_id, offsets, n_docs, n_failed, stage times, skew), as
    _build_with_spark does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from engine.analysis import _extract_one
    from engine.positions import encode_doc_positions
    from engine.postings import _out_arrow_schema, encode_docs
    from engine.segments import write_parquet

    stage_t, mark = _stage_timer(t0)
    store, routed = view.store, cfg.routing_col is not None
    segment_id = f"seg-{batch_id:08d}"
    if pre_extracted:
        text, err, payload = (rows.column(c) for c in ("extracted_text", "extract_error", "payload"))
    else:
        payload = rows.column("html")
        text, err = (pa.array(c, type=pa.string())
                     for c in zip(*map(_extract_one, payload.to_pylist())))
    offs = rows.group_by("part_id").aggregate([("row_offset", "max")])
    offs = dict(zip(map(str, offs.column("part_id").to_pylist()),
                    offs.column("row_offset_max").to_pylist()))
    failed = pc.is_valid(err)
    n_failed = int(pc.sum(failed).as_py() or 0)
    if n_failed:
        # quarantine side-output (S13): offset + error + payload
        qdir = os.path.join(store.path, "quarantine", segment_id)
        shutil.rmtree(qdir, ignore_errors=True)
        write_parquet(pa.table({
            "url": rows.column("url"), "part_id": rows.column("part_id"),
            "row_offset": rows.column("row_offset"), "extract_error": err,
            "payload": payload,
        }).filter(failed), qdir)
    mark("extract_sec")

    good = rows.append_column("_text", text).filter(pc.invert(failed))
    # last write wins per url; ids are the dense rank over url from the
    # store's high-water mark, the ids dedup_assign_ids_ranged gives
    docs = good.take(last_write_wins(
        good.column("url"), [good.column(c) for c in ("warc_ts", "part_id", "row_offset")]))
    base, n_docs = view.doc_id_hwm, docs.num_rows
    ids = np.arange(base, base + n_docs, dtype=np.int64)
    routing = docs.column(cfg.routing_col).cast(pa.string()) if routed else None
    mark("ids_sec")

    # one encode per routing value (every block is routing-pure); the cap
    # is below FLUSH_DOCS, so one call never buffers more than the
    # distributed builder's flush does
    texts = docs.column("_text").to_pylist()
    if routed:
        rv = np.array(routing.to_pylist(), dtype=object)
        groups = [(v, np.flatnonzero(rv == v)) for v in dict.fromkeys(rv.tolist())]
    else:
        groups = [(None, ids - base)]
    def position_rows(part_ids, part_texts, v):
        pos = encode_doc_positions(part_ids, part_texts)
        if routed:
            pos = pos.append_column("routing", pa.array([v] * pos.num_rows, pa.string()))
        return pos

    doc_len = np.zeros(n_docs, dtype=np.int64)
    blocks, positions = [], [position_rows(ids[:0], [], None)]
    for v, idx in groups:
        part_texts = [texts[i] for i in idx]
        rb, doc_len[idx] = encode_docs(ids[idx], part_texts, cfg, routed=routed, routing=v)
        if rb is not None:
            blocks.append(rb)
        if cfg.store_positions:
            positions.append(position_rows(ids[idx], part_texts, v))
    doc_cols = {"doc_id": pa.array(ids), "url": docs.column("url"), "doc_len": pa.array(doc_len)}
    doc_cols.update({c: docs.column(c) for c in ("warc_ts", "lang", "part_id", "row_offset")
                     if c in docs.column_names})
    if cfg.store_source:
        doc_cols["source"] = docs.column("_text")
    routing_stats = None
    if routed:
        doc_cols["routing"] = routing
        # null routing values land under __HIVE_DEFAULT_PARTITION__: no
        # stats key, as in the Spark build
        routing_stats = {v: {"n_docs": len(idx), "sum_dl": int(doc_len[idx].sum())}
                         for v, idx in groups if v is not None}
    postings = pa.Table.from_batches(blocks, schema=_out_arrow_schema(routed))
    store.write_segment_tables(
        segment_id, postings, pa.table(doc_cols),
        _segment_stats(segment_id, base, n_docs, int(doc_len.sum()), batch_id, routing_stats),
        positions=pa.concat_tables(positions) if cfg.store_positions else None,
    )
    mark("build_write_sec")
    n = np.sort(postings.column("n").to_numpy())
    skew = float(n[-1] / n[(len(n) - 1) // 2]) if len(n) else None
    return segment_id, offs, n_docs, n_failed, {**stage_t, "build_path": "driver"}, skew


def _build_with_spark(spark: SparkSession, view: StoreView, window: DataFrame,
                      batch_id: int, cfg: IndexConfig, pre_extracted: bool, t0: float):
    """Build one segment from a window past DRIVER_BUILD_MAX_DOCS rows (or
    bounded past it by the caller) with the distributed plan. Returns
    (segment_id, offsets, n_docs, n_failed, stage times, skew), or None for
    an empty window."""
    store = view.store
    stage_t, mark = _stage_timer(t0)
    # cache everything downstream needs EXCEPT the raw html blobs — they are
    # the bulk of the bytes and only the (rare) quarantine path wants them;
    # keeping them out of the cache roughly halves per-batch storage and the
    # columnar-compression CPU spent building it
    if pre_extracted:
        ext = window.drop("payload")
        if "n_tokens" not in ext.columns:
            ext = ext.withColumn("n_tokens", F.size(tokens("extracted_text")))
        ext = ext.cache()
    else:
        ext = with_extracted_text(window).drop("html").cache()
    # ONE action serves as the offset scan (S3) and the failure count
    # (S13) — per-batch fixed job count matters when the loop runs
    # thousands of micro-batches
    offs_rows = (
        ext.groupBy("part_id")
        .agg(
            F.max("row_offset").alias("m"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("extract_error").isNotNull().cast("long")).alias("nf"),
        )
        .collect()
    )
    mark("extract_sec")
    if not offs_rows:
        ext.unpersist()
        return None
    offs = {str(r["part_id"]): r["m"] for r in offs_rows}
    n_window_rows = int(sum(r["cnt"] for r in offs_rows))
    # size the doc-id / block-build fan-out from the batch's measured rows:
    # tiny batches collapse to a few tasks (no per-batch 32-way shuffle +
    # file explosion), medium batches use every core, bulk windows grow
    # past the core count so no partition exceeds rows_per_id_partition
    n_parts = plan_fanout(
        n_window_rows, cfg.id_task_floor_rows, cfg.rows_per_id_partition,
        spark.sparkContext.defaultParallelism,
    )
    docs_ided = None
    persisted: list = []
    try:
        n_failed = int(sum(r["nf"] or 0 for r in offs_rows))
        segment_id = f"seg-{batch_id:08d}"
        if n_failed:
            # quarantine side-output (S13): offset + error + payload. The
            # payload (raw html) is re-read from the source window via a
            # broadcast join on the failed keys — failures are rare, so the
            # hot path never caches the blobs. Pre-extracted windows carry
            # failed rows' payloads in their own column already.
            if pre_extracted:
                quarantine_df = window.where(
                    F.col("extract_error").isNotNull()
                ).select("url", "part_id", "row_offset", "extract_error", "payload")
            else:
                failed_keys = ext.where(F.col("extract_error").isNotNull()).select(
                    "url", "part_id", "row_offset", "extract_error"
                )
                quarantine_df = (
                    window.select(
                        "url", "part_id", "row_offset", F.col("html").alias("payload")
                    )
                    .join(F.broadcast(failed_keys), ["url", "part_id", "row_offset"])
                    .select("url", "part_id", "row_offset", "extract_error", "payload")
                )
            store_writer(quarantine_df).parquet(
                os.path.join(store.path, "quarantine", segment_id)
            )

        good = ext.where(F.col("extract_error").isNull()).drop("extract_error")
        routed = cfg.routing_col is not None

        base = view.doc_id_hwm
        if cfg.docid_strategy == "range":
            # fused hot path: ONE range exchange + ONE collect does dedup,
            # id assignment AND the batch stats (n_docs / sum_dl /
            # per-routing rollup) — vs the separate dedup window,
            # assign_doc_ids counts job and stats rollup job of the
            # "window" oracle path below. Per-batch fixed job count is what
            # bounds micro-ingest throughput at 10^12-doc scale.
            group_cols = (cfg.routing_col,) if routed else ()
            docs_ided, agg_rows = dedup_assign_ids_ranged(
                good, base=base, num_partitions=n_parts,
                key="url", version_col="warc_ts",
                group_cols=group_cols,
                agg_exprs=(F.sum("n_tokens").alias("_sdl"),),
                cleanup=persisted,
            )
            n_docs = int(sum(int(r["_cnt"]) for r in agg_rows))
            sum_dl = int(sum(int(r["_sdl"] or 0) for r in agg_rows))
            if routed:
                # skip null routing values — the parquet writer puts those
                # docs under __HIVE_DEFAULT_PARTITION__, so a "None" stats
                # key would claim docs no routed scan can find (matches the
                # window-strategy branch's `is not None` filter below)
                routing_stats = {}
                for r in agg_rows:
                    if r[cfg.routing_col] is None:
                        continue
                    v = str(r[cfg.routing_col])
                    d = routing_stats.setdefault(v, {"n_docs": 0, "sum_dl": 0})
                    d["n_docs"] += int(r["_cnt"])
                    d["sum_dl"] += int(r["_sdl"] or 0)
            else:
                routing_stats = None
            build_prepartitioned = True
        else:
            good = dedup_last_write_wins(good, "url", "warc_ts")
            docs_ided = assign_doc_ids(
                good, ["url", "warc_ts"], base=base, strategy=cfg.docid_strategy,
                num_partitions=n_parts, cleanup=persisted,
            ).cache()
            persisted.append(docs_ided)
            # one job: total + per-routing stats (rollup = a single agg).
            # grouping() — not `routing IS NULL` — selects the grand total:
            # null-routing docs make the rollup emit TWO None rows (null
            # subgroup + total) and a NULL filter picks one at random,
            # corrupting the segment's n_docs/sum_dl (ADVICE r04).
            roll_cols = [cfg.routing_col] if routed else []
            stat_rows = (
                docs_ided.rollup(*roll_cols)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("n_tokens").alias("s"),
                    *([F.grouping(cfg.routing_col).alias("_g")] if routed else []),
                )
                .collect()
            )
            if routed:
                routing_stats = {
                    str(r[cfg.routing_col]): {
                        "n_docs": int(r["n"]), "sum_dl": int(r["s"] or 0)
                    }
                    for r in stat_rows
                    if r["_g"] == 0 and r[cfg.routing_col] is not None
                }
                total = [r for r in stat_rows if r["_g"] == 1][0]
            else:
                routing_stats = None
                total = stat_rows[0]
            n_docs, sum_dl = int(total["n"]), int(total["s"] or 0)
            build_prepartitioned = False
        mark("ids_sec")

        # doc_len came out of the extract UDF's single Python regex pass
        # (n_tokens; py_tokenize == JVM tokens, tested) — no second scan
        doc_cols = [
            F.col("doc_id"), F.col("url"),
            F.col("n_tokens").cast("long").alias("doc_len"),
            F.col("warc_ts"), F.col("lang"), F.col("part_id"), F.col("row_offset"),
        ]
        if cfg.store_source:
            # ES `_source`: the doc table keeps the extracted text, making
            # the store reindexable (engine/reindex.py) and mget able to
            # return bodies. Merge preserves it (live rows keep all columns).
            doc_cols.append(F.col("extracted_text").alias("source"))
        if routed:
            doc_cols.append(F.col(cfg.routing_col).cast("string").alias("routing"))
        doc_table = docs_ided.select(*doc_cols)

        # shuffle-free build: tokenize+tf+encode per doc-range partition;
        # only compressed blocks reach the segment write. The fused id path
        # left docs_ided partitioned in contiguous doc-id ranges, so the
        # builder skips its own range exchange (assume_partitioned).
        blocks = build_posting_blocks_local(
            docs_ided, cfg, text_col="extracted_text",
            num_partitions=n_parts,
            assume_partitioned=build_prepartitioned,
            routing_col=cfg.routing_col if routed else None,
        )
        # skew metric (largest / median per-term-run df) rides the postings
        # write via observe() — no term_stats job at all for micro segments
        # (term_stats_df derives df from block metadata on read)
        term_metrics: dict = {}
        store.write_segment(
            segment_id,
            blocks,
            doc_table,
            _segment_stats(segment_id, base, n_docs, sum_dl, batch_id, routing_stats),
            term_metrics=term_metrics,
        )
        if cfg.store_positions:
            # positional sidecar (engine/positions.py): written before the
            # ledger commit so a crash leaves an orphan segment dir the
            # deterministic re-run overwrites (same contract as postings)
            from engine.positions import build_position_postings, write_segment_positions

            write_segment_positions(
                store, segment_id,
                build_position_postings(
                    docs_ided, cfg, text_col="extracted_text",
                    routing_col=cfg.routing_col if routed else None,
                ),
            )
        mark("build_write_sec")
        mx, md = term_metrics.get("max_df"), term_metrics.get("median_df")
        return (segment_id, offs, n_docs, n_failed, {**stage_t, "build_path": "spark"},
                (mx / md) if md else None)
    finally:
        ext.unpersist()
        if docs_ided is not None:
            docs_ided.unpersist()
        for p in persisted:
            p.unpersist()


def run_ingest_loop(
    spark: SparkSession,
    store: IndexStore,
    source: DataFrame,
    rows_per_partition: int,
    start_option: str = RESTART,
    custom_offsets: dict[int, int] | None = None,
    max_batches: int | None = None,
    cfg: IndexConfig = DEFAULT_CONFIG,
    stop_requested=None,
    max_retries: int = 2,
    retry_wait_sec: float = 0.0,
    max_rows: int | None = None,
) -> list[BatchResult]:
    """The poll loop (ConsumerWorker.run): ingest windows until the source is
    drained (or max_batches). Each iteration re-reads committed offsets, so a
    killed/restarted loop resumes exactly where the ledger says.

    `stop_requested` (E3 graceful shutdown): zero-arg callable checked
    BETWEEN batches — the in-flight batch always finishes and commits, then
    the loop drains (the reference's ConsumerManager stop semantics:
    shutdown drains workers, ConsumerManager.java:118-142).

    Error taxonomy (E2, ElasticSearchBatchService.java:93-129 +
    ConsumerWorker.java:130-156): a failed batch is RETRIED in-loop up to
    `max_retries` times (after `retry_wait_sec`, the reference's
    reconnect-wait) — the ledger is untouched by the failure, so the re-run
    deterministically rebuilds the same window. FatalIngestError, or
    exhausting the retries, propagates: the caller exits nonzero with the
    ledger clean (resume-safe).

    `max_rows`: passed to every ingest_batch (a bound on a window's rows
    that lets a bulk window skip the driver collect)."""
    results: list[BatchResult] = []
    while max_batches is None or len(results) < max_batches:
        if stop_requested is not None and stop_requested():
            break
        hwm = resolve_start_offsets(store, source, start_option, custom_offsets)
        # after the first batch we always follow the ledger
        start_option, custom_offsets = RESTART, None
        batch_id = store.next_entry_id()
        attempts = 0
        while True:
            try:
                res = ingest_batch(
                    spark, store, source, batch_id, hwm, rows_per_partition, cfg,
                    max_rows=max_rows,
                )
                break
            except FatalIngestError:
                raise
            except Exception:
                attempts += 1
                if attempts > max_retries:
                    raise  # bounded retries exhausted -> fatal (E2)
                # surface the swallowed error: a DETERMINISTIC failure
                # (schema mismatch, missing column) rebuilds the same window
                # max_retries+1 times and would otherwise look like a hang
                logging.getLogger(__name__).warning(
                    "batch %d failed (attempt %d/%d), retrying",
                    batch_id, attempts, max_retries, exc_info=True,
                )
                if retry_wait_sec:
                    time.sleep(retry_wait_sec)
        if res is None:
            break
        results.append(res)
    return results
