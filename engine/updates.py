"""ES `_delete_by_query` / `_update_by_query` over the persisted store.

The reference's only mutation is upsert-by-id (D10,
ElasticSearchBatchService.java:96-110 routes every event through one bulk
index request); ES itself adds query-driven mutation: delete every doc a
query matches, or rewrite every doc a query matches through a script.
Both are re-expressed on the engine's log-structured ledger:

- delete_by_query: matched live doc ids are written as a TOMBSTONE FILE
  (parquet of doc_id) and committed as a `kind="delete"` ledger entry —
  files first, ledger last, the same commit-after-success contract as
  ingest (S3). Read paths exclude tombstoned ids via the shared
  StoreView.live_docs relation (engine/segments.py); the next merge
  expunges their postings and the entry turns inert
  (StoreView.active_deletes) — exactly Lucene's soft-delete -> merge-reclaim
  lifecycle. df/avgdl/n_docs stay at their stored values until that merge,
  matching how ES scores around deleted-but-unmerged docs.

- update_by_query: matched live docs' stored `_source` is transformed and
  re-ingested through the SAME process_window body as live ingest (the
  reindex pattern) — the new versions supersede via last-write-wins
  (url, warc_ts, doc_id), no tombstones needed.

Small mutations run no Spark build job: the match reads the query's
blocks on the driver from the postings files (PostingsFiles.read, the
IndexReader's read), the live filter is the driver-side deleted set
(StoreView.deleted_doc_ids) and tombstones are written with pyarrow, so a
delete is 0 Spark jobs. An update reads the matched docs on the driver,
evaluates the Column transform in one Spark job (the window collect of
process_window) and builds the rewrite segment on the driver. Past
GATHER_MAX_BLOCKS query blocks, or a deleted set past max_deleted_driver,
the match runs the distributed plan; past DRIVER_BUILD_MAX_DOCS matched
docs, the update reads them and builds with Spark. The per-read anti-join
of the distributed read paths is bounded by the delete rate between
merges — the same "deleted docs are few and temporary" assumption
Lucene's live-docs bitset makes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.segments import IndexStore, LedgerEntry, StoreView, write_parquet


def _match_distributed(spark: SparkSession, view: StoreView, q_terms: list[str],
                       conjunctive: bool) -> DataFrame:
    """match_doc_ids as a Spark plan: the pushed-filter postings scan,
    decode and live-docs join."""
    from engine.postings import decode_postings

    cand = view.postings(spark).where(F.col("term").isin(q_terms))
    matched = decode_postings(cand, codec=view.codec).groupBy("doc_id").agg(
        F.count_distinct("term").alias("_nt")
    )
    if conjunctive:
        matched = matched.where(F.col("_nt") >= F.lit(len(q_terms)))
    matched = matched.select("doc_id")
    live = view.live_docs(spark)
    if live is not None:
        matched = matched.join(live.select("doc_id"), "doc_id", "left_semi")
    return matched


def matched_ids(spark: SparkSession, view: StoreView, query_terms: list[str],
                conjunctive: bool = False) -> np.ndarray:
    """Sorted ids of the LIVE docs matching the term query (any term, or
    all terms with conjunctive=True) — the match phase both mutations
    share. Postings-driven: only the query terms' blocks are read, on the
    driver, and decoded doc-ids-only; the distributed plan runs instead
    past GATHER_MAX_BLOCKS blocks or an overflowing deleted set."""
    from engine.codecs import decode_doc_ids_batch
    from engine.query import GATHER_MAX_BLOCKS
    from engine.wand import keep_not_in, sorted_ids

    q_terms = sorted(set(query_terms))
    deleted = view.deleted_doc_ids(spark, view.store.cfg.max_deleted_driver)
    blocks = view.postings_files.read(q_terms, ("n", "doc_bytes"), GATHER_MAX_BLOCKS + 1)
    if deleted is None or blocks.num_rows > GATHER_MAX_BLOCKS:
        ids = _match_distributed(spark, view, q_terms, conjunctive).toArrow().column(0)
        return np.sort(np.asarray(ids.to_numpy(), dtype=np.int64))
    ids = decode_doc_ids_batch(blocks.column("doc_bytes").to_pylist(),
                               blocks.column("n").to_numpy(), codec=view.codec)
    # a doc holds each term once, so its postings count = terms matched
    ids, n_terms = np.unique(ids, return_counts=True)
    if conjunctive:
        ids = ids[n_terms >= len(q_terms)]
    return ids[keep_not_in(ids, sorted_ids(deleted))]


def match_doc_ids(
    spark: SparkSession,
    store: IndexStore | StoreView,
    query_terms: list[str],
    conjunctive: bool = False,
) -> DataFrame:
    """matched_ids as a (doc_id) relation, for callers that join it in
    Spark."""
    ids = matched_ids(spark, store.view(), query_terms, conjunctive)
    return spark.createDataFrame(pa.table({"doc_id": ids}))


def commit_tombstones(view: StoreView, ids, metrics: dict) -> int:
    """Shared tombstone write + ledger commit at the view's next entry id:
    the ids' parquet file first (pyarrow, on the driver), ledger last (the
    ingest commit-after-success contract); no-op without ids. Returns the
    number of distinct tombstoned ids."""
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    if not len(ids):
        return 0
    store, entry_id = view.store, view.next_entry_id
    rel = os.path.join("deletes", f"del-{entry_id:08d}")
    out = os.path.join(store.path, rel)
    shutil.rmtree(out, ignore_errors=True)
    write_parquet(pa.table({"doc_id": ids}), out)
    store.commit(
        LedgerEntry(
            entry_id=entry_id,
            kind="delete",
            segments_added=[],
            metrics={"deletes_dir": rel, "n_deleted": len(ids), **metrics},
        )
    )
    return len(ids)


def delete_by_query(
    spark: SparkSession,
    store: IndexStore,
    query_terms: list[str],
    conjunctive: bool = False,
) -> int:
    """Tombstone every live doc matching the query; returns the deleted
    count (ES `deleted` response field). No-op (no ledger entry) when
    nothing matches. Crash-safe: tombstone parquet lands before the ledger
    entry; a crash in between leaves an orphan file that the next attempt
    overwrites (same contract as segment files)."""
    view = store.view()
    return commit_tombstones(
        view, matched_ids(spark, view, query_terms, conjunctive),
        {"query_terms": sorted(set(query_terms)),
         "conjunctive": bool(conjunctive)},
    )


def update_by_query(
    spark: SparkSession,
    store: IndexStore,
    query_terms: list[str],
    transform,
    conjunctive: bool = False,
    cfg: IndexConfig | None = None,
    batch_id: int = 0,
):
    """Rewrite every live doc matching the query: `transform` (a Column ->
    Column function, the script analog) maps the stored `_source` text to
    the new text; the result re-enters through process_window (the shared
    ingest body) as a new segment whose versions supersede the old ones by
    last-write-wins — warc_ts is preserved, the higher doc_id of the new
    segment wins the tie, so re-running the same update is idempotent in
    ranking terms. Requires store_source=True (like _reindex).

    `cfg=None` (the default) resolves the STORE'S OWN persisted settings
    (_meta.json via persisted_config) — the rewrite segment must keep the
    store's routing/_source/positions contract; a caller-supplied cfg that
    silently dropped them would make the updated docs unsearchable by
    routing, strip their stored source, or break phrase serving.

    Up to DRIVER_BUILD_MAX_DOCS matched docs are read on the driver, and
    the transform runs in the one Spark job that collects the rewritten
    window for the driver build. Returns the ingest BatchResult (or None
    when nothing matched)."""
    from engine.ingest import DRIVER_BUILD_MAX_DOCS, process_window

    view = store.view()
    stored = view.store.persisted_config()
    cfg = cfg or stored
    if not stored.store_source:
        raise ValueError(
            "index was built without store_source=True (_source disabled) — "
            "update_by_query needs the stored source text"
        )
    ids = matched_ids(spark, view, query_terms, conjunctive)
    if not len(ids):
        return None
    cols = ["url", "warc_ts", "part_id", "row_offset", "source", "lang"]
    # a routed store keeps the routing value only as the docs' `routing`
    # (hive directory) column: it re-enters as cfg.routing_col
    route = cfg.routing_col if cfg.routing_col not in (None, *cols) else None
    if len(ids) <= DRIVER_BUILD_MAX_DOCS:
        docs = view.table("docs", cols + (["routing"] if route else []),
                               filter=pc.field("doc_id").isin(pa.array(ids)))
        # INT96 reads back as naive UTC: mark it UTC for the session. One
        # chunk: createDataFrame drops the rows after an empty record batch
        # (pyspark 4.1), and the filtered read yields one per pruned file
        ts = docs.schema.get_field_index("warc_ts")
        docs = docs.set_column(ts, "warc_ts", docs.column(ts).cast(pa.timestamp("us", "UTC")))
        upd = spark.createDataFrame(docs.combine_chunks())
    else:
        upd = view.docs(spark).join(
            spark.createDataFrame(pa.table({"doc_id": ids})), "doc_id", "left_semi")
    new_text = transform(F.col("source"))
    window = upd.select(
        "url", "warc_ts", "part_id", "row_offset",
        new_text.alias("extracted_text"),
        F.lit(None).cast("string").alias("extract_error"),
        F.lit(None).cast("binary").alias("payload"),
        "lang",
        *([F.col("routing").alias(route)] if route else []),
    )
    return process_window(spark, view, window, batch_id, cfg=cfg, pre_extracted=True,
                          max_rows=len(ids))


def delete_by_ids(
    spark: SparkSession,
    store: IndexStore,
    urls: list[str],
) -> int:
    """ES `_bulk` delete-op / DELETE-by-id: tombstone the LIVE version of
    each given external id (url). Unknown urls are ignored (ES reports
    them not_found). Same tombstone-file + ledger commit as
    delete_by_query; the same read paths and merge reclaim apply.

    Plan: the url IN list filters a driver read of the docs files'
    (url, warc_ts, doc_id) (row-group skipping via url min/max — the mget
    shape), then the version ranking picks each url's live doc id, with no
    Spark job. Bounded by the request size."""
    if not urls:
        return 0
    view = store.view()
    docs = view.table("docs", ["url", "warc_ts", "doc_id"],
                           filter=pc.field("url").isin(sorted(set(urls))))
    return commit_tombstones(
        view, view.live_versions(docs),
        {"by": "ids", "n_requested": len(set(urls))},
    )
