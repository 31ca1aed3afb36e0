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

100 TB shape: matching runs on the pushed-filter postings scan (only the
query terms' blocks are read), the tombstone write is distributed (no
driver collect of ids), and the per-read anti-join is bounded by the
delete rate between merges — the same "deleted docs are few and
temporary" assumption Lucene's live-docs bitset makes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.config import IndexConfig
from engine.segments import IndexStore, LedgerEntry, StoreView


def match_doc_ids(
    spark: SparkSession,
    store: IndexStore | StoreView,
    query_terms: list[str],
    conjunctive: bool = False,
) -> DataFrame:
    """(doc_id) of LIVE docs matching the term query (any term, or all
    terms with conjunctive=True) — the match phase both mutations share.
    Postings-driven: only the query terms' blocks are scanned/decoded."""
    from engine.postings import decode_postings

    view = store.view()
    q_terms = sorted(set(query_terms))
    cand = view.postings(spark).where(F.col("term").isin(q_terms))
    rows = decode_postings(cand, codec=view.codec)
    matched = rows.groupBy("doc_id").agg(
        F.count_distinct("term").alias("_nt")
    )
    if conjunctive:
        matched = matched.where(F.col("_nt") >= F.lit(len(q_terms)))
    matched = matched.select("doc_id")
    live = view.live_docs(spark)
    if live is not None:
        matched = matched.join(live.select("doc_id"), "doc_id", "left_semi")
    return matched


def commit_tombstones(spark, view: StoreView, matched, metrics: dict) -> int:
    """Shared tombstone write + ledger commit at the view's next entry id:
    files first, ledger last (the ingest commit-after-success contract);
    no-op without matches. Returns the number of tombstoned ids."""
    store, entry_id = view.store, view.next_entry_id
    rel = os.path.join("deletes", f"del-{entry_id:08d}")
    out = os.path.join(store.path, rel)
    matched.write.mode("overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    if n == 0:
        shutil.rmtree(out, ignore_errors=True)
        return 0
    store.commit(
        LedgerEntry(
            entry_id=entry_id,
            kind="delete",
            segments_added=[],
            metrics={"deletes_dir": rel, "n_deleted": int(n), **metrics},
        )
    )
    return int(n)


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
    matched = match_doc_ids(spark, view, query_terms, conjunctive)
    return commit_tombstones(
        spark, view, matched,
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

    Returns the ingest BatchResult (or None when nothing matched)."""
    from engine.ingest import process_window

    view = store.view()
    if cfg is None:
        cfg = view.store.persisted_config()
    docs = view.docs(spark)
    if "source" not in docs.columns:
        raise ValueError(
            "index was built without store_source=True (_source disabled) — "
            "update_by_query needs the stored source text"
        )
    matched = match_doc_ids(spark, view, query_terms, conjunctive)
    upd = docs.join(matched, "doc_id", "left_semi")
    new_text = transform(F.col("source"))
    window = upd.select(
        "url", "warc_ts", "part_id", "row_offset",
        new_text.alias("extracted_text"),
        F.lit(None).cast("string").alias("extract_error"),
        F.size(tokens(new_text)).cast("long").alias("n_tokens"),
        F.lit(None).cast("binary").alias("payload"),
        *(["lang"] if "lang" in docs.columns else []),
    )
    # persist: the emptiness probe and the ingest body both consume the
    # match->join->transform lineage; without this the postings scan +
    # decode + live-join would run twice
    window = window.persist()
    try:
        if window.limit(1).count() == 0:
            return None
        return process_window(
            spark, view, window, batch_id, cfg=cfg, pre_extracted=True
        )
    finally:
        window.unpersist()


def delete_by_ids(
    spark: SparkSession,
    store: IndexStore,
    urls: list[str],
) -> int:
    """ES `_bulk` delete-op / DELETE-by-id: tombstone the LIVE version of
    each given external id (url). Unknown urls are ignored (ES reports
    them not_found). Same tombstone-file + ledger commit as
    delete_by_query; the same read paths and merge reclaim apply.

    Plan: the url IN list pushes into the doc-table scan (row-group
    skipping via url min/max — the mget shape), then the version ranking
    picks each url's live doc id. Bounded by the request size."""
    if not urls:
        return 0
    view = store.view()
    docs = view.docs(spark).where(F.col("url").isin(list(set(urls))))
    live = view.live_docs(spark, docs)
    matched = (live if live is not None else docs).select("doc_id")
    return commit_tombstones(
        spark, view, matched,
        {"by": "ids", "n_requested": len(set(urls))},
    )
