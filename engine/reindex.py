"""ES `_reindex`: rebuild one index's documents into another index.

The reference's operational answer to a mapping/codec change is "create a
new index and replay the Kafka topic" (start-option EARLIEST,
jobs/build_index.py). ES's answer — and this module's — is `_reindex`:
read the SOURCE INDEX's stored `_source` and bulk-index it into a
destination created with the new settings, no original corpus required.

Requires the source store to have been built with
`IndexConfig(store_source=True)` (ES keeps `_source` by default; here it
is opt-in because the doc table is otherwise metadata-sized).

Semantics matched to ES:
  - the whole live doc set of the source (superseded docs already expunged
    by merge, or deduped last-write-wins here via the shared ingest body —
    `version_type: external` on (url, warc_ts));
  - destination settings win: codec, routing, positions, analyzer config
    all come from the DESTINATION's IndexConfig — this is exactly why
    users reindex;
  - lineage carried: (part_id, row_offset) ride along from the source doc
    table, so the destination's per-partition offset ledger reflects the
    original Kafka positions.

100 TB shape: reindex is ONE pass — a column projection of the source doc
table (parquet, column-pruned: url/ts/source/lineage only) feeding the
same shuffle-free posting builder as live ingest (process_window with
pre_extracted=True: the html-decode UDF never runs — the stored source IS
the extracted text, byte-identical by the T1 invariant). Doc-range
partitioning is re-planned from the measured row count (plan_fanout), so
a 10^12-doc reindex fans out to bounded partitions; nothing is collected
on the driver but the per-partition offsets the ledger commit needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from engine.config import DEFAULT_CONFIG, IndexConfig
from engine.ingest import BatchResult, process_window
from engine.segments import IndexStore


def reindex(
    spark: SparkSession,
    src_store: IndexStore,
    dst_store: IndexStore,
    cfg: IndexConfig = DEFAULT_CONFIG,
    batch_id: int = 0,
) -> BatchResult | None:
    """Bulk-copy src_store's live docs into dst_store (created by the
    caller with the destination settings). Returns the ingest BatchResult
    (segment id, n_docs, metrics) or None for an empty source."""
    view = src_store.view()
    docs = view.docs(spark)
    if "source" not in docs.columns:
        raise ValueError(
            "source index was built without store_source=True (_source "
            "disabled) — reindex needs the stored source text"
        )
    # only LIVE docs cross: superseded versions are deduped again by the
    # ingest body's last-write-wins, but delete_by_query tombstones
    # (engine/updates.py) exist only in the SOURCE's ledger — copying a
    # tombstoned doc would resurrect it in the destination (ES _reindex
    # copies live docs only)
    live = view.live_docs(spark, docs)
    if live is not None:
        docs = docs.join(live.select("doc_id"), "doc_id", "left_semi")
    window = docs.select(
        "url", "warc_ts", "part_id", "row_offset",
        F.col("source").alias("extracted_text"),
        F.lit(None).cast("string").alias("extract_error"),
        F.col("doc_len").cast("long").alias("n_tokens"),
        F.lit(None).cast("binary").alias("payload"),
        *(["lang"] if "lang" in docs.columns else []),
    )
    return process_window(
        spark, dst_store, window, batch_id, cfg=cfg, pre_extracted=True,
        max_rows=view.stats()["n_docs"],
    )
