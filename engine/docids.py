"""Deterministic dense doc-id assignment + doc table.

Re-implements ES's internal docID assignment (reference anchor:
prepareIndex(...) at /root/reference/src/main/java/org/elasticsearch/kafka/
indexer/service/ElasticSearchClientService.java:140-146 — ES assigns each
indexed doc a per-segment monotone int). Here doc_id is a dense rank over a
deterministic sort key, so the same input produces the same ids at any
parallelism (`monotonically_increasing_id` is partition-dependent and
banned, SURVEY.md §4.2).

Two strategies:
- "window": row_number() OVER (ORDER BY key) — one global sort into a
  single task for the numbering stage; fine per micro-batch (bounded by
  rows_per_batch), the default inside the ingest loop.
- "range": scalable path for bulk builds — repartitionByRange(key) +
  per-partition counts -> driver prefix sums -> local row_number + base.
  Total order = range-partition order + local order, so the result is
  identical to "window" regardless of sampled partition boundaries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Last-write-wins tie-break after the version column: of two rows of one
# key with equal versions, the later one in the source (higher partition,
# then higher offset) wins, so a re-run of a batch keeps the same row.
TIEBREAK_COLS = ("part_id", "row_offset")


def _newest_first(df: DataFrame, version_col: str) -> list:
    """Window order for last-write-wins: `version_col` desc, then the
    TIEBREAK_COLS the relation has, desc."""
    return [F.col(version_col).desc()] + [
        F.col(c).desc() for c in TIEBREAK_COLS if c in df.columns
    ]


def last_write_wins(key, versions) -> np.ndarray:
    """Driver twin of dedup_last_write_wins: row indices of the greatest
    `versions` tuple (Arrow arrays, compared in order, null lowest) per
    distinct `key` value, in ascending key order with the null key first
    — the order, and so the dense ids, the Spark windows give."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(key) == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.asarray(pc.rank(key, sort_keys="ascending", null_placement="at_start",
                              tiebreaker="dense"), dtype=np.int64)
    vs = [np.asarray(pc.fill_null(pc.cast(v, pa.int64()), np.iinfo(np.int64).min))
          for v in versions]
    order = np.lexsort((*reversed(vs), rank))
    r = rank[order]
    return order[np.append(r[1:] != r[:-1], True)]


def literal_long_map(mapping: dict[int, int], key_col: str):
    """int->long dict as a LITERAL map-lookup expression, NULL for absent
    keys. Zero Spark jobs — a broadcast join here would cost one
    broadcast-build job per downstream action; the map is O(len(mapping))
    driver-side constants and downstream predicates stay pushable. Used
    for per-partition doc-id bases and committed-offset windows (both
    bounded by the partition count, never data-sized)."""
    if not mapping:
        return F.lit(None).cast("long")
    return F.element_at(
        F.create_map(
            *[
                x
                for k, v in mapping.items()
                for x in (F.lit(int(k)), F.lit(int(v)).cast("long"))
            ]
        ),
        F.col(key_col),
    )


def prefix_sum_bases(counts: dict[int, int], base: int) -> dict[int, int]:
    """Per-partition dense doc-id bases from per-partition counts: bases in
    ascending partition order, starting at `base`."""
    bases, acc = {}, base
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]
    return bases


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    base: int = 0,
    strategy: str = "window",
    num_partitions: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Adds `doc_id` = base + dense 0-based rank over `order_cols`.

    `order_cols` must be a unique key of `df` (we use (url, warc_ts)).

    `cleanup`: the "range" strategy persists the ranged intermediate (the
    counts job and the numbering job must see the SAME sampled boundaries);
    when the caller passes a list, the persisted DF is appended to it and
    the CALLER unpersists after consuming the result (the ingest loop frees
    it at end of batch — no storage accumulation across thousands of
    micro-batches). Without a list, release falls to the ContextCleaner.
    """
    if strategy == "window":
        w = Window.orderBy(*[F.col(c).asc() for c in order_cols])
        return df.withColumn(
            "doc_id", (F.row_number().over(w) - 1 + F.lit(base)).cast("long")
        )

    if strategy != "range":
        raise ValueError(f"unknown strategy: {strategy}")

    from pyspark import StorageLevel

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c).asc() for c in order_cols])
    # persist + eager count: the counts job and the numbering job must see
    # the SAME range boundaries (repartitionByRange samples per execution;
    # a re-execution could re-draw them). MEMORY_AND_DISK spills instead of
    # evicting-to-recompute, so the boundaries stay frozen for the batch;
    # the caller releases the blocks via `cleanup` at end of batch.
    # CLUSTER CAVEAT: losing an executor's blocks mid-batch recomputes with
    # possibly different boundaries — the ledger's not-yet-committed state
    # makes the deterministic batch RE-RUN the recovery unit (tested kill
    # test), exactly like the reference's redelivery semantics.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if cleanup is not None:
        cleanup.append(with_pid)
    # per-partition counts -> driver-side prefix sums (n rows, tiny)
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    bases = prefix_sum_bases(counts, base)
    base_df = df.sparkSession.createDataFrame(
        [(pid, b) for pid, b in bases.items()], "_pid int, _base long"
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        with_pid.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(base_df), "_pid")
        .withColumn("doc_id", (F.col("_base") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_base")
    )


def dedup_assign_ids_ranged(
    df: DataFrame,
    base: int = 0,
    num_partitions: int | None = None,
    key: str = "url",
    version_col: str = "warc_ts",
    group_cols: tuple[str, ...] = (),
    agg_exprs: tuple | None = None,
    cleanup: list | None = None,
):
    """Fused dedup + dense doc-id assignment + batch stats: the micro-ingest
    hot path. ONE range exchange on `key` does triple duty —

    1. dedup: the range partitioner assigns rows by key VALUE, so equal keys
       always co-locate and last-write-wins (max `version_col` per key, ties
       broken by TIEBREAK_COLS) is a partition-local window
       (WindowGroupLimit; Catalyst reuses the range partitioning — no
       second exchange, verified in the executed plan);
    2. ids: partitions are contiguous key ranges, so
       doc_id = driver-prefix-sum base of the partition + the row's position
       in the partition's key-sorted order — identical to the global dense
       rank over (key, version_col) that assign_doc_ids produces (tested);
    3. stats: the SAME collect that freezes the prefix sums returns
       per-(_pid, *group_cols) aggregates (count + `agg_exprs`), so the
       caller's batch stats (n_docs / sum_dl / per-routing rollup) cost zero
       extra Spark jobs.

    The row's partition position is materialized INTO the persisted
    partitions (monotonically_increasing_id's low 33 bits, evaluated at
    cache-population time over the window's deterministic sort), so later
    scans see frozen ids regardless of scan order. Recompute after executor
    loss could re-draw range boundaries — same caveat as
    assign_doc_ids(strategy="range"): the uncommitted batch's deterministic
    RE-RUN is the recovery unit (kill-tested).

    Returns (docs_ided, agg_rows). docs_ided stays partitioned in contiguous
    doc_id ranges — build_posting_blocks_local(assume_partitioned=True)
    needs no further exchange. agg_rows: Row(_pid, *group_cols, _cnt, ...).
    """
    from pyspark import StorageLevel

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, F.col(key).asc())
    w = Window.partitionBy(key).orderBy(*_newest_first(df, version_col))
    deduped = (
        ranged.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    # after dedup `key` is unique, so the window's (key asc) partition order
    # IS the (key, version_col) order; _lidx freezes that order into the
    # cached blocks (low 33 bits = row position within the partition)
    with_pid = deduped.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id()
        .bitwiseAND(F.lit((1 << 33) - 1))
        .alias("_lidx"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cleanup is not None:
        cleanup.append(with_pid)

    aggs = [F.count(F.lit(1)).alias("_cnt")] + list(agg_exprs or [])
    agg_rows = with_pid.groupBy("_pid", *group_cols).agg(*aggs).collect()

    counts: dict[int, int] = {}
    for r in agg_rows:
        counts[r["_pid"]] = counts.get(r["_pid"], 0) + int(r["_cnt"])
    bases = prefix_sum_bases(counts, base)
    base_expr = literal_long_map(bases, "_pid")
    docs_ided = (
        with_pid.withColumn(
            "doc_id", (base_expr + F.col("_lidx")).cast("long")
        ).drop("_pid", "_lidx")
    )
    return docs_ided, agg_rows


def dedup_last_write_wins(
    df: DataFrame, key: str = "url", version_col: str = "warc_ts"
) -> DataFrame:
    """Upsert-by-id semantics within a batch (reference D10: indexing with an
    existing id replaces the doc — prepareIndex(indexName, indexType,
    eventUUID), ElasticSearchClientService.java:140-142). Keeps the row with
    the greatest `version_col` per `key`, ties broken by TIEBREAK_COLS."""
    w = Window.partitionBy(key).orderBy(*_newest_first(df, version_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
