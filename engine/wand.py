"""Block-max top-k executor (the WAND family, SURVEY.md §2.5 D7).

Re-implements the query-side pruning the reference gets from Lucene's
block-max WAND inside ES 5.5 (anchor /root/reference/build.gradle:42):
answer BM25 top-k WITHOUT scoring every matching document, by skipping
posting blocks whose best-possible score cannot enter the current top-k.

Distributed shape:
  1. candidate blocks = postings WHERE term IN query (parquet row-group
     pruning via the term-sorted layout);
  2. each block is replicated to every doc-id-range partition it overlaps
     (blocks are contiguous doc ranges, so overlap replication is rare);
     each partition scores only docs inside its own range, so every doc is
     scored in EXACTLY one partition — exactness;
  3. per partition, a windowed block-max scan: walk the doc-range windows
     between block boundaries in doc order, skip every window whose summed
     per-term upper bounds cannot beat the running k-th score θ, and
     decode + numpy-score only the surviving windows;
  4. global top-k = orderBy(score desc, doc_id).limit(k) over the union of
     per-partition top-ks.

Upper bounds are recomputed from CURRENT global stats at query time using
the stored per-block impact pairs (the Pareto frontier of (tf, dl) — see
engine/postings.py:_block_impacts): BM25's per-term contribution rises in
tf and falls in dl, so idf * max-over-frontier of
tf/(tf + k1*(1-b+b*dl/avgdl)) bounds every posting in the block TIGHTLY —
merges / new segments never invalidate stored metadata (same reason Lucene
stores impacts, not scores). Legacy blocks without the impacts column fall
back to the loose cross-posting (max_tf, min_dl) bound.

Pruning uses a strict margin (ub_sum < θ - 1e-9) so k-th-rank score ties
are never lost; ties then break by doc_id asc exactly like the exact path.
"""

from __future__ import annotations

import heapq
import math
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.codecs import decode_posting_block, decode_value_stream
from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS, IndexConfig, plan_fanout

_EPS = 1e-9
# The heap ranks by the ROUNDED score (the engine's result order is
# round(score, SCORE_DECIMALS) desc, doc_id asc — raw-score ranking can
# evict the wrong member of a rounded tie at the k-th rank). Pruning must
# then keep any window whose raw upper bound could still ROUND UP into a
# tie with θ: margin = half the rounding quantum.
_PRUNE_MARGIN = 0.5 * 10**-SCORE_DECIMALS + _EPS
_SCALE = 10.0**SCORE_DECIMALS
_QUANTUM = Decimal(1).scaleb(-SCORE_DECIMALS)

# Blocks spanning at most this many doc-id ranges replicate via
# explode(sequence(...)) (zero decode); wider blocks decode their doc ids
# once and emit exactly the ranges that contain a posting (<= n emits).
SPAN_EXPLODE_MAX = 64


def _idf(n_docs: float, df: float) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(tf, dl, k1: float, b: float, avgdl: float):
    """tf / (tf + k1*(1 - b + b*dl/avgdl)): the numpy BM25 tf saturation (a
    posting contributes idf * this). The one numpy copy of the formula,
    shared by the block bounds, the block-max scan and IndexReader's driver
    scorer; the same operation order as the Spark expression in
    engine.query.index_term_contribs, so scores agree bit for bit."""
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def spark_round(x) -> np.ndarray:
    """Spark's round(x, SCORE_DECIMALS) over doubles, as a 1-d array:
    HALF_UP on each double's shortest decimal form. Away from a decimal
    half that is rint(x * 10^d) / 10^d; a double whose shortest form ends
    in a 5 right after the last kept decimal (where rint, half-even on the
    binary value, may differ) takes the Decimal path."""
    x = np.array(x, dtype=np.float64, ndmin=1)
    y = x * _SCALE
    r = np.rint(y)
    out = r / _SCALE
    # |y - rint(y)| is y's distance to the nearest integer, ~0.5 at a half
    for i in np.flatnonzero(np.abs(y - r) >= 0.5 - 1e-3):
        out.flat[i] = float(
            Decimal(repr(float(x.flat[i]))).quantize(_QUANTUM, rounding=ROUND_HALF_UP)
        )
    return out


def sorted_ids(ids) -> np.ndarray | None:
    """A doc-id set as a sorted int64 array (None when empty), for
    keep_not_in's binary-search membership."""
    if not ids:
        return None
    return np.sort(np.fromiter(ids, dtype=np.int64, count=len(ids)))


def keep_not_in(ids: np.ndarray, excl: np.ndarray | None) -> np.ndarray:
    """Boolean mask of `ids` NOT in the sorted array `excl`."""
    if excl is None or not len(excl):
        return np.ones(len(ids), dtype=bool)
    pos = np.searchsorted(excl, ids)
    pos[pos == len(excl)] = 0
    return excl[pos] != ids


def _block_upper_bounds(
    pdf: pd.DataFrame, idf_map: dict, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Per-block score upper bound: idf * max over the block's impact pairs
    of tf/(tf + k1*(1-b+b*dl/avgdl)) — the TIGHT Lucene-impacts bound (the
    monotone score's max over a block is attained on the stored Pareto
    frontier, engine/postings.py:_block_impacts). Blocks without impacts
    (segments written before the impacts column existed) fall back to the
    loose (max_tf, min_dl) cross-posting bound — sound, rarely pruning."""
    idf_arr = np.array([idf_map[t] for t in pdf["term"]])
    imp = pdf["imp_tf"] if "imp_tf" in pdf.columns else None
    valid = (
        np.fromiter((v is not None and len(v) > 0 for v in imp), bool, len(pdf))
        if imp is not None
        else np.zeros(len(pdf), dtype=bool)
    )
    mt = pdf["max_tf"].to_numpy(np.float64)
    md = pdf["min_dl"].to_numpy(np.float64)
    ubs = idf_arr * bm25_tf_norm(mt, md, k1, b, avgdl)
    if valid.any():
        sub = pdf.loc[valid]
        cnts = np.fromiter((len(v) for v in sub["imp_tf"]), np.int64, len(sub))
        ftf = np.concatenate([np.asarray(v, np.float64) for v in sub["imp_tf"]])
        fdl = np.concatenate([np.asarray(v, np.float64) for v in sub["imp_dl"]])
        s = bm25_tf_norm(ftf, fdl, k1, b, avgdl)
        seg = np.concatenate(([0], np.cumsum(cnts[:-1])))
        ubs[valid] = idf_arr[valid] * np.maximum.reduceat(s, seg)
    return ubs


def _scan_partition(
    pdf: pd.DataFrame,
    idf_map: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    excluded: frozenset | None = None,
    codec: str = "varint",
) -> pd.DataFrame:
    """Exact top-k of one doc-range partition via the windowed block-max scan."""
    lo = int(pdf["range_lo"].iloc[0])
    hi = int(pdf["range_hi"].iloc[0])

    # materialize + sort the exclusion set ONCE per partition: the window
    # loop runs many times and list(frozenset) + isin's internal sort per
    # window is O(|excluded| log |excluded|) each time
    excl_arr = sorted_ids(excluded)

    terms = pdf["term"].to_numpy()
    mins = np.maximum(pdf["min_doc"].to_numpy(np.int64), lo)
    maxs = np.minimum(pdf["max_doc"].to_numpy(np.int64), hi)
    ubs = _block_upper_bounds(pdf, idf_map, k1, b, avgdl)

    edges = np.unique(np.concatenate([mins, maxs + 1]))
    heap: list[tuple[float, int]] = []  # (score, -doc_id): weakest first
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    n_blocks_scored = 0

    for wi in range(len(edges) - 1):
        w_lo, w_hi = int(edges[wi]), int(edges[wi + 1]) - 1
        act = np.nonzero((mins <= w_hi) & (maxs >= w_lo))[0]
        if act.size == 0:
            continue
        if len(heap) >= k and float(ubs[act].sum()) < heap[0][0] - _PRUNE_MARGIN:
            continue  # no doc in this window can even tie into the top-k

        ids_parts, sc_parts = [], []
        for i in act:
            if i not in decoded:
                r = pdf.iloc[int(i)]
                rn = int(r["n"])
                d, t = decode_posting_block(
                    bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), codec=codec, n=rn
                )
                dl = decode_value_stream(
                    bytes(r["dl_bytes"]), rn, codec
                ).astype(np.float64)
                contrib = idf_map[terms[i]] * bm25_tf_norm(t, dl, k1, b, avgdl)
                decoded[i] = (d, contrib)
                n_blocks_scored += 1
            d, contrib = decoded[i]
            sel = (d >= w_lo) & (d <= w_hi)
            if sel.any():
                ids_parts.append(d[sel])
                sc_parts.append(contrib[sel])
        if not ids_parts:
            continue
        ids = np.concatenate(ids_parts)
        scs = np.concatenate(sc_parts)
        if excl_arr is not None:
            keep = keep_not_in(ids, excl_arr)
            ids, scs = ids[keep], scs[keep]
            if ids.size == 0:
                continue
        uids, inv = np.unique(ids, return_inverse=True)
        tot = np.zeros(len(uids))
        np.add.at(tot, inv, scs)
        for doc, s in zip(uids.tolist(), spark_round(tot).tolist()):
            cand = (s, -doc)
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif cand > heap[0]:
                heapq.heapreplace(heap, cand)

    rng = int(pdf["rng"].iloc[0])
    if not heap:
        # sentinel row (filtered out of results) so a partition that scored
        # blocks but produced no top-k rows still reports blocks_scored —
        # without it the skip-ratio evidence undercounts scored blocks
        return pd.DataFrame(
            {
                "rng": [rng],
                "doc_id": [-1],
                "raw_score": [0.0],
                "blocks_scored": [n_blocks_scored],
            }
        )
    return pd.DataFrame(
        {
            "rng": [rng] * len(heap),
            "doc_id": [-d for _, d in heap],
            "raw_score": [s for s, _ in heap],
            "blocks_scored": [n_blocks_scored] * len(heap),
        }
    )


def wand_topk(
    spark: SparkSession,
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    df_by_term: dict[str, int],
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    num_ranges: int | None = None,
    doc_id_hwm: int | None = None,
    excluded_doc_ids: frozenset | None = None,
    codec: str = "varint",
    stats_out: dict | None = None,
) -> DataFrame:
    """Block-max top-k over POSTINGS_SCHEMA blocks.

    `df_by_term`: per-term document frequencies for the query terms (a
    driver-side dict; query terms are few).
    `excluded_doc_ids`: superseded docs to skip (Lucene live-docs analog;
    see search_store_wand). Rank-identical to the exact path (tested) but
    decodes only the blocks that can still enter the top-k.

    `num_ranges` (None = derive from data): doc-id ranges are sized from
    doc_id_hwm via plan_fanout — a small store scans in a handful of tasks,
    a huge one fans out so each range spans <= cfg.docs_per_wand_range ids.
    The range partition of a doc is doc // width, so the count only shapes
    parallelism, never results (unit-tested).
    """
    q_terms = sorted(set(query_terms))
    excluded = excluded_doc_ids or None
    idf_map = {t: _idf(float(n_docs), float(df_by_term.get(t, 0))) for t in q_terms}
    hwm = doc_id_hwm if doc_id_hwm is not None else n_docs
    hwm = max(hwm, 1)
    if num_ranges is None:
        num_ranges = plan_fanout(
            hwm, cfg.wand_range_floor_docs, cfg.docs_per_wand_range,
            spark.sparkContext.defaultParallelism,
        )

    cand = postings.where(F.col("term").isin(q_terms))
    # fixed-width doc-id ranges: partition(doc) = doc // width — pure integer
    # boundaries, so block replication and in-partition clipping can never
    # disagree about which partition owns a doc
    width = max(1, -(-hwm // num_ranges))  # ceil div
    rng_lo = F.floor(F.col("min_doc") / F.lit(width)).cast("long")
    rng_hi = F.floor(F.col("max_doc") / F.lit(width)).cast("long")
    # Replication strategy per block (a block must reach EVERY range where
    # it has >=1 posting — partitions compute partial per-doc sums, so a
    # missing block would under-score its docs):
    # - dense span (few ranges): explode(sequence(lo, hi)) — zero decode.
    # - wide span: a rare term's single block can span the whole doc-id
    #   space; sequence() would replicate it span/width times (~2*10^7 at
    #   10^12 docs). Decode its doc ids ONCE and emit exactly the ranges
    #   that contain a posting — at most n per block.
    span = rng_hi - rng_lo + F.lit(1)
    dense = cand.where(span <= F.lit(SPAN_EXPLODE_MAX)).withColumn(
        "rng", F.explode(F.sequence(rng_lo, rng_hi))
    )
    sparse_src = cand.where(span > F.lit(SPAN_EXPLODE_MAX))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields
    ) + ", rng long"

    def assign_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from engine.codecs import decode_doc_ids_batch

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy().astype(np.int64)
            docs = decode_doc_ids_batch(pdf["doc_bytes"], ns, codec=codec)
            rngs = docs // width
            block_idx = np.repeat(np.arange(len(ns), dtype=np.int64), ns)
            pairs = np.unique(np.stack([block_idx, rngs]), axis=1)
            out = pdf.iloc[pairs[0]].copy()
            out["rng"] = pairs[1]
            yield out

    with_rng = (
        dense.unionByName(sparse_src.mapInPandas(assign_ranges, schema=out_schema))
        .withColumn("range_lo", F.col("rng") * F.lit(width))
        .withColumn("range_hi", F.col("rng") * F.lit(width) + F.lit(width - 1))
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        return _scan_partition(
            pdf, idf_map, k, cfg.k1, cfg.b, float(avgdl), excluded, codec
        )

    local = with_rng.groupBy("rng").applyInPandas(
        scan, schema="rng long, doc_id long, raw_score double, blocks_scored long"
    )
    if stats_out is not None:
        # evidence/debug path (tools/wand_skip_stats.py): extra actions that
        # re-run the scan — never taken by queries (stats_out=None default)
        stats_out["candidate_block_ranges"] = with_rng.count()
        stats_out["blocks_scored"] = int(
            local.groupBy("rng")
            .agg(F.max("blocks_scored").alias("bs"))
            .agg(F.sum("bs"))
            .collect()[0][0]
            or 0
        )
        stats_out["num_ranges"] = int(num_ranges)
    return (
        local.where(F.col("doc_id") >= 0)
        .select(
            "doc_id", F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def wand_is_cheaper(df_map: dict[str, int], cfg: IndexConfig) -> bool:
    """Cost model behind strategy="auto": block-max WAND beats the
    vectorized exact path only for few-term queries over long posting
    lists (calibration in engine/config.py at the wand_auto_* knobs —
    per-term candidate postings drive the skip fraction; 3+-term
    disjunctions keep the summed bound above θ and skip ~nothing)."""
    n = max(1, len(df_map))
    return (
        n <= cfg.wand_auto_max_terms
        and sum(df_map.values()) / n >= cfg.wand_auto_min_postings_per_term
    )


def search_store_wand(
    spark: SparkSession,
    store,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    num_ranges: int | None = None,
    stats_out: dict | None = None,
    strategy: str = "wand",
) -> DataFrame:
    """Block-max WAND top-k over a persisted index (engine.segments).

    Superseded docs (multi-segment upserts awaiting merge) are excluded via
    a driver-collected deleted-id set — they must not be SCORED (a deleted
    doc in the heap would inflate θ and wrongly prune live docs). This
    mirrors Lucene's live-docs bitset; deleted sets are tiny between merges
    by construction (one micro-batch's worth of upserts). df/avgdl keep the
    stored pre-merge semantics (same as search_store).

    `strategy`: "wand" always runs the block-max scan; "auto" is the
    cost-based choice (wand_is_cheaper): WAND runs only for queries of at
    most cfg.wand_auto_max_terms terms whose per-term candidate postings
    (df, known before any scan) reach cfg.wand_auto_min_postings_per_term;
    otherwise the fully vectorized exact path is cheaper and is taken
    instead. Both paths are rank-identical (tested), so the switch is
    invisible in results; stats_out["strategy"] records which plan
    actually ran.

    df comes from the view's postings files, read on the driver (block
    `n` summed per term, engine.segments.block_dfs), with no Spark job;
    the same read gives stats_out its candidate_blocks and
    candidate_postings.
    """
    from engine.query import search_store
    from engine.segments import block_dfs

    if strategy not in ("wand", "auto"):
        raise ValueError(f"strategy must be 'wand' or 'auto', got {strategy!r}")
    view = store.view()
    q_terms = sorted(set(query_terms))
    st = stats_out if stats_out is not None else {}
    blocks = view.postings_files.read(q_terms, ("term", "n"))
    df_map = block_dfs(blocks, q_terms)
    st.update(candidate_blocks=blocks.num_rows,
              candidate_postings=sum(df_map.values()))
    if strategy == "auto":
        if not wand_is_cheaper(df_map, cfg):
            st["strategy"] = "exact_auto"
            return search_store(spark, view, q_terms, k=k, cfg=cfg)
        st["strategy"] = "wand_auto"
    excluded = view.deleted_doc_ids(spark, cfg.max_deleted_driver)
    if excluded is None:
        # superseded set too big to ship to every task — fall back to the
        # fully distributed exact path (same results) until a merge runs
        st.update(fallback_exact=True, strategy="exact_fallback")
        return search_store(spark, view, q_terms, k=k, cfg=cfg)
    stats = view.stats()
    return wand_topk(
        spark,
        view.postings(spark),
        stats["n_docs"],
        stats["avgdl"],
        df_map,
        q_terms,
        k=k,
        cfg=cfg,
        num_ranges=num_ranges,
        doc_id_hwm=view.doc_id_hwm,
        excluded_doc_ids=excluded,
        codec=view.codec,
        stats_out=stats_out,
    )
