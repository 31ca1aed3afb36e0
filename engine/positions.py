"""Positional postings sidecar + store-backed phrase search.

Lucene keeps term positions in a dedicated postings stream (the classic
.prx/.pos file) so `match_phrase` never re-tokenizes documents; the
reference gets that for free from Elasticsearch 5.5
(/root/reference/build.gradle:42 — every `_source` field is indexed with
positions by the `standard` analyzer mapping). This module adds the same
capability to the store: an OPT-IN per-segment `positions/` parquet
(`IndexConfig.store_positions`) holding one row per (term, doc) with the
token positions delta-encoded + varint-compressed (same restart-per-row
layout as the posting blocks' doc-id stream, so the batch decoder is
shared), and `search_store_phrase`, which answers ES `match_phrase`
queries from the sidecar without touching raw text.

Scale shape (the 100 TB lens):
- Build: one groupBy (term, doc_id) shuffle over the batch's positional
  token stream; the blob encode is a single vectorized numpy pass per
  Arrow batch (segmented delta + one varint_encode call — no per-row
  Python loops). Opt-in because positions roughly double index build cost
  and size — exactly Lucene's positions-vs-docs-only mapping tradeoff.
- Merge: doc ids are stable across merges, so merged positions are a
  FILTER (drop superseded docs) + rewrite of the input rows — blobs are
  carried verbatim, never re-encoded.
- Query: the positions scan pushes `term IN (...)` to parquet (term-sorted
  files -> row-group skipping); votes are emitted only for query-term
  occurrences; one shuffle on (doc_id, base) does the adjacency check.
  df/idf/stats are tiny broadcast sides; top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.codecs import decode_doc_ids_batch, varint_encode
from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS, IndexConfig
from engine.segments import store_writer

POSITIONS_SUBDIR = "positions"


# ---------------------------------------------------------------------------
# encode / decode (vectorized across rows)
# ---------------------------------------------------------------------------


def encode_position_blobs(values: np.ndarray, ns: np.ndarray):
    """Delta-encode + varint consecutive sorted position runs (`ns[i]`
    values each, concatenated in `values`) in ONE vectorized pass: reset the
    delta chain at each run start (first value absolute — the posting
    blocks' restart layout), one varint_encode over the whole stream, then
    a binary Arrow array of per-run blobs over the one buffer, at the
    accumulated byte offsets."""
    import pyarrow as pa

    from engine.codecs import varint_encode_with_lengths

    values = np.asarray(values, dtype=np.int64)
    ns = np.asarray(ns, dtype=np.int64)
    deltas = values.copy()
    deltas[1:] -= values[:-1]
    starts = np.zeros(len(ns), dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    nonempty = ns > 0
    deltas[starts[nonempty]] = values[starts[nonempty]]
    buf, lens = varint_encode_with_lengths(deltas.astype(np.uint64))
    # run i spans value indices [starts[i], starts[i]+ns[i]), so its bytes
    # start at the prefix sum of per-VALUE byte lengths up to starts[i]
    csum = np.zeros(len(deltas) + 1, dtype=np.int64)
    np.cumsum(lens, out=csum[1:])
    offs = csum[np.append(starts, len(deltas))].astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(ns), [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)],
    )


def encode_position_rows(plists: list[np.ndarray]) -> list[bytes]:
    """encode_position_blobs over many per-row sorted position arrays, as
    one bytes blob per row."""
    if not plists:
        return []
    ns = np.fromiter((len(p) for p in plists), dtype=np.int64, count=len(plists))
    values = np.concatenate([np.asarray(p, dtype=np.int64) for p in plists])
    return encode_position_blobs(values, ns).to_pylist()


def decode_position_rows(blobs: list[bytes], ns: np.ndarray) -> np.ndarray:
    """Inverse of encode_position_rows: flat int64 array of positions,
    segmented by `ns` (identical layout to the doc-id stream, so the
    shared batch decoder applies)."""
    return decode_doc_ids_batch(list(blobs), ns)


# ---------------------------------------------------------------------------
# build (per ingest batch)
# ---------------------------------------------------------------------------


def build_position_postings(
    docs_ided: DataFrame,
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "extracted_text",
    routing_col: str | None = None,
) -> DataFrame:
    """(routing?, term, doc_id, n_pos, pos_blob) for one batch of id'd docs."""
    keep = [F.col(routing_col).cast("string").alias("routing")] if routing_col else []
    pos = docs_ided.select(
        *keep,
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    group_cols = (["routing"] if routing_col else []) + ["term", "doc_id"]
    grouped = pos.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("pos")).alias("plist")
    )

    out_fields = ([("routing", "string")] if routing_col else []) + [
        ("term", "string"), ("doc_id", "long"), ("n_pos", "int"),
        ("pos_blob", "binary"),
    ]
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            blobs = encode_position_rows(
                [np.asarray(p, dtype=np.int64) for p in b["plist"]]
            )
            out = {
                "term": b["term"],
                "doc_id": b["doc_id"].astype("int64"),
                "n_pos": b["plist"].map(len).astype("int32"),
                "pos_blob": pd.Series(blobs, index=b.index),
            }
            if routing_col:
                out = {"routing": b["routing"], **out}
            yield pd.DataFrame(out)

    return grouped.mapInPandas(enc, schema=out_schema)


def encode_doc_positions(ids: np.ndarray, texts):
    """The positions rows (term, doc_id, n_pos, pos_blob) of one batch of
    docs, built on the driver and sorted by (term, doc_id): the rows
    build_position_postings gives for the same docs. `ids` ascending,
    `texts` in the same order (str or None)."""
    import itertools

    import pyarrow as pa
    import pyarrow.compute as pc

    from engine.analysis import py_tokenize

    toks = [py_tokenize(t) for t in texts]
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    flat = pa.array(itertools.chain.from_iterable(toks), type=pa.string(),
                    size=int(lens.sum())).dictionary_encode()
    uniq = flat.dictionary
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[np.asarray(pc.sort_indices(uniq), dtype=np.int64)] = np.arange(len(uniq))
    codes = np.asarray(flat.indices, dtype=np.int64)
    # tokens arrive doc-major (ids ascending, positions ascending), so a
    # stable sort by term keeps (doc, pos) order within each term
    order = np.argsort(rank[codes], kind="stable")
    doc = np.repeat(np.asarray(ids, dtype=np.int64), lens)[order]
    pos = (np.arange(len(codes), dtype=np.int64)
           - np.repeat(np.cumsum(lens) - lens, lens))[order]
    codes = codes[order]
    run = np.ones(len(codes), dtype=bool)
    run[1:] = (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1])
    starts = np.flatnonzero(run)
    ns = np.diff(np.append(starts, len(codes)))
    return pa.table({
        "term": uniq.take(pa.array(codes[starts])),
        "doc_id": pa.array(doc[starts], type=pa.int64()),
        "n_pos": pa.array(ns, type=pa.int32()),
        "pos_blob": encode_position_blobs(pos, ns),
    })


def write_segment_positions(store, segment_id: str, positions: DataFrame) -> None:
    """Write a segment's positions sidecar (term-sorted files, hive-
    partitioned by routing when routed — same layout contract as the
    postings dir, so StoreView.positions serves it unchanged)."""
    import os

    routed = "routing" in positions.columns
    if routed:  # one sort key for the directory "" and null share
        positions = positions.withColumn("routing", F.expr("nullif(routing, '')"))
    sort_cols = (["routing"] if routed else []) + ["term", "doc_id"]
    writer = store_writer(positions.sortWithinPartitions(*sort_cols))
    if routed:
        writer = writer.partitionBy("routing")
    writer.parquet(os.path.join(store.segment_path(segment_id), POSITIONS_SUBDIR))


# ---------------------------------------------------------------------------
# query: store-backed match_phrase
# ---------------------------------------------------------------------------


def phrase_scores_from_positions(
    spark: SparkSession,
    positions: DataFrame,
    doc_len_df: DataFrame,
    n_docs: int,
    avgdl: float,
    phrase: list[str],
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Core match_phrase executor over a positions relation
    (term, doc_id, n_pos, pos_blob[, ...]) -> the UN-truncated, un-rounded
    (doc_id, raw_score) phrase relation. phrase_topk_from_positions is
    round + top-k over this; simple_query_string_store sums it with the
    index term contributions (one expression tree per formula).

    `doc_len_df`: (doc_id, doc_len) for the docs allowed in RESULTS (the
    caller restricts it to live docs as needed: the join on it is the only
    exclusion of superseded docs). Scoring matches engine.phrase.bm25_phrase_topk
    (tf := phrase frequency, idf := summed member-term idfs) with
    df/n_docs/avgdl from the caller's stored stats.
    """
    if not phrase:
        raise ValueError("empty phrase")
    n = len(phrase)
    distinct_terms = sorted(set(phrase))
    # term -> phrase slots it fills (repeated terms fill several)
    slots = {t: [i for i, w in enumerate(phrase) if w == t] for t in distinct_terms}

    posn = positions.where(F.col("term").isin(distinct_terms))

    # df per query term from the sidecar rows themselves: one row per
    # (term, doc) per segment and a doc lives in exactly one live segment,
    # so count(*) == stored df (includes superseded docs, matching stats).
    dfreq = posn.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # per-term multiplicity: a term repeated in the phrase contributes its
    # idf once per phrase position (engine.phrase.bm25_phrase_topk)
    mult = spark.createDataFrame(
        [(t, len(slots[t])) for t in distinct_terms], "term string, mult int"
    )
    idf_sum = (
        dfreq.join(F.broadcast(mult), "term")
        .agg(
            F.sum(
                F.col("mult")
                * F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
            ).alias("idf_sum")
        )
    )

    # decode blobs -> adjacency votes (doc_id, base, pidx): one Arrow-batched
    # numpy pass; only query-term occurrences are ever materialized
    slots_b = {t: np.asarray(ix, dtype=np.int64) for t, ix in slots.items()}

    def votes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ns = b["n_pos"].to_numpy(dtype=np.int64)
            flat = decode_position_rows(list(b["pos_blob"]), ns)
            doc_rep = np.repeat(b["doc_id"].to_numpy(dtype=np.int64), ns)
            term_rep = np.repeat(b["term"].to_numpy(), ns)
            outs = []
            for t, ix in slots_b.items():
                m = term_rep == t
                if not m.any():
                    continue
                p = flat[m]
                d = doc_rep[m]
                # one (doc, base, pidx) vote per occurrence x slot
                outs.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(d, len(ix)),
                            "base": (p[:, None] - ix[None, :]).ravel(),
                            "pidx": np.tile(ix, len(p)),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    vote_df = posn.mapInPandas(votes, schema="doc_id long, base long, pidx int")
    ptf = (
        vote_df.groupBy("doc_id", "base")
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .where((F.col("n_slots") == F.lit(n)) & (F.col("base") >= 0))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("ptf"))
    )

    denom = F.col("ptf") + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("doc_len") / F.lit(float(avgdl))
    )
    return (
        ptf.join(doc_len_df.select("doc_id", "doc_len"), "doc_id")
        .crossJoin(F.broadcast(idf_sum))
        .select(
            "doc_id",
            (F.col("idf_sum") * F.col("ptf") / denom).alias("raw_score"),
        )
    )


def phrase_topk_from_positions(
    spark: SparkSession,
    positions: DataFrame,
    doc_len_df: DataFrame,
    n_docs: int,
    avgdl: float,
    phrase: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """round + top-k by (score desc, doc_id asc) over
    phrase_scores_from_positions (the shared store phrase relation)."""
    return (
        phrase_scores_from_positions(
            spark, positions, doc_len_df, n_docs, avgdl, phrase, cfg=cfg,
        )
        .select(
            "doc_id", F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_store_phrase(
    spark: SparkSession,
    store,
    phrase: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """ES match_phrase over a persisted store with positions sidecars.

    Thin wrapper over phrase_topk_from_positions with search_store's
    cross-segment semantics: superseded docs are excluded from RESULTS via
    the live-docs join, while df/n_docs/avgdl come from the stored
    per-segment stats (which include superseded docs until a merge expunges
    them — exactly Lucene/ES deleted-doc behavior). IndexReader.search_phrase
    runs this plan on the reader's view."""
    view = store.view()
    if not view.has_positions:
        raise ValueError(
            f"index {view.store.name}: no positions sidecar on every live segment "
            "(build with IndexConfig(store_positions=True) to serve phrase "
            "queries)"
        )
    stats = view.stats()
    docs = view.docs(spark)
    live = view.live_docs(spark, docs)
    if live is None:
        live = docs
    return phrase_topk_from_positions(
        spark,
        view.positions(spark),
        live.select("doc_id", "doc_len"),
        int(stats["n_docs"]),
        float(stats["avgdl"]),
        phrase,
        k=k,
        cfg=cfg,
    )
