"""Inverted-index construction: posting lists as compressed block rows.

Re-implements what the reference delegates to Lucene inside ES 5.5 (D3/D4 in
SURVEY.md §2.5; anchor /root/reference/build.gradle:42): per-term posting
lists of (docID, tf), sorted by docID, delta+varint-compressed into
fixed-size blocks with block-max metadata (Lucene block postings/impacts).

Plan shape (scale-first):
  tokens = explode(tokenize(text))                       # narrow
  tf     = groupBy(doc_id, term).count                   # shuffle 1 (by doc+term; partial agg map-side)
  tf+dl  = join doc_lengths on doc_id                    # co-keyed with shuffle 1
  df     = groupBy(term).count                           # tiny after partial agg
  blocks = groupBy(term, bucket).applyInPandas(encode)   # shuffle 2 (by term)

Hot-term skew (Zipfian "the"-like terms hit ~every doc) is defused by
RANGE-bucketing, not hash-salting: bucket = floor(doc_id * S_t / n_docs)
with S_t sized from df(t), so each (term, bucket) group is a bounded,
CONTIGUOUS doc_id range. Contiguity means per-bucket encoded blocks
concatenate into the term's globally doc_id-sorted posting list without a
second merge pass — the re-sort a hash salt would force (SURVEY.md §4.2).
Rare terms get S_t = 1 (no block fragmentation).

Block-max metadata stores (max_tf, min_dl) impacts rather than a frozen
score: BM25 upper bounds are recomputed from CURRENT global stats at query
time (score rises in tf, falls in dl), so merges/new segments never
invalidate stored metadata — same reason Lucene stores impacts.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.codecs import decode_posting_blocks_batch
from engine.config import DEFAULT_CONFIG, IndexConfig

POSTINGS_SCHEMA = (
    "term string, n int, min_doc long, max_doc long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, max_tf int, min_dl int, "
    "imp_tf array<int>, imp_dl array<int>"
)

# routing-aware variant (D9): every block belongs to exactly one routing
# partition; segments store these hive-partitioned by `routing`
POSTINGS_SCHEMA_ROUTED = POSTINGS_SCHEMA + ", routing string"

# Max postings per (term, bucket) group — bounds applyInPandas group memory.
# 1M postings ~ 8-16 MB in-flight per group; at 10^12 docs a df=9e11 hot term
# fans out to ~900k parallel groups instead of one 9e11-row reducer.
DEFAULT_BUCKET_POSTINGS = 1 << 20


def term_freq_with_doclen(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, dl): posting relation joined with doc lengths.

    tf and dl are derived in ONE tokenize pass: dl = sum(tf) over the doc's
    terms (token count == sum of term frequencies), so no second corpus scan.
    The window adds one doc_id-keyed exchange, but over the already-aggregated
    tf relation — much smaller than re-scanning + re-exploding raw text.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    return tf.withColumn("dl", F.sum("tf").over(w).cast("long"))


def _out_arrow_schema(routed: bool):
    import pyarrow as pa

    fields = [
        pa.field("term", pa.string()),
        pa.field("n", pa.int32()),
        pa.field("min_doc", pa.int64()),
        pa.field("max_doc", pa.int64()),
        pa.field("doc_bytes", pa.binary()),
        pa.field("tf_bytes", pa.binary()),
        pa.field("dl_bytes", pa.binary()),
        pa.field("max_tf", pa.int32()),
        pa.field("min_dl", pa.int32()),
        pa.field("imp_tf", pa.list_(pa.int32())),
        pa.field("imp_dl", pa.list_(pa.int32())),
    ]
    if routed:
        fields.append(pa.field("routing", pa.string()))
    return pa.schema(fields)


def iter_routing_runs(col):
    """Runs of equal routing value in an Arrow column sorted by routing ->
    yields (start, end, value). NULL-safe: null slots become index -1 (a
    doc with null routing is its own run with value None and lands under
    the hive default partition) — dictionary_encode indices with nulls
    otherwise convert to float64 NaN and crash int() (review finding r04).
    Shared by both posting builders' run-walks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(col)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    idx = np.asarray(pc.fill_null(enc.indices, -1)).astype(np.int64)
    bounds = np.concatenate(
        ([0], np.flatnonzero(idx[1:] != idx[:-1]) + 1, [len(idx)])
    )
    for s, e in zip(bounds, bounds[1:]):
        code = int(idx[s])
        yield int(s), int(e), (
            None if code < 0 else enc.dictionary[code].as_py()
        )


def _check_flush_bytes(n: int) -> None:
    """pa.binary() offsets are int32: one encoded flush past 2 GiB would
    wrap silently into corrupt blocks. A flush that big means flush_docs /
    bucket_postings is mis-sized for the corpus (e.g. book-length docs) —
    fail loudly with the knob to turn."""
    if n > (1 << 31) - 1:
        raise ValueError(
            f"encoded posting flush is {n} bytes (> int32 offset range); "
            "lower flush_docs / bucket_postings so one flush stays under 2 GiB"
        )


def _bin_col_block_lens(buf: bytes, block_lens: np.ndarray):
    """Zero-copy binary column from per-BLOCK buffer lengths (pfor path —
    the codec returns one self-describing buffer per block already)."""
    import pyarrow as pa

    _check_flush_bytes(len(buf))
    offs = np.concatenate(([0], np.cumsum(block_lens))).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(block_lens),
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)],
    )


def _bin_col(buf: bytes, val_off: np.ndarray, b_starts: np.ndarray):
    """Zero-copy binary column: blocks tile the value range consecutively,
    so the per-block byte offsets are just val_off at block boundaries."""
    import pyarrow as pa

    _check_flush_bytes(len(buf))
    n_blocks = len(b_starts)
    offs = val_off[np.append(b_starts, len(val_off) - 1)].astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n_blocks,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)],
    )


def _encode_term_major(
    uniq, code: np.ndarray, doc: np.ndarray, tf: np.ndarray, dl: np.ndarray,
    block_size: int, routing, out_schema, routed: bool, codec: str = "varint",
):
    """Postings already in (term-run, doc asc) order -> one block RecordBatch.

    Fully vectorized: block boundaries, per-block-restarted deltas, varint
    buffers and (max_tf, min_dl) impacts all come from numpy reduceat /
    cumsum over the whole batch — no per-term or per-block Python objects.
    `uniq`/`code`: Arrow dictionary + int64 indices for the term column
    (equal terms must be adjacent; codes need not be numerically sorted)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from engine.codecs import varint_encode_with_lengths

    # block assignment: position within term, blocks of `block_size`
    t_change = np.empty(len(code), dtype=bool)
    t_change[0] = True
    np.not_equal(code[1:], code[:-1], out=t_change[1:])
    t_starts = np.flatnonzero(t_change)
    t_counts = np.diff(np.append(t_starts, len(code)))
    pos = np.arange(len(code), dtype=np.int64) - np.repeat(t_starts, t_counts)
    is_bs = (pos % block_size) == 0
    b_starts = np.flatnonzero(is_bs)
    b_ends = np.append(b_starts[1:], len(code))

    # per-block-restarted deltas (first element absolute)
    deltas = np.empty_like(doc)
    deltas[0] = doc[0]
    np.subtract(doc[1:], doc[:-1], out=deltas[1:])
    deltas[b_starts] = doc[b_starts]

    if codec == "pfor":
        from engine.codecs import pfor_pack_blocks

        d_buf, d_blen = pfor_pack_blocks(deltas.astype(np.uint64), b_starts, b_ends)
        t_buf, t_blen = pfor_pack_blocks(tf.astype(np.uint64), b_starts, b_ends)
        l_buf, l_blen = pfor_pack_blocks(dl.astype(np.uint64), b_starts, b_ends)
        d_col = _bin_col_block_lens(d_buf, d_blen)
        t_col = _bin_col_block_lens(t_buf, t_blen)
        l_col = _bin_col_block_lens(l_buf, l_blen)
    else:
        d_buf, d_len = varint_encode_with_lengths(deltas.astype(np.uint64))
        t_buf, t_len = varint_encode_with_lengths(tf.astype(np.uint64))
        l_buf, l_len = varint_encode_with_lengths(dl.astype(np.uint64))
        d_off = np.concatenate(([0], np.cumsum(d_len)))
        t_off = np.concatenate(([0], np.cumsum(t_len)))
        l_off = np.concatenate(([0], np.cumsum(l_len)))
        d_col = _bin_col(d_buf, d_off, b_starts)
        t_col = _bin_col(t_buf, t_off, b_starts)
        l_col = _bin_col(l_buf, l_off, b_starts)

    imp_off, imp_tf, imp_dl = _block_impacts(tf, dl, b_starts, b_ends)
    arrays = [
        pc.take(uniq, pa.array(code[b_starts], type=pa.int64())),
        pa.array((b_ends - b_starts).astype(np.int32), type=pa.int32()),
        pa.array(doc[b_starts], type=pa.int64()),
        pa.array(doc[b_ends - 1], type=pa.int64()),
        d_col,
        t_col,
        l_col,
        pa.array(np.maximum.reduceat(tf, b_starts).astype(np.int32), type=pa.int32()),
        pa.array(np.minimum.reduceat(dl, b_starts).astype(np.int32), type=pa.int32()),
        pa.ListArray.from_arrays(pa.array(imp_off, type=pa.int32()),
                                 pa.array(imp_tf, type=pa.int32())),
        pa.ListArray.from_arrays(pa.array(imp_off, type=pa.int32()),
                                 pa.array(imp_dl, type=pa.int32())),
    ]
    if routed:
        arrays.append(pa.array([routing] * len(b_starts), type=pa.string()))
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def _block_impacts(
    tf: np.ndarray, dl: np.ndarray, b_starts: np.ndarray, b_ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-block Pareto frontier of (tf, dl) pairs — Lucene-style impacts.

    The WAND block upper bound must hold for the block's BEST posting under
    s(tf, dl) = tf / (tf + k1*(1-b+b*dl/avgdl)), which is monotone rising
    in tf and falling in dl. The legacy (max_tf, min_dl) bound pairs the
    max tf and the min dl even when they come from DIFFERENT postings —
    measured on the 1M store that bound prunes ~0% of blocks for mid-df
    terms (BENCH/wand_skip.jsonl). The frontier (all pairs not dominated
    by another with tf' >= tf and dl' <= dl) gives the TIGHT bound
    max-over-frontier, and stays sound for every avgdl/k1/b because
    monotone maxima are attained on the frontier. Frontier size is bounded
    by the distinct tf values in a block (<= block_size; tf is small for
    web text, typically 1-10 pairs).

    Fully vectorized across blocks: one lexsort + a segmented running max
    (block-offset trick). Returns (offsets len nb+1, frontier tfs, dls)
    ready for Arrow ListArray.from_arrays.
    """
    ns_blk = b_ends - b_starts
    nb = len(b_starts)
    if nb == 0 or len(tf) == 0:
        return (
            np.zeros(nb + 1, dtype=np.int32),
            np.empty(0, dtype=np.int32),
            np.empty(0, dtype=np.int32),
        )
    blk_of = np.repeat(np.arange(nb, dtype=np.int64), ns_blk)
    # within each block: dl asc, then tf desc (so the first of an equal-dl
    # run carries its max tf); blocks stay grouped (last lexsort key)
    order = np.lexsort((-tf, dl, blk_of))
    tf_s = tf[order]
    # segmented running max of tf via block offsets: every value of block i
    # gets + i*K with K > max tf, so the global running max can never carry
    # across a block boundary
    K = np.int64(int(tf.max()) + 1) if len(tf) else np.int64(1)
    run = np.maximum.accumulate(tf_s + blk_of * K) - blk_of * K
    prev = np.empty_like(run)
    prev[0] = -1
    prev[1:] = run[:-1]
    is_start = np.zeros(len(tf_s), dtype=bool)
    is_start[np.concatenate(([0], np.cumsum(ns_blk[:-1])))] = True
    prev[is_start] = -1
    keep = tf_s > prev  # strictly above the running max => non-dominated
    imp_counts = np.bincount(blk_of[keep], minlength=nb)
    imp_off = np.concatenate(([0], np.cumsum(imp_counts))).astype(np.int32)
    return imp_off, tf_s[keep].astype(np.int32), dl[order][keep].astype(np.int32)


def build_posting_blocks(
    tf_dl: DataFrame,
    n_docs: int,
    cfg: IndexConfig = DEFAULT_CONFIG,
    bucket_postings: int = DEFAULT_BUCKET_POSTINGS,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, term, tf, dl) long-form postings -> compressed block rows
    (POSTINGS_SCHEMA). The merge/re-encode path.

    Shape: repartitionByRange(routing?, term, doc_id) — a hot term's
    postings span several CONTIGUOUS range partitions, so Zipf-head terms
    can never melt one reducer (the range split is the salt, and contiguity
    keeps every emitted block a disjoint doc-id range) — then ONE
    mapInArrow pass per partition encodes all its terms vectorized
    (numpy reduceat; no per-term Python groups — the round-2 merge
    regression was exactly the per-(term,bucket) applyInPandas overhead
    when routing multiplied the group count).

    `bucket_postings` bounds encoder memory: at most that many postings are
    buffered before a flush (a flush boundary may split a term's block run;
    the resulting blocks stay disjoint and doc-sorted, which is all
    decode/WAND need). If tf_dl carries a `routing` column (D9), flushes
    additionally break at routing boundaries so every block is routing-pure.

    `n_docs` is kept for API compatibility (the old relational builder
    sized its doc-range buckets from it); the range partitioner needs no
    corpus-size knowledge."""
    import pyarrow as pa
    import pyarrow.compute as pc

    routed = "routing" in tf_dl.columns
    sort_cols = (["routing"] if routed else []) + ["term", "doc_id"]
    sel = tf_dl.select(*sort_cols, "tf", "dl")
    n = num_partitions or sel.sparkSession.sparkContext.defaultParallelism
    sel = sel.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)

    block_size = cfg.block_size
    out_schema = _out_arrow_schema(routed)
    r_col = 0 if routed else None  # routing leads the sorted projection

    def _flush(parts: list, routing):
        tbl = pa.Table.from_batches(parts)
        terms = tbl.column("term").combine_chunks()
        enc_t = terms.dictionary_encode()
        if isinstance(enc_t, pa.ChunkedArray):
            enc_t = enc_t.combine_chunks()
        code = np.asarray(enc_t.indices).astype(np.int64)
        return _encode_term_major(
            enc_t.dictionary,
            code,
            np.asarray(tbl.column("doc_id").combine_chunks(), dtype=np.int64),
            np.asarray(tbl.column("tf").combine_chunks(), dtype=np.int64),
            np.asarray(tbl.column("dl").combine_chunks(), dtype=np.int64),
            block_size,
            routing,
            out_schema,
            routed,
            codec=cfg.codec,
        )

    def enc(batches):
        buf: list = []
        buf_n = 0
        cur_routing = None

        def do_flush():
            nonlocal buf, buf_n
            rb = _flush(buf, cur_routing) if buf_n else None
            buf, buf_n = [], 0
            return rb

        def feed(slice_, rv):
            """Append one routing-pure slice, flushing at EXACTLY the
            bucket_postings bound (chunked so no flush ever exceeds it)."""
            nonlocal cur_routing, buf_n
            if buf_n and rv != cur_routing:
                yield do_flush()
            cur_routing = rv
            off = 0
            while off < slice_.num_rows:
                take = min(slice_.num_rows - off, bucket_postings - buf_n)
                buf.append(slice_.slice(off, take))
                buf_n += take
                off += take
                if buf_n >= bucket_postings:
                    yield do_flush()

        for b in batches:
            if b.num_rows == 0:
                continue
            data = b.select(["term", "doc_id", "tf", "dl"])
            if routed:
                # input sorted by (routing, term, doc): walk runs of equal
                # routing so every flush covers exactly one routing value
                for s, e, rv in iter_routing_runs(b.column(r_col)):
                    for rb in feed(data.slice(s, e - s), rv):
                        if rb is not None:
                            yield rb
            else:
                for rb in feed(data, None):
                    if rb is not None:
                        yield rb
        if buf_n:
            rb = do_flush()
            if rb is not None:
                yield rb

    return sel.mapInArrow(
        enc, schema=POSTINGS_SCHEMA_ROUTED if routed else POSTINGS_SCHEMA
    )


# Docs per encode_docs call: bounds the token strings and postings one
# encode holds in memory.
FLUSH_DOCS = 25_000


def encode_docs(
    ids: np.ndarray, texts, cfg: IndexConfig = DEFAULT_CONFIG,
    routed: bool = False, routing: str | None = None,
):
    """(blocks, lens): the posting blocks of one batch of docs as one
    RecordBatch of POSTINGS_SCHEMA (plus a `routing` column holding
    `routing` when `routed`), or None when the docs hold no token, and each
    doc's token count (its BM25 |d|). `ids`: the docs' int64 ids,
    ascending; `texts`: their texts (str or None), in the same order. The
    one encoder of the ingest build, run per partition by
    build_posting_blocks_local and on the driver by a small ingest.

    Fully vectorized: Python C-regex tokenize -> Arrow dictionary_encode
    (C++ factorize; the short-lived token strings are dropped right after)
    -> int64 numpy counting/sorting/delta/varint -> output blocks built from
    Arrow buffers (no per-block Python objects; the term column is a take()
    on the dictionary)."""
    import itertools

    import pyarrow as pa

    from engine.analysis import py_tokenize

    tok_lists = [py_tokenize(t) for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    if lens.sum() == 0:
        return None, lens
    flat = pa.array(
        itertools.chain.from_iterable(tok_lists), type=pa.string(), size=int(lens.sum()),
    )
    tok_lists = None  # token strings die here, before the heavy numpy work
    enc_d = flat.dictionary_encode()
    flat = None
    codes = np.asarray(enc_d.indices).astype(np.int64)
    uniq = enc_d.dictionary
    v_size = np.int64(len(uniq))
    # docs with zero tokens simply never appear (repeat skips len 0)
    doc_idx = np.repeat(np.arange(len(ids), dtype=np.int64), lens)

    # (doc, term) tf via one int64 sort + run-length encode
    key = doc_idx * v_size + codes
    ks = np.sort(key, kind="stable")
    change = np.empty(len(ks), dtype=bool)
    change[0] = True
    np.not_equal(ks[1:], ks[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    tf = np.diff(np.append(starts, len(ks))).astype(np.int64)
    kk = ks[starts]
    d_idx = kk // v_size
    code = kk % v_size
    doc = np.asarray(ids, dtype=np.int64)[d_idx]
    dl = lens[d_idx]

    # postings order: (term, doc asc) — stable sort by code keeps the
    # doc-major order within each term
    o2 = np.argsort(code, kind="stable")
    return _encode_term_major(
        uniq, code[o2], doc[o2], tf[o2], dl[o2], cfg.block_size, routing,
        _out_arrow_schema(routed), routed, codec=cfg.codec,
    ), lens


def build_posting_blocks_local(
    docs: DataFrame,
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
    assume_partitioned: bool = False,
    flush_docs: int = FLUSH_DOCS,
    routing_col: str | None = None,
) -> DataFrame:
    r"""Shuffle-free posting build: the production path for the ingest loop.

    Key insight: term frequency is a PER-DOCUMENT computation — a doc's
    tokens all live in its own row, so tf needs no explode and no
    groupBy(doc_id, term) shuffle at all. Each doc-id-range partition
    tokenizes, counts and block-encodes its own docs in one mapInArrow
    pass. Tokenization uses Python's C regex (measured ~7x faster than
    Java's \p{L} classes, so it stays OUT of the JVM); the token strings
    are immediately handed to Arrow dictionary_encode (C++ factorize) and
    dropped — everything after is int64 numpy + buffer slicing, and the
    output block rows are built from Arrow buffers without per-block Python
    objects. This bounds per-worker allocator/GC churn (the round-1 8->32
    scaling regression: pandas object factorize + per-block bytes degraded
    reused workers 2.8x). Only the compressed block rows (~2 orders of magnitude smaller than the
    raw token stream) ever hit a shuffle (the term-sorted segment write).

    vs the relational path (build_posting_blocks): identical decoded
    postings (tested), but none of its three 10^|tokens|-row shuffles.
    Hot-term skew is structurally absent here: a hot term's postings are
    built independently in every doc-range partition (the doc-range
    bucketing IS the salt); blocks stay contiguous per partition, which is
    all block-max WAND needs (blocks are range-pruned by min_doc/max_doc,
    global contiguity is not required).

    `flush_docs` bounds builder memory per partition (postings for at most
    that many docs are buffered before each encode_docs call) — the knob
    that keeps a 1M-doc partition from holding 300M postings in Python at
    10^12-doc scale.

    `routing_col` (D9): range-partition by (routing, doc_id) instead of
    doc_id alone and emit a `routing` column — every block's postings share
    one routing value, so the segment write can hive-partition by it. A hot
    routing value still spreads over multiple range partitions (the range is
    on the PAIR), so skew does not melt one task."""
    proj = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    sort_cols = ["doc_id"]
    if routing_col:
        proj.append(F.col(routing_col).cast("string").alias("_routing"))
        sort_cols = ["_routing", "doc_id"]
    sel = docs.select(*proj)
    if not assume_partitioned:
        n = num_partitions or sel.sparkSession.sparkContext.defaultParallelism
        sel = sel.repartitionByRange(n, *sort_cols)
    sel = sel.sortWithinPartitions(*sort_cols)

    def enc(batches):
        buf_ids: list = []
        buf_toks: list = []
        buf_n = 0
        cur_routing = None

        def do_flush():
            nonlocal buf_ids, buf_toks, buf_n
            texts = [t for ch in buf_toks for t in ch.to_pylist()]
            rb, _ = encode_docs(np.concatenate(buf_ids), texts, cfg,
                                routed=bool(routing_col), routing=cur_routing)
            buf_ids, buf_toks, buf_n = [], [], 0
            return rb

        for b in batches:
            if b.num_rows == 0:
                continue  # empty Arrow batch: routed run-walk below would index into empty arrays
            ids = np.asarray(b.column(0), dtype=np.int64)
            texts = b.column(1)
            if routing_col:
                # input sorted by (_routing, doc_id): walk runs of equal
                # routing so every flush covers exactly one routing value
                for s, e, rv in iter_routing_runs(b.column(2)):
                    if buf_n and rv != cur_routing:
                        rb = do_flush()
                        if rb is not None:
                            yield rb
                    cur_routing = rv
                    buf_ids.append(ids[s:e])
                    buf_toks.append(texts.slice(int(s), int(e - s)))
                    buf_n += int(e - s)
                    if buf_n >= flush_docs:
                        rb = do_flush()
                        if rb is not None:
                            yield rb
            else:
                buf_ids.append(ids)
                buf_toks.append(texts)
                buf_n += len(ids)
                if buf_n >= flush_docs:
                    rb = do_flush()
                    if rb is not None:
                        yield rb
        if buf_n:
            rb = do_flush()
            if rb is not None:
                yield rb

    return sel.mapInArrow(
        enc, schema=POSTINGS_SCHEMA_ROUTED if routing_col else POSTINGS_SCHEMA
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df) from block rows — the query planner's tiny side table."""
    return postings.groupBy("term").agg(F.sum("n").cast("long").alias("df"))


def decode_postings_doc_ids(postings: DataFrame, codec: str = "varint") -> DataFrame:
    """Block rows -> DISTINCT (doc_id) — doc-ids-only decode: the tf/dl
    streams are never touched. The cheap side for non-scoring membership
    operators (prefix expansion, bool must_not exclusion), where decoding
    frequencies would be wasted work."""
    from engine.codecs import decode_doc_ids_batch

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ns = b["n"].to_numpy().astype(np.int64)
            ids = decode_doc_ids_batch(list(b["doc_bytes"]), ns, codec=codec)
            yield pd.DataFrame({"doc_id": ids})

    return (
        postings.select("n", "doc_bytes")
        .mapInPandas(dec, schema="doc_id long")
        .distinct()
    )


def decode_postings(
    postings: DataFrame, keep_cols: tuple[str, ...] = (), codec: str = "varint"
) -> DataFrame:
    """Block rows -> long form (term, doc_id, tf, dl); vectorized decode.

    `keep_cols`: block-level string columns (e.g. `routing`) replicated onto
    every decoded posting — blocks are routing-pure, so the value is exact
    and the merge path needs no join back to the doc table to recover it.
    `codec` must match what the blocks were encoded with (a store records
    its codec in _meta.json)."""
    keep = tuple(keep_cols)

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = {"term": [], "doc_id": [], "tf": [], "dl": []}
        empty.update({k: [] for k in keep})
        for b in batches:
            if len(b) == 0:
                yield pd.DataFrame(empty)
                continue
            # one vectorized pass over ALL blocks in the Arrow batch: the
            # buffers concatenate (varint is self-delimiting), `n` segments
            # the flat decode, np.repeat replicates the block-level columns
            ns = b["n"].to_numpy().astype(np.int64)
            docs, tfs, dls = decode_posting_blocks_batch(
                b["doc_bytes"], b["tf_bytes"], b["dl_bytes"], ns, codec=codec
            )
            out = {
                "term": np.repeat(b["term"].to_numpy(), ns),
                "doc_id": docs,
                "tf": tfs,
                "dl": dls,
            }
            out.update({k: np.repeat(b[k].to_numpy(), ns) for k in keep})
            yield pd.DataFrame(out)

    schema = "term string, doc_id long, tf long, dl long" + "".join(
        f", {k} string" for k in keep
    )
    return postings.mapInPandas(dec, schema=schema)
