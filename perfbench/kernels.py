"""Kernel timings taken in the benchmark process, outside Spark.

Calls the same Python kernels the engine runs inside its Arrow UDFs, on
inputs taken from the run's own corpus and store. Set against the
in-Spark phase times (`extract_sec`, query latencies), the difference is
the Arrow/UDF boundary and scheduling cost around the kernel.
"""

from __future__ import annotations

import time

import numpy as np

from engine.analysis import extract_text
from engine.codecs import (
    decode_posting_blocks_batch, pfor_pack_blocks, varint_encode_with_lengths,
)

MIN_TIMED_S = 0.3


def _time_per_call(fn) -> float:
    """Seconds per call, repeating `fn` for at least MIN_TIMED_S."""
    fn()  # warm
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= MIN_TIMED_S:
            return el / n


def extract_ms_per_kdoc(pages, n_docs: int = 1000) -> float:
    """`extract_text`'s Python body on a corpus batch, ms per 1000 docs."""
    html = pages["html"].iloc[:n_docs].reset_index(drop=True)
    return _time_per_call(lambda: extract_text.func(html)) * 1000.0 * 1000.0 / len(html)


def codec_rates(spark, store) -> dict[str, float]:
    """Block decode/encode rates on the live store's own posting blocks."""
    codec = store.codec
    blocks = store.postings(spark).select("n", "doc_bytes", "tf_bytes", "dl_bytes").toPandas()
    ns = blocks["n"].to_numpy().astype(np.int64)
    bufs = [list(blocks[c]) for c in ("doc_bytes", "tf_bytes", "dl_bytes")]
    total = int(ns.sum())

    def decode():
        return decode_posting_blocks_batch(*bufs, ns, codec=codec)

    docs, tfs, dls = decode()
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    ends = starts + ns
    deltas = np.empty_like(docs)
    deltas[0] = docs[0]
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[starts] = docs[starts]   # each block restarts from an absolute id
    streams = [a.astype(np.uint64) for a in (deltas, tfs, dls)]

    def encode():
        for s in streams:
            if codec == "pfor":
                pfor_pack_blocks(s, starts, ends)
            else:
                varint_encode_with_lengths(s)

    n_bytes = sum(len(b) for col in bufs for b in col)
    return {
        "codecs.decode_mpostings_per_s": total / _time_per_call(decode) / 1e6,
        "codecs.encode_mpostings_per_s": total / _time_per_call(encode) / 1e6,
        "codecs.bytes_per_posting": n_bytes / total,
    }
