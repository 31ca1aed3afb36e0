"""WAND skip-ratio evidence (VERDICT r04 item 6).

`blocks_scored` has always ridden the WAND result rows (engine/wand.py);
this tool publishes the other half of the claim — what FRACTION of
candidate blocks the block-max pruning actually skipped, and how that
fraction moves with posting-list length. The claim under test: WAND's
value grows with posting length (the 10^12-doc shape), because θ rises
fast and whole blocks fall below the prune bound.

Denominator: candidate block-range replicas (a block reaches every
doc-id range where it has a posting — each replica is independently
skippable), from search_store_wand's stats_out: the distributed block-max
scan (IndexReader scores a query's gathered blocks exactly on the driver,
with nothing to skip). skip_ratio = 1 - scored/replicas.

Usage:
  # against an existing store (e.g. the 1M/2M soak store)
  python tools/wand_skip_stats.py --root /tmp/engine_bench/soak --label 1M

  # against a fresh synthetic long-postings store (tiny vocab => every
  # posting list ~= n_docs long)
  python tools/wand_skip_stats.py --synthetic 200000 --vocab 64 --label longpost

Appends one JSON line per query set to BENCH/wand_skip.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench.scaling import QUERY_SET, probe_speed_once  # noqa: E402

SYNTH_ROOT = "/tmp/engine_bench/wand_skip_synth"


def build_synthetic(spark, n_docs: int, vocab_size: int):
    """Tiny-vocab corpus -> store: every term's posting list ~ n_docs."""
    from engine.config import IndexConfig
    from engine.corpus import webpages
    from engine.ingest import (
        EARLIEST, as_partitioned_source, ingest_batch, resolve_start_offsets,
    )
    from engine.segments import IndexStore

    shutil.rmtree(SYNTH_ROOT, ignore_errors=True)
    store = IndexStore(SYNTH_ROOT, "synth").create()
    cfg = IndexConfig(docid_strategy="range")
    corpus = webpages(spark, n_docs, vocab_size=vocab_size, partitions=32)
    source = as_partitioned_source(corpus, num_partitions=32)
    hwm = resolve_start_offsets(store, source, EARLIEST)
    rows_per_partition = max(1, -(-n_docs // 32))
    batch_id = store.next_entry_id()
    ingest_batch(spark, store, source, batch_id, hwm, rows_per_partition, cfg=cfg)
    return store


def measure(spark, store, label: str, queries) -> dict:
    from engine.wand import search_store_wand

    search_store_wand(spark, store, ["warmup"], k=1).collect()
    per_query = []
    for terms, k in queries:
        st: dict = {}
        t = time.perf_counter()
        search_store_wand(spark, store, terms, k=k, stats_out=st).collect()
        wall = time.perf_counter() - t
        if st.get("fallback_exact"):
            # deleted-set overflow forced the exact path: no block stats
            per_query.append({"terms": terms, "k": k, "fallback_exact": True,
                              "wall_ms": round(wall * 1000, 1)})
            continue
        reps = st["candidate_block_ranges"]
        scored = st["blocks_scored"]
        per_query.append({
            "terms": terms,
            "k": k,
            "candidate_blocks": st["candidate_blocks"],
            "block_range_replicas": reps,
            "blocks_scored": scored,
            "skip_ratio": round(1.0 - scored / reps, 4) if reps else None,
            "num_ranges": st["num_ranges"],
            "wall_ms": round(wall * 1000, 1),
        })
        print(f"[{label}] {terms} k={k}: replicas={reps} scored={scored} "
              f"skip={per_query[-1]['skip_ratio']}", file=sys.stderr, flush=True)
    tot_reps = sum(q.get("block_range_replicas", 0) for q in per_query)
    tot_scored = sum(q.get("blocks_scored", 0) for q in per_query)
    stats = store.global_stats()
    return {
        "kind": "wand_skip",
        "label": label,
        "n_docs": int(stats["n_docs"]),
        # candidate BLOCKS (not postings — each block holds up to
        # bucket_postings entries), averaged over the query set. Historic
        # wand_skip.jsonl rows carry the same value under the misleading
        # key "avg_postings_per_term_query"; read those as block counts.
        "avg_candidate_blocks_per_query": round(
            sum(q.get("candidate_blocks", 0) for q in per_query) / len(per_query), 1
        ),
        "total_block_range_replicas": tot_reps,
        "total_blocks_scored": tot_scored,
        "overall_skip_ratio": round(1.0 - tot_scored / tot_reps, 4)
        if tot_reps else None,
        "probe_mops": probe_speed_once(),
        "per_query": per_query,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=None, help="existing store root")
    ap.add_argument("--name", default="soak", help="index name under --root")
    ap.add_argument("--synthetic", type=int, default=None,
                    help="build a fresh tiny-vocab store of this many docs")
    ap.add_argument("--vocab", type=int, default=64,
                    help="synthetic vocabulary size (small => long postings)")
    ap.add_argument("--label", required=True)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--out", default="BENCH/wand_skip.jsonl")
    args = ap.parse_args()
    if (args.root is None) == (args.synthetic is None):
        ap.error("exactly one of --root / --synthetic required")

    from engine.segments import IndexStore
    from engine.session import get_spark

    spark = get_spark(f"wand-skip-{args.label}", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    if args.synthetic is not None:
        store = build_synthetic(spark, args.synthetic, args.vocab)
        # tiny vocab: the standard query terms don't exist; query the vocab
        from engine.corpus import build_vocab

        vocab = build_vocab(args.vocab)
        queries = [
            ([vocab[1]], 10),
            ([vocab[2], vocab[3]], 10),
            ([vocab[5], vocab[9], vocab[17]], 10),
            ([vocab[1]], 100),
        ]
    else:
        store = IndexStore(args.root, args.name)
        queries = QUERY_SET

    row = measure(spark, store, args.label, queries)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row))


if __name__ == "__main__":
    main()
