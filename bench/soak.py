"""Large-corpus soak: ingest -> tiered merge -> WAND query, at >=1M docs.

Evidence that the tiered merge policy and the routed/ranged segment layout
hold an order of magnitude beyond the sf0.1 driver bench (VERDICT r02 item
9): the ingest loop runs many micro-batches with `maybe_merge` interleaved
after every batch (the long-running-consumer shape — merges fire whenever a
size tier fills), then query latency is measured on the store the soak
actually produced (multiple live segments of mixed tiers, not a
single-segment ideal).

Usage:
    python bench/soak.py [--docs 1000000] [--cores 32] [--batches 16]
                         [--merge-factor 8] [--out BENCH/soak.jsonl]

Appends one JSON line with build/merge/query numbers to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench.scaling import (  # noqa: E402
    QUERY_SET, ProbeMonitor, ensure_corpus, probe_speed_once,
)

SOURCE_PARTITIONS = 64


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--merge-factor", type=int, default=8)
    ap.add_argument("--out", default="BENCH/soak.jsonl")
    ap.add_argument("--routing", default=None,
                    help="optional routing column (e.g. lang) for a routed soak")
    ap.add_argument("--concurrency", type=int, default=0,
                    help="after the serial query loop, run the query set "
                         "from this many threads against the SAME held-open "
                         "IndexReader (the ES concurrent-serving shape); "
                         "per-mode p50/p99 + qps go in the row "
                         "(VERDICT r04 item 5)")
    ap.add_argument("--root", default="/tmp/engine_bench/soak",
                    help="store root (evidence tools can share one build)")
    ap.add_argument("--reuse-store", action="store_true",
                    help="if the store already exists at --root, skip the "
                         "build and only run the query phases")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    from engine.config import IndexConfig
    from engine.ingest import (
        EARLIEST, as_partitioned_source, ingest_batch, resolve_start_offsets,
    )
    from engine.merge import maybe_merge
    from engine.query import IndexReader
    from engine.segments import IndexStore
    from engine.session import get_spark

    # ensure_corpus runs (and stops) its own generation session — call it
    # BEFORE creating the soak session (getOrCreate would hand it ours)
    corpus_path = ensure_corpus(args.docs)

    extra_conf = (
        # FAIR lets concurrent query jobs share task slots instead of the
        # FIFO head-of-line queue — the multi-client serving configuration
        {"spark.scheduler.mode": "FAIR"} if args.concurrency > 0 else None
    )
    spark = get_spark(f"soak-{args.docs}", cores=args.cores,
                      shuffle_partitions=args.cores * 2,
                      extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = spark.read.parquet(corpus_path)
    source = as_partitioned_source(corpus, num_partitions=SOURCE_PARTITIONS)

    root = args.root
    reuse = args.reuse_store and os.path.exists(os.path.join(root, "soak"))
    if reuse:
        store = IndexStore(root, "soak")
    else:
        shutil.rmtree(root, ignore_errors=True)
        store = IndexStore(root, "soak").create()
    cfg = IndexConfig(docid_strategy="range", routing_col=args.routing)

    rows_per_partition = max(1, -(-args.docs // (SOURCE_PARTITIONS * args.batches)))

    if reuse:
        total_docs = int(store.view().stats()["n_docs"])
        # None, not 0: a query-only run measured no build — the report
        # renders absent fields as "—" instead of a zero-second build
        n_batches, n_merges, merge_sec, build_sec = None, None, None, None
        per_batch_sec: list = []
        build_probe_summary: dict = {}
        print(f"reusing store at {root}: {total_docs:,} docs, "
              f"{len(store.view().segments)} live segments",
              file=sys.stderr, flush=True)
    else:
        build_probe = ProbeMonitor()
        build_probe.__enter__()
        t0 = time.perf_counter()
        total_docs, n_batches, n_merges, merge_sec = 0, 0, 0, 0.0
        per_batch_sec = []
        hwm = resolve_start_offsets(store, source, EARLIEST)
        while True:
            bt = time.perf_counter()
            batch_id = store.next_entry_id()
            res = ingest_batch(spark, store, source, batch_id, hwm,
                               rows_per_partition, cfg=cfg,
                               max_rows=min(args.docs, rows_per_partition * SOURCE_PARTITIONS))
            if res is None:
                break
            hwm = store.committed_offsets()
            total_docs += res.n_docs
            n_batches += 1
            mt = time.perf_counter()
            if maybe_merge(spark, store, merge_factor=args.merge_factor, cfg=cfg):
                n_merges += 1
            merge_sec += time.perf_counter() - mt
            per_batch_sec.append(round(time.perf_counter() - bt, 2))
            print(f"batch {n_batches}: {total_docs:,} docs, "
                  f"{len(store.view().segments)} live segments, "
                  f"{n_merges} merges, {time.perf_counter() - t0:.0f}s elapsed",
                  file=sys.stderr, flush=True)
        build_sec = time.perf_counter() - t0
        build_probe.__exit__()
        build_probe_summary = {
            f"build_{k}": v for k, v in build_probe.summary().items()
        }

    reader = IndexReader(spark, store)
    reader.search(["warmup"], k=1).collect()
    # per-query latencies are kept (and published in the soak row) so a tail
    # outlier is attributable to a specific query shape, not just a p99
    lat_exact, lat_wand, per_query = [], [], []
    for terms, k in QUERY_SET:
        t = time.perf_counter()
        reader.search(terms, k=k).collect()
        e = time.perf_counter() - t
        lat_exact.append(e)
        t = time.perf_counter()
        reader.search_wand(terms, k=k).collect()
        wnd = time.perf_counter() - t
        lat_wand.append(wnd)
        # one probe sample right after each query pair: was the machine
        # healthy when THIS query ran? (attributes a tail outlier to a
        # hypervisor slow phase vs the query's own shape)
        mops = probe_speed_once()
        per_query.append({
            "terms": terms, "k": k,
            "exact_ms": round(e * 1000, 1), "wand_ms": round(wnd * 1000, 1),
            "probe_mops": mops,
        })
        print(f"query {terms} k={k}: exact {e*1000:.0f}ms wand {wnd*1000:.0f}ms"
              f" probe {mops:.1f}",
              file=sys.stderr, flush=True)

    def pct(xs, p):
        xs = sorted(xs)
        return xs[min(len(xs) - 1, int(round(p * (len(xs) - 1))))]

    conc = None
    if args.concurrency > 0:
        # VERDICT r04 item 5: the reference's ES serves PARALLEL queries
        # against one held-open IndexSearcher; drive this engine's held-open
        # IndexReader from N threads over one SparkSession (thread-safe in
        # Spark; FAIR scheduler set above so query jobs share task slots).
        # Each thread runs the full query set twice in its own shuffled
        # order — per-query latencies aggregate across threads.
        import random
        import threading

        c_lat: dict[str, list] = {"exact": [], "wand": []}
        lock = threading.Lock()
        errors: list = []

        def client(tid: int) -> None:
            # one scheduler pool per client thread: FAIR mode arbitrates
            # BETWEEN pools — with every job in the single default pool the
            # in-pool order is FIFO and the benchmark would measure a job
            # queue, not fair concurrent serving (local properties are
            # thread-local, so this must be set inside the thread)
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"client-{tid}"
            )
            rng = random.Random(tid)
            qs = list(QUERY_SET) * 2
            rng.shuffle(qs)
            mine = {"exact": [], "wand": []}
            try:
                for terms, kk in qs:
                    t = time.perf_counter()
                    reader.search(terms, k=kk).collect()
                    mine["exact"].append(time.perf_counter() - t)
                    t = time.perf_counter()
                    reader.search_wand(terms, k=kk).collect()
                    mine["wand"].append(time.perf_counter() - t)
            except Exception as exc:  # surface, don't hang the join
                with lock:
                    errors.append(repr(exc))
            with lock:
                c_lat["exact"].extend(mine["exact"])
                c_lat["wand"].extend(mine["wand"])

        probe0 = probe_speed_once()
        cw0 = time.perf_counter()
        threads = [
            threading.Thread(target=client, args=(i,), daemon=True)
            for i in range(args.concurrency)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        c_wall = time.perf_counter() - cw0
        probe1 = probe_speed_once()
        n_q = len(c_lat["exact"]) + len(c_lat["wand"])
        conc = {
            "threads": args.concurrency,
            "queries": n_q,
            "wall_sec": round(c_wall, 2),
            "qps": round(n_q / c_wall, 2),
            "errors": errors,
            "probe_before": probe0,
            "probe_after": probe1,
        }
        for mode in ("exact", "wand"):
            xs = c_lat[mode]
            if xs:
                conc[f"q_{mode}_p50_ms"] = round(
                    statistics.median(xs) * 1000, 1
                )
                conc[f"q_{mode}_p99_ms"] = round(pct(xs, 0.99) * 1000, 1)
        print(f"concurrency {args.concurrency}: {n_q} queries in "
              f"{c_wall:.1f}s ({conc['qps']} qps), "
              f"exact p50 {conc.get('q_exact_p50_ms')}ms "
              f"wand p50 {conc.get('q_wand_p50_ms')}ms errors={errors}",
              file=sys.stderr, flush=True)

    row = {
        "kind": "soak",
        "cores": args.cores,
        "n_docs": total_docs,
        "n_batches": n_batches,
        "n_merges": n_merges,
        "live_segments": len(store.view().segments),
        "build_sec": round(build_sec, 2) if build_sec is not None else None,
        "merge_sec": round(merge_sec, 2) if merge_sec is not None else None,
        "docs_per_sec": round(total_docs / build_sec, 1) if build_sec else None,
        "reused_store": reuse,
        "concurrency": conc,
        "q_exact_p50_ms": round(statistics.median(lat_exact) * 1000, 1),
        "q_exact_p99_ms": round(pct(lat_exact, 0.99) * 1000, 1),
        "q_wand_p50_ms": round(statistics.median(lat_wand) * 1000, 1),
        "q_wand_p99_ms": round(pct(lat_wand, 0.99) * 1000, 1),
        "load1_after": round(os.getloadavg()[0], 2),
        "routing": args.routing,
        "per_batch_sec": per_batch_sec,
        **build_probe_summary,
        "per_query": per_query,
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "a") as f:
        f.write(json.dumps(row) + "\n")
    print(json.dumps(row))


if __name__ == "__main__":
    main()
