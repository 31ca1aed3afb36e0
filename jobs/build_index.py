"""Driver entry: micro-ingest loop building an inverted index.

spark-submit --py-files <engine.zip> jobs/build_index.py \
    --index-root /data/indexes --index web --docs 100000 \
    [--corpus-parquet PATH] [--rows-per-partition 5000] \
    [--start RESTART|EARLIEST|LATEST] [--merge-factor 8]

Mirrors the reference process (KafkaESIndexerProcess.main -> ConsumerManager
-> worker poll loop, /root/reference/src/main/java/org/elasticsearch/kafka/
indexer/KafkaESIndexerProcess.java:12-19): the seek phase is the ledger
read, workers are Spark executors, each loop iteration is one job. Runs the
log-structured merge when the live-segment count reaches --merge-factor.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ignored_flag_warnings(args, cfg) -> list[str]:
    """An explicit --codec or --store-positions that an EXISTING store's
    persisted settings (`cfg`) override, one warning each."""
    out = []
    if args.codec is not None and args.codec != cfg.codec:
        out.append(f"--codec {args.codec} ignored: index {args.index} "
                   f"keeps its persisted codec {cfg.codec}")
    if args.store_positions and not cfg.store_positions:
        out.append(f"--store-positions ignored: index {args.index} was "
                   "created without positions")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-root", default="/tmp/engine_indexes")
    ap.add_argument("--index", default="web")
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--corpus-parquet", default=None,
                    help="existing corpus (url,warc_ts,html,text,lang,row_id); default: synthetic")
    ap.add_argument("--source-partitions", type=int, default=8)
    ap.add_argument("--rows-per-partition", type=int, default=5_000)
    ap.add_argument("--start", default="RESTART",
                    choices=["RESTART", "EARLIEST", "LATEST", "CUSTOM"])
    ap.add_argument("--offsets", default=None,
                    help="CUSTOM start offsets 'part:off,part:off,...' "
                         "(inline; values are last-consumed offsets)")
    ap.add_argument("--start-options-file", default=None,
                    help="per-partition start options in the reference's "
                         "config-file format (ConsumerStartOption.java:31-89"
                         "): 'default|<part>:<OPTION>[:<offset>]' per line; "
                         "overrides --start/--offsets")
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--merge-factor", type=int, default=0,
                    help="merge all live segments when count reaches this (0=never)")
    ap.add_argument("--codec", default=None, choices=["varint", "pfor"],
                    help="posting-block codec recorded at store create "
                         "(default: template setting, else varint; existing "
                         "stores always keep theirs)")
    ap.add_argument("--store-positions", action="store_true",
                    help="also write the positional-postings sidecar per "
                         "segment (engine/positions.py) so the index can "
                         "answer match_phrase queries; roughly doubles "
                         "index size and build cost")
    args = ap.parse_args()

    from engine.corpus import webpages
    from engine.ingest import as_partitioned_source, run_ingest_loop
    from engine.merge import maybe_merge
    from engine.segments import IndexStore
    from engine.session import get_spark

    spark = get_spark(f"build-index-{args.index}")
    if args.corpus_parquet:
        corpus = spark.read.parquet(args.corpus_parquet)
    else:
        corpus = webpages(spark, args.docs)
    source = as_partitioned_source(corpus, args.source_partitions)

    probe = IndexStore(args.index_root, args.index)
    if probe.exists():
        # an EXISTING store's persisted settings are the contract: ingesting
        # with default flags must not write unrouted/positionless segments
        # into a routed/positions store (review finding r05-cont; the same
        # rule update_by_query follows)
        cfg = probe.persisted_config()
        for msg in ignored_flag_warnings(args, cfg):
            print(f"warning: {msg}", file=sys.stderr, flush=True)
    else:
        # new store: CLI flags over index-template defaults (ES
        # request-over-template precedence, same as index_admin create)
        from engine.templates import resolve_create_config

        explicit = {"store_positions": True} if args.store_positions else {}
        if args.codec is not None:
            explicit["codec"] = args.codec
        cfg, _ = resolve_create_config(args.index_root, args.index, explicit)
    store = IndexStore(args.index_root, args.index, cfg=cfg)
    if not store.exists():
        store.create()

    # E3 graceful shutdown (ConsumerManager.java:118-142 drain semantics):
    # SIGTERM/SIGINT finish the in-flight batch (segment + ledger commit),
    # then the loop stops — the ledger makes the next run resume exactly.
    import signal

    stopping = {"flag": False}

    def _stop(signum, frame):
        print(json.dumps({"signal": signum, "action": "finish-current-batch-then-stop"}),
              flush=True)
        stopping["flag"] = True

    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    custom = None
    if args.start_options_file:
        from engine.ingest import (
            parse_start_options_file,
            resolve_start_offsets_per_partition,
        )

        default, per = parse_start_options_file(args.start_options_file)
        custom = resolve_start_offsets_per_partition(store, source, default, per)
        args.start = "CUSTOM"
    elif args.start == "CUSTOM":
        custom = {
            int(p): int(o)
            for p, o in (kv.split(":") for kv in (args.offsets or "").split(",") if kv)
        }

    # a bound on a window's rows: a bulk window goes to the distributed
    # build with no driver collect
    max_rows = args.rows_per_partition * args.source_partitions
    if not args.corpus_parquet:
        max_rows = min(max_rows, args.docs)
    results = run_ingest_loop(
        spark, store, source,
        rows_per_partition=args.rows_per_partition,
        start_option=args.start,
        custom_offsets=custom,
        max_batches=args.max_batches,
        stop_requested=lambda: stopping["flag"],
        cfg=cfg,
        max_rows=max_rows,
    )
    for r in results:
        print(json.dumps(r.metrics))
    if stopping["flag"]:
        print(json.dumps({"stopped": "graceful", "batches_done": len(results)}))

    if args.merge_factor:
        merged = maybe_merge(spark, store, merge_factor=args.merge_factor)
        if merged:
            print(json.dumps({"merged_into": merged}))

    view = store.view()
    print(json.dumps({
        "index": args.index,
        "live_segments": list(view.segments),
        "global_stats": view.stats(),
        "committed_offsets": view.committed_offsets,
    }))


if __name__ == "__main__":
    main()
