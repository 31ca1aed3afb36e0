"""Driver entry: BM25 top-k queries against a built index.

spark-submit --py-files <engine.zip> jobs/run_queries.py \
    --index-root /data/indexes --index web \
    --query "engine spark" [--k 10] [--executor exact|wand|auto] [--repeat 3]

Prints one JSON line per query with results + latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-root", default="/tmp/engine_indexes")
    ap.add_argument("--index", default="web")
    ap.add_argument("--query", action="append", default=None,
                    help="space-separated terms; repeatable")
    ap.add_argument("--sqs", action="append", default=None,
                    help="ES simple_query_string (+must -not \"phrase\" |); "
                         "phrase clauses need a store built with "
                         "--store-positions; repeatable")
    ap.add_argument("--default-operator", default="or", choices=["or", "and"],
                    help="simple_query_string bare-clause operator")
    ap.add_argument("--phrase", action="append", default=None,
                    help="exact phrase (space-separated, order matters); "
                         "needs a store built with --store-positions; "
                         "repeatable")
    ap.add_argument("--prefix", action="append", default=None,
                    help="constant-score prefix query (ES `prefix`); "
                         "repeatable")
    ap.add_argument("--wildcard", action="append", default=None,
                    help="constant-score wildcard query (ES `wildcard`: "
                         "* = any sequence, ? = one char); repeatable")
    ap.add_argument("--regexp", action="append", default=None,
                    help="constant-score regexp query (ES `regexp`, "
                         "Lucene whole-term anchoring; the pattern's "
                         "literal prefix pushes into the scan); repeatable")
    ap.add_argument("--complete", action="append", default=None,
                    help="completion suggester (ES `completion`): prefix "
                         "autocomplete from the term dictionary ranked by "
                         "df; repeatable")
    ap.add_argument("--fuzzy", action="append", default=None,
                    help="fuzzy term query (ES `fuzzy`): Levenshtein "
                         "expansion against the term dictionary, scored as "
                         "a BM25 disjunction; repeatable")
    ap.add_argument("--max-edits", type=int, default=1,
                    help="fuzzy edit-distance budget (ES fuzziness)")
    ap.add_argument("--max-expansions", type=int, default=50,
                    help="fuzzy expansion cap, kept by (distance, term)")
    ap.add_argument("--fuzzy-prefix-length", type=int, default=0,
                    help="leading chars that must match exactly (ES "
                         "prefix_length)")
    ap.add_argument("--suggest", action="append", default=None,
                    help="term suggester (ES suggest, did-you-mean): "
                         "corrections from the term dictionary ranked "
                         "(distance, df desc, term); repeatable")
    ap.add_argument("--suggest-mode", default="always",
                    choices=["always", "popular"],
                    help="popular = only corrections more frequent than "
                         "the input term (ES suggest_mode)")
    ap.add_argument("--count", action="append", default=None,
                    help="_count: hit count for a space-separated "
                         "disjunctive match query, served from posting "
                         "metadata (ids-only decode); repeatable")
    ap.add_argument("--mget", default=None,
                    help="_mget: comma-separated url list, point lookup on "
                         "the doc table (pushed IN filter)")
    ap.add_argument("--must-not", default=None,
                    help="space-separated must_not terms (ES bool filter "
                         "context): docs containing ANY are excluded, "
                         "non-scoring; applies to every --query")
    ap.add_argument("--min-should-match", type=int, default=None,
                    help="minimum distinct query terms a doc must match "
                         "(ES minimum_should_match); applies to every "
                         "--query")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--executor", default="wand",
                    choices=["exact", "wand", "auto"],
                    help="auto = cost-based choice (engine.wand."
                         "wand_is_cheaper): few-term long-postings queries "
                         "run block-max WAND, everything else the exact "
                         "path — identical results either way")
    ap.add_argument("--conjunctive", action="store_true")
    ap.add_argument("--routing", default=None,
                    help="restrict to one routing partition (D9 routed "
                         "search: pruned scan + shard-local stats)")
    ap.add_argument("--routing-key", default=None,
                    help="raw routing KEY for a store placed with "
                         "static_assigner(num_shards=...): the shard is "
                         "derived with the same hash the write path used "
                         "(ES client-side routing); requires --num-shards")
    ap.add_argument("--num-shards", type=int, default=None)
    ap.add_argument("--routing-key-type", default=None,
                    help="Spark type of the sharded column when non-string "
                         "(e.g. bigint): xxhash64 is type-sensitive, so the "
                         "key must be hashed as the column's type")
    ap.add_argument("--alias", default=None,
                    help="search through a (filtered/routed) alias (S11): "
                         "the alias's routing value prunes the scan and its "
                         "term filter restricts results, like the "
                         "reference's addAliasWithRoutingToExistingIndex")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()
    if not (args.query or args.phrase or args.prefix or args.fuzzy
            or args.wildcard or args.regexp or args.complete
            or args.suggest or args.count or args.mget or args.sqs):
        ap.error("need at least one of --query / --sqs / --phrase / "
                 "--prefix / --fuzzy / --wildcard / --regexp / --complete / "
                 "--suggest / --count / --mget")
    if (args.phrase or args.prefix or args.fuzzy or args.wildcard
            or args.regexp or args.complete or args.sqs
            or args.suggest or args.count or args.mget) and (
            args.routing or args.routing_key or args.alias):
        # --routing-key resolves into a routing value below, so it must be
        # rejected here too or the reader-served families would crash later
        ap.error("--phrase/--prefix/--fuzzy/--wildcard/--regexp/--complete/"
                 "--suggest/--count/--mget do not take "
                 "--routing/--routing-key/--alias")
    bool_opts = args.must_not is not None or args.min_should_match is not None
    if bool_opts and args.alias:
        ap.error("--must-not/--min-should-match do not take --alias")

    from engine.query import IndexReader, search_store, search_via_alias
    from engine.segments import IndexStore
    from engine.session import get_spark

    spark = get_spark(f"query-{args.index}")
    store = IndexStore(args.index_root, args.index)
    if args.routing_key is not None:
        from engine.assign import routing_for

        if args.routing is not None:
            ap.error("pass either --routing or --routing-key, not both")
        if not args.num_shards:
            ap.error("--routing-key requires --num-shards")
        args.routing = routing_for(spark, args.routing_key, args.num_shards,
                                   dtype=args.routing_key_type)
    # query-server mode: open the index once (one view: stats, deleted
    # set, postings footers), serve all queries from the held-open reader
    direct = args.routing is None and args.alias is None
    reader = IndexReader(spark, store) if direct else None

    for qstr in args.sqs or []:
        from engine.querystring import simple_query_string_store

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = simple_query_string_store(
                spark, store, qstr, k=args.k,
                default_operator=args.default_operator,
            ).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "sqs": qstr,
            "default_operator": args.default_operator,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for ph in args.phrase or []:
        phrase = ph.split()

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            # phrase forbids --routing/--alias (checked above), so the
            # held-open reader always exists here: its pinned view answers
            # every repeat
            rows = reader.search_phrase(phrase, k=args.k).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "phrase": phrase,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for p in args.prefix or []:
        from engine.prefix import search_store_prefix

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = search_store_prefix(spark, store, p, k=args.k).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "prefix": p,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for fz in args.fuzzy or []:
        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = reader.search_fuzzy(
                fz, k=args.k, max_edits=args.max_edits,
                prefix_length=args.fuzzy_prefix_length,
                max_expansions=args.max_expansions,
            ).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "fuzzy": fz,
            "max_edits": args.max_edits,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for rx in args.regexp or []:
        from engine.wildcard import search_store_regexp

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = search_store_regexp(spark, store, rx, k=args.k).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "regexp": rx,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for cp in args.complete or []:
        from engine.fuzzy import completion_suggest

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = completion_suggest(
                store.view().term_stats_df(spark), cp, size=args.k
            ).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "complete": cp,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["suggestion"], r["df"]) for r in rows],
        }))

    for wc in args.wildcard or []:
        from engine.wildcard import search_store_wildcard

        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = search_store_wildcard(spark, store, wc, k=args.k).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "wildcard": wc,
            "k": args.k,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))

    for sg in args.suggest or []:
        lats, rows = [], []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            # reader.suggest serves from the cached term-stats relation —
            # suggestions never touch postings or documents
            rows = reader.suggest(
                sg, size=args.k,
                max_edits=args.max_edits, suggest_mode=args.suggest_mode,
            ).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "suggest": sg,
            "mode": args.suggest_mode,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "suggestions": [
                (r["suggestion"], r["dist"], r["df"]) for r in rows
            ],
        }))

    for cq in args.count or []:
        from engine.searchapi import count_query_store

        terms = cq.split()
        lats, n = [], 0
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            n = count_query_store(spark, store, terms).collect()[0]["n_hits"]
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "count": terms,
            "latency_ms_p50": round(statistics.median(lats), 1),
            "n_hits": int(n),
        }))

    if args.mget:
        from engine.searchapi import mget_store

        urls = [u for u in args.mget.split(",") if u]
        rows = mget_store(spark, store, urls).collect()
        print(json.dumps({
            "mget": urls,
            "found": [(r["url"], r["doc_id"], r["doc_len"]) for r in rows],
        }))

    must_not = args.must_not.split() if args.must_not else None
    for q in args.query or []:
        terms = q.split()
        lats = []
        rows = []
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            if args.alias is not None:
                rows = search_via_alias(
                    spark, store, args.alias, terms, k=args.k,
                    conjunctive=args.conjunctive,
                ).collect()
            elif args.routing is not None:
                rows = search_store(
                    spark, store, terms, k=args.k,
                    conjunctive=args.conjunctive, routing=args.routing,
                    min_should_match=args.min_should_match,
                    must_not_terms=must_not,
                ).collect()
            elif bool_opts:
                # bool-query filters run the exact path (WAND's block-max
                # skipping has no must_not/msm awareness)
                rows = reader.search(
                    terms, k=args.k, conjunctive=args.conjunctive,
                    min_should_match=args.min_should_match,
                    must_not_terms=must_not,
                ).collect()
            elif args.executor in ("wand", "auto"):
                strategy = "auto" if args.executor == "auto" else "wand"
                rows = reader.search_wand(
                    terms, k=args.k, strategy=strategy
                ).collect()
            else:
                rows = reader.search(
                    terms, k=args.k, conjunctive=args.conjunctive
                ).collect()
            lats.append((time.perf_counter() - t0) * 1000)
        print(json.dumps({
            "query": terms,
            "k": args.k,
            "executor": args.executor if direct else "exact",
            **({"routing": args.routing} if args.routing is not None else {}),
            **({"alias": args.alias} if args.alias is not None else {}),
            "latency_ms_p50": round(statistics.median(lats), 1),
            "results": [(r["doc_id"], r["score"]) for r in rows],
        }))


if __name__ == "__main__":
    main()
