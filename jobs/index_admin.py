"""Index lifecycle admin CLI (reference S7-S11 admin surface).

Mirrors ElasticSearchClientService's index admin API
(/root/reference/src/main/java/org/elasticsearch/kafka/indexer/service/
ElasticSearchClientService.java:115-138: createIndex, deleteIndex,
addAliasToExistingIndex, addAliasWithRoutingToExistingIndex) as spark-free
subcommands over the on-disk store:

    python jobs/index_admin.py create  --index-root R --index web
    python jobs/index_admin.py delete  --index-root R --index web
    python jobs/index_admin.py alias   --index-root R --index web \
        --alias en_docs [--filter lang=en] [--routing en]
    python jobs/index_admin.py create-and-alias --index-root R --index web \
        --alias en_docs [--filter lang=en] [--routing en]
    python jobs/index_admin.py list    --index-root R
    python jobs/index_admin.py stats   --index-root R --index web

Everything prints one JSON line (script-friendly, like the build job).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_filter(raw_filter: str | None) -> tuple[str | None, object]:
    """`col=value` -> (col, typed value): a numeric filter stored as "1"
    would lean on implicit casts at query time. Coercion is ROUND-TRIP-SAFE
    only: '02134' / '007' / '1e3' keep their string form (a zip-code-style
    string column must match exactly, not via a lossy int cast)."""
    if not raw_filter:
        return None, None
    col, _, raw = raw_filter.partition("=")
    val: object = raw
    for cast in (int, float):
        try:
            c = cast(raw)
            if str(c) == raw:
                val = c
                break
        except ValueError:
            pass
    return col, val


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add_common(p, need_index=True, creates=False):
        p.add_argument("--index-root", required=True)
        if need_index:
            p.add_argument("--index", required=True)
        if creates:
            # only the creating subcommands take --codec — it is recorded at
            # create time and has no effect anywhere else (ADVICE r04).
            # default=None so an EXPLICIT "--codec varint" is
            # distinguishable from "no flag" (it must override a pfor
            # template; review finding r05-cont)
            p.add_argument("--codec", default=None,
                           choices=["varint", "pfor"],
                           help="posting-block codec recorded at create "
                                "(default: template setting, else varint)")

    add_common(sub.add_parser("create"), creates=True)
    add_common(sub.add_parser("delete"))
    pa = sub.add_parser("alias")
    add_common(pa)
    pa.add_argument("--alias", required=True)
    pa.add_argument("--filter", default=None, help="col=value term filter (S11)")
    pa.add_argument("--routing", default=None,
                    help="routing value applied to requests through the alias")
    pca = sub.add_parser("create-and-alias",
                         help="one-call createIndexAndAlias "
                              "(ElasticSearchClientService.java:125-128)")
    add_common(pca, creates=True)
    pca.add_argument("--alias", required=True)
    pca.add_argument("--filter", default=None, help="col=value term filter (S11)")
    pca.add_argument("--routing", default=None)
    pr = sub.add_parser(
        "reindex",
        help="ES _reindex: rebuild --index's docs into --dest from stored "
             "_source, destination settings (codec/routing) win",
    )
    add_common(pr, creates=True)
    pr.add_argument("--dest", required=True)
    pr.add_argument("--routing-col", default=None,
                    help="destination routing column (None = unrouted)")
    ps = sub.add_parser("snapshot", help="ES _snapshot: incremental copy of "
                                         "live segments into a repository")
    add_common(ps)
    ps.add_argument("--repo", required=True)
    ps.add_argument("--snapshot", required=True)
    pre = sub.add_parser("restore", help="ES _restore: materialize a snapshot "
                                         "as a NEW index, offsets replayed")
    add_common(pre, need_index=False)
    pre.add_argument("--repo", required=True)
    pre.add_argument("--snapshot", required=True)
    pre.add_argument("--target", default=None,
                     help="restored index name (default: snapshotted name)")
    pls = sub.add_parser("list-snapshots")
    pls.add_argument("--repo", required=True)
    pro = sub.add_parser("rollover", help="ES _rollover: move the write "
                                          "alias to a new generation when "
                                          "a condition is met")
    pro.add_argument("--index-root", required=True)
    pro.add_argument("--alias", required=True)
    pro.add_argument("--max-docs", type=int, default=None)
    pro.add_argument("--max-segments", type=int, default=None)
    pro.add_argument("--dry-run", action="store_true")
    pfm = sub.add_parser("forcemerge", help="ES _forcemerge: compact all "
                                            "live segments into one")
    add_common(pfm)
    pdq = sub.add_parser("delete-by-query", help="ES _delete_by_query: "
                         "tombstone every live doc matching the term query")
    add_common(pdq)
    pdq.add_argument("--terms", required=True,
                     help="comma-separated query terms")
    pdq.add_argument("--conjunctive", action="store_true",
                     help="require ALL terms (default: any)")
    pdi = sub.add_parser("delete-by-ids", help="ES _bulk delete-op: "
                         "tombstone the live version of each given url")
    add_common(pdi)
    pdi.add_argument("--urls", required=True,
                     help="comma-separated external ids (urls)")
    puq = sub.add_parser("update-by-query", help="ES _update_by_query: "
                         "regexp-rewrite the stored _source of every live "
                         "doc matching the term query")
    add_common(puq)
    puq.add_argument("--terms", required=True,
                     help="comma-separated query terms")
    puq.add_argument("--conjunctive", action="store_true")
    puq.add_argument("--replace-pattern", required=True,
                     help="Java regex applied to the stored source text")
    puq.add_argument("--replace-with", required=True)
    puq.add_argument("--batch-id", type=int, default=0)
    add_common(sub.add_parser("list"), need_index=False)
    add_common(sub.add_parser("stats"))
    ptp = sub.add_parser("put-template", help="ES _template: create-time "
                         "settings applied to indexes matching a pattern")
    ptp.add_argument("--index-root", required=True)
    ptp.add_argument("--name", required=True)
    ptp.add_argument("--pattern", required=True,
                     help="fnmatch pattern over index names, e.g. 'logs-*'")
    ptp.add_argument("--settings", required=True,
                     help='JSON settings object, e.g. \'{"codec": "pfor"}\'')
    ptp.add_argument("--order", type=int, default=0,
                     help="higher order overrides per setting (ES merge)")
    pdt = sub.add_parser("delete-template")
    pdt.add_argument("--index-root", required=True)
    pdt.add_argument("--name", required=True)
    plt = sub.add_parser("list-templates")
    plt.add_argument("--index-root", required=True)
    args = ap.parse_args(argv)

    from engine.fanout import discover_indexes
    from engine.segments import IndexStore

    if args.cmd == "list":
        print(json.dumps({"indexes": discover_indexes(args.index_root)}))
        return 0

    if args.cmd == "rollover":
        from engine.rollover import rollover

        try:
            print(json.dumps(rollover(args.index_root, args.alias,
                                      max_docs=args.max_docs,
                                      max_segments=args.max_segments,
                                      dry_run=args.dry_run)))
            return 0
        except ValueError as exc:
            print(json.dumps({"error": str(exc)}))
            return 1

    if args.cmd == "list-snapshots":
        from engine.snapshot import list_snapshots

        print(json.dumps({"snapshots": list_snapshots(args.repo)}))
        return 0

    if args.cmd == "snapshot":
        from engine.snapshot import snapshot as take_snapshot

        src = IndexStore(args.index_root, args.index)
        if not src.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        try:
            m = take_snapshot(src, args.repo, args.snapshot)
        except ValueError as exc:
            print(json.dumps({"error": str(exc)}))
            return 1
        print(json.dumps({"snapshot": m["name"], "index": m["index"],
                          "segments_copied": m["segments_copied"],
                          "segments_shared": m["segments_shared"]}))
        return 0

    if args.cmd == "restore":
        from engine.snapshot import restore as do_restore

        try:
            st = do_restore(args.repo, args.snapshot, args.index_root,
                            args.target)
        except ValueError as exc:
            print(json.dumps({"error": str(exc)}))
            return 1
        print(json.dumps({"restored": st.name,
                          "segments": st.live_segments()}))
        return 0

    from engine.config import IndexConfig

    if args.cmd == "delete-by-ids":
        from engine.session import get_spark
        from engine.updates import delete_by_ids

        st = IndexStore(args.index_root, args.index)
        if not st.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        spark = get_spark("delete-by-ids")
        urls = args.urls.split(",")
        n = delete_by_ids(spark, st, urls)
        print(json.dumps({"index": args.index, "deleted": n,
                          "not_found": len(set(urls)) - n}))
        return 0

    if args.cmd == "delete-by-query":
        from engine.session import get_spark
        from engine.updates import delete_by_query

        st = IndexStore(args.index_root, args.index)
        if not st.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        spark = get_spark("delete-by-query")
        n = delete_by_query(
            spark, st, args.terms.split(","), conjunctive=args.conjunctive
        )
        print(json.dumps({"index": args.index, "deleted": n}))
        return 0

    if args.cmd == "update-by-query":
        from pyspark.sql import functions as F

        from engine.session import get_spark
        from engine.updates import update_by_query

        st = IndexStore(args.index_root, args.index)
        if not st.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        spark = get_spark("update-by-query")
        res = update_by_query(
            spark, st, args.terms.split(","),
            transform=lambda c: F.regexp_replace(
                c, args.replace_pattern, args.replace_with
            ),
            conjunctive=args.conjunctive, batch_id=args.batch_id,
        )
        print(json.dumps({
            "index": args.index,
            "updated": 0 if res is None else int(res.n_docs),
        }))
        return 0

    if args.cmd == "forcemerge":
        from engine.merge import merge_segments
        from engine.session import get_spark

        st = IndexStore(args.index_root, args.index)
        if not st.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        before = st.live_segments()
        if len(before) <= 1 and not st.has_deletes():
            print(json.dumps({"index": args.index, "merged": False,
                              "reason": "already one segment, no deletes",
                              "segments": before}))
            return 0
        spark = get_spark("forcemerge")
        out = merge_segments(spark, st)
        print(json.dumps({"index": args.index, "merged": True,
                          "from": before, "into": out}))
        return 0

    if args.cmd == "reindex":
        from engine.reindex import reindex
        from engine.session import get_spark

        src = IndexStore(args.index_root, args.index)
        if not src.exists():
            print(json.dumps({"error": f"index {args.index} does not exist"}))
            return 1
        dst_cfg = IndexConfig(codec=args.codec or "varint",
                              routing_col=args.routing_col,
                              store_source=True)
        dst = IndexStore(args.index_root, args.dest, cfg=dst_cfg)
        if dst.exists():
            print(json.dumps({"error": f"dest {args.dest} already exists"}))
            return 1
        dst.create()
        spark = get_spark("reindex")
        res = reindex(spark, src, dst, cfg=dst_cfg)
        print(json.dumps({
            "source": args.index, "dest": args.dest,
            "codec": args.codec or "varint",
            "n_docs": res.n_docs if res else 0,
            "segment": res.segment_id if res else None,
        }))
        return 0

    if args.cmd == "put-template":
        from engine.templates import put_template

        entry = put_template(args.index_root, args.name, args.pattern,
                             json.loads(args.settings), order=args.order)
        print(json.dumps({"acknowledged": True, "template": entry}))
        return 0
    if args.cmd == "delete-template":
        from engine.templates import delete_template

        ok = delete_template(args.index_root, args.name)
        print(json.dumps({"acknowledged": ok}))
        return 0 if ok else 1
    if args.cmd == "list-templates":
        from engine.templates import get_templates

        print(json.dumps({"templates": get_templates(args.index_root)}))
        return 0

    if args.cmd in ("create", "create-and-alias"):
        # template settings as defaults, explicit --codec winning (ES
        # request-over-template precedence). --codec defaults to None, so
        # any passed flag counts as explicit and no flag defers to the
        # templates.
        from engine.templates import resolve_create_config

        explicit = {} if args.codec is None else {"codec": args.codec}
        cfg, applied = resolve_create_config(args.index_root, args.index, explicit)
        store = IndexStore(args.index_root, args.index, cfg=cfg)
        template_applied = applied
    else:
        store = IndexStore(args.index_root, args.index,
                           cfg=IndexConfig(codec="varint"))
        template_applied = {}
    if args.cmd == "create-and-alias":
        existed = store.exists()
        store.create_and_alias(args.alias, *_parse_filter(args.filter),
                               routing=args.routing)
        print(json.dumps({"index": args.index, "alias": args.alias,
                          "created": not existed}))
        return 0
    if args.cmd == "create":
        if store.exists():
            # reference createIndex is a no-op guard on existing index
            print(json.dumps({"index": args.index, "created": False,
                              "reason": "exists"}))
            return 0
        store.create()
        print(json.dumps({"index": args.index, "created": True,
                          **({"template_settings": template_applied}
                             if template_applied else {})}))
        return 0

    if not store.exists():
        print(json.dumps({"error": f"index {args.index} does not exist"}))
        return 1

    if args.cmd == "delete":
        store.delete()
        print(json.dumps({"index": args.index, "deleted": True}))
        return 0
    if args.cmd == "alias":
        col, val = _parse_filter(args.filter)
        store.add_alias(args.alias, filter_col=col, filter_val=val,
                        routing=args.routing)
        print(json.dumps({"index": args.index, "alias": args.alias,
                          "filter_col": col, "filter_val": val,
                          "routing": args.routing}))
        return 0
    if args.cmd == "stats":
        print(json.dumps({
            "index": args.index,
            "live_segments": store.live_segments(),
            "global_stats": store.global_stats() if store.live_segments() else None,
            "committed_offsets": store.committed_offsets(),
            "aliases": store._aliases(),
        }))
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
