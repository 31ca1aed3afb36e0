"""Physical-plan audit -> PLANS.md.

For each headline query: capture .explain("formatted") and grep for the
properties that matter at 100 TB — parquet PushedFilters, broadcast joins
where a side is known-small, whole-stage codegen coverage, absence of
unexpected shuffles. A human-readable PLANS.md is the deliverable; the
audit also prints WARN lines for violated expectations.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# a store directory of __spark_entry__.py: a tempfile.mkdtemp name (its
# prefix plus 8 random characters) under the per-process temp root
_TMP_DIR = re.compile(r"(?:/[\w.-]+)*/(sparkgraft_\w*?)\w{8}\b")
# Spark's session-wide counters: expression ids and exchange plan ids
_IDS = re.compile(r"(#|plan_id=)(\d+)")


def mask_plan(plan: str) -> str:
    """`plan` with what changes from run to run masked, so an unchanged
    plan prints the same text every run: a store's temp path up to its
    own directory becomes `<tmp>/sparkgraft_store_*`, and expression and
    plan ids are renumbered in order of first appearance (`url#4776` ->
    `url#1`)."""
    plan = _TMP_DIR.sub(r"<tmp>/\1*", plan)
    seen: dict[str, dict[str, int]] = {"#": {}, "plan_id=": {}}

    def renumber(m: re.Match) -> str:
        ids = seen[m[1]]
        return f"{m[1]}{ids.setdefault(m[2], len(ids) + 1)}"

    return _IDS.sub(renumber, plan)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from engine.session import get_spark

    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    audit = {
        # query -> (must-contain regexes, must-NOT-contain regexes)
        "filtered_alias_view": ([r"PushedFilters: \[.*EqualTo\(lang,en\)"], [r"Exchange"]),
        "bm25_topk": ([r"BroadcastHashJoin", r"TakeOrderedAndProject"], []),
        # per-field BM25 (round 5): same scale shape as bm25_topk — query
        # terms / df / stats broadcast per field, single top-k at the end
        "bm25_topk_fields": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"], []
        ),
        # dis_max / boosting: same bm25 shape (broadcast query set + stats,
        # single top-k); boosting's negative set is a broadcast-able
        # distinct-id relation, never a cartesian
        "bm25_dismax": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        "boosting_query": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        "bm25_topk_indexed": ([r"TakeOrderedAndProject"], []),
        # LSH candidate generation must stay a banded equi-join on
        # (band, bucket) — an all-pairs plan is the 100 TB melt-down this
        # family exists to avoid, whether it appears as CartesianProduct or
        # as BroadcastNestedLoopJoin (Catalyst's other O(n*m) join, chosen
        # when a non-equi side fits the broadcast threshold)
        "minhash_lsh_pairs": ([], [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
        "simhash_near_pairs": ([], [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
        # formatted explain marks whole-stage codegen as `[codegen id : N]`
        "doc_lengths": ([r"codegen id"], [r"Exchange"]),
        "quality_features": ([r"codegen id"], [r"Exchange"]),
        "term_frequencies": ([r"HashAggregate"], []),
        "exact_duplicates": ([r"HashAggregate"], []),
        "cosine_topk": ([r"TakeOrderedAndProject"], [r"Exchange hashpartitioning"]),
        # D9: routed search prunes to the routing=en hive partition of the
        # store's postings/docs — the filter must land in PartitionFilters
        # (directory pruning), not just a post-scan Filter
        "routed_search": (
            [r"PartitionFilters: \[.*routing", r"TakeOrderedAndProject"], []
        ),
        # persisted index query path: term filter reaches the parquet scan
        # (row-group skipping via the term-sorted layout)
        "bm25_topk_store": ([r"PushedFilters: \[.*[Ii]n\(term"], []),
        # S11 + D9 combined: a search through a filtered alias resolves the
        # alias's routing value into partition pruning AND pushes the query
        # terms into the scan — both must land in the scan node
        "alias_routed_search": (
            [
                r"PartitionFilters: \[.*routing",
                r"PushedFilters: \[.*[Ii]n\(term",
                r"TakeOrderedAndProject",
            ],
            [],
        ),
        # persisted ANN probe: bucket-group partition pruning + bucket
        # filter pushed to the scan
        "ann_lsh_topk": ([r"PartitionFilters: \[.*bucket_grp"], []),
        # match_phrase, corpus path (round 5): phrase terms broadcast-semi-
        # filter the positional stream before the adjacency shuffle; top-k
        # stays a TakeOrderedAndProject; never an all-pairs join
        "bm25_phrase_topk": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # match_phrase, store path: the positions-sidecar scan must push the
        # query terms (term-sorted files -> row-group skipping)
        "bm25_phrase_store": (
            [r"PushedFilters: \[.*[Ii]n\(term", r"TakeOrderedAndProject"], []
        ),
        # prefix query, store path: StringStartsWith reaches the posting-
        # block scan — matching terms' blocks are found by the scan, never
        # by decoding the whole dictionary
        "prefix_search_store": (
            [r"PushedFilters: \[.*StartsWith\(term"], []
        ),
        # bool query (D14): must_not is an anti-join of doc-ids-only
        # decoded excluded blocks — never a CartesianProduct; the one
        # BroadcastNestedLoopJoin Cross in this plan is the single-row
        # stats broadcast (same as bm25_topk — correct and idiomatic)
        "bm25_topk_bool": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        "bm25_topk_bool_store": (
            [r"PushedFilters: \[.*[Ii]n\(term", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # fuzzy (D15): the expansion happened driver-side over the term
        # dictionary; the RESULT plan is a normal bounded disjunction —
        # pushed isin on the store path, broadcast semi-filter + top-k on
        # the corpus path
        "fuzzy_match": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"], []
        ),
        "fuzzy_search_store": (
            [r"PushedFilters: \[.*[Ii]n\(term", r"TakeOrderedAndProject"], []
        ),
        # wildcard (D16), store path: the pattern's leading literal pushes
        # StringStartsWith for row-group skipping; the LIKE filter picks
        # matching terms' blocks (decoded doc-ids-only)
        "wildcard_search_store": (
            [r"PushedFilters: \[.*StartsWith\(term"], []
        ),
        # ES aggregations (round 5): one partial+final hash-aggregate pair;
        # terms_agg's top-N is TakeOrderedAndProject over the buckets
        "terms_agg": ([r"HashAggregate", r"TakeOrderedAndProject"], []),
        "date_histogram_agg": ([r"HashAggregate"], []),
        "histogram_agg": ([r"HashAggregate"], [r"Join"]),
        # exact percentiles: a sort-based ObjectHashAggregate pair — still
        # partial+final, no join
        "percentiles_agg": ([r"Aggregate"], [r"Join"]),
        # stats agg: filter + ONE aggregate, no join, no per-doc shuffle
        # beyond the single-row final agg exchange
        "stats_agg": ([r"HashAggregate"], [r"Join"]),
        "cardinality_agg": ([r"HashAggregate"], [r"Join"]),
        # search_after: the cursor predicate reaches the parquet scan
        # (LessThan on the sort column), top-k is TakeOrderedAndProject
        "sort_search_after": (
            [r"PushedFilters: \[.*LessThan\(n_chars", r"TakeOrderedAndProject"],
            [r"Exchange hashpartitioning"],
        ),
        # _mget: the url IN list reaches the doc-table scan
        "mget_store": ([r"PushedFilters: \[.*[Ii]n\(url"], []),
        # _count: term IN pushed to the posting-block scan; ids-only decode
        "count_query_store": ([r"PushedFilters: \[.*[Ii]n\(term"], []),
        # function_score: bm25 shape + one extra broadcast-able join for the
        # per-doc factor column; still a single top-k
        "function_score": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # term suggester: dictionary-relation scan only — an aggregate over
        # tokens (corpus) or the term_stats relation (store), then a
        # bounded TakeOrderedAndProject; never a postings/doc scan
        "term_suggest": (
            [r"HashAggregate", r"TakeOrderedAndProject"], [r"CartesianProduct"]
        ),
        "term_suggest_store": (
            [r"TakeOrderedAndProject"], [r"CartesianProduct"]
        ),
        # range filter (bool FILTER context): a semi join gates membership;
        # scoring joins stay broadcast; still a TakeOrderedAndProject top-k
        "range_filter_search": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # _explain: the k-row top-k relation is broadcast-semi-joined onto
        # the per-(doc,term) contribution rows
        "explain_score": ([r"BroadcastHashJoin"], [r"CartesianProduct"]),
        # significant_terms: two (term, count) aggregates + a term join —
        # documents never cross the shuffle; top-N is TakeOrderedAndProject
        "significant_terms_agg": (
            [r"HashAggregate", r"TakeOrderedAndProject"], [r"CartesianProduct"]
        ),
        # more_like_this: after the bounded term extraction it's a normal
        # BM25 disjunction (broadcast query set, top-k)
        "more_like_this": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # highlight: the bounded top-k page is the BROADCAST side joined to
        # the doc text; string exprs are Project-level (codegen ids aren't
        # printed for unexecuted AQE plans, so they can't be asserted here)
        "highlight_snippets": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # --- round-5 batch 2 ---
        # top_hits: the row_number<=k filter must plan as WindowGroupLimit
        # with a Partial (map-side) pass — the hot-bucket defense; the
        # bucket-selection side is a broadcast
        "top_hits_agg": (
            [r"(?s)WindowGroupLimit.*WindowGroupLimit", r"BroadcastHashJoin"],
            [r"CartesianProduct"],
        ),
        # composite: after-key predicate is a plain filter on grouping
        # columns pushed to the scan; one hash-aggregate + TakeOrdered
        "composite_agg": (
            [r"PushedFilters: \[.*", r"HashAggregate",
             r"TakeOrderedAndProject"],
            [r"Window"],
        ),
        # range agg: the broadcast-literal non-equi join over <=10 range
        # rows is the intended BroadcastNestedLoopJoin (constant per-row
        # work); one hash-aggregate on the range key
        "range_agg": ([r"HashAggregate"], [r"CartesianProduct"]),
        # filters agg: ALL predicates in one scan -> one global aggregate
        # (single-row exchange), literal unpivot; never one job per filter
        "filters_agg": ([r"HashAggregate"], [r"Join"]),
        # terms_set: contribs shape (broadcast query set) + matched-count
        # riding the same score aggregate; per-doc required joins after
        "terms_set_query": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject", r"HashAggregate"],
            [r"CartesianProduct"],
        ),
        # match_phrase_prefix: expansion set + fixed slots both broadcast
        # onto the positional stream before the adjacency shuffle
        "phrase_prefix_match": (
            [r"BroadcastHashJoin", r"HashAggregate"], [r"CartesianProduct"]
        ),
        # _termvectors: requested docs' terms broadcast-semi-filter the
        # corpus stream before the df/ttf aggregate
        "term_vectors": (
            [r"BroadcastHashJoin", r"HashAggregate"], [r"CartesianProduct"]
        ),
        # IVF ANN: centroid assignment is a broadcast + map-side max_by
        # aggregate (partial+final HashAggregate), candidates a semi-join;
        # re-rank top-k is TakeOrderedAndProject; never a window sort
        "ivf_ann_topk": (
            # max_by(struct) plans as a SortAggregate partial+final pair
            [r"BroadcastNestedLoopJoin|BroadcastHashJoin",
             r"(Hash|Sort)Aggregate", r"TakeOrderedAndProject"],
            [r"Window", r"CartesianProduct"],
        ),
        # reindexed / restored stores answer through the same pushed-scan
        # shapes as the primary store
        "reindex_search": ([r"PushedFilters: \[.*[Ii]n\(term"], []),
        "snapshot_restore_search": ([r"PushedFilters: \[.*[Ii]n\(term"], []),
        # msearch: per-query top-k is a map-side+final WindowGroupLimit
        # pair keyed by query_id; the query batch is a broadcast literal
        "msearch": (
            [r"(?s)WindowGroupLimit.*WindowGroupLimit", r"BroadcastHashJoin"],
            [r"CartesianProduct"],
        ),
        # rank_eval: judgments broadcast onto the bounded ranked rows;
        # metrics are per-query aggregates
        "rank_eval": (
            [r"BroadcastHashJoin", r"HashAggregate"], [r"CartesianProduct"]
        ),
        # embedding LSH pairs: banded equi-join, never all-pairs (same
        # contract as the minhash/simhash candidate generators)
        "ann_lsh_pairs": ([], [r"CartesianProduct"]),
        # span_near: slop-bounded in-order chain — equi-join on doc_id
        # with range predicates, never a positional cross product
        "span_near_match": (
            [r"HashAggregate"], [r"CartesianProduct", r"BroadcastNestedLoopJoin"]
        ),
        # adjacency_matrix: the whole matrix in one scan + one global
        # aggregate, no join at all
        "adjacency_matrix_agg": ([r"HashAggregate"], [r"Join"]),
        # collapse: the one-best-hit-per-group filter must plan as the
        # map-side partial + final WindowGroupLimit pair (a hot group ships
        # <=1 row per partition), then a global TakeOrderedAndProject
        "collapse_source": (
            [r"(?s)WindowGroupLimit.*WindowGroupLimit", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # rescore: both passes are broadcast-joined bm25 relations; the
        # second pass is gated by the broadcast window doc-id set (bounded
        # shuffle), and the final rerank is a bounded top-k
        "rescore_topk": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # training_corpus: lang + quality + fingerprint computed in ONE
        # projection over ONE scan (3+ "Scan parquet" strings = 2 physical
        # scans: tree + detail each print once per scan), filter before the
        # dedup shuffle, canonical pick via the WindowGroupLimit pair
        "training_corpus": (
            [r"(?s)WindowGroupLimit.*WindowGroupLimit"],
            [r"Join", r"(?s)(?:Scan parquet.*){3}"],
        ),
        # store-side regexp: anchored RLIKE selects matching terms' blocks,
        # decoded doc-ids-only (this pattern has no literal prefix, so it is
        # the documented dictionary-scan degradation, never a cross join)
        "regexp_search_store": ([], [r"CartesianProduct"]),
        # matrix_stats: one scan, map-side partial moments, 1-row final —
        # no join at all
        "matrix_stats_agg": ([r"HashAggregate"], [r"Join"]),
        # repetition stats: per-doc-local array expressions, shuffle-free
        "repetition_stats": ([], [r"Exchange", r"Join"]),
        # phrase suggester: per-position best is the WindowGroupLimit pair;
        # the positions relation (a few literal rows) broadcasts against
        # the dictionary (a bounded BroadcastNestedLoopJoin on the length
        # window — |vocab| x |positions|, never corpus-sized)
        "phrase_suggest": (
            [r"(?s)WindowGroupLimit.*WindowGroupLimit"], [r"CartesianProduct"]
        ),
        # stratified sampling: a pure deterministic filter — no shuffle,
        # no RNG state, reproducible at any parallelism
        "stratified_sample": ([], [r"Exchange", r"Join"]),
        # percolator: the stored-query table broadcasts; matching is one
        # count-distinct aggregate — scan count independent of query count
        "percolate_matches": (
            [r"BroadcastHashJoin", r"HashAggregate"],
            [r"CartesianProduct", r"SortMergeJoin"],
        ),
        # regexp: the anchored RLIKE filter runs JVM-side on the exploded
        # token stream BEFORE the distinct's exchange (the (3) Filter
        # section precedes the (6) Exchange section in the detail listing)
        "regexp_match": ([r"(?s)RLIKE.*Exchange"], [r"CartesianProduct"]),
        # ---- round-5 continuation ----
        # pipeline aggs run over the parent's reduce-phase bucket relation:
        # a window/sort there is bounded by the time span, but the CORPUS
        # pass must stay a single hash aggregate (no join)
        "pipeline_metrics": ([r"HashAggregate", r"Window"], [r"Join"]),
        "bucket_siblings": ([r"HashAggregate"], [r"CartesianProduct"]),
        # chunking is partition-local: generate+posexplode, zero Exchange
        "token_chunks": ([r"Generate"], [r"Exchange", r"Join"]),
        # C4 span dedup: keep-first must be a map-side partial-min hash
        # aggregate per chunk hash (hot chunks reduce before the shuffle) —
        # never a window sort (which would pile a hot chunk into one task)
        "chunk_dedup": (
            [r"partial_min", r"HashAggregate"],
            [r"(?i)windowgrouplimit", r"Window\b", r"CartesianProduct"],
        ),
        # PII scrubbing is a pure codegen scan pass
        "pii_redact": ([r"codegen id"], [r"Exchange", r"Join"]),
        # decontamination: the benchmark shingle set (MB-sized) broadcasts;
        # the corpus never shuffles for the join
        "contamination": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"CartesianProduct"]),
        # simple_query_string compiles onto bm25_contribs + phrase scans:
        # broadcast dims, single top-k, no cartesian
        "simple_query_string": (
            [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            [r"CartesianProduct"],
        ),
        # store mutations: the searched clone keeps pushed term filters
        "delete_by_query_search": ([r"PushedFilters: \[.*[Ii]n\(term"], []),
        "update_by_query_search": (
            [r"PushedFilters: \[.*(In|EqualTo)\(term"], []
        ),
        # small aggs: single hash-aggregate shuffles
        "multi_terms_agg": ([r"HashAggregate", r"TakeOrderedAndProject"], [r"Join"]),
        "rare_terms_agg": ([r"HashAggregate"], [r"Join"]),
        "weighted_avg_agg": ([r"HashAggregate"], [r"Join"]),
        # MAD joins the tiny per-group medians back broadcast
        "mad_agg": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
        "match_bool_prefix_topk": (
            [r"TakeOrderedAndProject"], [r"CartesianProduct"]
        ),
        # k-means assignment is partition-local (only the final orderBy
        # exchanges; AQE hides codegen markers pre-execution): no join, no
        # generate — the argmin is pure projection
        "kmeans_clusters": ([r"Scan parquet"], [r"Join", r"CartesianProduct", r"Generate"]),
        # quality model is a pure codegen scan; tfidf's per-doc top-k must
        # compile to the WindowGroupLimit pair
        "quality_classifier": ([r"codegen id"], [r"Exchange", r"Join"]),
        "tfidf_keywords": ([r"WindowGroupLimit", r"BroadcastHashJoin"], [r"CartesianProduct"]),
        # store-side sqs: pushed term filter like every store search
        "simple_query_string_store": ([r"PushedFilters: \[.*[Ii]n\(term"], [r"CartesianProduct"]),
        # SemDeDup: the pair join must be the cluster equi-join (k-means as
        # the blocking function) — never an unblocked cross
        "semdedup_pairs": ([r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"], [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
        # terms lookup: broadcast arrays_overlap filter, no corpus join
        "terms_lookup": ([], [r"SortMergeJoin", r"CartesianProduct"]),
        "percentile_ranks_agg": ([r"HashAggregate"], [r"Join"]),
        # bigram LM: partition-local pair extraction (Generate), hash
        # aggregates, prefix totals broadcast back — no sort-merge join
        "bigram_lm_top": ([r"Generate", r"HashAggregate", r"BroadcastHashJoin"], [r"SortMergeJoin"]),
        "bigram_perplexity": ([r"BroadcastHashJoin"], [r"CartesianProduct"]),
    }

    out = ["# PLANS — physical-plan audit of the headline queries\n"]
    out.append(
        "Generated by tools/audit_plans.py. For each query: the Catalyst\n"
        "physical plan and the scale-critical properties checked (predicate\n"
        "pushdown into parquet, broadcast of small sides, whole-stage codegen,\n"
        "no unnecessary shuffles). Re-generate after plan-shape changes.\n"
        "Expression / plan ids and temp paths are masked, so a re-run over\n"
        "unchanged plans leaves this file as it is.\n"
    )
    warns = []
    for name, (must, must_not) in audit.items():
        df = qs[name](spark, sf_dir)
        p = plan_of(df)
        checks = []
        for rx in must:
            ok = re.search(rx, p) is not None
            checks.append(f"  - MUST `{rx}`: {'OK' if ok else '**MISSING**'}")
            if not ok:
                warns.append(f"WARN {name}: missing {rx}")
        for rx in must_not:
            ok = re.search(rx, p) is None
            checks.append(f"  - MUST NOT `{rx}`: {'OK' if ok else '**PRESENT**'}")
            if not ok:
                warns.append(f"WARN {name}: unexpected {rx}")
        # checks run on the raw plan, the file gets the masked one
        out.append(f"\n## {name}\n\n" + "\n".join(checks) + "\n\n```\n"
                   + mask_plan(p).strip() + "\n```\n")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    for w in warns:
        print(w)
    print(f"PLANS.md written ({len(audit)} queries, {len(warns)} warnings)")


if __name__ == "__main__":
    main()
