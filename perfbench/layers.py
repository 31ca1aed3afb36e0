"""Metrics derived from a finished run: the workload's end-to-end report
and, for traced runs, the per-layer numbers named after engine modules."""

from __future__ import annotations

import statistics
import time

from perfbench.inputs import TERM_CLASSES
from perfbench.kernels import codec_rates, extract_ms_per_kdoc
from perfbench.measure import dir_bytes, p50, tail
from perfbench.workloads import rows_in

PER_LAYER = {   # name -> unit (BENCHMARK.json per_layer)
    "session.start_s": "s",
    "session.corpus_gen_s": "s",
    "session.setup_build_s": "s",
    "analysis.extract_s": "s",
    "analysis.kernel_ms_per_kdoc": "ms",
    "docids.ids_s": "s",
    "postings.build_write_s": "s",
    "codecs.decode_mpostings_per_s": "M/s",
    "codecs.encode_mpostings_per_s": "M/s",
    "codecs.bytes_per_posting": "B",
    "segments.ledger_entries": "count",
    "segments.live_segments": "count",
    "segments.live_segments_ms": "ms",
    "segments.write_amp": "ratio",
    "ingest.jobs_per_batch": "count",
    "ingest.job_s": "s",
    "ingest.driver_gap_s": "s",
    "ingest.self_s": "s",
    "merge.count": "count",
    "merge.jobs": "count",
    "merge.bytes_rewritten": "B",
    "merge.driver_gap_s": "s",
    "merge.self_s": "s",
    "query.open_s": "s",
    "query.jobs_per_search": "count",
    "query.df_lookup_ms": "ms",
    "query.df_memo_hit_ratio": "ratio",
    "query.driver_gap_ms": "ms",
    **{f"query.exact_ms.{c}": "ms" for c in TERM_CLASSES},
    "query.self_s": "s",
    "wand.jobs_per_search": "count",
    "wand.candidate_blocks": "count",
    "wand.blocks_scored": "count",
    "wand.skip_ratio": "ratio",
    "wand.driver_gap_ms": "ms",
    **{f"wand.wand_ms.{c}": "ms" for c in TERM_CLASSES},
    "wand.self_s": "s",
    "updates.docs_rewritten": "count",
    "updates.docs_tombstoned": "count",
    "updates.jobs": "count",
    "updates.self_s": "s",
    "bench.self_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.latency_ms.p50": "ms",
}


def _ms_metric(out: dict, name: str, xs: list[float], with_tail: bool = True) -> None:
    if not xs:
        return
    out[f"{name}.p50"] = {"value": p50(xs), "unit": "ms", "n": len(xs)}
    if with_tail:
        v, pct, n = tail(xs)
        out[f"{name}.tail"] = {"value": v, "unit": "ms", "percentile": pct, "n": n}


def live_bytes(store) -> int:
    return sum(dir_bytes(store.segment_path(s)) for s in store.live_segments())


def end_to_end(wl) -> dict:
    """Every end-to-end metric the workload has, by name (README.md)."""
    out: dict = {}
    text = wl.pages["text"][:rows_in(wl.store)].str.encode("utf-8").str.len().sum()
    out["store_bytes_per_text_byte"] = {"value": live_bytes(wl.store) / text, "unit": "ratio"}
    if wl.name == "ingest_stream":
        out["ingest_docs_per_s"] = {"value": wl.throughput(), "unit": "docs/s"}
    if wl.name in ("ingest_stream", "upsert_mix"):
        _ms_metric(out, "batch_commit_ms", wl.window_ms("ingest_batch"))
        out["merge_s"] = {"value": sum(wl.window_ms("maybe_merge")) / 1000.0, "unit": "s"}
    if wl.name in ("query_serve", "upsert_mix"):
        _ms_metric(out, "query_exact_ms", wl.window_ms("search"))
        _ms_metric(out, "query_wand_ms", wl.window_ms("search_wand"))
    if wl.name == "upsert_mix":
        _ms_metric(out, "update_ms", wl.window_ms("update_by_query"), with_tail=False)
        _ms_metric(out, "delete_ms", wl.window_ms("delete_by_query"), with_tail=False)
        _ms_metric(out, "refresh_ms", wl.window_ms("refresh"), with_tail=False)
    return out


def traced_extras(wl, phases: dict) -> dict:
    """Per-layer numbers measured by extra, untimed calls after the window."""
    spark, store = wl.spark, wl.store
    out = {
        "session.start_s": phases["start"],
        "session.corpus_gen_s": phases["corpus_gen"],
        "session.setup_build_s": phases["setup_build"],
        "analysis.kernel_ms_per_kdoc": extract_ms_per_kdoc(wl.pages),
        **codec_rates(spark, store),
        "segments.ledger_entries": len(store.ledger_entries()),
        "segments.live_segments": len(store.live_segments()),
    }
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        store.live_segments()
        ts.append((time.perf_counter() - t0) * 1000.0)
    out["segments.live_segments_ms"] = statistics.median(ts)
    out["segments.write_amp"] = dir_bytes(store.path + "/segments") / live_bytes(store)

    # WAND block counts: stats_out re-runs the scan (three extra actions),
    # so it gets its own untimed call, for the first hot and tail query
    cand = ranges = scored = 0
    if wl.reader is not None:
        seen = set()
        for rec in wl.pairs:
            q = rec["query"]
            if rec["wand"] is None or q.term_class not in ("hot", "tail") or q.term_class in seen:
                continue
            seen.add(q.term_class)
            st: dict = {}
            wl.reader.search_wand(list(q.terms), k=q.k, stats_out=st).collect()
            cand += st["candidate_blocks"]
            ranges += st["candidate_block_ranges"]
            scored += st["blocks_scored"]
    out["wand.candidate_blocks"] = cand
    out["wand.blocks_scored"] = scored
    # skippable units are block replicas per doc-id range (engine/wand.py)
    out["wand.skip_ratio"] = 1.0 - scored / ranges if ranges else 0.0
    return out


def from_spans(wl, tracer) -> dict:
    """Job counts, job time, driver gap and self time from the spans."""
    win = [s for s in tracer.spans if s.op_id]

    def spans(*names):
        return [s for s in win if s.name in names]

    def jobs(ss):
        return sum(len(tracer.jobs_of(s)) for s in ss)

    def mean_jobs(ss):
        return jobs(ss) / len(ss) if ss else 0.0

    def attr_sum(ss, key):
        return float(sum(s.attrs.get(key) or 0 for s in ss))

    def by_class(ss, cls):
        return p50([s.dur * 1000.0 for s in ss if s.attrs.get("term_class") == cls])

    ingest, merges = spans("ingest_batch"), spans("maybe_merge")
    merged = [s for s in merges if "merged" in s.attrs]
    search, wand = spans("search"), spans("search_wand")
    upd = spans("update_by_query", "delete_by_query")
    dfl = spans("df_for_terms")
    opens = [s for s in tracer.spans if s.name in ("IndexReader", "refresh")]
    self_s = tracer.self_time_by_layer(win)
    out = {
        "analysis.extract_s": attr_sum(ingest, "extract_sec"),
        "docids.ids_s": attr_sum(ingest, "ids_sec"),
        "postings.build_write_s": attr_sum(ingest, "build_write_sec"),
        "ingest.jobs_per_batch": mean_jobs(ingest),
        "ingest.job_s": sum(tracer.job_time(s) for s in ingest),
        "ingest.driver_gap_s": sum(tracer.driver_gap(s) for s in ingest),
        "merge.count": len(merged),
        "merge.jobs": jobs(merges),
        "merge.bytes_rewritten": attr_sum(merged, "bytes"),
        "merge.driver_gap_s": sum(tracer.driver_gap(s) for s in merges),
        "query.open_s": p50([s.dur for s in opens]),
        "query.jobs_per_search": mean_jobs(search),
        "query.df_lookup_ms": p50([s.dur * 1000.0 for s in dfl]),
        "query.df_memo_hit_ratio": (attr_sum(dfl, "hits") / attr_sum(dfl, "terms")) if dfl else 0.0,
        "query.driver_gap_ms": p50([tracer.driver_gap(s) * 1000.0 for s in search]),
        "wand.jobs_per_search": mean_jobs(wand),
        "wand.driver_gap_ms": p50([tracer.driver_gap(s) * 1000.0 for s in wand]),
        "updates.docs_rewritten": attr_sum(spans("update_by_query"), "docs"),
        "updates.docs_tombstoned": attr_sum(spans("delete_by_query"), "docs"),
        "updates.jobs": jobs(upd),
        "trace.overhead_ratio": tracer.bookkeeping_s / wl.busy_s,
        "trace.latency_ms.p50": p50(wl.latency_samples()),
    }
    for c in TERM_CLASSES:
        out[f"query.exact_ms.{c}"] = by_class(search, c)
        out[f"wand.wand_ms.{c}"] = by_class(wand, c)
    for layer in ("ingest", "merge", "query", "wand", "updates", "bench"):
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    out["bench.self_s"] -= sum(wl.probe_ms) / 1000.0   # the host-speed probes
    return out
