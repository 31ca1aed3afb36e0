"""Correctness gate, run after the timed window.

A run is correct only if every check here holds:
- each `search` / `search_wand` pair is rank-identical;
- on merged stores, a query sample's top-k equals the DuckDB oracle
  (`engine.query.bm25_topk_oracle_sql`) rank for rank, the two sides
  joined by url because the engine assigns its own doc ids;
- no tombstoned or superseded version of a page is ever returned;
- committed doc counts, token sums and ledger offsets match the
  generated source, and update/delete counts match the benchmark's model.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

from engine.analysis import py_tokenize
from engine.query import bm25_topk_oracle_sql
from perfbench.workloads import rows_in

ORACLE_SAMPLE = 6


class Gate:
    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def check_pairs(wl, gate: Gate) -> None:
    for rec in wl.pairs:
        if rec["wand"] is not None:
            gate.expect(rec["exact"] == rec["wand"], f"exact != wand for {rec['query']}")


def check_offsets(wl, gate: Gate, rows: int) -> None:
    parts = wl.parts
    want = {p: rows // parts - 1 for p in range(parts)}
    gate.expect(rows % parts == 0 and wl.store.committed_offsets() == want,
                f"ledger offsets {wl.store.committed_offsets()} != {want}")


def check_counts(wl, gate: Gate, rows: int) -> None:
    """Live doc count and token sum equal the committed source rows."""
    texts = wl.pages["text"][:rows]
    st = wl.store.global_stats()
    gate.expect(st["n_docs"] == rows, f"n_docs {st['n_docs']} != {rows}")
    want_dl = sum(len(py_tokenize(t)) for t in texts)
    gate.expect(st["sum_dl"] == want_dl, f"sum_dl {st['sum_dl']} != {want_dl}")
    n = wl.store.docs(wl.spark).count()
    gate.expect(n == rows, f"doc table rows {n} != {rows}")


def oracle_sample(pairs: list[dict]) -> list[dict]:
    """Distinct queries, one per (class, conjunctive) first, up to the cap."""
    seen, first, rest = set(), [], []
    for rec in pairs:
        q = rec["query"]
        key = (q.terms, q.k, q.conjunctive)
        if key in seen:
            continue
        seen.add(key)
        kind = (q.term_class, q.conjunctive)
        (rest if any((r["query"].term_class, r["query"].conjunctive) == kind for r in first) else first).append(rec)
    return (first + rest)[:ORACLE_SAMPLE]


def check_oracle(gate: Gate, docs: pd.DataFrame, recs: list[dict]) -> None:
    """`docs`: the store's live documents (doc_id, url, text)."""
    url_of = dict(zip(docs["doc_id"], docs["url"]))
    con = duckdb.connect()
    try:
        con.register("documents", docs[["doc_id", "text"]])
        for rec in recs:
            q = rec["query"]
            sql = bm25_topk_oracle_sql(list(q.terms), k=q.k, conjunctive=q.conjunctive)
            want = [(url_of[d], round(s, 4)) for d, s in con.execute(sql).fetchall()]
            got = [(url_of.get(d), round(s, 4)) for d, s in rec["exact"]]
            gate.expect(got == want, f"oracle mismatch for {q}: {got[:3]} vs {want[:3]}")
    finally:
        con.close()


def store_docs(wl, text_of: dict[str, str]) -> pd.DataFrame:
    """The store's (doc_id, url) with each url's generated text."""
    docs = wl.store.docs(wl.spark).select("doc_id", "url").toPandas()
    docs["text"] = docs["url"].map(text_of)
    return docs


def check_ingest_stream(wl, gate: Gate) -> None:
    rows = rows_in(wl.store)
    check_offsets(wl, gate, rows)
    check_counts(wl, gate, rows)


def check_query_serve(wl, gate: Gate) -> None:
    rows = rows_in(wl.store)
    gate.expect(rows == wl.corpus_docs, f"ingested {rows} of {wl.corpus_docs} rows")
    gate.expect(len(wl.store.live_segments()) == 1, "query store is not one merged segment")
    check_offsets(wl, gate, rows)
    check_counts(wl, gate, rows)
    check_pairs(wl, gate)
    text_of = dict(zip(wl.pages["url"], wl.pages["text"]))
    check_oracle(gate, store_docs(wl, text_of), oracle_sample(wl.pairs))


def check_upsert_mix(wl, gate: Gate) -> None:
    store, model = wl.store, wl.model
    check_offsets(wl, gate, rows_in(store))
    check_pairs(wl, gate)
    for sp in wl.ctx.tracer.spans:
        if sp.name in ("update_by_query", "delete_by_query"):
            gate.expect(sp.attrs["docs"] == sp.attrs["expected"],
                        f"{sp.name} touched {sp.attrs['docs']} docs, model says {sp.attrs['expected']}")

    # every version ever written, read from the files with DuckDB: segment
    # files outlive merges, doc ids are never reused, and tombstone files
    # list doc ids
    files = glob.glob(os.path.join(store.path, "segments", "*", "docs", "*.parquet"))
    dels = glob.glob(os.path.join(store.path, "deletes", "*", "*.parquet"))
    con = duckdb.connect()
    try:
        versions = con.execute(
            "SELECT DISTINCT doc_id, url, warc_ts, source FROM read_parquet($f)", {"f": files}
        ).df()
        dead = set(con.execute("SELECT doc_id FROM read_parquet($f)", {"f": dels}).df()["doc_id"])
    finally:
        con.close()
    by_id = {int(d): (u, s) for d, u, s in versions[["doc_id", "url", "source"]].itertuples(index=False)}
    for rec in wl.pairs:
        live = wl.versions[rec["version"]]
        for side in ("exact", "wand"):
            stale = [d for d, _ in rec[side]
                     if d not in by_id or live.get(by_id[d][0]) != by_id[d][1]]
            gate.expect(not stale, f"{side} returned dead versions {stale[:3]} for {rec['query']}")

    # the store's live set (latest version per url unless tombstoned) must
    # equal the model after the last write
    latest = versions.sort_values(["url", "warc_ts", "doc_id"]).groupby("url").tail(1)
    latest = latest[~latest["doc_id"].isin(dead)]
    gate.expect(dict(zip(latest["url"], latest["source"])) == model.text,
                "live documents in the store differ from the model")


CHECKS = {
    "ingest_stream": check_ingest_stream,
    "query_serve": check_query_serve,
    "upsert_mix": check_upsert_mix,
}
