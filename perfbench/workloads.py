"""The three workloads: set-up, the timed closed loop, and what they record.

One client drives each workload in a closed loop: the next call starts
when the previous one returned. Every timed call goes through
`Ctx.timed`, which opens a span (perfbench/trace.py) around exactly one
public engine call. Queries always `collect()` their rows, and writes are
timed until `ingest_batch` / `update_by_query` / `delete_by_query` /
`merge_segments` return, which is after their ledger commit.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from engine.config import IndexConfig
from engine.corpus import CORPUS_SCHEMA, HOT_TERM
from engine.ingest import as_partitioned_source, ingest_batch
from engine.merge import maybe_merge, merge_segments
from engine.query import IndexReader
from engine.segments import IndexStore
from engine.updates import delete_by_query, update_by_query
from perfbench.inputs import (
    HEAD_TERMS, WARM_UP_TERM, LiveModel, Query, corpus_pages, fingerprint, query_stream,
)
from perfbench.measure import dir_bytes


def rows_in(store: IndexStore) -> int:
    """Source rows committed to the store (offset windows start at 0)."""
    return sum(o + 1 for o in store.committed_offsets().values())


UPDATE_SUFFIX = " yqupdated"


class Ctx:
    """State of one benchmark run, shared by the workload and the checks."""

    def __init__(self, spark, tracer, seed: int, seconds: float, cores: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.work = work
        self.rng = np.random.default_rng([seed % 2**32, 2])
        self.deadline = float("inf")
        self.probe = None   # a measure.RefJob, probed after each timed call of the window

    def expired(self) -> bool:
        return time.perf_counter() >= self.deadline

    def timed(self, name: str, layer: str, fn, *args, **kwargs):
        """Run one public engine call inside a span; returns (result, span)."""
        with self.tracer.span(name, layer) as sp:
            out = fn(*args, **kwargs)
        if self.probe is not None and sp.op_id:
            self.probe.repeat(self.probe.PER_CALL)
        return out, sp


class Workload:
    name = ""
    cfg = IndexConfig()
    corpus_docs = 0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.parts = ctx.cores          # source (Kafka-like) partitions
        self.src = None
        self.store: IndexStore | None = None
        self.reader: IndexReader | None = None
        self.pairs: list[dict] = []     # queries with their collected rows
        self.window_s = 0.0

    # -- set-up -------------------------------------------------------------
    def make_corpus(self) -> None:
        """Generate the pages and load them as the cached ingest source."""
        self.pages = corpus_pages(self.ctx.seed, self.corpus_docs)
        self.src = as_partitioned_source(
            self.spark.createDataFrame(self.pages, CORPUS_SCHEMA), self.parts
        ).cache()
        self.src.count()

    def new_store(self, name: str) -> IndexStore:
        return IndexStore(os.path.join(self.ctx.work, "stores"), name, cfg=self.cfg).create()

    def build(self) -> None:
        """The workload's set-up build, after the corpus exists."""
        raise NotImplementedError

    def inputs_fingerprint(self) -> str:
        return fingerprint(self.ctx.seed, self.pages)

    # -- shared calls --------------------------------------------------------
    def ingest(self, store: IndexStore, rows_per_partition: int):
        res, sp = self.ctx.timed(
            "ingest_batch", "ingest", ingest_batch, self.spark, store, self.src,
            store.next_entry_id(), store.committed_offsets(), rows_per_partition, self.cfg,
        )
        sp.attrs.update(res.metrics if res is not None else {})
        return res

    def merge_step(self, store: IndexStore, merge_factor: int) -> None:
        out, sp = self.ctx.timed(
            "maybe_merge", "merge", maybe_merge, self.spark, store, merge_factor, self.cfg,
        )
        if out is not None:
            sp.attrs["merged"] = out
            sp.attrs["bytes"] = dir_bytes(store.segment_path(out))

    def query_pair(self, q: Query, extra: dict | None = None) -> None:
        """One query as `search` and (unless conjunctive) `search_wand`;
        both collect their rows inside the timed call."""
        ctx = self.ctx
        if ctx.tracer.enabled:
            _, sp = ctx.timed("df_for_terms", "query", self.reader.df_for_terms, list(q.terms))
            sp.attrs["terms"] = len(set(q.terms))
            sp.attrs["hits"] = len(set(q.terms) & self.memo_terms)
            self.memo_terms |= set(q.terms)
        exact, sp = ctx.timed(
            "search", "query",
            lambda: self.reader.search(list(q.terms), k=q.k, conjunctive=q.conjunctive).collect(),
        )
        sp.attrs["term_class"] = q.term_class
        rec = {"query": q, "exact": [(int(r[0]), float(r[1])) for r in exact], "wand": None}
        if not q.conjunctive:
            wand, sp = ctx.timed(
                "search_wand", "wand",
                lambda: self.reader.search_wand(list(q.terms), k=q.k, strategy="wand").collect(),
            )
            sp.attrs["term_class"] = q.term_class
            rec["wand"] = [(int(r[0]), float(r[1])) for r in wand]
            self.memo_terms |= set(q.terms)   # search_wand memoizes its dfs
        rec.update(extra or {})
        self.pairs.append(rec)

    def open_reader(self, store: IndexStore) -> None:
        if self.reader is not None:
            self.reader.close()
        self.reader, _ = self.ctx.timed(
            "IndexReader", "query", IndexReader, self.spark, store, self.cfg
        )
        self.memo_terms: set[str] = set()   # terms whose df the reader memoized

    def refresh_reader(self) -> None:
        self.ctx.timed("refresh", "query", self.reader.refresh)
        self.memo_terms = set()

    # -- the window ----------------------------------------------------------
    def warm_up(self) -> None:
        """One untimed query pair on a term the window never queries, so the
        window's first reads do not pay first-use cost."""
        self.query_pair(Query((WARM_UP_TERM,), 10, False, "warm_up", False))

    def window(self, ref) -> None:
        """The closed loop; `ref` (a measure.RefJob) is probed after every
        timed call, and the probes' time is left out of `busy_s`."""
        ctx = self.ctx
        t0 = time.perf_counter()
        ctx.deadline = t0 + ctx.seconds
        ctx.probe, n = ref, len(ref.ms)
        try:
            while not ctx.expired():
                with ctx.tracer.span("op", "bench", op_id=ctx.tracer.new_op()):
                    self.step()
        finally:
            ctx.probe, ctx.deadline = None, float("inf")
        self.window_s = time.perf_counter() - t0
        self.probe_ms = ref.ms[n:]
        self.busy_s = self.window_s - sum(self.probe_ms) / 1000.0

    def step(self) -> None:
        raise NotImplementedError

    def window_ms(self, *names: str) -> list[float]:
        """Durations (ms) of the window's calls with these names."""
        return [s.dur * 1000.0 for s in self.ctx.tracer.spans
                if s.name in names and s.op_id]

    def latency_samples(self) -> list[float]:
        """Query calls: the latency a searcher sees."""
        return self.window_ms("search", "search_wand")

class IngestStream(Workload):
    """The consumer loop: small ingest windows, maybe_merge after each."""

    name = "ingest_stream"
    corpus_docs = 8_000
    batch_docs = 200
    merge_factor = 4

    def build(self) -> None:
        self.store = self.new_store("stream")

    def warm_up(self) -> None:
        pass

    def step(self) -> None:
        res = self.ingest(self.store, self.batch_docs // self.parts)
        if res is None:
            raise RuntimeError("corpus exhausted: raise IngestStream.corpus_docs")
        self.merge_step(self.store, self.merge_factor)

    def latency_samples(self) -> list[float]:
        return self.window_ms("ingest_batch")

    def throughput(self) -> float:
        return rows_in(self.store) / self.busy_s


class QueryServe(Workload):
    """A held-open reader over one merged segment, serving a query stream."""

    name = "query_serve"
    corpus_docs = 2_000

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.queries = query_stream(ctx.seed)

    def inputs_fingerprint(self) -> str:
        return fingerprint(self.ctx.seed, self.pages, self.queries)

    def build(self) -> None:
        self.store = self.new_store("serve")
        rpp = -(-self.corpus_docs // (2 * self.parts))
        for _ in range(2):
            self.ingest(self.store, rpp)
        self.ctx.timed(
            "merge_segments", "merge", merge_segments, self.spark, self.store, None, self.cfg,
        )
        self.open_reader(self.store)
        self.next_query = 0

    def step(self) -> None:
        q = self.queries[self.next_query % len(self.queries)]
        self.next_query += 1
        self.query_pair(q)



class UpsertMix(Workload):
    """Writes beside reads on a multi-segment store with stored source."""

    name = "upsert_mix"
    cfg = IndexConfig(store_source=True)
    base_docs = 900                      # the set-up's ingest batch
    new_docs = 100                       # new pages per round
    max_rounds = 8
    corpus_docs = base_docs + new_docs * max_rounds
    merge_factor = 2

    def build(self) -> None:
        self.store = self.new_store("mix")
        self.model = LiveModel()
        self.mutation_terms: list[tuple[str, str]] = []
        self.add_pages(self.store, self.base_docs)
        # one update and one delete, so the window starts on a store with
        # superseded and tombstoned docs and the mutation paths loaded
        self.mutate(self.store)
        self.open_reader(self.store)
        self.versions = [dict(self.model.text)]   # live texts at each reader (re)open
        self.rounds = 0

    def inputs_fingerprint(self) -> str:
        return fingerprint(self.ctx.seed, self.pages, self.mutation_terms)

    def add_pages(self, store: IndexStore, n: int) -> None:
        lo = rows_in(store)
        self.ingest(store, n // self.parts)
        hi = rows_in(store)
        self.model.add(self.pages["url"][lo:hi], self.pages["text"][lo:hi])

    def mutate(self, store: IndexStore, expired=lambda: False) -> tuple[str, str] | None:
        """update_by_query then delete_by_query on seeded tail terms."""
        ctx, model = self.ctx, self.model
        used = {t for pair in self.mutation_terms for t in pair}
        tu = model.pick_tail_term(ctx.rng, used)
        td = model.pick_tail_term(ctx.rng, used | {tu})
        self.mutation_terms.append((tu, td))
        res, sp = ctx.timed(
            "update_by_query", "updates", update_by_query, self.spark, store, [tu],
            lambda c: F.concat(c, F.lit(UPDATE_SUFFIX)), batch_id=store.next_entry_id(),
        )
        sp.attrs["docs"] = res.n_docs if res is not None else 0
        sp.attrs["expected"] = model.update(tu, UPDATE_SUFFIX)
        if expired():
            return None
        n, sp = ctx.timed("delete_by_query", "updates", delete_by_query, self.spark, store, [td])
        sp.attrs["docs"] = n
        sp.attrs["expected"] = model.delete(td)
        return tu, td

    def warm_up(self) -> None:
        self.query_pair(Query((WARM_UP_TERM,), 10, False, "warm_up", False),
                        extra={"version": len(self.versions) - 1})

    def step(self) -> None:
        """One round. The cycle is ingest, update, delete, refresh, reads,
        merge, started at the reads: the set-up ends with its own update,
        delete and reader open, and every window then holds reads even when
        it ends mid-round. The window may end between any two calls."""
        ctx, store = self.ctx, self.store
        if self.rounds >= self.max_rounds:
            raise RuntimeError("corpus exhausted: raise UpsertMix.max_rounds")
        self.rounds += 1
        tu, td = self.mutation_terms[-1]
        h1, h2 = (str(t) for t in ctx.rng.choice(HEAD_TERMS, size=2, replace=False))
        for q in (Query((tu, h1), 10, False, "tail", False),
                  Query((HOT_TERM, td), 100, False, "hot", False),
                  Query((tu, td), 1, False, "tail", False),
                  Query((td, h2), 10, False, "tail", False)):
            self.query_pair(q, extra={"version": len(self.versions) - 1})
            if ctx.expired():
                return
        self.merge_step(store, self.merge_factor)
        if ctx.expired():
            return
        self.add_pages(store, self.new_docs)
        if ctx.expired() or self.mutate(store, ctx.expired) is None or ctx.expired():
            return
        self.refresh_reader()
        self.versions.append(dict(self.model.text))


WORKLOADS = {w.name: w for w in (IngestStream, QueryServe, UpsertMix)}
