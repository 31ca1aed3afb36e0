"""BM25 scoring + top-k retrieval (exact DataFrame path).

Re-implements the ranking the reference delegates to Elasticsearch 5.5
(/root/reference/build.gradle:42): BM25 with k1=1.2, b=0.75 over the
`standard`-analyzed token stream, disjunctive (OR) term matching by default
(ES query-string semantics), conjunctive via a having-count filter
(SURVEY.md §2.5 D6-D8).

Formula (ES 5.5 defaults, SURVEY.md §2.5 D6):
    score(q,d) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)     = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
We use exact doc lengths (no Lucene 1-byte norm quantization) on both the
engine and the golden oracle so results agree exactly (SURVEY.md §5.2).

Plan shape / scale notes:
- Query terms are broadcast (a query has <=dozens of terms; never shuffle
  the corpus against them).
- tf/df/doc_len aggregations are plain hash aggregates -> Catalyst does
  partial (map-side) aggregation automatically.
- Per-doc score sum + global top-k: `groupBy(doc_id).sum` then
  TakeOrderedAndProject (orderBy + limit) — no full sort is materialized.
- Scores are rounded to SCORE_DECIMALS before ranking; ties break by
  doc_id asc (documented tie-break, mirrors ES internal-docid tie-break).
"""

from __future__ import annotations

import sys
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine import segments
from engine.codecs import decode_posting_blocks_batch
from engine.config import SCORE_DECIMALS, TOKEN_PATTERN, IndexConfig, DEFAULT_CONFIG
from engine.wand import _idf, bm25_tf_norm, keep_not_in, sorted_ids, spark_round

# Most candidate blocks IndexReader scores on the driver for one query,
# counted over its terms whether their memo entries hold them or a read
# brings them (~7.7M postings at block_size 128); a query with more blocks
# runs the distributed exact / WAND plans instead. Re-timed with the
# driver read on a 1M-doc store (2 merged segments, local[4], 4-core
# host), medians of 3, read / whole search: 8 / 39 ms at 64 blocks, 15 /
# 408 ms at 7,809, 65 / 1,243 ms at 29,963 and 142 / 2,960 ms at 59,946,
# where the distributed exact plan took 6,319 ms. Scoring, not the read,
# dominates past ~1k blocks, the crossover is still not reached, and the
# cap stays at the largest size measured. It also bounds what one query
# holds on the driver: peak driver RSS was ~0.95 GB after the 59,946-block
# queries.
GATHER_MAX_BLOCKS = 60_000

# block columns the driver scorer reads
_GATHER_COLS = ("term", "n", "doc_bytes", "tf_bytes", "dl_bytes")


def corpus_tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) one row per token occurrence — the exploded stream."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )


def term_frequencies(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — the uncompressed posting relation."""
    return (
        corpus_tokens(docs, id_col, text_col)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, doc_len) exact token counts, empty text -> 0."""
    # cast to long: DuckDB len() is BIGINT and the driver compares schemas
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("doc_len"),
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) from the posting relation (each (doc,term) row is distinct)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(doclen: DataFrame) -> DataFrame:
    """Single row (n_docs, avgdl)."""
    return doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )


def bm25_contribs(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, matched term) BM25 components over a raw document table:
    (doc_id, term, tf, df, doc_len, n_docs, avgdl, idf, contrib) where
    contrib = idf * tf / (tf + k1*(1 - b + b*dl/avgdl)).

    The single source of the BM25 formula for the corpus paths: bm25_topk
    sums it, explain_scores exposes it, function_score_topk boosts it —
    one expression tree, no copies to desynchronize.

    Scale-critical shape: the exploded token stream is broadcast-semi-
    filtered to the query terms BEFORE any shuffle, so tf aggregates only
    matching occurrences; df is computed only for query terms (values
    identical to full-corpus df for those terms); stats is a broadcast
    single row."""
    q_terms = sorted(set(query_terms))
    q = spark.createDataFrame([(t,) for t in q_terms], "term string")
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)
    matched = corpus_tokens(docs, id_col, text_col).join(F.broadcast(q), "term")
    tf = matched.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    rows = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("doc_len") / F.col("avgdl")
    )
    return rows.withColumn("idf", idf).withColumn(
        "contrib", F.col("idf") * (F.col("tf") / denom)
    )


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
    conjunctive: bool = False,
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
    filter_docs: DataFrame | None = None,
    exclude_doc_ids: list[int] | None = None,
) -> DataFrame:
    """Exact BM25 top-k over a raw document table (no prebuilt index).

    Returns (doc_id, score) with score rounded to SCORE_DECIMALS; top-k by
    (score desc, doc_id asc). Disjunctive by default; conjunctive=True keeps
    only docs matching ALL query terms (D8).

    ES `bool` query semantics (SURVEY.md §2.5 D14):
    - `min_should_match`: a doc must match at least this many DISTINCT
      query terms (ES minimum_should_match over should-clauses; counts
      distinct terms since the query term set is deduped). conjunctive is
      the min_should_match == len(terms) special case.
    - `must_not_terms`: docs containing ANY of these terms are excluded.
      Non-scoring, exactly ES filter context: df/avgdl/n_docs and the
      positive terms' score contributions are unaffected by the exclusion.
    - `filter_docs`: a (doc_id) DataFrame restricting which docs may appear
      in results — ES bool FILTER context (e.g. a `range` clause): scores,
      df, avgdl, n_docs are computed as if unfiltered; the filter only
      gates result membership (left-semi join before the top-k).
    - `exclude_doc_ids`: a SMALL literal id exclusion (e.g. more_like_this
      dropping its source doc) — a NOT-isin filter, never a join.
    """
    q_terms = sorted(set(query_terms))
    contribs = bm25_contribs(
        spark, docs, q_terms, cfg=cfg, id_col=id_col, text_col=text_col
    )
    per_doc = contribs.groupBy("doc_id").agg(
        F.sum("contrib").alias("raw_score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    msm = len(q_terms) if conjunctive else min_should_match
    if msm:
        per_doc = per_doc.where(F.col("n_terms_matched") >= F.lit(int(msm)))
    if must_not_terms:
        negq = spark.createDataFrame(
            [(t,) for t in sorted(set(must_not_terms))], "term string"
        )
        # same pre-shuffle broadcast-semi-filter shape as the positive
        # terms: only must_not occurrences move, distinct'd to doc ids
        neg_docs = (
            corpus_tokens(docs, id_col, text_col)
            .join(F.broadcast(negq), "term")
            .select("doc_id")
            .distinct()
        )
        per_doc = per_doc.join(neg_docs, "doc_id", "left_anti")
    if filter_docs is not None:
        per_doc = per_doc.join(
            filter_docs.select("doc_id"), "doc_id", "left_semi"
        )
    if exclude_doc_ids:
        per_doc = per_doc.where(~F.col("doc_id").isin(list(exclude_doc_ids)))

    return (
        per_doc.select(
            "doc_id", F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def index_term_contribs(
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    cfg: IndexConfig = DEFAULT_CONFIG,
    live_docs: DataFrame | None = None,
    codec: str = "varint",
) -> DataFrame:
    """Per-(doc, matched term) BM25 contributions from a prebuilt
    block-postings index: (doc_id, term, contrib). The index twin of
    bm25_contribs — the single source of the indexed-path BM25 formula:
    bm25_topk_from_index sums it, simple_query_string_store mixes it with
    phrase contributions. df(t) comes from the candidate blocks
    (pre-live-filter — Lucene deleted-doc stats semantics); n_docs/avgdl
    come from the caller's stored stats."""
    from engine.postings import decode_postings, term_stats

    q_terms = sorted(set(query_terms))
    cand = postings.where(F.col("term").isin(q_terms))
    tf = decode_postings(cand, codec=codec)
    dfreq = term_stats(cand)  # df(t) = sum of block n per term — exact
    if live_docs is not None:
        tf = tf.join(live_docs.select("doc_id"), "doc_id", "left_semi")

    matched = tf.join(F.broadcast(dfreq), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("dl") / F.lit(float(avgdl))
    )
    return matched.select(
        "doc_id", "term", (idf * (F.col("tf") / denom)).alias("contrib")
    )


def bm25_topk_from_index(
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    conjunctive: bool = False,
    live_docs: DataFrame | None = None,
    codec: str = "varint",
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
) -> DataFrame:
    """Exact BM25 top-k over a prebuilt block-postings index.

    `min_should_match` / `must_not_terms`: ES bool semantics (see
    bm25_topk). must_not doc ids come from the excluded terms' posting
    blocks via the doc-ids-only decode (tf/dl streams untouched), pushed
    isin scan filter, then a distributed anti-join — non-scoring, so
    df/stats are unaffected.

    `postings`: POSTINGS_SCHEMA block rows (engine.postings); doc lengths
    travel inside the blocks (dl_bytes), so scoring needs NO doc-table join.
    n_docs/avgdl come from index stats. `live_docs` (doc_id) optionally
    restricts results to non-superseded docs (multi-segment upsert, D10).

    The term filter uses isin() so a Parquet-backed postings table gets
    predicate pushdown + row-group skipping (postings are written sorted by
    term); only the query terms' blocks are ever read or decoded.
    """
    per_doc = index_term_contribs(
        postings, n_docs, avgdl, query_terms, cfg=cfg, live_docs=live_docs,
        codec=codec,
    ).groupBy("doc_id").agg(
        F.sum("contrib").alias("raw_score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    q_terms = sorted(set(query_terms))
    msm = len(q_terms) if conjunctive else min_should_match
    if msm:
        per_doc = per_doc.where(F.col("n_terms_matched") >= F.lit(int(msm)))
    if must_not_terms:
        from engine.postings import decode_postings_doc_ids

        neg_blocks = postings.where(
            F.col("term").isin(sorted(set(must_not_terms)))
        )
        per_doc = per_doc.join(
            decode_postings_doc_ids(neg_blocks, codec=codec), "doc_id", "left_anti"
        )
    return (
        per_doc.select(
            "doc_id", F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_store(
    spark: SparkSession,
    store,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    conjunctive: bool = False,
    routing: str | None = None,
    routing_key=None,
    num_shards: int | None = None,
    routing_key_dtype: str | None = None,
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
) -> DataFrame:
    """BM25 top-k over a persisted multi-segment index (engine.segments).

    Semantics across segments (Lucene-like, documented):
    - superseded docs (older (url, warc_ts)) are excluded from results via
      the live-docs join, but
    - df and avgdl come from the stored per-segment stats, which include
      superseded docs until a merge expunges them (exactly how deleted docs
      affect Lucene/ES scores until merge).

    `routing` (D9): restrict the search to one routing partition. The
    postings/docs scans prune to that partition's files, and scoring uses
    the partition's own stats (shard-local BM25 — exactly what a routed ES
    query_then_fetch search does: it scores on the routed shard's stats).
    df(t) likewise comes from the pruned blocks (bm25_topk_from_index
    derives it from the candidate set), so it is the partition-local df.

    `routing_key` + `num_shards`: query by the RAW key a
    `static_assigner(num_shards=...)` store was placed with — the shard is
    derived via `routing_for` (same JVM hash as the write path), mirroring
    ES client-side routing (the user never computes shard numbers).
    """
    if routing_key is not None:
        if routing is not None:
            raise ValueError("pass either routing or routing_key, not both")
        if not num_shards:
            raise ValueError("routing_key requires num_shards")
        from engine.assign import routing_for

        # xxhash64 is type-sensitive: a store sharded on a non-string
        # column needs the key hashed as that type (routing_key_dtype,
        # e.g. "bigint"), or the derived shard silently misses
        routing = routing_for(spark, routing_key, num_shards,
                              dtype=routing_key_dtype)
    return _store_topk(
        spark, store.view(), routing, query_terms, k, cfg, conjunctive,
        min_should_match=min_should_match, must_not_terms=must_not_terms,
    )


def search_via_alias(
    spark: SparkSession,
    store,
    alias: str,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    conjunctive: bool = False,
) -> DataFrame:
    """BM25 top-k through an alias: the alias's ROUTING value prunes the
    search to one routing partition (shard-local stats, like search_store's
    `routing`) and its term FILTER restricts which documents may appear in
    results — the reference's addAliasWithRoutingToExistingIndex(index,
    alias, routing, field=value) applied to a search request
    (ElasticSearchClientService.java:135-138).

    ES semantics mirrored exactly: the filter is a non-scoring restriction
    (df/n_docs/avgdl stay the searched partition's own stats; a filtered
    alias does not re-weight IDF), so the filter lands on the LIVE-DOCS
    side, never on the stats."""
    view = store.view()
    spec = view.store.alias_spec(alias)
    col = spec.get("filter_col")
    return _store_topk(
        spark, view, spec.get("routing"), query_terms, k, cfg, conjunctive,
        doc_filter=None if col is None else F.col(col) == F.lit(spec["filter_val"]),
    )


def _store_topk(
    spark: SparkSession,
    view,
    routing: str | None,
    query_terms: list[str],
    k: int,
    cfg: IndexConfig,
    conjunctive: bool,
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
    doc_filter=None,
) -> DataFrame:
    """bm25_topk_from_index over `view`'s segments (one routing partition
    with `routing`): that partition's stats and postings, results
    restricted to its live docs and, with `doc_filter` (a Column over the
    docs), to the docs it accepts — a non-scoring filter."""
    stats = view.stats(routing)
    docs = view.docs(spark, routing)
    live = view.live_docs(spark, docs)
    if doc_filter is not None:
        live = (docs if live is None else live).where(doc_filter)
    return bm25_topk_from_index(
        view.postings(spark, routing),
        stats["n_docs"],
        stats["avgdl"],
        query_terms,
        k=k,
        cfg=cfg,
        conjunctive=conjunctive,
        live_docs=live,
        codec=view.codec,
        min_should_match=min_should_match,
        must_not_terms=must_not_terms,
    )


_HIT = Row("doc_id", "score")


class Hits:
    """An IndexReader search's top-k, on the driver: an immutable tuple of
    Row(doc_id, score) with Python int / float fields, in rank order
    (score desc, doc_id asc). It answers the calls a search's callers make
    of a result (`collect()`, `columns`, `count()`); the search_store*
    functions return Spark plans instead."""

    __slots__ = ("_rows",)

    def __init__(self, rows=()):
        self._rows = tuple(_HIT(d, s) for d, s in rows)

    @property
    def columns(self) -> list[str]:
        return ["doc_id", "score"]

    def collect(self) -> list[Row]:
        return list(self._rows)

    def count(self) -> int:
        return len(self._rows)

    def __repr__(self) -> str:
        return f"Hits({list(self._rows)!r})"


def topk_rounded(doc_ids: np.ndarray, raw: np.ndarray, k: int) -> Hits:
    """(doc_id, score) top-k by (rounded score desc, doc_id asc), the order
    the Spark plans produce. `doc_ids` must be ascending (np.unique order),
    so of the docs tied at the k-th rounded score the first ones win."""
    scores = spark_round(raw)
    if k <= 0:
        doc_ids, scores = doc_ids[:0], scores[:0]
    elif len(scores) > k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        above = np.flatnonzero(scores > kth)
        ties = np.flatnonzero(scores == kth)[: k - len(above)]
        sel = np.concatenate([above, ties])
        doc_ids, scores = doc_ids[sel], scores[sel]
    order = np.lexsort((doc_ids, -scores))
    return Hits(zip(doc_ids[order].tolist(), scores[order].tolist()))


class _Scored(NamedTuple):
    """One term scored over a reader view: its block count, its df (block
    `n` summed, superseded and tombstoned docs included, as term_stats
    counts), the ids of its live postings (int64) with their BM25
    contributions (float64), and the footer-pruned row groups a read of
    the term opens."""

    blocks: int
    df: int
    ids: np.ndarray
    contrib: np.ndarray
    row_groups: np.ndarray

    @property
    def nbytes(self) -> int:
        return sum(sys.getsizeof(a) for a in (self.ids, self.contrib, self.row_groups))


class _TermMemo:
    """The scored terms of one reader view: an LRU of _Scored entries of at
    most POSTINGS_CACHE_BYTES bytes (an entry alone past the bound is
    scored but not kept). A lookup reads, decodes and scores only the
    terms it lacks, in one PostingsFiles.read. The entries are guarded by
    a lock and a fill runs outside it: two callers may score one term
    twice, to equal entries."""

    def __init__(self, view, stats: dict, deleted: np.ndarray | None, cfg: IndexConfig):
        self._view = view
        self._n_docs = float(stats["n_docs"])
        self._avgdl = float(stats["avgdl"])
        self._deleted = deleted
        self._cfg = cfg
        self._lock = threading.Lock()
        self._entries: OrderedDict[str, _Scored] = OrderedDict()
        self.nbytes = 0

    def get(self, terms: list[str], stats_out: dict | None = None) -> dict[str, _Scored] | None:
        """`terms` (distinct) scored, or None when they hold more than
        GATHER_MAX_BLOCKS blocks. `stats_out` gets row_groups_read (from
        disk, by this call) and row_groups_cached (the rest of the row
        groups the terms' reads open)."""
        got = {}
        with self._lock:
            for t in terms:
                e = self._entries.get(t)
                if e is not None:
                    self._entries.move_to_end(t)
                    got[t] = e
        room = GATHER_MAX_BLOCKS - sum(e.blocks for e in got.values())
        if room < 0:
            return None
        missing = [t for t in terms if t not in got]
        st = {"row_groups_read": 0}
        if missing:
            new = self._score(missing, room, st)
            if new is None:
                return None
            got.update(new)
            self._keep(new)
        if stats_out is not None:
            rgs = np.unique(np.concatenate([got[t].row_groups for t in terms])) if terms else ()
            n_read = st["row_groups_read"]
            stats_out.update(row_groups_read=n_read, row_groups_cached=len(rgs) - n_read)
        return got

    def _score(self, terms: list[str], room: int, stats_out: dict) -> dict[str, _Scored] | None:
        """`terms` read, decoded and scored, or None past `room` blocks:
        the same df, formula and operation order as the Spark plan, so
        each contribution equals the plan's bit for bit."""
        terms = sorted(terms)
        pf = self._view.postings_files
        blocks = pf.read(terms, _GATHER_COLS, room + 1, stats_out)
        if blocks.num_rows > room:
            return None
        code = np.searchsorted(np.array(terms, dtype=object),
                               blocks.column("term").to_numpy(zero_copy_only=False))
        ns = blocks.column("n").to_numpy().astype(np.int64)
        docs, tfs, dls = decode_posting_blocks_batch(
            *(blocks.column(c).to_pylist() for c in ("doc_bytes", "tf_bytes", "dl_bytes")),
            ns, codec=self._view.codec,
        )
        n_blocks = np.bincount(code, minlength=len(terms))
        # df = summed block n: the same pre-live-filter count as term_stats
        df = np.bincount(code, weights=ns, minlength=len(terms))
        idf = np.array([_idf(self._n_docs, float(d)) for d in df], dtype=np.float64)
        post = np.repeat(code, ns)
        contrib = idf[post] * bm25_tf_norm(
            tfs, dls.astype(np.float64), self._cfg.k1, self._cfg.b, self._avgdl)
        keep = keep_not_in(docs, self._deleted)
        post, docs, contrib = post[keep], docs[keep], contrib[keep]
        # each term's postings together, in read (file, row group) order
        order = np.argsort(post, kind="stable")
        ends = np.cumsum(np.bincount(post, minlength=len(terms))).tolist()
        out = {}
        for i, (t, rgs) in enumerate(zip(terms, pf.term_row_groups(terms))):
            sel = order[ends[i - 1] if i else 0:ends[i]]
            out[t] = _Scored(int(n_blocks[i]), int(df[i]), docs[sel], contrib[sel], rgs)
        return out

    def _keep(self, new: dict[str, _Scored]) -> None:
        bound = segments.POSTINGS_CACHE_BYTES
        with self._lock:
            for t, e in new.items():
                if e.nbytes > bound:
                    continue
                old = self._entries.pop(t, None)
                if old is not None:
                    self.nbytes -= old.nbytes
                self._entries[t] = e
                self.nbytes += e.nbytes
            while self.nbytes > bound:
                self.nbytes -= self._entries.popitem(last=False)[1].nbytes


def _topk_scored(
    scored: dict[str, _Scored],
    q_terms: list[str],
    k: int,
    min_should_match: int | None = None,
    must_not_terms: list[str] = (),
) -> Hits:
    """bm25_topk_from_index from scored terms: each doc's contributions
    summed in sorted term order (np.bincount adds in array order), the
    order a doc's blocks come in the term-sorted files, then
    min_should_match, must_not and the rank. Same df, formula, rounding
    and tie-break as the Spark plan, so results are identical."""
    if not q_terms:
        return Hits()
    pos = [scored[t] for t in q_terms]
    uids, inv = np.unique(np.concatenate([e.ids for e in pos]), return_inverse=True)
    raw = np.bincount(inv, weights=np.concatenate([e.contrib for e in pos]), minlength=len(uids))
    # doc ids are unique per term, so postings per doc = distinct terms matched
    if min_should_match:
        hit = np.bincount(inv, minlength=len(uids)) >= int(min_should_match)
        uids, raw = uids[hit], raw[hit]
    if must_not_terms:
        neg = np.unique(np.concatenate([scored[t].ids for t in must_not_terms]))
        hit = keep_not_in(uids, neg)
        uids, raw = uids[hit], raw[hit]
    return topk_rounded(uids, raw, k)


class IndexReader:
    """Query server over a persisted index: a StoreView plus reads on the
    driver. The reader holds the view taken at open (one ledger read), and
    stats, the deleted-doc set, the postings files and every search come
    from it. A commit after the open stays invisible until `refresh()`,
    which takes a new view.

    This is the searcher/reader split Lucene makes (ES holds an
    IndexSearcher open across requests). Every search returns its top-k
    as `Hits`, rows on the driver, never a Spark DataFrame. A `search` /
    `search_wand` call makes no Spark or JVM call: it scores from the
    view's term memo, which keeps, for every term a search of the view
    needed, its block count, its df (summed block `n`), and the doc ids of
    its live postings with their BM25 contributions. A term the memo
    lacks is read on the driver from the pinned segments' postings Parquet
    files through the view's PostingsFiles (footers read at open prune
    the row groups; a row group read once stays decoded in the view's
    bounded cache), decoded and scored once, all the lacking terms of a
    search in one read; superseded and tombstoned docs drop out by a
    binary search over the sorted deleted set. A repeat term reads,
    decodes and scores nothing. The memo lives as long as the view
    (`refresh()` empties it) and is an LRU of at most
    POSTINGS_CACHE_BYTES bytes; a term whose entry alone is larger is
    scored but not kept. `df_for_terms` sums block `n` from the same kind
    of read (engine.segments.block_dfs).

    Every other search runs the store plan of its shape on the reader's
    view and collects it into `Hits` inside the call: search_store /
    search_store_wand for a query with more than GATHER_MAX_BLOCKS blocks
    or a deleted set that overflowed cfg.max_deleted_driver (superseded
    docs then drop out by the plans' live-docs join), and
    search_store_phrase for `search_phrase`. The view computes its
    deleted set and postings files once, so these plans reuse the
    reader's. The term stats behind `search_fuzzy` / `suggest` are the one
    Spark relation the reader caches, on first use.

    Concurrent callers (bench/soak.py threads) are safe: a call keeps its
    arrays in locals, the term-stats cache is built under a lock, the
    term memo and the row-group cache each have their own, and the only
    other shared mutable state is the per-term df memo."""

    def __init__(self, spark: SparkSession, store, cfg: IndexConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        self._lock = threading.Lock()
        self._open()

    def _open(self) -> None:
        self._view = self.store.view()
        self.stats = self._view.stats()
        self._df_memo: dict[str, int] = {}
        self._term_stats_cache = None  # search_fuzzy / suggest
        # superseded/tombstoned ids; too many to hold on the driver ->
        # queries run the store plans (and keep no memo) until a merge
        # shrinks the set
        deleted = self._view.deleted_doc_ids(self.spark, self.cfg.max_deleted_driver)
        self._deleted_overflow = deleted is None
        self.deleted = deleted or frozenset()
        self._memo = None if self._deleted_overflow else _TermMemo(
            self._view, self.stats, sorted_ids(self.deleted), self.cfg)

    def _term_stats_df(self) -> DataFrame:
        # a DataFrame, never collected whole: a web-scale vocabulary is
        # 10^8+ terms and would OOM the driver. Cached and materialized on
        # first use; the lock keeps concurrent callers from building it twice
        with self._lock:
            if self._term_stats_cache is None:
                df = self._view.term_stats_df(self.spark).cache()
                df.count()
                self._term_stats_cache = df
            return self._term_stats_cache

    def df_for_terms(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequencies: block `n` summed per term (what
        term_stats persists), read on the driver and memoized."""
        missing = {t for t in terms if t not in self._df_memo}
        if missing:
            self._df_memo.update(
                segments.block_dfs(self._view.postings_files.read(missing, ("term", "n")), missing))
        return {t: self._df_memo[t] for t in set(terms)}

    def refresh(self) -> None:
        self.close()
        self._open()

    def close(self) -> None:
        with self._lock:
            if self._term_stats_cache is not None:
                self._term_stats_cache.unpersist()
                self._term_stats_cache = None

    def _scored(self, terms: list[str], stats_out: dict | None = None) -> dict | None:
        """`terms` scored from the view's memo, or None when the deleted
        set overflowed or they hold more than GATHER_MAX_BLOCKS blocks
        (the caller then runs the store plan)."""
        memo = self._memo
        return None if memo is None else memo.get(terms, stats_out)

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        conjunctive: bool = False,
        min_should_match: int | None = None,
        must_not_terms: list[str] | None = None,
    ) -> Hits:
        """Exact BM25 top-k as driver rows, scored from the view's term
        memo (query and must_not terms; the ones it lacks are read and
        scored on the driver first), with no Spark or JVM call;
        search_store on the reader's view past the driver's limits.
        `min_should_match` / `must_not_terms`: ES bool semantics (see
        bm25_topk)."""
        q_terms = sorted(set(query_terms))
        neg = sorted(set(must_not_terms or ()))
        scored = self._scored(sorted(set(q_terms) | set(neg)))
        if scored is None:
            return Hits(search_store(
                self.spark, self._view, q_terms, k=k, cfg=self.cfg,
                conjunctive=conjunctive, min_should_match=min_should_match,
                must_not_terms=neg or None,
            ).collect())
        return _topk_scored(scored, q_terms, k,
                            len(q_terms) if conjunctive else min_should_match, neg)

    def search_wand(
        self,
        query_terms: list[str],
        k: int = 10,
        stats_out: dict | None = None,
        strategy: str = "wand",
    ) -> Hits:
        """BM25 top-k as driver rows, rank-identical to `search`. Below
        GATHER_MAX_BLOCKS it scores like `search`, from the view's term
        memo, with no Spark or JVM call. With every candidate block on the
        driver, the vectorized exact scorer beat the block-max scan at
        every block count measured (see GATHER_MAX_BLOCKS), so the scan
        (wand_topk) and the `strategy="auto"` cost model
        (engine.wand.wand_is_cheaper) run only in search_store_wand, the
        fallback (see the class docstring).

        `stats_out` (evidence/debug) is filled from the same execution. On
        the driver, from the memo entries: candidate_blocks =
        candidate_block_ranges = blocks_scored (the query terms' blocks,
        all scored), num_ranges 1, candidate_postings, "strategy" =
        "exact_driver" ("exact_auto" under strategy="auto"), and the row
        groups: row_groups_read from disk by this call (0 when every term
        was in the memo) and row_groups_cached, the rest of the row groups
        the terms' footer ranges select. In the fallback: what
        search_store_wand reports."""
        if strategy not in ("wand", "auto"):
            raise ValueError(f"strategy must be 'wand' or 'auto', got {strategy!r}")
        q_terms = sorted(set(query_terms))
        scored = self._scored(q_terms, stats_out)
        if scored is None:
            from engine.wand import search_store_wand

            return Hits(search_store_wand(
                self.spark, self._view, q_terms, k=k, cfg=self.cfg,
                stats_out=stats_out, strategy=strategy,
            ).collect())
        if stats_out is not None:
            n = sum(scored[t].blocks for t in q_terms)
            # on the driver the cost-based choice is always the exact scorer
            stats_out.update(
                strategy="exact_auto" if strategy == "auto" else "exact_driver",
                candidate_blocks=n, candidate_block_ranges=n, blocks_scored=n,
                num_ranges=1, candidate_postings=sum(scored[t].df for t in q_terms),
            )
        return _topk_scored(scored, q_terms, k)

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_expansions: int | None = None,
    ) -> Hits:
        """Fuzzy BM25 top-k from the held-open reader: the Levenshtein
        expansion scans the term-stats relation (the term dictionary,
        cached on first use), then the expanded disjunction runs through
        self.search."""
        from engine.fuzzy import MAX_EXPANSIONS, fuzzy_expansions

        terms = fuzzy_expansions(
            self._term_stats_df().select("term"),
            term,
            max_edits=max_edits,
            prefix_length=prefix_length,
            max_expansions=MAX_EXPANSIONS if max_expansions is None else max_expansions,
        )
        return self.search(terms, k=k) if terms else Hits()

    def suggest(
        self,
        term: str,
        size: int = 5,
        max_edits: int = 2,
        min_doc_freq: int = 1,
        suggest_mode: str = "always",
    ) -> DataFrame:
        """ES term suggester ("did you mean") from the held-open reader:
        corrections ranked (distance, df desc, term) over the term-stats
        relation (cached on first use) — the dictionary is the only thing
        consulted, postings and documents are never touched."""
        from engine.fuzzy import term_suggest

        return term_suggest(
            self._term_stats_df(), term, size=size, max_edits=max_edits,
            min_doc_freq=min_doc_freq, suggest_mode=suggest_mode,
        )

    def search_phrase(self, phrase: list[str], k: int = 10) -> Hits:
        """ES match_phrase from the held-open reader (query-server mode):
        engine.positions.search_store_phrase on the reader's view,
        collected — the pinned segments' positions sidecars, superseded
        docs dropped by the live-docs join."""
        from engine.positions import search_store_phrase

        return Hits(search_store_phrase(
            self.spark, self._view, phrase, k=k, cfg=self.cfg
        ).collect())


# ---------------------------------------------------------------------------
# ANSI-SQL oracle generator (DuckDB) — same math, same rounding, same ties.
# ---------------------------------------------------------------------------


def bm25_topk_oracle_sql(
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    conjunctive: bool = False,
    doc_filter: str | None = None,
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
) -> str:
    """`doc_filter`: SQL predicate over doc_id restricting which docs may
    appear in results WITHOUT changing df/avgdl/n_docs (the filtered-alias
    search semantics: a non-scoring filter). `min_should_match` /
    `must_not_terms`: the bool-query oracle (same semantics as bm25_topk)."""
    terms_values = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    n_terms = len(set(query_terms))
    msm = n_terms if conjunctive else min_should_match
    having = f"HAVING count(*) >= {int(msm)}" if msm else ""
    conds = [doc_filter] if doc_filter else []
    if must_not_terms:
        neg_in = ", ".join(f"'{t}'" for t in sorted(set(must_not_terms)))
        conds.append(
            "tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM toks "
            f"WHERE term IN ({neg_in}))"
        )
    where_docs = f"WHERE {' AND '.join(conds)}" if conds else ""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
), dl AS (
  SELECT {id_col} AS doc_id,
         len(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS doc_len
  FROM {table}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
), q(term) AS (
  VALUES {terms_values}
), scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  {where_docs}
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_topk_fields(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    fields: list[tuple[str, float]],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    mode: str = "most_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES-style multi-field BM25, each field with its OWN
    tf/df/doc-length/avgdl (per-field norms). The reference posts the whole
    JSON `_source` and ES 5.5 indexes every field
    (ElasticSearchBatchService.java:60), so a reference user's
    `fields=["title^2","text"]` query is first-class here too (VERDICT r04
    "What's missing" #2).

    `mode="most_fields"`: score = sum over fields of boost * field BM25.
    `mode="best_fields"`: ES dis_max — score = best field score +
    tie_breaker * (sum of the other fields' scores); tie_breaker=0 is the
    pure dis_max default, 1.0 degenerates to most_fields.

    `fields`: [(column_name, boost), ...] — each column holds that field's
    text. Per field this is the shared bm25_contribs relation
    (broadcast-semi-filtered token stream, broadcast df/stats); the union
    is field-count bounded and the top-k is a TakeOrderedAndProject."""
    from functools import reduce

    if mode not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown mode {mode!r}")
    q_terms = sorted(set(query_terms))
    parts = []
    for field, boost in fields:
        contribs = bm25_contribs(
            spark, docs, q_terms, cfg=cfg, id_col=id_col, text_col=field
        )
        parts.append(
            contribs.select(
                "doc_id",
                F.lit(field).alias("field"),
                (F.lit(float(boost)) * F.col("contrib")).alias("contrib"),
            )
        )
    allc = reduce(lambda a, b: a.unionByName(b), parts)
    if mode == "most_fields":
        per_doc = allc.groupBy("doc_id").agg(
            F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score")
        )
    else:
        per_field = allc.groupBy("doc_id", "field").agg(
            F.sum("contrib").alias("fs")
        )
        per_doc = per_field.groupBy("doc_id").agg(
            F.round(
                F.max("fs")
                + F.lit(float(tie_breaker)) * (F.sum("fs") - F.max("fs")),
                SCORE_DECIMALS,
            ).alias("score")
        )
    return (
        per_doc
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_fields_oracle_sql(
    query_terms: list[str],
    fields: list[tuple[str, float]],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    table: str = "documents",
    id_col: str = "doc_id",
    mode: str = "most_fields",
    tie_breaker: float = 0.0,
) -> str:
    """SQL twin of bm25_topk_fields (both modes). `fields`:
    [(sql_expr, boost), ...] — each sql_expr yields that field's text from
    a `table` row (e.g. 'text', or a derived title expression), so the
    oracle re-derives synthetic fields identically."""
    terms_values = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    blocks = []
    scored_names = []
    for i, (expr, boost) in enumerate(fields):
        toks = f"regexp_extract_all(lower(coalesce({expr}, '')), '{TOKEN_PATTERN}')"
        blocks.append(f"""
f{i}_toks AS (SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}),
f{i}_dl AS (SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}),
f{i}_tf AS (SELECT doc_id, term, count(*) AS tf FROM f{i}_toks GROUP BY doc_id, term),
f{i}_df AS (SELECT term, count(*) AS df FROM f{i}_tf GROUP BY term),
f{i}_stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM f{i}_dl),
f{i}_scored AS (
  SELECT tf.doc_id,
         sum( {float(boost)!r} * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / s.avgdl))) ) AS c
  FROM f{i}_tf tf
  JOIN q USING (term)
  JOIN f{i}_df d USING (term)
  JOIN f{i}_dl dl USING (doc_id)
  CROSS JOIN f{i}_stats s
  GROUP BY tf.doc_id
)""")
        scored_names.append(f"SELECT doc_id, c FROM f{i}_scored")
    union = " UNION ALL ".join(scored_names)
    ctes = ",".join(blocks)
    if mode == "most_fields":
        final = f"round(sum(c), {SCORE_DECIMALS})"
    else:
        final = (
            f"round(max(c) + {float(tie_breaker)!r} * (sum(c) - max(c)), "
            f"{SCORE_DECIMALS})"
        )
    return f"""
WITH q(term) AS (VALUES {terms_values}),{ctes},
allc AS ({union})
SELECT doc_id, {final} AS score
FROM allc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
