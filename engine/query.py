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

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.codecs import decode_doc_ids_batch, decode_posting_blocks_batch
from engine.config import SCORE_DECIMALS, TOKEN_PATTERN, IndexConfig, DEFAULT_CONFIG
from engine.wand import _idf, bm25_tf_norm, keep_not_in, sorted_ids, spark_round

# Largest superseded-doc set expressed as a literal NOT IN filter; beyond
# this the exact path switches to a broadcast anti-join (a plan with 10^5+
# literals chokes Catalyst long before max_deleted_driver's 10^6 cap).
MAX_EXCLUDED_LITERALS = 10_000

# Most candidate blocks IndexReader gathers to the driver for one query
# (~7.7M postings at block_size 128); a query with more blocks runs the
# distributed exact / WAND plans instead. On a 1M-doc store at local[4]
# (4-core host) driver scoring beat both distributed plans at every size
# measured, 64 to 60,172 blocks (2.5 s vs 4.2 s exact at the top), so the
# crossover was not reached and the cap sits at the largest size measured.
# It also bounds what one query holds on the driver: peak driver RSS grew
# ~0.7 GB at 60,172 blocks.
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
    excluded_doc_ids=None,
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
    elif excluded_doc_ids:
        # literal NOT IN only for sets small enough to live in the plan; a
        # big set becomes a broadcast anti-join (same semantics, no
        # million-literal Catalyst expression)
        if len(excluded_doc_ids) <= MAX_EXCLUDED_LITERALS:
            tf = tf.where(~F.col("doc_id").isin(list(excluded_doc_ids)))
        else:
            spark = tf.sparkSession
            dead = spark.createDataFrame(
                [(int(d),) for d in excluded_doc_ids], "doc_id long"
            )
            tf = tf.join(F.broadcast(dead), "doc_id", "left_anti")

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
    excluded_doc_ids=None,
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
    restricts results to non-superseded docs (multi-segment upsert, D10);
    `excluded_doc_ids` (a bounded driver-side set of superseded ids) is the
    cheap complement — a NOT IN literal filter instead of a semi-join, the
    same mechanism the WAND executor uses. Pass one or the other.

    The term filter uses isin() so a Parquet-backed postings table gets
    predicate pushdown + row-group skipping (postings are written sorted by
    term); only the query terms' blocks are ever read or decoded.
    """
    per_doc = index_term_contribs(
        postings, n_docs, avgdl, query_terms, cfg=cfg, live_docs=live_docs,
        excluded_doc_ids=excluded_doc_ids, codec=codec,
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
    from engine.merge import live_docs_for_store

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
    if routing is not None:
        stats = store.routing_global_stats(routing)
        postings = store.postings_routed(spark, routing)
        docs = store.docs_routed(spark, routing)
    else:
        stats = store.global_stats()
        postings = store.postings(spark)
        docs = store.docs(spark)
    live = live_docs_for_store(spark, store, docs)
    return bm25_topk_from_index(
        postings,
        stats["n_docs"],
        stats["avgdl"],
        query_terms,
        k=k,
        cfg=cfg,
        conjunctive=conjunctive,
        live_docs=live,
        codec=store.codec,
        min_should_match=min_should_match,
        must_not_terms=must_not_terms,
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
    from engine.merge import live_docs_for_store

    spec = store.alias_spec(alias)
    routing = spec.get("routing")
    if routing is not None:
        stats = store.routing_global_stats(routing)
        postings = store.postings_routed(spark, routing)
        docs = store.docs_routed(spark, routing)
    else:
        stats = store.global_stats()
        postings = store.postings(spark)
        docs = store.docs(spark)
    restrict = live_docs_for_store(spark, store, docs)
    if spec.get("filter_col") is not None:
        base = restrict if restrict is not None else docs
        restrict = base.where(
            F.col(spec["filter_col"]) == F.lit(spec["filter_val"])
        )
    return bm25_topk_from_index(
        postings,
        stats["n_docs"],
        stats["avgdl"],
        query_terms,
        k=k,
        cfg=cfg,
        conjunctive=conjunctive,
        live_docs=restrict,
        codec=store.codec,
    )


def topk_rounded(doc_ids: np.ndarray, raw: np.ndarray, k: int) -> pd.DataFrame:
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
    return pd.DataFrame(
        {"doc_id": doc_ids[order].astype(np.int64), "score": scores[order]}
    )


def exact_topk_blocks(
    blocks: pd.DataFrame,
    n_docs: int,
    avgdl: float,
    query_terms: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT_CONFIG,
    excluded: np.ndarray | None = None,
    codec: str = "varint",
    min_should_match: int | None = None,
    must_not_terms: list[str] | None = None,
) -> pd.DataFrame:
    """bm25_topk_from_index over block rows already on the driver, in
    numpy: decode, score, drop `excluded` (sorted superseded ids), sum per
    doc, apply min_should_match and must_not, rank. Same df, formula,
    rounding and tie-break as the Spark plan, so results are identical.
    `blocks` must hold every block of the query and must_not terms."""
    pos = blocks[blocks["term"].isin(set(query_terms))]
    ns = pos["n"].to_numpy(np.int64)
    docs, tfs, dls = decode_posting_blocks_batch(
        pos["doc_bytes"], pos["tf_bytes"], pos["dl_bytes"], ns, codec=codec
    )
    # df = summed block n: the same pre-live-filter count as term_stats
    # over the candidate blocks
    df = pos.groupby("term")["n"].sum()
    idf = {t: _idf(float(n_docs), float(d)) for t, d in df.items()}
    contrib = np.repeat(pos["term"].map(idf).to_numpy(np.float64), ns) * bm25_tf_norm(
        tfs, dls.astype(np.float64), cfg.k1, cfg.b, float(avgdl)
    )
    keep = keep_not_in(docs, excluded)
    uids, inv = np.unique(docs[keep], return_inverse=True)
    raw = np.bincount(inv, weights=contrib[keep], minlength=len(uids))
    # doc ids are unique per term, so postings per doc = distinct terms matched
    if min_should_match:
        hit = np.bincount(inv, minlength=len(uids)) >= int(min_should_match)
        uids, raw = uids[hit], raw[hit]
    if must_not_terms:
        neg = blocks[blocks["term"].isin(set(must_not_terms))]
        neg_ids = decode_doc_ids_batch(
            neg["doc_bytes"], neg["n"].to_numpy(np.int64), codec=codec
        )
        hit = keep_not_in(uids, np.unique(neg_ids))
        uids, raw = uids[hit], raw[hit]
    return topk_rounded(uids, raw, k)


class IndexReader:
    """Query-server view of a persisted index: the index is opened ONCE
    (postings/docs cached, stats and the deleted-doc set resolved up front)
    and then serves many queries without re-reading parquet footers or
    re-deriving live docs per query.

    This is the searcher/reader split Lucene makes (ES holds an
    IndexSearcher open across requests). A `search` / `search_wand` call
    gathers its candidate blocks (query and must_not terms) from the cached
    postings in ONE Spark action, `where(term IN ...).limit(cap + 1)
    .toArrow()`, then decodes, scores and ranks them exactly in numpy on
    the driver (exact_topk_blocks) and returns the rows as an Arrow-built
    local DataFrame: one Spark job per search. df comes from the gathered
    blocks and superseded docs drop out by a binary search over the sorted
    deleted set. Two cases keep the distributed plans (bm25_topk_from_index
    / wand_topk, as search_store* run them): a query with more than
    GATHER_MAX_BLOCKS blocks, and a deleted set that overflowed
    cfg.max_deleted_driver (a live-docs join, cached once).

    Concurrent callers (bench/soak.py threads) are safe: a call keeps its
    gathered blocks in locals, and the only shared mutable state is the
    per-term df memo. Re-open after a merge/ingest commit to see new
    segments (call `refresh()`)."""

    def __init__(self, spark: SparkSession, store, cfg: IndexConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        self._open()

    def _open(self) -> None:
        from engine.merge import live_docs_for_store

        self.stats = self.store.global_stats()
        self._codec = self.store.codec
        self.postings = self.store.postings(self.spark).cache()
        # term stats stay a (cached) DataFrame — never collected whole: a
        # web-scale vocabulary is 10^8+ terms and would OOM the driver. Each
        # query filters to its own few terms and memoizes the result.
        self._term_stats = self.store.term_stats_df(self.spark).cache()
        self._df_memo: dict[str, int] = {}
        self.doc_id_hwm = self.store.next_doc_id_base()
        self.deleted: frozenset = frozenset()
        self._deleted_overflow = False
        self._live_cache = None  # lazy, overflow-only (see _live_docs_df)
        self._positions_cache = None  # lazy, phrase-only (see search_phrase)
        self._doc_len_cache = None
        live = live_docs_for_store(self.spark, self.store)
        if live is not None:
            docs = self.store.docs(self.spark)
            deleted = docs.join(live.select("doc_id"), "doc_id", "left_anti")
            cap = self.cfg.max_deleted_driver
            rows = deleted.select("doc_id").limit(cap + 1).collect()
            if len(rows) > cap:
                # too many superseded docs to hold on the driver — queries
                # run the distributed exact path until the next merge
                # shrinks the set
                self._deleted_overflow = True
            else:
                self.deleted = frozenset(r["doc_id"] for r in rows)
        self._deleted_sorted = sorted_ids(self.deleted)
        self.postings.count()  # materialize the caches
        self._term_stats.count()

    def df_for_terms(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequencies, resolved lazily and memoized."""
        missing = [t for t in set(terms) if t not in self._df_memo]
        if missing:
            rows = self._term_stats.where(F.col("term").isin(missing)).collect()
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_memo[t] = found.get(t, 0)
        return {t: self._df_memo[t] for t in set(terms)}

    def refresh(self) -> None:
        self.close()
        self._open()

    def close(self) -> None:
        self.postings.unpersist()
        self._term_stats.unpersist()
        if self._live_cache is not None:
            self._live_cache.unpersist()
            self._live_cache = None
        for attr in ("_positions_cache", "_doc_len_cache"):
            c = getattr(self, attr, None)
            if c is not None:
                c.unpersist()
                setattr(self, attr, None)

    def _gather(self, terms: set[str]) -> pd.DataFrame | None:
        """The blocks of `terms` from the cached postings in one Spark
        action, or None when the deleted set overflowed or there are more
        than GATHER_MAX_BLOCKS blocks (the caller then runs the
        distributed plan)."""
        if self._deleted_overflow:
            return None
        tbl = (
            self.postings.where(F.col("term").isin(sorted(terms)))
            .select(*_GATHER_COLS)
            .limit(GATHER_MAX_BLOCKS + 1)
            .toArrow()
        )
        if tbl.num_rows > GATHER_MAX_BLOCKS:
            return None
        return tbl.to_pandas()

    def _local(self, pdf: pd.DataFrame) -> DataFrame:
        # built from an Arrow table: a local relation, so collect() runs no
        # job (an EMPTY pandas frame would become an RDD scan, one job)
        return self.spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False))

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        conjunctive: bool = False,
        min_should_match: int | None = None,
        must_not_terms: list[str] | None = None,
    ) -> DataFrame:
        """Exact BM25 top-k: one gather of the query's (and must_not)
        blocks, scored on the driver (exact_topk_blocks).
        `min_should_match` / `must_not_terms`: ES bool semantics (see
        bm25_topk)."""
        q_terms = sorted(set(query_terms))
        neg = sorted(set(must_not_terms or ()))
        blocks = self._gather(set(q_terms) | set(neg))
        if blocks is None:
            return self._search_distributed(
                q_terms, k, conjunctive, min_should_match, neg
            )
        return self._local(self._exact_blocks(
            blocks, q_terms, k, conjunctive, min_should_match, neg
        ))

    def _exact_blocks(
        self, blocks, q_terms, k, conjunctive=False, min_should_match=None,
        must_not_terms=None,
    ) -> pd.DataFrame:
        return exact_topk_blocks(
            blocks, self.stats["n_docs"], self.stats["avgdl"], q_terms, k=k,
            cfg=self.cfg, excluded=self._deleted_sorted, codec=self._codec,
            min_should_match=len(q_terms) if conjunctive else min_should_match,
            must_not_terms=must_not_terms,
        )

    def _search_distributed(
        self, q_terms, k, conjunctive=False, min_should_match=None,
        must_not_terms=None,
    ) -> DataFrame:
        """bm25_topk_from_index on the cached postings. Superseded docs are
        excluded via the bounded driver-side set (a NOT IN literal) or, when
        it overflowed, by a live-docs join built once and cached."""
        return bm25_topk_from_index(
            self.postings,
            self.stats["n_docs"],
            self.stats["avgdl"],
            q_terms,
            k=k,
            cfg=self.cfg,
            conjunctive=conjunctive,
            live_docs=self._live_docs_df(),
            excluded_doc_ids=None if self._deleted_overflow else self.deleted,
            codec=self._codec,
            min_should_match=min_should_match,
            must_not_terms=must_not_terms or None,
        )

    def _live_docs_df(self):
        if not self._deleted_overflow:
            return None  # bounded set rides excluded_doc_ids instead
        if self._live_cache is None:
            from engine.merge import live_docs_for_store

            live = live_docs_for_store(self.spark, self.store)
            src = live if live is not None else self.store.docs(self.spark)
            self._live_cache = src.select("doc_id").cache()
            self._live_cache.count()
        return self._live_cache

    def search_wand(
        self,
        query_terms: list[str],
        k: int = 10,
        stats_out: dict | None = None,
        strategy: str = "wand",
    ) -> DataFrame:
        """BM25 top-k, rank-identical to `search`. Below GATHER_MAX_BLOCKS
        it scores like `search`: one gather, exact numpy scoring on the
        driver. With every candidate block already on the driver, the
        vectorized exact scorer beat the block-max scan at every block
        count measured (see GATHER_MAX_BLOCKS), so the scan (wand_topk) and
        the `strategy="auto"` cost model (engine.wand.wand_is_cheaper) run
        only in the distributed fallbacks (see the class docstring).

        `stats_out` (evidence/debug) is filled from the same execution. On
        the driver: candidate_blocks = candidate_block_ranges =
        blocks_scored (every gathered block is scored), num_ranges 1,
        candidate_postings, and "strategy" = "exact_driver" ("exact_auto"
        under strategy="auto")."""
        if strategy not in ("wand", "auto"):
            raise ValueError(f"strategy must be 'wand' or 'auto', got {strategy!r}")
        st = stats_out if stats_out is not None else {}
        q_terms = sorted(set(query_terms))
        if self._deleted_overflow:
            st["fallback_exact"] = True
            st["strategy"] = "exact_fallback"
            return self._search_distributed(q_terms, k)
        blocks = self._gather(set(q_terms))
        if blocks is None:
            return self._wand_distributed(q_terms, k, stats_out, strategy)
        n = len(blocks)
        # on the driver the cost-based choice is always the exact scorer
        st.update(
            strategy="exact_auto" if strategy == "auto" else "exact_driver",
            candidate_blocks=n, candidate_block_ranges=n, blocks_scored=n,
            num_ranges=1, candidate_postings=int(blocks["n"].sum()),
        )
        return self._local(self._exact_blocks(blocks, q_terms, k))

    def _wand_distributed(self, q_terms, k, stats_out, strategy) -> DataFrame:
        """wand_topk over the cached postings, with dfs from the memoized
        term stats (the auto choice too)."""
        from engine.wand import wand_is_cheaper, wand_topk

        st = stats_out if stats_out is not None else {}
        df_map = self.df_for_terms(q_terms)
        if strategy == "auto":
            st["candidate_postings"] = int(sum(df_map.values()))
            if not wand_is_cheaper(df_map, self.cfg):
                st["strategy"] = "exact_auto"
                return self._search_distributed(q_terms, k)
            st["strategy"] = "wand_auto"
        return wand_topk(
            self.spark,
            self.postings,
            self.stats["n_docs"],
            self.stats["avgdl"],
            df_map,
            q_terms,
            k=k,
            cfg=self.cfg,
            doc_id_hwm=self.doc_id_hwm,
            excluded_doc_ids=self.deleted or None,
            codec=self._codec,
            stats_out=stats_out,
        )

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_expansions: int | None = None,
    ) -> DataFrame:
        """Fuzzy BM25 top-k from the held-open reader: the Levenshtein
        expansion scans the CACHED term-stats relation (the term
        dictionary — no parquet re-read), then the expanded disjunction
        runs through self.search on the cached postings."""
        from engine.fuzzy import MAX_EXPANSIONS, fuzzy_expansions

        terms = fuzzy_expansions(
            self._term_stats.select("term"),
            term,
            max_edits=max_edits,
            prefix_length=prefix_length,
            max_expansions=MAX_EXPANSIONS if max_expansions is None else max_expansions,
        )
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self.search(terms, k=k)

    def suggest(
        self,
        term: str,
        size: int = 5,
        max_edits: int = 2,
        min_doc_freq: int = 1,
        suggest_mode: str = "always",
    ) -> DataFrame:
        """ES term suggester ("did you mean") from the held-open reader:
        corrections ranked (distance, df desc, term) over the CACHED
        term-stats relation — the dictionary is the only thing consulted,
        postings and documents are never touched."""
        from engine.fuzzy import term_suggest

        return term_suggest(
            self._term_stats, term, size=size, max_edits=max_edits,
            min_doc_freq=min_doc_freq, suggest_mode=suggest_mode,
        )

    def search_phrase(self, phrase: list[str], k: int = 10) -> DataFrame:
        """ES match_phrase from the held-open reader (query-server mode).

        First phrase query lazily caches the positions sidecar union and a
        (doc_id, doc_len) projection, so repeat phrase queries never
        re-read parquet footers — the same searcher/reader split the
        exact/WAND paths get from the cached postings. Result-identical to
        engine.positions.search_store_phrase: superseded docs are excluded
        via the bounded driver-side set (NOT IN literal) or, on overflow,
        by restricting the cached doc-len projection to live docs."""
        from engine.positions import phrase_topk_from_positions, store_has_positions

        if not store_has_positions(self.store):
            raise ValueError(
                f"index {self.store.name}: no positions sidecar on every "
                "live segment (build with IndexConfig(store_positions=True) "
                "to serve phrase queries)"
            )
        if self._positions_cache is None:
            self._positions_cache = self.store.positions(self.spark).cache()
            self._positions_cache.count()
        if self._doc_len_cache is None:
            docs = self.store.docs(self.spark)
            if self._deleted_overflow:
                from engine.merge import live_docs_for_store

                live = live_docs_for_store(self.spark, self.store, docs)
                docs = live if live is not None else docs
            self._doc_len_cache = docs.select("doc_id", "doc_len").cache()
            self._doc_len_cache.count()
        return phrase_topk_from_positions(
            self.spark,
            self._positions_cache,
            self._doc_len_cache,
            int(self.stats["n_docs"]),
            float(self.stats["avgdl"]),
            phrase,
            k=k,
            cfg=self.cfg,
            excluded_doc_ids=frozenset()
            if self._deleted_overflow
            else self.deleted,
        )


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
