"""ES search-API surface beyond ranked match queries: sorted search with
`search_after` pagination, `_mget` point lookups, `_count`, and highlight
fragments.

The reference's users consume its output through the full ES search API
(the indexer posts raw `_source` docs, ElasticSearchBatchService.java:60);
these four endpoints are the non-aggregation remainder of that surface:

  - sort + search_after  -> sort_search_after   (cursor-paginated field
                            sort — the ES deep-pagination idiom that
                            replaces from/size at scale)
  - GET /_mget           -> mget_store          (multi-id point lookup on
                            the persisted doc table, pushed IN filter)
  - GET /_count          -> count_query_store   (hit count for a match
                            query served from posting metadata, ids-only
                            decode, never the tf/dl streams)
  - highlight            -> highlight_snippets  (char-offset fragment with
                            <em> marks around the first query-term
                            occurrence, ES plain-highlighter shape)

100 TB shape: sort_search_after is TakeOrderedAndProject over a pushed
range filter (the cursor predicate reaches the parquet scan, so pages deep
into the sort never rescan what earlier pages consumed); mget is a pushed
In(url, ...) lookup; count decodes doc-id streams only for the query's
terms (pushed IN on term -> row-group skipping) and counts distinct ids
without collecting them; highlight is pure JVM string expressions over an
already-bounded top-k page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.config import TOKEN_PATTERN
from engine.segments import live_doc_ids

_DUCK_TOKS = "regexp_extract_all(lower(coalesce({col}, '')), '{pat}')"


# ---------------------------------------------------------------------------
# sort + search_after (ES sorted search, cursor pagination)
# ---------------------------------------------------------------------------


def sort_search_after(
    df: DataFrame,
    sort_col: str,
    after: tuple | None = None,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES sorted search with `search_after`: order by (`sort_col` DESC,
    `id_col` ASC — the unique tie-breaker ES requires), return the `k` rows
    strictly after the cursor `(after_sort, after_id)`.

    The cursor is a plain predicate — `sort < s OR (sort = s AND id > i)` —
    so Catalyst pushes it into the scan: page N+1 never reads the rows page
    N returned, unlike from/size offset pagination which rescans and
    re-sorts everything above the offset (why ES deprecates deep from/size
    and this engine implements search_after instead). The top-k itself is
    TakeOrderedAndProject: per-partition heaps of size k, no global sort.
    """
    out = df
    if after is not None:
        s, i = after
        out = out.where(
            (F.col(sort_col) < F.lit(s))
            | ((F.col(sort_col) == F.lit(s)) & (F.col(id_col) > F.lit(i)))
        )
    return (
        out.orderBy(F.col(sort_col).desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, sort_col)
    )


def sort_search_after_oracle_sql(
    sort_col: str,
    after: tuple | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    where = ""
    if after is not None:
        s, i = after
        where = (
            f"WHERE {sort_col} < {s} OR ({sort_col} = {s} AND {id_col} > {i})"
        )
    return f"""
        SELECT {id_col}, {sort_col} FROM {table}
        {where}
        ORDER BY {sort_col} DESC, {id_col} ASC
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# _mget: multi-id point lookup on the persisted index's doc table
# ---------------------------------------------------------------------------


def mget_store(spark: SparkSession, store, urls: list[str]) -> DataFrame:
    """ES `_mget`: fetch documents by external id (url) from the persisted
    doc table. The IN filter pushes to the parquet scan (PushedFilters
    In(url, ...) -> row-group skipping via url min/max), so the lookup cost
    is O(matching row groups), not O(corpus). Returns the newest live
    version per url (last-write-wins over (url, warc_ts) — D10 semantics)."""
    view = store.view()
    out = live_doc_ids(view.docs(spark).where(F.col("url").isin(urls)))
    dels = view.deleted_ids(spark)
    if dels is not None:
        # a deleted url is "found: false" in ES _mget -> no row here
        out = out.join(dels, "doc_id", "left_anti")
    return out.select("url", "doc_id", "doc_len").orderBy("url")


# ---------------------------------------------------------------------------
# _count: match-query hit count served from the index
# ---------------------------------------------------------------------------


def count_query_store(
    spark: SparkSession, store, query_terms: list[str]
) -> DataFrame:
    """ES `_count` for a disjunctive match query, answered from the index:
    filter posting blocks to the query terms (pushed IN -> row-group
    skipping), decode the doc-id streams ONLY (`decode_postings_doc_ids` —
    tf/dl buffers never touched), distinct across terms, minus superseded
    doc versions. Returns one row (n_hits).

    The count never collects ids to the driver: distinct + count is a
    partial-aggregated shuffle of ids bounded by the query's postings, the
    same cardinality WAND's candidate set already has."""
    from engine.postings import decode_postings_doc_ids

    view = store.view()
    postings = view.postings(spark).where(F.col("term").isin(query_terms))
    ids = decode_postings_doc_ids(postings, codec=view.codec)
    live = view.live_docs(spark)
    if live is not None:
        ids = ids.join(live.select("doc_id"), "doc_id", "left_semi")
    return ids.agg(F.count(F.lit(1)).alias("n_hits"))


def count_query_oracle_sql(
    query_terms: list[str], table: str = "documents", text_col: str = "text"
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
        SELECT count(*) AS n_hits
        FROM (SELECT {toks} AS t FROM {table})
        WHERE list_has_any(t, [{terms}])
    """


# ---------------------------------------------------------------------------
# _explain: per-term BM25 score breakdown (ES GET /index/_explain)
# ---------------------------------------------------------------------------


def explain_scores(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    cfg=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `_explain` for every top-k hit of a match query: one row per
    (doc, matched term) with the BM25 components — tf, df, idf and the
    term's score contribution — exactly the breakdown ES renders as the
    explanation tree (weight = idf * tf_norm per term, summed).

    Built on the SAME per-(doc,term) relation bm25_topk sums
    (engine/query.py bm25_contribs — one expression tree, computed once):
    the top-k ids are derived by re-aggregating that relation, so the whole
    query is a single tokenize/tf/df pass, with the k-row top-k relation
    broadcast-semi-joined back onto the contribution rows."""
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS
    from engine.query import bm25_contribs

    cfg = cfg or DEFAULT_CONFIG
    rows = bm25_contribs(spark, docs, query_terms, cfg=cfg,
                         id_col=id_col, text_col=text_col)
    # same rounded-score tie-break as bm25_topk (score desc, doc_id asc)
    topk = (
        rows.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id")
    )
    return (
        rows.join(F.broadcast(topk), "doc_id", "left_semi")
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("idf", SCORE_DECIMALS).alias("idf"),
            F.round("contrib", SCORE_DECIMALS).alias("contribution"),
        )
    )


def explain_oracle_sql(
    query_terms: list[str],
    k: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    from engine.query import bm25_topk_oracle_sql

    cfg = DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms_values = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    topk = bm25_topk_oracle_sql(query_terms, k=k, table=table,
                                id_col=id_col, text_col=text_col)
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
        ), dl AS (
          SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
        ), q(term) AS (VALUES {terms_values}),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          SEMI JOIN q USING (term) GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), stats AS (
          SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
        ), topk AS ({topk})
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(dfreq.df AS BIGINT) AS df,
               round(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)),
                     {SCORE_DECIMALS}) AS idf,
               round(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                     * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))),
                     {SCORE_DECIMALS}) AS contribution
        FROM tf
        SEMI JOIN topk ON tf.doc_id = topk.doc_id
        JOIN dfreq USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    """


# ---------------------------------------------------------------------------
# more_like_this (ES `more_like_this` query)
# ---------------------------------------------------------------------------


def more_like_this(
    spark: SparkSession,
    docs: DataFrame,
    like_doc_id: int,
    max_query_terms: int = 10,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `more_like_this`: extract the source doc's `max_query_terms` most
    interesting terms (ranked by tf*idf, term-asc tie-break — ES's MLT term
    selection), then run a normal BM25 disjunction over them, excluding the
    source doc itself.

    The term extraction collects at most `max_query_terms` terms to the
    driver — a bounded collect, and exactly how ES's MLT works (the
    coordinating node builds a bool query from the extracted terms). The
    selection score is rounded to SCORE_DECIMALS before ranking so the
    oracle's term choice is bit-stable across engines."""
    from engine.config import SCORE_DECIMALS
    from engine.query import bm25_topk, corpus_tokens

    toks = corpus_tokens(docs, id_col, text_col)
    src_tf = (
        toks.where(F.col("doc_id") == F.lit(like_doc_id))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.count()
    # df over the whole corpus, computed only for the source doc's terms
    # (values identical to full-corpus df for those terms)
    dfreq = (
        toks.select("doc_id", "term").distinct()
        .join(F.broadcast(src_tf.select("term")), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sel = (
        src_tf.join(dfreq, "term")
        .select("term", F.round(F.col("tf") * idf, SCORE_DECIMALS).alias("s"))
        .orderBy(F.col("s").desc(), F.col("term").asc())
        .limit(max_query_terms)
        .collect()
    )
    mlt_terms = [r["term"] for r in sel]
    if not mlt_terms:
        return bm25_topk(spark, docs, ["__none__"], k=k,
                         id_col=id_col, text_col=text_col)
    # the source doc is excluded with a one-literal NOT-isin — never a join
    return bm25_topk(
        spark, docs, mlt_terms, k=k, id_col=id_col, text_col=text_col,
        exclude_doc_ids=[like_doc_id],
    )


def more_like_this_oracle_sql(
    like_doc_id: int,
    max_query_terms: int = 10,
    k: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    cfg = DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
        ), dl AS (
          SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), stats AS (
          SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
        ), q AS (
          SELECT tf.term
          FROM tf JOIN dfreq USING (term) CROSS JOIN stats
          WHERE tf.doc_id = {int(like_doc_id)}
          ORDER BY round(tf.tf * ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)),
                         {SCORE_DECIMALS}) DESC,
                   tf.term ASC
          LIMIT {int(max_query_terms)}
        ), scored AS (
          SELECT tf.doc_id,
                 sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                      * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score
          FROM tf
          SEMI JOIN q USING (term)
          JOIN dfreq USING (term)
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          WHERE tf.doc_id != {int(like_doc_id)}
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
        FROM scored
        ORDER BY score DESC, doc_id ASC
        LIMIT {int(k)}
    """


# ---------------------------------------------------------------------------
# boosting query (ES `boosting`: positive / negative / negative_boost)
# ---------------------------------------------------------------------------


def boosting_query(
    spark: SparkSession,
    docs: DataFrame,
    positive_terms: list[str],
    negative_terms: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    cfg=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `boosting` query: docs are scored by the positive match; a doc
    that ALSO matches the negative query keeps its rank but has its score
    multiplied by `negative_boost` (demotion, not exclusion — the
    difference from bool must_not).

    Plan: the shared bm25_contribs relation summed per doc; the negative
    membership set is a broadcast-semi-filtered distinct-id relation (only
    negative-term occurrences move, exactly the must_not shape in
    bm25_topk), left-joined as a flag; one top-k."""
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS
    from engine.query import bm25_contribs, corpus_tokens

    cfg = cfg or DEFAULT_CONFIG
    per_doc = (
        bm25_contribs(spark, docs, positive_terms, cfg=cfg,
                      id_col=id_col, text_col=text_col)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("raw_score"))
    )
    negq = spark.createDataFrame(
        [(t,) for t in sorted(set(negative_terms))], "term string"
    )
    neg_docs = (
        corpus_tokens(docs, id_col, text_col)
        .join(F.broadcast(negq), "term")
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(1))
    )
    return (
        per_doc.join(neg_docs, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.col("raw_score")
                * F.when(F.col("_neg").isNotNull(), F.lit(float(negative_boost)))
                .otherwise(F.lit(1.0)),
                SCORE_DECIMALS,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def boosting_oracle_sql(
    positive_terms: list[str],
    negative_terms: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    cfg = DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    pos_values = ", ".join(f"('{t}')" for t in sorted(set(positive_terms)))
    neg_in = ", ".join(f"'{t}'" for t in sorted(set(negative_terms)))
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
        ), dl AS (
          SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
        ), q(term) AS (VALUES {pos_values}),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          SEMI JOIN q USING (term) GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), stats AS (
          SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
        ), neg AS (
          SELECT DISTINCT doc_id FROM toks WHERE term IN ({neg_in})
        ), scored AS (
          SELECT tf.doc_id,
                 sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                      * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT s.doc_id,
               round(s.raw_score * CASE WHEN n.doc_id IS NOT NULL
                     THEN {float(negative_boost)!r} ELSE 1.0 END,
                     {SCORE_DECIMALS}) AS score
        FROM scored s LEFT JOIN neg n ON s.doc_id = n.doc_id
        ORDER BY score DESC, s.doc_id ASC
        LIMIT {int(k)}
    """


# ---------------------------------------------------------------------------
# function_score (ES `function_score` with field_value_factor)
# ---------------------------------------------------------------------------


def function_score_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    factor_col: str,
    k: int = 10,
    modifier: str = "log1p",
    cfg=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `function_score` with a `field_value_factor` function and
    `boost_mode: multiply` — the standard "boost relevance by a document
    attribute" pattern (recency, popularity, length):

        final_score = bm25(q, d) * modifier(doc[factor_col])

    `modifier="log1p"` (ln(1 + x), ES's log1p) or "none" (the raw field
    value). The factor is a per-doc JVM column expression multiplied into
    the UNROUNDED BM25 sum before the single rounding — so the oracle
    reproduces the exact ranking. Plan: the shared bm25_contribs relation
    (engine/query.py) summed per doc, one extra broadcast-able join for
    the factor column, one top-k."""
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS
    from engine.query import bm25_contribs

    if modifier not in ("log1p", "none"):
        raise ValueError(f"unknown modifier {modifier!r}")
    cfg = cfg or DEFAULT_CONFIG
    per_doc = (
        bm25_contribs(spark, docs, query_terms, cfg=cfg,
                      id_col=id_col, text_col=text_col)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("raw_score"))
    )
    fac = F.col(factor_col).cast("double")
    if modifier == "log1p":
        fac = F.log(F.lit(1.0) + fac)
    boosted = per_doc.join(
        docs.select(F.col(id_col).alias("doc_id"), fac.alias("_factor")),
        "doc_id",
    )
    return (
        boosted.select(
            "doc_id",
            F.round(F.col("raw_score") * F.col("_factor"), SCORE_DECIMALS)
            .alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def function_score_oracle_sql(
    query_terms: list[str],
    factor_col: str,
    k: int = 10,
    modifier: str = "log1p",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    cfg = DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms_values = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    fac = f"CAST({factor_col} AS DOUBLE)"
    if modifier == "log1p":
        fac = f"ln(1 + {fac})"
    return f"""
        WITH toks AS (
          SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
        ), dl AS (
          SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
        ), q(term) AS (VALUES {terms_values}),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          SEMI JOIN q USING (term) GROUP BY doc_id, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), stats AS (
          SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
        ), scored AS (
          SELECT tf.doc_id,
                 sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                      * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT s.doc_id, round(s.raw_score * {fac}, {SCORE_DECIMALS}) AS score
        FROM scored s JOIN {table} t ON s.doc_id = t.{id_col}
        ORDER BY score DESC, s.doc_id ASC
        LIMIT {int(k)}
    """


# ---------------------------------------------------------------------------
# highlight: fragment extraction around the first query-term occurrence
# ---------------------------------------------------------------------------

_FRAG_CTX = 40  # chars of context either side of the match


def highlight_snippets(
    hits: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES-style highlight fragment for each hit row: the first query term
    (in query order) that occurs in the lowercased text, wrapped in
    <em>...</em> with up to 40 chars of context either side — the shape of
    ES's plain highlighter's first fragment.

    Contract (documented, shared with the oracle): the anchor is the first
    CHARACTER-level occurrence via strpos/instr on lower(text) — it can land
    inside a longer token ("spark" in "sparkly"), like a plain-highlighter
    fragment anchored on char offsets. Pure JVM string expressions
    (instr/substring/concat), whole-stage codegen, zero Python."""
    txt = F.lower(F.coalesce(F.col(text_col), F.lit("")))

    # first matching term in query order, and its 1-based position
    pos = F.lit(0)
    term = F.lit(None).cast("string")
    for t in reversed(query_terms):
        p = F.instr(txt, t)
        pos = F.when(p > 0, p).otherwise(pos)
        term = F.when(p > 0, F.lit(t)).otherwise(term)

    start = F.greatest(F.lit(1), pos - F.lit(_FRAG_CTX))
    frag = F.concat(
        F.substring(txt, start, pos - start),
        F.lit("<em>"),
        term,
        F.lit("</em>"),
        F.substring(txt, pos + F.length(term), F.lit(_FRAG_CTX)),
    )
    return hits.select(
        id_col,
        F.when(pos > 0, frag).alias("fragment"),
    )


def highlight_oracle_sql(
    query_terms: list[str],
    hits_cte: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of highlight_snippets over `hits_cte` (a CTE named
    `hits` selecting at least (id_col, text_col))."""
    txt = f"lower(coalesce({text_col}, ''))"
    pos = "0"
    term = "CAST(NULL AS VARCHAR)"
    for t in reversed(query_terms):
        p = f"strpos({txt}, '{t}')"
        pos = f"CASE WHEN {p} > 0 THEN {p} ELSE {pos} END"
        term = f"CASE WHEN {p} > 0 THEN '{t}' ELSE {term} END"
    return f"""
        WITH hits AS ({hits_cte}),
        m AS (
          SELECT {id_col}, {txt} AS txt, {pos} AS pos, {term} AS term
          FROM hits
        ),
        s AS (
          SELECT {id_col}, txt, pos, term,
                 greatest(1, pos - {_FRAG_CTX}) AS st
          FROM m
        )
        SELECT {id_col},
               CASE WHEN pos > 0 THEN
                 substr(txt, st, pos - st) || '<em>' || term || '</em>' ||
                 substr(txt, pos + length(term), {_FRAG_CTX})
               END AS fragment
        FROM s
    """


# ---------------------------------------------------------------------------
# terms_set query (ES): per-document dynamic minimum_should_match
# ---------------------------------------------------------------------------


def terms_set_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    msm_divisor: int = 150,
    msm_cap: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `terms_set` query: a doc matches when the number of DISTINCT
    query terms it contains is >= a PER-DOCUMENT minimum read from a field
    (`minimum_should_match_field`) — the part plain bool/minimum_should_match
    cannot express. Here the per-doc minimum is derived from the doc's
    length field the way a real mapping would store it:

        required(d) = least(msm_cap, greatest(1, floor(n_chars / msm_divisor)))

    Matching docs are BM25-scored over their matched terms (same shared
    `bm25_contribs` relation as bm25_topk/_explain — one formula tree).
    Returns (doc_id, score) top-k by (score desc, doc_id asc).

    Scale shape: contribs is already broadcast-semi-filtered to the query
    terms; the per-doc aggregate adds (matched_count) to the same groupBy
    that sums the score — no extra shuffle. The required-value relation is
    a column projection of the doc table joined on doc_id; only docs
    matching >= 1 term reach that join (AQE broadcasts the small side).
    """
    from engine.config import SCORE_DECIMALS
    from engine.query import bm25_contribs

    contribs = bm25_contribs(spark, docs, query_terms,
                             id_col=id_col, text_col=text_col)
    per_doc = contribs.groupBy("doc_id").agg(
        F.sum("contrib").alias("raw_score"),
        F.countDistinct("term").alias("matched"),
    )
    required = docs.select(
        F.col(id_col).alias("doc_id"),
        F.least(
            F.lit(msm_cap),
            F.greatest(
                F.lit(1),
                F.floor(F.col("n_chars") / F.lit(float(msm_divisor))),
            ),
        ).alias("required"),
    )
    return (
        per_doc.join(required, "doc_id")
        .where(F.col("matched") >= F.col("required"))
        .select(
            "doc_id",
            F.round("raw_score", SCORE_DECIMALS).alias("score"),
            F.col("matched").cast("long").alias("matched"),
            F.col("required").cast("long").alias("required"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def terms_set_oracle_sql(
    query_terms: list[str],
    k: int = 10,
    msm_divisor: int = 150,
    msm_cap: int = 3,
    cfg=None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    cfg = cfg or DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms_values = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
), dl AS (
  SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
), q(term) AS (
  VALUES {terms_values}
), req AS (
  SELECT {id_col} AS doc_id,
         least({msm_cap}, greatest(1,
               CAST(floor(n_chars / {float(msm_divisor)}) AS BIGINT))) AS required
  FROM {table}
), scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score,
         count(DISTINCT tf.term) AS matched
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT s.doc_id, round(s.raw_score, {SCORE_DECIMALS}) AS score,
       s.matched, r.required
FROM scored s JOIN req r USING (doc_id)
WHERE s.matched >= r.required
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# _analyze (ES): show how the analyzer tokenizes a given text
# ---------------------------------------------------------------------------


def analyze_text(spark: SparkSession, text: str) -> DataFrame:
    """ES `POST /_analyze {"analyzer": "standard", "text": ...}`: the
    token stream the engine's frozen analyzer contract (TOKEN_PATTERN +
    lowercase, tests/test_tokenizer_contract.py) produces for `text`,
    as (position, token) rows — the debugging endpoint every ES user hits
    when a match query surprises them.

    Driver-size input, but evaluated through the SAME JVM `tokens` column
    the indexer uses — not a Python reimplementation — so the endpoint
    certifies the production tokenizer."""
    from engine.analysis import tokens

    one = spark.createDataFrame([(text,)], "text string")
    return one.select(
        F.posexplode(tokens("text")).alias("position", "token")
    ).select(F.col("position").cast("long").alias("position"), "token")


def analyze_oracle_sql(text: str) -> str:
    lit = "'" + text.replace("'", "''") + "'"
    return f"""
SELECT CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS position,
       unnest(t) AS token
FROM (SELECT regexp_extract_all(lower({lit}), '{TOKEN_PATTERN}') AS t)
"""


# ---------------------------------------------------------------------------
# _termvectors (ES): per-document term statistics
# ---------------------------------------------------------------------------


def term_vectors(
    spark: SparkSession,
    docs: DataFrame,
    doc_ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `GET /{index}/_termvectors/{id}?term_statistics=true`: for each
    requested doc, its terms with tf (term freq in the doc), df (docs in
    the index containing the term) and ttf (total term freq across the
    index). Output: (doc_id, term, tf, df, ttf).

    Scale shape: tf for the requested docs only (pushed IN(doc_id) filter
    -> tokenize just those rows); df/ttf are per-term aggregates computed
    ONLY for the requested docs' terms (semi-filtered by a broadcast of
    that term set before the corpus-wide groupBy — identical values to the
    full dictionary for those terms, never the whole dictionary shuffled)."""
    from engine.analysis import tokens

    wanted = [int(d) for d in doc_ids]
    corpus = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    req_tf = (
        corpus.where(F.col("doc_id").isin(wanted))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    req_terms = req_tf.select("term").distinct()
    stats = (
        corpus.join(F.broadcast(req_terms), "term")
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("ttf"),
        )
    )
    return req_tf.join(F.broadcast(stats), "term").select(
        "doc_id", "term", "tf", "df", "ttf"
    )


def term_vectors_oracle_sql(
    doc_ids: list[int],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    ids = ", ".join(str(int(d)) for d in doc_ids)
    return f"""
WITH corpus AS (
  SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
), req_tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM corpus WHERE doc_id IN ({ids})
  GROUP BY doc_id, term
), stats AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM corpus
  WHERE term IN (SELECT DISTINCT term FROM req_tf)
  GROUP BY term
)
SELECT r.doc_id, r.term, r.tf, s.df, s.ttf
FROM req_tf r JOIN stats s USING (term)
"""


# ---------------------------------------------------------------------------
# _msearch (ES): N queries in ONE pass over the corpus
# ---------------------------------------------------------------------------


def msearch_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
    cfg=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `_msearch`: a batch of independent match queries answered
    together. Output: (query_id, doc_id, score, rank) — each query's BM25
    top-k (identical per query to bm25_topk; equivalence pytest).

    This is where Spark beats a per-query search engine at bulk scale: the
    corpus token stream is scanned ONCE for all N queries — the literal
    (query_id, term) relation broadcasts onto the tf rows (a term shared
    by many queries fans out to one row per query), per-(query, doc)
    scores aggregate in one shuffle, and the per-query top-k is a
    row_number window that plans as a map-side+final WindowGroupLimit
    pair keyed by query_id. Amortized cost per query approaches the
    marginal fan-out instead of a full scan — the right shape for the
    nightly 10k-query evaluation batch at 10^12 docs."""
    from engine.analysis import tokens
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS
    from pyspark.sql.window import Window as W

    cfg = cfg or DEFAULT_CONFIG
    pairs = sorted(
        {(qid, t) for qid, terms in queries.items() for t in set(terms)}
    )
    if not pairs:
        raise ValueError("empty query batch")
    q = spark.createDataFrame(pairs, "query_id string, term string")

    corpus = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("doc_len"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    # tf only for terms ANY query needs (broadcast semi-filter pre-shuffle);
    # df per term computed once, shared by every query containing the term
    terms_only = q.select("term").distinct()
    tf = (
        corpus.join(F.broadcast(terms_only), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("doc_len") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * (F.col("tf") / denom)), SCORE_DECIMALS)
             .alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score",
                F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def msearch_oracle_sql(
    queries: dict[str, list[str]],
    k: int = 10,
    cfg=None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS

    cfg = cfg or DEFAULT_CONFIG
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    pairs = sorted(
        {(qid, t) for qid, terms in queries.items() for t in set(terms)}
    )
    vals = ", ".join(
        "('" + qid.replace("'", "''") + "', '" + t.replace("'", "''") + "')"
        for qid, t in pairs
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
), dl AS (
  SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
), q(query_id, term) AS (
  VALUES {vals}
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
), scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ),
               {SCORE_DECIMALS}) AS score
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# _rank_eval (ES): ranking-quality metrics against relevance judgments
# ---------------------------------------------------------------------------


def exists_query(
    spark: SparkSession,
    docs: DataFrame,
    field: str = "text",
    k: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `exists` query on an analyzed text field: matches docs whose
    field has at least one INDEXED value — ES 5.5 semantics where an
    empty/whitespace-only string analyzes to zero tokens and therefore
    does NOT exist, while any tokenizable content does. Constant score,
    doc_id-asc. Pure JVM filter; on a store this is served from
    doc_len > 0 metadata without touching postings.

    `k=None` returns ALL matches (plain sort, no limit) — do NOT emulate
    "all" with a huge k: TakeOrderedAndProject allocates a k-sized buffer
    per task, so limit(10^9) is an executor OOM, not a no-op."""
    from engine.analysis import tokens

    matched = docs.where(
        F.col(field).isNotNull() & (F.size(tokens(field)) > 0)
    )
    out = matched.select(
        F.col(id_col).alias("doc_id"), F.lit(1.0).alias("score")
    ).orderBy(F.col("doc_id").asc())
    return out if k is None else out.limit(int(k))


def exists_oracle_sql(
    field: str = "text",
    k: int | None = None,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    limit = "" if k is None else f"LIMIT {int(k)}"
    return f"""
SELECT {id_col} AS doc_id, CAST(1.0 AS DOUBLE) AS score
FROM {table}
WHERE {field} IS NOT NULL
  AND len(regexp_extract_all(lower({field}), '{TOKEN_PATTERN}')) > 0
ORDER BY doc_id ASC
{limit}
"""


def sliced_export(
    spark: SparkSession,
    docs: DataFrame,
    slice_id: int,
    max_slices: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES sliced scroll (slice.id / slice.max): deterministic disjoint
    slices for parallel export of a corpus — N workers each pull their
    slice independently, union = corpus, no coordination state. The slice
    key is md5-derived from the doc id (not the row's position), so slices
    are stable across runs and parallelism levels and the oracle
    regenerates them exactly. Returns (doc_id, slice_id)."""
    from engine.dedup import md5_60bit

    if not (0 <= slice_id < max_slices):
        raise ValueError("slice_id must be in [0, max_slices)")
    h = md5_60bit(F.col(id_col).cast("string"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(h, F.lit(int(max_slices))).alias("slice_id"),
    ).where(F.col("slice_id") == F.lit(int(slice_id)))


def sliced_export_oracle_sql(
    slice_id: int,
    max_slices: int,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    h = f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT % {int(max_slices)})"
    return f"""
SELECT {id_col} AS doc_id, {h} AS slice_id
FROM {table}
WHERE {h} = {int(slice_id)}
"""


def rank_eval(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, list[str]],
    qrels: dict[str, dict[int, int]],
    k: int = 10,
    cfg=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `_rank_eval`: run the query batch, score the rankings against
    human relevance judgments (`qrels[query_id][doc_id] = grade`). Output
    per query: precision@k (graded>0 counts as relevant — ES
    precision.relevant_rating_threshold=1), recall@k, MRR, and NDCG@k
    (ES dcg metric: (2^rel - 1) / log2(rank + 1), ideal DCG from the
    judged grades).

    Retrieval is ONE msearch pass (scan count independent of the query
    count); the judgments are a literal broadcast; every metric is a
    per-query aggregate of the <= k joined rows. The evaluation harness
    shape for nightly relevance regression runs over a production-size
    corpus."""
    from engine.config import SCORE_DECIMALS

    missing = [q for q in queries if not any(
        r > 0 for r in qrels.get(q, {}).values())]
    if missing:
        raise ValueError(f"queries without positive judgments: {missing}")

    ranked = msearch_topk(spark, docs, queries, k=k, cfg=cfg,
                          id_col=id_col, text_col=text_col)
    qr_rows = [
        (qid, int(d), int(r))
        for qid, m in qrels.items() for d, r in m.items()
    ]
    qr = spark.createDataFrame(
        qr_rows, "query_id string, doc_id long, rel int"
    )
    hits = ranked.join(qr, ["query_id", "doc_id"], "left").select(
        "query_id", "rank", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    log2 = F.log(F.lit(2.0))
    per_q = hits.groupBy("query_id").agg(
        (F.sum((F.col("rel") > 0).cast("int")) / F.lit(float(k))
         ).alias("p_at_k"),
        F.sum((F.col("rel") > 0).cast("int")).alias("n_hit_rel"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel"),
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
            / (F.log(F.col("rank") + F.lit(1.0)) / log2)
        ).alias("dcg"),
    )
    n_rel = qr.where(F.col("rel") > 0).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    from pyspark.sql.window import Window as W

    ideal = (
        qr.where(F.col("rel") > 0)
        .withColumn("rn", F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.col("rel").desc(), F.col("doc_id").asc())))
        .where(F.col("rn") <= k)
        .groupBy("query_id")
        .agg(F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
            / (F.log(F.col("rn") + F.lit(1.0)) / log2)
        ).alias("idcg"))
    )
    return (
        per_q.join(F.broadcast(n_rel), "query_id")
        .join(F.broadcast(ideal), "query_id")
        .select(
            "query_id",
            F.round("p_at_k", SCORE_DECIMALS).alias("precision_k"),
            F.round(F.col("n_hit_rel") / F.col("n_rel"),
                    SCORE_DECIMALS).alias("recall_k"),
            F.round(F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)),
                    SCORE_DECIMALS).alias("mrr"),
            F.round(F.col("dcg") / F.col("idcg"),
                    SCORE_DECIMALS).alias("ndcg_k"),
        )
        .orderBy("query_id")
    )


def rank_eval_oracle_sql(
    queries: dict[str, list[str]],
    qrels: dict[str, dict[int, int]],
    k: int = 10,
    cfg=None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from engine.config import SCORE_DECIMALS

    ranked_sql = msearch_oracle_sql(queries, k=k, cfg=cfg, table=table,
                                    id_col=id_col, text_col=text_col)
    qr_vals = ", ".join(
        f"('{qid}', {int(d)}, {int(r)})"
        for qid, m in sorted(qrels.items()) for d, r in sorted(m.items())
    )
    return f"""
WITH ranked AS (
{ranked_sql}
), qrels(query_id, doc_id, rel) AS (
  VALUES {qr_vals}
), hits AS (
  SELECT r.query_id, r.rank, coalesce(q.rel, 0) AS rel
  FROM ranked r LEFT JOIN qrels q USING (query_id, doc_id)
), per_q AS (
  SELECT query_id,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) / CAST({k} AS DOUBLE) AS p_at_k,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_hit_rel,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         sum((pow(2.0, rel) - 1.0) / (ln(rank + 1.0) / ln(2.0))) AS dcg
  FROM hits GROUP BY query_id
), n_rel AS (
  SELECT query_id, count(*) AS n_rel FROM qrels WHERE rel > 0 GROUP BY query_id
), ideal AS (
  SELECT query_id,
         sum((pow(2.0, rel) - 1.0) / (ln(rn + 1.0) / ln(2.0))) AS idcg
  FROM (
    SELECT query_id, rel,
           row_number() OVER (
             PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rn
    FROM qrels WHERE rel > 0
  ) WHERE rn <= {k}
  GROUP BY query_id
)
SELECT p.query_id,
       round(p.p_at_k, {SCORE_DECIMALS}) AS precision_k,
       round(p.n_hit_rel / CAST(n.n_rel AS DOUBLE), {SCORE_DECIMALS}) AS recall_k,
       round(coalesce(1.0 / p.first_rel, 0.0), {SCORE_DECIMALS}) AS mrr,
       round(p.dcg / i.idcg, {SCORE_DECIMALS}) AS ndcg_k
FROM per_q p JOIN n_rel n USING (query_id) JOIN ideal i USING (query_id)
ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# terms lookup query (ES `terms` query with document lookup)
# ---------------------------------------------------------------------------


def terms_lookup_query(
    spark: SparkSession,
    docs: DataFrame,
    lookup_doc_id: int,
    max_terms: int = 10,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `terms` query with lookup: the term set is FETCHED from another
    document (terms lookup mechanism — "docs like the ones user X
    follows"), then every doc containing ANY of those terms matches with
    constant score 1.0 (terms query is non-scoring filter context).
    The lookup takes the first `max_terms` distinct tokens of the lookup
    doc in sorted order (deterministic).

    Plan: the lookup fetch is a pushed doc-id point filter (one row to the
    driver — exactly ES's GET of the lookup doc); the term set then rides
    a broadcast `arrays_overlap` filter — scan -> filter -> first-k, no
    join against the corpus."""
    from engine.analysis import tokens

    row = (
        docs.where(F.col(id_col) == lookup_doc_id)
        .select(F.array_distinct(tokens(text_col)).alias("t"))
        .collect()
    )
    terms = sorted(row[0]["t"])[:max_terms] if row else []
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    lits = F.array(*[F.lit(t) for t in terms])
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.arrays_overlap(F.col("_t"), lits))
        .select("doc_id", F.lit(1.0).alias("score"))
        .orderBy(F.col("doc_id").asc())
        .limit(k)
    )


def terms_lookup_oracle_sql(
    lookup_doc_id: int,
    max_terms: int = 10,
    k: int = 20,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = f"regexp_extract_all(lower(coalesce({text_col}, '')), '[\\p{{L}}\\p{{N}}]+')"
    return f"""
WITH lk AS (
  SELECT unnest(list_distinct({toks})) AS term
  FROM {table} WHERE {id_col} = {lookup_doc_id}
),
terms AS (SELECT term FROM lk ORDER BY term LIMIT {max_terms}),
tl AS (SELECT list(term) AS ts FROM terms)
SELECT {id_col} AS doc_id, CAST(1.0 AS DOUBLE) AS score
FROM {table} CROSS JOIN tl
WHERE list_has_any({toks}, tl.ts)
ORDER BY doc_id ASC
LIMIT {k}
"""
