"""Prefix term queries (ES `prefix`): constant-score multi-term expansion.

Elasticsearch 5.5 (the engine the reference delegates every query to,
/root/reference/build.gradle:42) rewrites a `prefix` query with Lucene's
CONSTANT_SCORE rewrite: every document containing ANY term with the prefix
matches with score = boost (1.0), no tf/idf. Ties break by doc id — the
same deterministic (score desc, doc_id asc) ordering the rest of the
engine uses.

Scale shape (the 100 TB lens):
- Corpus path: the `startswith` filter lands on the exploded token stream
  BEFORE the distinct's shuffle, so only matching occurrences move.
- Store path: `StringStartsWith(term, ...)` is pushed to the posting-block
  parquet scan (term-sorted files -> row-group skipping); only matching
  terms' blocks are ever decoded, doc-ids-only (tf/dl streams stay
  undecoded). Distinct-per-doc is one shuffle over matching postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.config import TOKEN_PATTERN


def prefix_match(
    spark: SparkSession,
    docs: DataFrame,
    prefix: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Constant-score prefix query over a raw document table.

    Returns (doc_id, score=1.0), first k matching docs by doc_id asc
    (constant score makes doc id the ES tie-break)."""
    matched = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .where(F.col("term").startswith(prefix))
        .select("doc_id")
        .distinct()
    )
    return (
        matched.select("doc_id", F.lit(1.0).alias("score"))
        .orderBy(F.col("doc_id").asc())
        .limit(k)
    )


def constant_score_store(
    spark: SparkSession,
    store,
    term_pred,
    k: int | None = 10,
) -> DataFrame:
    """Constant-score multi-term query over a persisted store, the Lucene
    CONSTANT_SCORE rewrite prefix / wildcard / regexp share: the blocks of
    the terms `term_pred` (a Column over `term`, pushed into the
    posting-block scan) selects, decoded doc-ids-only; superseded and
    tombstoned docs are dropped by the live-docs join (search_store
    semantics). `k=None`: all matches, unordered — for callers that re-rank
    after a doc-id remap (avoids a pointless global top-k before it)."""
    from engine.postings import decode_postings_doc_ids

    view = store.view()
    blocks = view.postings(spark).where(term_pred)
    matched = decode_postings_doc_ids(blocks, codec=view.codec)
    live = view.live_docs(spark)
    if live is not None:
        matched = matched.join(live.select("doc_id"), "doc_id")
    scored = matched.select("doc_id", F.lit(1.0).alias("score"))
    if k is None:
        return scored
    return scored.orderBy(F.col("doc_id").asc()).limit(k)


def search_store_prefix(
    spark: SparkSession,
    store,
    prefix: str,
    k: int | None = 10,
) -> DataFrame:
    """Constant-score prefix query over a persisted store: StringStartsWith
    pushes into the posting-block scan (constant_score_store)."""
    return constant_score_store(spark, store, F.col("term").startswith(prefix), k)


def prefix_oracle_sql(
    prefix: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    esc = prefix.replace("'", "''").replace("%", "\\%").replace("_", "\\_")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
)
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM toks WHERE term LIKE '{esc}%' ESCAPE '\\'
ORDER BY doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# match_bool_prefix (ES): bool of term queries + a prefix on the last token
# ---------------------------------------------------------------------------


def match_bool_prefix(
    spark: SparkSession,
    docs: DataFrame,
    query: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `match_bool_prefix`: the analyzed query's last token matches as a
    PREFIX, every earlier token as a regular term, all in a bool `should`
    (match-any). Scoring mirrors the ES rewrite: term clauses contribute
    BM25 (the shared bm25_contribs relation), the prefix clause contributes
    constant 1.0 (Lucene constant-score multi-term rewrite); a doc needs at
    least one matching clause.

    Plan: one broadcast-semi-filtered contribs pass for the full terms +
    one startswith-filtered distinct for the prefix, unioned into a single
    per-doc aggregate — clause count is query-sized, corpus passes are not.
    """
    from engine.config import SCORE_DECIMALS
    from engine.query import bm25_contribs

    if not query:
        raise ValueError("empty query")
    *full, last = [t.lower() for t in query]
    parts = []
    if full:
        parts.append(
            bm25_contribs(spark, docs, full, id_col=id_col, text_col=text_col)
            .select("doc_id", F.col("contrib"))
        )
    prefix_docs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .where(F.col("term").startswith(last))
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1.0).alias("contrib"))
    )
    parts.append(prefix_docs)
    rel = parts[0]
    for p in parts[1:]:
        rel = rel.unionByName(p)
    return (
        rel.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def match_bool_prefix_oracle_sql(
    query: list[str],
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from engine.config import DEFAULT_CONFIG as _C
    from engine.config import SCORE_DECIMALS

    *full, last = [t.lower() for t in query]
    toks = f"regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')"
    term_part = ""
    if full:
        # quote like the sibling oracles (engine/phrase._sql_quote): an
        # apostrophe in a term must not break the generated SQL
        from engine.phrase import _sql_quote

        terms_values = ", ".join(f"({_sql_quote(t)})" for t in sorted(set(full)))
        term_part = f"""
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf / (tf.tf + {_C.k1} * (1 - {_C.b} + {_C.b} * dl.doc_len / stats.avgdl)))
           AS contrib
  FROM tf
  JOIN (VALUES {terms_values}) q(term) USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  UNION ALL"""
    last_esc = last.replace("'", "''").replace("%", "\\%").replace("_", "\\_")
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
), contribs AS ({term_part}
  SELECT DISTINCT doc_id, 1.0 AS contrib
  FROM toks WHERE term LIKE '{last_esc}%' ESCAPE '\\'
)
SELECT doc_id, round(sum(contrib), {SCORE_DECIMALS}) AS score
FROM contribs
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
