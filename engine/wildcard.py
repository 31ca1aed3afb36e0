"""Wildcard term queries (ES `wildcard`): constant-score multi-term
expansion over `*` (any sequence) / `?` (one char) patterns.

Elasticsearch 5.5 (the engine the reference delegates every query to,
/root/reference/build.gradle:42) rewrites a `wildcard` query with the same
Lucene CONSTANT_SCORE MultiTermQuery rewrite as `prefix`: every document
containing ANY term matching the pattern scores boost (1.0), no tf/idf;
ties break by doc id. This module completes the term-level query family
(term / bool / prefix / fuzzy / wildcard / match_phrase) with the same
deterministic (score desc, doc_id asc) contract.

Pattern translation: `*` -> SQL LIKE `%`, `?` -> `_`, with literal
`%`/`_`/`\\` in the user pattern escaped — Spark's `like` and DuckDB's
`LIKE` share these exact semantics, so the oracle reproduces the match
bit-identically.

Scale shape (the 100 TB lens):
- Corpus path: the LIKE filter runs JVM-side (whole-stage codegen) on the
  exploded token stream BEFORE the distinct's shuffle.
- Store path: LIKE itself cannot reach a parquet scan, but the pattern's
  LEADING LITERAL (chars before the first wildcard) can: a pattern like
  `sp*k` also pushes StringStartsWith(term, 'sp') for row-group skipping
  on the term-sorted posting files (ES users are told the same thing —
  avoid leading-wildcard patterns; `*abc` degrades to a dictionary scan
  there exactly as in Lucene). Matching blocks decode doc-ids-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.config import TOKEN_PATTERN
from engine.prefix import constant_score_store


def wildcard_to_like(pattern: str) -> str:
    """ES wildcard pattern -> SQL LIKE pattern (escape literal %/_/\\)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def leading_literal(pattern: str) -> str:
    """Chars before the first wildcard — the pushdown-able prefix."""
    for i, ch in enumerate(pattern):
        if ch in ("*", "?"):
            return pattern[:i]
    return pattern


def wildcard_match(
    spark: SparkSession,
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Constant-score wildcard query over a raw document table.

    Returns (doc_id, score=1.0), first k matching docs by doc_id asc."""
    like = wildcard_to_like(pattern.lower())
    matched = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .where(F.col("term").like(like))
        .select("doc_id")
        .distinct()
    )
    return (
        matched.select("doc_id", F.lit(1.0).alias("score"))
        .orderBy(F.col("doc_id").asc())
        .limit(k)
    )


def _with_leading_literal(pred, lead: str):
    """`pred` AND StringStartsWith(term, lead) when there is a literal
    prefix: LIKE / RLIKE cannot reach the parquet scan, the prefix can."""
    return F.col("term").startswith(lead) & pred if lead else pred


def search_store_wildcard(
    spark: SparkSession,
    store,
    pattern: str,
    k: int | None = 10,
) -> DataFrame:
    """Constant-score wildcard query over a persisted store: the pattern's
    leading literal pushes StringStartsWith into the posting-block scan
    (row-group skipping on term-sorted files); the full LIKE filter then
    selects matching terms' blocks (constant_score_store)."""
    p = pattern.lower()
    pred = F.col("term").like(wildcard_to_like(p))
    return constant_score_store(
        spark, store, _with_leading_literal(pred, leading_literal(p)), k
    )


def regexp_match(
    spark: SparkSession,
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES `regexp` query: constant-score match of docs containing ANY term
    the regex matches. Lucene anchors the pattern to the WHOLE term (no
    implicit .* at either end), so the engine anchors with ^(?:...)$ and
    the oracle uses DuckDB's regexp_full_match — identical semantics.

    Pattern contract: the supported operators are the subset common to
    Java regex (Spark rlike) and RE2 (DuckDB): literals, char classes,
    alternation, ?, *, +, {m,n} — no backreferences or lookaround (Lucene's
    regexp syntax is similarly restricted). The pattern is used VERBATIM
    (never case-folded — lowercasing a regex corrupts shorthand classes,
    \\D -> \\d inverts the match); indexed terms are already lowercase, so
    patterns should target lowercase literals. Same CONSTANT_SCORE
    multi-term rewrite and 100 TB shape as wildcard_match: the regex runs
    JVM-side on the exploded token stream before the distinct's shuffle;
    on a store, any literal prefix of the pattern pushes StringStartsWith
    for row-group skipping exactly as leading_literal does for wildcard."""
    anchored = f"^(?:{pattern})$"
    matched = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .where(F.col("term").rlike(anchored))
        .select("doc_id")
        .distinct()
    )
    return (
        matched.select("doc_id", F.lit(1.0).alias("score"))
        .orderBy(F.col("doc_id").asc())
        .limit(k)
    )


_REGEX_META = set(".?*+{}[]()|\\^$")


def regexp_leading_literal(pattern: str) -> str:
    """Chars before the first regex metacharacter — the pushdown-able
    prefix (same role as leading_literal for wildcard patterns)."""
    for i, ch in enumerate(pattern):
        if ch in _REGEX_META:
            return pattern[:i]
    return pattern


def search_store_regexp(
    spark: SparkSession,
    store,
    pattern: str,
    k: int | None = 10,
) -> DataFrame:
    """ES regexp query over a persisted store: the pattern's leading
    literal pushes StringStartsWith into the posting-block scan (row-group
    skipping on term-sorted files; same degradation warning as Lucene for
    patterns with no literal prefix), the anchored RLIKE then selects
    matching terms' blocks (constant_score_store)."""
    pred = F.col("term").rlike(f"^(?:{pattern})$")
    return constant_score_store(
        spark, store, _with_leading_literal(pred, regexp_leading_literal(pattern)), k
    )


def regexp_oracle_sql(
    pattern: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    pat = pattern.replace("'", "''")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
)
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM toks WHERE regexp_full_match(term, '{pat}')
ORDER BY doc_id ASC
LIMIT {k}
"""


def wildcard_oracle_sql(
    pattern: str,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    like = wildcard_to_like(pattern.lower()).replace("'", "''")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
)
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM toks WHERE term LIKE '{like}' ESCAPE '\\'
ORDER BY doc_id ASC
LIMIT {k}
"""
