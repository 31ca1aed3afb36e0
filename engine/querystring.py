"""ES `simple_query_string`: a mini query language compiled onto the
engine's BM25 bool/phrase machinery.

The reference delegates every query to Elasticsearch 5.5
(/root/reference/build.gradle:42); ES 5.5's `simple_query_string` query
parses a user-typed string with operators and never throws on malformed
input. This module implements the documented subset:

  - whitespace-separated clauses, default operator OR (``default_operator
    ="and"`` makes bare clauses required, exactly ES's flag)
  - ``+clause``  -> must (required, scoring)
  - ``-clause``  -> must_not (excluded, non-scoring — ES filter context)
  - ``"a b c"``  -> phrase clause (positional match, Lucene PhraseQuery
    scoring), combinable with +/-
  - ``|``        -> explicit OR separator (same as whitespace under the
    default operator; ignored as a token)
  - everything else is analyzed with the engine tokenizer; a bare token
    that analyzes to several terms contributes each term as its own clause
    with the same occur (ES analyzes per whitespace token too)

Not implemented (documented): ``field:`` prefixes (single-field engine;
see bm25_topk_fields for the multi-field scorer), ``*`` suffix wildcards,
``~N`` fuzziness/slop, parentheses. The parser is shared verbatim by the
SQL-oracle generator, so the driver's value-hash check covers the compiled
execution plan end-to-end.

Bool semantics (ES): a doc must match ALL must clauses and NO must_not
clause; if the query has no must clauses, it must match at least one
should clause (ES's minimum_should_match default: 1 without must, 0 with).
Score = sum of matched scoring-clause contributions (must and should both
score; must_not never does).

Scale shape: term clauses ride the shared `bm25_contribs` relation (one
broadcast-semi-filtered shuffle for ALL terms together); each phrase
clause adds one positional-scan relation; the bool gates are one grouped
aggregate plus broadcast anti-joins for must_not. Clause count is
query-sized (tiny), corpus passes stay independent of clause count.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS, TOKEN_PATTERN, IndexConfig
from engine.phrase import _ptf_cte, _sql_quote, phrase_scores
from engine.query import bm25_contribs, corpus_tokens

# python re has no \p classes; the engine tokenizer's Unicode letter/number
# runs are [^\W_] (word chars minus underscore) in python — identical on
# the ASCII corpus and close enough for parsing (the EXECUTION tokenizers
# in Spark/DuckDB always re-analyze the clause text themselves).
_PY_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

# a clause is a quoted span or a non-space run, with an optional +/- prefix
_CLAUSE_RE = re.compile(r'([+-]?)("([^"]*)"|\S+)')


@dataclass(frozen=True)
class Clause:
    occur: str  # 'must' | 'should' | 'must_not'
    kind: str  # 'term' | 'phrase'
    terms: tuple[str, ...]  # analyzed terms (1 for term clauses)


def parse_simple_query_string(
    q: str, default_operator: str = "or"
) -> list[Clause]:
    """Never-throwing parser (ES simple_query_string contract): malformed
    pieces degrade to plain terms; empty/unanalyzable clauses are dropped.
    Duplicate (occur, kind, terms) clauses are deduped (ES dedups
    identical clauses at rewrite time)."""
    bare = "must" if default_operator.lower() == "and" else "should"
    out: list[Clause] = []
    for sign, body, quoted in _CLAUSE_RE.findall(q or ""):
        occur = {"+": "must", "-": "must_not"}.get(sign, bare)
        if body.startswith('"'):
            terms = tuple(t.lower() for t in _PY_TOKEN_RE.findall(quoted))
            if terms:
                out.append(Clause(occur, "phrase", terms))
            continue
        if body == "|":
            continue
        for t in _PY_TOKEN_RE.findall(body):
            out.append(Clause(occur, "term", (t.lower(),)))
    seen: set[Clause] = set()
    deduped = []
    for c in out:
        if c not in seen:
            seen.add(c)
            deduped.append(c)
    return deduped



def _compile_clauses(clauses: list[Clause]):
    """Shared clause bucketing for both execution paths: returns
    (must_terms, should_terms, neg_terms, phrases, scoring_terms, n_must,
    need_should) with ES minimum_should_match defaults."""
    must_terms = {c.terms[0] for c in clauses if c.occur == "must" and c.kind == "term"}
    should_terms = {
        c.terms[0] for c in clauses if c.occur == "should" and c.kind == "term"
    }
    neg_terms = sorted(
        {c.terms[0] for c in clauses if c.occur == "must_not" and c.kind == "term"}
    )
    phrases = [c for c in clauses if c.kind == "phrase"]
    scoring_terms = sorted(must_terms | should_terms)
    n_must = len(must_terms) + sum(1 for c in phrases if c.occur == "must")
    has_should = bool(should_terms) or any(c.occur == "should" for c in phrases)
    need_should = 1 if (n_must == 0 and has_should) else 0
    return must_terms, should_terms, neg_terms, phrases, scoring_terms, n_must, need_should


def _occur_table(spark, scoring_terms, must_terms, should_terms):
    return spark.createDataFrame(
        [
            (t, 1 if t in must_terms else 0, 1 if t in should_terms else 0)
            for t in scoring_terms
        ],
        "term string, is_must int, is_should int",
    )


def _execute_bool(
    spark: SparkSession,
    parts: list[DataFrame],
    n_must: int,
    need_should: int,
    has_negation: bool,
    matchall,
    neg_doc_sets: list,
    k: int,
) -> DataFrame:
    """Shared bool execution for both paths: union clause contribs, apply
    must/should gates, anti-join exclusions, round + top-k. `parts` rows
    are (doc_id, contrib, is_must, is_should); `matchall()` supplies the
    (doc_id) base for pure-negation queries; `neg_doc_sets` are thunks
    yielding (doc_id) relations to anti-join (ES filter context)."""
    if not parts:
        if not has_negation:
            return spark.createDataFrame([], "doc_id long, score double")
        # pure-negation query: ES rewrites to match_all minus the excluded
        # docs, every hit scored 0 (bool with only must_not)
        per_doc = matchall().select("doc_id", F.lit(0.0).alias("raw_score"))
    else:
        rel = parts[0]
        for p in parts[1:]:
            rel = rel.unionByName(p)
        per_doc = rel.groupBy("doc_id").agg(
            F.sum("contrib").alias("raw_score"),
            F.sum("is_must").alias("n_must_matched"),
            F.sum("is_should").alias("n_should_matched"),
        )
        if n_must:
            per_doc = per_doc.where(F.col("n_must_matched") >= F.lit(n_must))
        if need_should:
            per_doc = per_doc.where(
                F.col("n_should_matched") >= F.lit(need_should)
            )
    for thunk in neg_doc_sets:
        per_doc = per_doc.join(thunk().select("doc_id"), "doc_id", "left_anti")
    return (
        per_doc.select(
            "doc_id", F.round("raw_score", SCORE_DECIMALS).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def simple_query_string_topk(
    spark: SparkSession,
    docs: DataFrame,
    q: str,
    k: int = 10,
    default_operator: str = "or",
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score) top-k for a simple_query_string query."""
    clauses = parse_simple_query_string(q, default_operator)
    (must_terms, should_terms, neg_terms, phrases, scoring_terms, n_must,
     need_should) = _compile_clauses(clauses)

    # per-doc clause match/score relation: (doc_id, contrib, is_must,
    # is_should). Term clauses ride ONE shared bm25_contribs pass.
    parts = []
    if scoring_terms:
        occ = _occur_table(spark, scoring_terms, must_terms, should_terms)
        parts.append(
            bm25_contribs(
                spark, docs, scoring_terms, cfg=cfg, id_col=id_col,
                text_col=text_col,
            )
            .join(F.broadcast(occ), "term")
            .select("doc_id", F.col("contrib"), "is_must", "is_should")
        )
    for c in phrases:
        if c.occur == "must_not":
            continue
        parts.append(
            phrase_scores(spark, docs, list(c.terms), cfg, id_col, text_col)
            .select(
                "doc_id",
                F.col("raw_score").alias("contrib"),
                F.lit(1 if c.occur == "must" else 0).alias("is_must"),
                F.lit(1 if c.occur == "should" else 0).alias("is_should"),
            )
        )

    def _matchall():
        return docs.select(F.col(id_col).cast("long").alias("doc_id"))

    neg_sets = []
    if neg_terms:
        def _neg_term_docs(neg_terms=neg_terms):
            negq = spark.createDataFrame(
                [(t,) for t in neg_terms], "term string"
            )
            # broadcast-filtered exclusion, non-scoring (filter context)
            return (
                corpus_tokens(docs, id_col, text_col)
                .join(F.broadcast(negq), "term")
                .select("doc_id")
                .distinct()
            )

        neg_sets.append(_neg_term_docs)
    for c in phrases:
        if c.occur == "must_not":
            neg_sets.append(
                lambda c=c: phrase_scores(
                    spark, docs, list(c.terms), cfg, id_col, text_col
                )
            )

    has_neg = bool(neg_terms) or any(c.occur == "must_not" for c in phrases)
    return _execute_bool(
        spark, parts, n_must, need_should, has_neg, _matchall, neg_sets, k
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generator (shares the parser verbatim)
# ---------------------------------------------------------------------------


def simple_query_string_oracle_sql(
    q: str,
    k: int = 10,
    default_operator: str = "or",
    cfg: IndexConfig = DEFAULT_CONFIG,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    clauses = parse_simple_query_string(q, default_operator)
    must_terms = sorted(
        {c.terms[0] for c in clauses if c.occur == "must" and c.kind == "term"}
    )
    should_terms = sorted(
        {c.terms[0] for c in clauses if c.occur == "should" and c.kind == "term"}
    )
    neg_terms = sorted(
        {c.terms[0] for c in clauses if c.occur == "must_not" and c.kind == "term"}
    )
    phrases = [c for c in clauses if c.kind == "phrase"]
    scoring_terms = sorted(set(must_terms) | set(should_terms))
    n_must = len(must_terms) + sum(1 for c in phrases if c.occur == "must")
    has_should = bool(should_terms) or any(c.occur == "should" for c in phrases)
    need_should = 1 if (n_must == 0 and has_should) else 0

    toks = f"regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')"
    pieces = [
        f"""toks AS (
  SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
), dl AS (
  SELECT {id_col} AS doc_id, len({toks}) AS doc_len FROM {table}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
)"""
    ]
    contrib_selects = []
    if scoring_terms:
        occ_values = ", ".join(
            f"({_sql_quote(t)}, {1 if t in set(must_terms) else 0},"
            f" {1 if t in set(should_terms) else 0})"
            for t in scoring_terms
        )
        pieces.append(f"occ(term, is_must, is_should) AS (VALUES {occ_values})")
        contrib_selects.append(
            f"""SELECT tf.doc_id,
       ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl)))
         AS contrib,
       occ.is_must, occ.is_should
  FROM tf
  JOIN occ USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats"""
        )
    for i, c in enumerate(p for p in phrases if p.occur != "must_not"):
        phrase = list(c.terms)
        distinct = sorted(set(phrase))
        mult_values = ", ".join(
            f"({_sql_quote(t)}, {phrase.count(t)})" for t in distinct
        )
        pieces.append(f"q{i}(term, mult) AS (VALUES {mult_values})")
        pieces.append(
            f"""idf{i} AS (
  SELECT sum(q{i}.mult * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))) AS idf_sum
  FROM q{i} JOIN dfreq d USING (term) CROSS JOIN stats s
)"""
        )
        pieces.append(f"ptf{i} AS (\n  {_ptf_cte(phrase, table, id_col, text_col)}\n)")
        contrib_selects.append(
            f"""SELECT p.doc_id,
       i.idf_sum * p.ptf
         / (p.ptf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / s.avgdl))
         AS contrib,
       {1 if c.occur == "must" else 0} AS is_must,
       {1 if c.occur == "should" else 0} AS is_should
  FROM ptf{i} p
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  CROSS JOIN idf{i} i
  WHERE p.ptf > 0"""
        )
    if not contrib_selects:
        # pure-negation query: match_all at score 0 (see the Spark path)
        contrib_selects.append(
            f"SELECT {id_col} AS doc_id, 0.0 AS contrib, 0 AS is_must,"
            f" 0 AS is_should FROM {table}"
        )
    pieces.append(
        "contribs AS (\n" + "\n  UNION ALL\n".join(contrib_selects) + "\n)"
    )

    conds = []
    if neg_terms:
        neg_in = ", ".join(_sql_quote(t) for t in neg_terms)
        conds.append(
            f"doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ({neg_in}))"
        )
    for j, c in enumerate(p for p in phrases if p.occur == "must_not"):
        pieces.append(
            f"negptf{j} AS (\n  {_ptf_cte(list(c.terms), table, id_col, text_col)}\n)"
        )
        conds.append(f"doc_id NOT IN (SELECT doc_id FROM negptf{j} WHERE ptf > 0)")
    having = []
    if n_must:
        having.append(f"sum(is_must) >= {n_must}")
    if need_should:
        having.append(f"sum(is_should) >= {need_should}")

    where_sql = f"WHERE {' AND '.join(conds)}" if conds else ""
    having_sql = f"HAVING {' AND '.join(having)}" if having else ""
    return f"""
WITH {", ".join(pieces)},
scored AS (
  SELECT doc_id, sum(contrib) AS raw_score
  FROM contribs
  {where_sql}
  GROUP BY doc_id
  {having_sql}
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# store path: the same query language served from the persisted index
# ---------------------------------------------------------------------------


def simple_query_string_store(
    spark: SparkSession,
    store,
    q: str,
    k: int = 10,
    default_operator: str = "or",
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """simple_query_string served from a persisted store: term clauses ride
    index_term_contribs (pushed isin posting-block scan), phrase clauses
    ride phrase_scores_from_positions (positions sidecar), exclusions are
    anti-joins on ids-only decodes — the same compiled bool as the corpus
    path, with search_store's cross-segment semantics (df/stats from the
    stored values; live/tombstoned docs excluded from RESULTS only).
    Rank-identical to the corpus path on a merged store whose stats cover
    the corpus (tested via the shared oracle)."""
    from engine.positions import phrase_scores_from_positions
    from engine.postings import decode_postings_doc_ids
    from engine.query import index_term_contribs

    clauses = parse_simple_query_string(q, default_operator)
    (must_terms, should_terms, neg_terms, phrases, scoring_terms, n_must,
     need_should) = _compile_clauses(clauses)

    view = store.view()
    if phrases and not view.has_positions:
        raise ValueError(
            f"index {view.store.name}: phrase clauses need the positions sidecar "
            "(build with IndexConfig(store_positions=True))"
        )

    stats = view.stats()
    postings = view.postings(spark)
    live = view.live_docs(spark)

    parts = []
    if scoring_terms:
        occ = _occur_table(spark, scoring_terms, must_terms, should_terms)
        parts.append(
            index_term_contribs(
                postings, stats["n_docs"], stats["avgdl"], scoring_terms,
                cfg=cfg, live_docs=live, codec=view.codec,
            )
            .join(F.broadcast(occ), "term")
            .select("doc_id", "contrib", "is_must", "is_should")
        )
    pos_rel = view.positions(spark) if phrases else None
    doc_len_df = None
    if phrases:
        docs = view.docs(spark)
        doc_len_df = (live if live is not None else docs).select(
            "doc_id", "doc_len"
        )

    def _phrase_rel(c):
        return phrase_scores_from_positions(
            spark, pos_rel, doc_len_df, stats["n_docs"], stats["avgdl"],
            list(c.terms), cfg=cfg,
        )

    for c in phrases:
        if c.occur == "must_not":
            continue
        parts.append(
            _phrase_rel(c).select(
                "doc_id",
                F.col("raw_score").alias("contrib"),
                F.lit(1 if c.occur == "must" else 0).alias("is_must"),
                F.lit(1 if c.occur == "should" else 0).alias("is_should"),
            )
        )

    def _matchall():
        base = live if live is not None else view.docs(spark)
        return base.select("doc_id")

    neg_sets = []
    if neg_terms:
        neg_sets.append(
            lambda: decode_postings_doc_ids(
                postings.where(F.col("term").isin(neg_terms)),
                codec=view.codec,
            )
        )
    for c in phrases:
        if c.occur == "must_not":
            neg_sets.append(lambda c=c: _phrase_rel(c))

    has_neg = bool(neg_terms) or any(c.occur == "must_not" for c in phrases)
    return _execute_bool(
        spark, parts, n_must, need_should, has_neg, _matchall, neg_sets, k
    )
