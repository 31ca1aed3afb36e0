"""Fuzzy term queries (ES `fuzzy` / `match` with fuzziness): Levenshtein
term expansion over the vocabulary, then BM25 over the expanded terms.

Elasticsearch 5.5 (the engine the reference delegates every query to,
/root/reference/build.gradle:42) answers a fuzzy query by expanding the
query term against the term dictionary with a Levenshtein automaton
(Lucene FuzzyQuery: up to `max_expansions` terms within `fuzziness`
edits, the first `prefix_length` characters required to match exactly),
then scoring the expansion. This module implements the same
expand-then-score pipeline with two DOCUMENTED divergences, chosen so the
result is exactly reproducible by the ANSI-SQL oracle:

- Plain Levenshtein distance (Spark `levenshtein`, bit-identical to
  DuckDB's): ES default `fuzzy_transpositions=true` counts a transposition
  (Damerau) as one edit; here it is two.
- Expansion selection and scoring: the `max_expansions` cap keeps terms by
  (distance ASC, term ASC) and the expansion is scored as a plain BM25
  disjunction (each expanded term with its own df). Lucene's
  TopTermsBlendedFreqScoringRewrite keeps by boost and blends the df
  across the expansion; a per-term-df disjunction is the deterministic
  stand-in.

Scale shape (the 100 TB lens):
- The expansion NEVER scans postings or text. It is one column-pruned pass
  over the term dictionary — vocabulary rows (term) for the corpus path,
  the store's term_stats relation for the index path — with a cheap
  length-window pre-filter before the levenshtein compare. A web-scale
  vocabulary is 10^8 rows of one short string column: an embarrassingly
  parallel scan, collected only AFTER the <= max_expansions cap.
  (Lucene intersects an automaton with the FST term dictionary; a
  distributed engine's equivalent of "read only the dictionary" is this
  dictionary-relation scan.)
- The bounded expanded term list then drives the normal BM25 machinery:
  pushed `term IN (...)` scan on the store path, broadcast semi-filter on
  the corpus path — identical plans to a hand-written disjunction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.config import DEFAULT_CONFIG, TOKEN_PATTERN, IndexConfig

# ES defaults: fuzzy queries expand to at most 50 terms, no exact prefix.
MAX_EXPANSIONS = 50


def fuzzy_expansions(
    vocab: DataFrame,
    term: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Expand `term` against a vocabulary relation (one `term` column,
    distinct) to the <= max_expansions nearest terms within `max_edits`,
    kept by (levenshtein ASC, term ASC).

    The length-window filter (|len(t) - len(term)| <= max_edits, a
    necessary condition for edit distance <= max_edits) and the exact
    prefix_length filter run JVM-side before the levenshtein compare."""
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    t = term.lower()
    cand = vocab.select("term").where(
        (F.length("term") >= F.lit(len(t) - max_edits))
        & (F.length("term") <= F.lit(len(t) + max_edits))
    )
    if prefix_length > 0:
        cand = cand.where(F.col("term").startswith(t[:prefix_length]))
    dist = F.levenshtein(F.col("term"), F.lit(t))
    rows = (
        cand.withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(int(max_edits)))
        .orderBy(F.col("dist").asc(), F.col("term").asc())
        .limit(int(max_expansions))
        .collect()
    )
    return [r["term"] for r in rows]


def _empty_hits(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "doc_id long, score double")


def fuzzy_match_topk(
    spark: SparkSession,
    docs: DataFrame,
    term: str,
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy BM25 top-k over a raw document table: vocabulary from the
    distinct token stream, expansion scored as a BM25 disjunction."""
    from engine.query import bm25_topk, corpus_tokens

    vocab = corpus_tokens(docs, id_col, text_col).select("term").distinct()
    terms = fuzzy_expansions(
        vocab, term, max_edits=max_edits, prefix_length=prefix_length,
        max_expansions=max_expansions,
    )
    if not terms:
        return _empty_hits(spark)
    return bm25_topk(
        spark, docs, terms, k=k, cfg=cfg, id_col=id_col, text_col=text_col
    )


def search_store_fuzzy(
    spark: SparkSession,
    store,
    term: str,
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fuzzy BM25 top-k over a persisted store: the expansion scans the
    store's term-stats relation (the term dictionary — postings stay
    untouched), then the expanded disjunction runs through search_store
    (pushed isin scan, live-docs exclusion, stored stats)."""
    from engine.query import search_store

    view = store.view()
    vocab = view.term_stats_df(spark).select("term")
    terms = fuzzy_expansions(
        vocab, term, max_edits=max_edits, prefix_length=prefix_length,
        max_expansions=max_expansions,
    )
    if not terms:
        return _empty_hits(spark)
    return search_store(spark, view, terms, k=k, cfg=cfg)


def fuzzy_oracle_sql(
    term: str,
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT_CONFIG,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle: regenerate the expansion (same levenshtein, same
    (dist, term) cap) from the corpus vocabulary, then the standard BM25
    disjunction over it — bit-identical selection and scoring."""
    from engine.config import SCORE_DECIMALS

    t = term.lower().replace("'", "''")
    pre = ""
    if prefix_length > 0:
        esc = (
            term.lower()[:prefix_length]
            .replace("'", "''").replace("%", "\\%").replace("_", "\\_")
        )
        pre = f"AND term LIKE '{esc}%' ESCAPE '\\'"
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
), q AS (
  SELECT term FROM (SELECT DISTINCT term FROM toks)
  WHERE abs(len(term) - {len(term.lower())}) <= {int(max_edits)}
    {pre}
    AND levenshtein(term, '{t}') <= {int(max_edits)}
  ORDER BY levenshtein(term, '{t}') ASC, term ASC
  LIMIT {int(max_expansions)}
), scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf / (tf.tf + {cfg.k1} * (1 - {cfg.b} + {cfg.b} * dl.doc_len / stats.avgdl))) ) AS raw_score
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# term suggester (ES `suggest` -> term suggester, "did you mean")
# ---------------------------------------------------------------------------


def term_suggest(
    vocab_df: DataFrame,
    term: str,
    size: int = 5,
    max_edits: int = 2,
    min_doc_freq: int = 1,
    suggest_mode: str = "always",
) -> DataFrame:
    """ES term suggester over a (term, df) vocabulary relation: candidate
    corrections within `max_edits` Levenshtein edits of the input, ranked
    by (distance ASC, df DESC, term ASC) — ES's score-then-frequency sort
    made fully deterministic — capped at `size`.

    `vocab_df` is (term, df): the distinct token stream's doc counts on the
    corpus path, or the store's term_stats relation (the term DICTIONARY —
    postings and documents are never touched, same scale argument as
    fuzzy_expansions: one column-pruned pass over vocabulary rows with a
    length-window pre-filter before the levenshtein compare).

    `suggest_mode="popular"`: only suggest terms with df strictly greater
    than the input term's own df (ES's popular mode); "always" applies no
    such gate. `min_doc_freq` drops rare-term suggestions (ES min_doc_freq,
    an absolute count here).
    """
    if suggest_mode not in ("always", "popular"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    t = term.lower()
    cand = vocab_df.select("term", "df").where(
        (F.length("term") >= F.lit(len(t) - max_edits))
        & (F.length("term") <= F.lit(len(t) + max_edits))
        & (F.col("term") != F.lit(t))
        & (F.col("df") >= F.lit(int(min_doc_freq)))
    )
    if suggest_mode == "popular":
        own = (
            vocab_df.where(F.col("term") == F.lit(t)).select("df").limit(1).collect()
        )
        own_df = int(own[0]["df"]) if own else 0
        cand = cand.where(F.col("df") > F.lit(own_df))
    dist = F.levenshtein(F.col("term"), F.lit(t))
    return (
        cand.withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(int(max_edits)))
        .select(
            F.col("term").alias("suggestion"),
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("suggestion").asc())
        .limit(int(size))
    )


def corpus_vocab_df(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(term, df) vocabulary from a raw document table — the engine's one
    df definition (engine/query.py doc_frequencies over term_frequencies),
    not a re-derivation."""
    from engine.query import doc_frequencies, term_frequencies

    return doc_frequencies(term_frequencies(docs, id_col, text_col))


def phrase_suggest(
    spark: SparkSession,
    vocab_df: DataFrame,
    phrase: str,
    max_edits: int = 2,
    min_doc_freq: int = 1,
) -> DataFrame:
    """ES phrase suggester ("did you mean" for a whole query), the
    deterministic subset: per position, the best correction within
    `max_edits` Levenshtein edits ranked by (distance ASC, df DESC, term
    ASC) — a unigram-LM special case of ES's word-LM scoring; real ES adds
    a bigram model and a confidence cutoff, both nondeterministic across
    shard counts, hence out of the frozen contract. A position with no
    candidate keeps its input verbatim with dist = -1, df = 0 (ES omits
    the suggestion; emitting the identity keeps the output shape total).

    Returns (pos, input_term, suggestion, dist, df), pos-ordered — the
    corrected phrase is the pos-ordered join of `suggestion`.

    Scale shape: candidates come from the term DICTIONARY (|vocab| rows,
    never postings), length-window pre-filtered before the levenshtein
    compare; per-position best is the row_number()<=1 WindowGroupLimit
    pair, and the positions relation (a few literal rows) broadcasts."""
    toks = [t for t in phrase.lower().split() if t]
    if not toks:
        raise ValueError("phrase_suggest requires a non-empty phrase")
    pos_df = spark.createDataFrame(
        list(enumerate(toks)), "pos long, input_term string"
    )
    cand = vocab_df.select("term", "df").where(
        F.col("df") >= F.lit(int(min_doc_freq))
    )
    joined = (
        F.broadcast(pos_df)
        .join(
            cand,
            (F.length("term") >= F.length("input_term") - F.lit(max_edits))
            & (F.length("term") <= F.length("input_term") + F.lit(max_edits)),
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("input_term")))
        .where(F.col("dist") <= F.lit(int(max_edits)))
    )
    best = F.row_number().over(
        Window.partitionBy("pos").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
        )
    )
    picked = joined.withColumn("_rk", best).where(F.col("_rk") == 1)
    return (
        pos_df.join(picked.select("pos", "term", "dist", "df"), "pos", "left")
        .select(
            "pos",
            "input_term",
            F.coalesce("term", "input_term").alias("suggestion"),
            F.coalesce(F.col("dist"), F.lit(-1)).cast("int").alias("dist"),
            F.coalesce(F.col("df"), F.lit(0)).cast("long").alias("df"),
        )
        .orderBy("pos")
    )


def phrase_suggest_oracle_sql(
    phrase: str,
    max_edits: int = 2,
    min_doc_freq: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    toks = [t for t in phrase.lower().split() if t]
    if not toks:
        raise ValueError("phrase_suggest requires a non-empty phrase")
    pos_values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in enumerate(toks)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
), pos(pos, input_term) AS (
  VALUES {pos_values}
), cand AS (
  SELECT pos.pos, pos.input_term, dfreq.term, dfreq.df,
         levenshtein(dfreq.term, pos.input_term) AS dist,
         row_number() OVER (
           PARTITION BY pos.pos
           ORDER BY levenshtein(dfreq.term, pos.input_term) ASC,
                    dfreq.df DESC, dfreq.term ASC
         ) AS rk
  FROM pos JOIN dfreq
    ON abs(len(dfreq.term) - len(pos.input_term)) <= {int(max_edits)}
  WHERE dfreq.df >= {int(min_doc_freq)}
    AND levenshtein(dfreq.term, pos.input_term) <= {int(max_edits)}
)
SELECT p.pos, p.input_term,
       coalesce(c.term, p.input_term) AS suggestion,
       CAST(coalesce(c.dist, -1) AS INT) AS dist,
       CAST(coalesce(c.df, 0) AS BIGINT) AS df
FROM pos p LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c USING (pos)
ORDER BY p.pos
"""


def term_suggest_oracle_sql(
    term: str,
    size: int = 5,
    max_edits: int = 2,
    min_doc_freq: int = 1,
    suggest_mode: str = "always",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    t = term.lower().replace("'", "''")
    popular = ""
    if suggest_mode == "popular":
        popular = (
            "AND df > coalesce((SELECT df FROM dfreq WHERE term = "
            f"'{t}'), 0)"
        )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
)
SELECT term AS suggestion,
       CAST(levenshtein(term, '{t}') AS INT) AS dist,
       CAST(df AS BIGINT) AS df
FROM dfreq
WHERE abs(len(term) - {len(term.lower())}) <= {int(max_edits)}
  AND term != '{t}'
  AND df >= {int(min_doc_freq)}
  AND levenshtein(term, '{t}') <= {int(max_edits)}
  {popular}
ORDER BY dist ASC, df DESC, suggestion ASC
LIMIT {int(size)}
"""


# ---------------------------------------------------------------------------
# completion suggester (ES `completion` — prefix autocomplete)
# ---------------------------------------------------------------------------


def completion_suggest(
    vocab_df: DataFrame, prefix: str, size: int = 5
) -> DataFrame:
    """ES completion suggester: prefix autocomplete over the term
    dictionary ranked by weight (df here), (df DESC, term ASC),
    capped at `size`. ES serves this from an in-memory FST; the
    relational equivalent is a StringStartsWith filter on the
    dictionary — on a store the prefix pushes into the term-sorted
    posting files' scan (row-group skipping), the same pushdown
    search_store_prefix proves. Postings and documents are never read.
    A term exactly equal to the prefix IS returned (ES parity: a fully
    typed word still suggests itself)."""
    p = prefix.lower()
    return (
        vocab_df.select("term", "df")
        .where(F.col("term").startswith(p))
        .select(
            F.col("term").alias("suggestion"), F.col("df").cast("long").alias("df")
        )
        .orderBy(F.col("df").desc(), F.col("suggestion").asc())
        .limit(int(size))
    )


def completion_suggest_oracle_sql(
    prefix: str,
    size: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    p = prefix.lower().replace("'", "''")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower(coalesce({text_col}, '')), '{TOKEN_PATTERN}')) AS term
  FROM {table}
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
)
SELECT term AS suggestion, CAST(df AS BIGINT) AS df
FROM dfreq
WHERE starts_with(term, '{p}')
ORDER BY df DESC, suggestion ASC
LIMIT {int(size)}
"""
