"""ES 5.5 search aggregations, re-expressed as single-shuffle Spark plans.

The reference delegates all querying to Elasticsearch: it posts each raw
message as the document `_source` (ElasticSearchBatchService.java:60) and
any consumer of those indexes pairs a `query` with `aggs` in the ES search
API. This module implements the core ES 5.5 aggregation families natively:

  - `terms` aggregation   -> terms_agg        (top-N buckets by doc_count)
  - `date_histogram`      -> date_histogram   (calendar-interval buckets)
  - `stats`               -> stats_agg        (count/min/max/avg/sum over
                                               ALL query hits, not top-k)
  - `cardinality`         -> cardinality_agg  (exact tier) and
                             cardinality_approx (HLL++ scale path — ES's
                             own cardinality agg is approximate HLL too)
  - per-shard doc stats   -> routing_doc_counts (metadata-served: folds the
                             segments' persisted routing_stats, ZERO data
                             scan — the ES `_stats`/`_cat/shards` shape)

100 TB shape: every aggregation here is one hash-aggregate with map-side
partial combine — the only shuffle moves (bucket_key, partial_agg) rows,
never documents. Bucket counts are bounded by field cardinality, so the
final stage is trivially small. `terms_agg`'s top-N is a
TakeOrderedAndProject over the aggregated buckets (no global sort).
For a truly high-cardinality terms field at 10^12 docs, ES itself goes
approximate (shard_size); the exact groupBy here remains correct — it just
shuffles |distinct keys| rows — and `cardinality_approx` is the documented
approximate path.

Every function has a matching *_oracle_sql builder (same expressions in
DuckDB SQL) so the driver's rows+schema+value-hash check is strong.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.analysis import tokens
from engine.config import SCORE_DECIMALS, TOKEN_PATTERN

_DUCK_TOKS = "regexp_extract_all(lower(coalesce({col}, '')), '{pat}')"


# ---------------------------------------------------------------------------
# terms aggregation (ES `terms`)
# ---------------------------------------------------------------------------


def terms_agg(
    df: DataFrame, field: str, size: int = 10, metric_col: str | None = None
) -> DataFrame:
    """ES `terms` aggregation: top-`size` buckets of `field` ordered by
    doc_count desc (key asc tie-break — ES's `_count` then `_term` order),
    optionally with an `avg` sub-aggregation on `metric_col`.

    Plan: partial+final HashAggregate (one shuffle on the bucket key) ->
    TakeOrderedAndProject(size). Nothing but (key, count, sum) crosses the
    wire.
    """
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if metric_col is not None:
        aggs.append(
            F.round(F.avg(metric_col), SCORE_DECIMALS).alias(f"avg_{metric_col}")
        )
    return (
        df.groupBy(F.col(field).alias("key"))
        .agg(*aggs)
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


def terms_agg_oracle_sql(
    field: str, size: int = 10, metric_col: str | None = None,
    table: str = "documents",
) -> str:
    metric = (
        f", round(avg({metric_col}), {SCORE_DECIMALS}) AS avg_{metric_col}"
        if metric_col
        else ""
    )
    return f"""
        SELECT {field} AS key, count(*) AS doc_count{metric}
        FROM {table}
        GROUP BY 1
        ORDER BY doc_count DESC, key ASC
        LIMIT {size}
    """


# ---------------------------------------------------------------------------
# date_histogram aggregation (ES `date_histogram`, calendar interval)
# ---------------------------------------------------------------------------


def date_histogram(
    df: DataFrame, ts_col: str, interval: str = "day",
    value_col: str | None = None,
) -> DataFrame:
    """ES `date_histogram` with a calendar interval (`day`/`month`/...):
    one bucket per truncated timestamp, doc_count plus an optional `sum`
    sub-aggregation. The bucket key is emitted as a 'yyyy-MM-dd' string so
    the oracle comparison is date-library-free.

    Plan: one hash-aggregate shuffle keyed by the truncated date — bucket
    count is bounded by the time span, independent of corpus size.
    """
    bucket = F.date_format(F.date_trunc(interval.upper(), F.col(ts_col)), "yyyy-MM-dd")
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if value_col is not None:
        aggs.append(
            F.round(F.sum(value_col), SCORE_DECIMALS).alias(f"sum_{value_col}")
        )
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(*aggs)
        .orderBy("bucket")
    )


def date_histogram_oracle_sql(
    ts_col: str, interval: str = "day", value_col: str | None = None,
    table: str = "events",
) -> str:
    metric = (
        f", round(sum({value_col}), {SCORE_DECIMALS}) AS sum_{value_col}"
        if value_col
        else ""
    )
    return f"""
        SELECT strftime(date_trunc('{interval}', {ts_col}), '%Y-%m-%d') AS bucket,
               count(*) AS doc_count{metric}
        FROM {table}
        GROUP BY 1
        ORDER BY bucket
    """


# ---------------------------------------------------------------------------
# stats aggregation over query hits (ES search: `query` + `aggs: {stats}`)
# ---------------------------------------------------------------------------


def stats_agg(
    docs: DataFrame, query_terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """ES `stats` aggregation scoped by a match query: count/min/max/avg/sum
    of doc length over ALL documents matching ANY query term — the agg runs
    on the full hit set, not the top-k page (exactly ES semantics: `size: 0`
    searches with aggs still visit every hit).

    The match filter is `arrays_overlap(tokens, query_terms)` — a JVM
    column expression evaluated doc-local before the single aggregate, so
    the plan is scan -> filter -> partial agg -> 1-row final agg. No join,
    no per-doc shuffle.
    """
    toks = tokens(text_col)
    dl = F.size(toks)
    lits = F.array(*[F.lit(t) for t in query_terms])
    return (
        docs.select(dl.alias("dl"), toks.alias("_t"))
        .where(F.arrays_overlap(F.col("_t"), lits))
        .agg(
            F.count(F.lit(1)).alias("hit_count"),
            F.min("dl").cast("long").alias("min_dl"),
            F.max("dl").cast("long").alias("max_dl"),
            F.round(F.avg("dl"), SCORE_DECIMALS).alias("avg_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
    )


def stats_agg_oracle_sql(
    query_terms: list[str], table: str = "documents", text_col: str = "text"
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
        WITH hits AS (
          SELECT len(t) AS dl
          FROM (SELECT {toks} AS t FROM {table})
          WHERE list_has_any(t, [{terms}])
        )
        SELECT count(*) AS hit_count,
               CAST(min(dl) AS BIGINT) AS min_dl,
               CAST(max(dl) AS BIGINT) AS max_dl,
               round(avg(dl), {SCORE_DECIMALS}) AS avg_dl,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM hits
    """


# ---------------------------------------------------------------------------
# cardinality aggregation (ES `cardinality` — HLL-approximate in ES)
# ---------------------------------------------------------------------------


def cardinality_agg(df: DataFrame, group_col: str, field: str) -> DataFrame:
    """Exact distinct count of `field` per `group_col` bucket — the
    oracle-checkable tier of ES's `cardinality` agg. Spark plans
    count(DISTINCT x) as a two-phase partial-distinct aggregate (dedup
    map-side within (group, x), then count), so the shuffle carries
    distinct pairs only."""
    return (
        df.groupBy(F.col(group_col).alias("key"))
        .agg(F.countDistinct(field).alias("cardinality"))
        .orderBy("key")
    )


def cardinality_agg_oracle_sql(
    group_col: str, field: str, table: str = "events"
) -> str:
    return f"""
        SELECT {group_col} AS key, count(DISTINCT {field}) AS cardinality
        FROM {table} GROUP BY 1 ORDER BY key
    """


def cardinality_approx(
    df: DataFrame, group_col: str, field: str, rsd: float = 0.05
) -> DataFrame:
    """The 100 TB path: HyperLogLog++ (`approx_count_distinct`), the same
    sketch family ES's cardinality agg uses. Constant memory per bucket,
    no distinct shuffle — partial sketches merge associatively. Not
    oracle-hashable (sketch estimates differ across engines by design);
    the pytest asserts relative error vs the exact tier instead."""
    return (
        df.groupBy(F.col(group_col).alias("key"))
        .agg(F.approx_count_distinct(field, rsd).alias("cardinality_est"))
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# histogram aggregation (ES `histogram`, fixed numeric interval)
# ---------------------------------------------------------------------------


def histogram_agg(
    df: DataFrame, field: str, interval: int, value_col: str | None = None
) -> DataFrame:
    """ES `histogram` aggregation: fixed-width numeric buckets keyed by
    floor(value / interval) * interval, doc_count per bucket plus an
    optional avg sub-aggregation. Same single-shuffle partial+final
    hash-aggregate shape as date_histogram; bucket count is bounded by the
    value range / interval, independent of corpus size."""
    key = (F.floor(F.col(field) / F.lit(int(interval))) * F.lit(int(interval)))
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if value_col is not None:
        aggs.append(
            F.round(F.avg(value_col), SCORE_DECIMALS).alias(f"avg_{value_col}")
        )
    return (
        df.groupBy(key.cast("long").alias("bucket"))
        .agg(*aggs)
        .orderBy("bucket")
    )


def histogram_agg_oracle_sql(
    field: str, interval: int, value_col: str | None = None,
    table: str = "documents",
) -> str:
    metric = (
        f", round(avg({value_col}), {SCORE_DECIMALS}) AS avg_{value_col}"
        if value_col
        else ""
    )
    return f"""
        SELECT CAST(floor({field} / {int(interval)}) * {int(interval)} AS BIGINT) AS bucket,
               count(*) AS doc_count{metric}
        FROM {table}
        GROUP BY 1 ORDER BY bucket
    """


# ---------------------------------------------------------------------------
# percentiles aggregation (ES `percentiles` — t-digest-approximate in ES)
# ---------------------------------------------------------------------------

PERCENTS = [25.0, 50.0, 75.0, 95.0, 99.0]


def percentiles_agg(
    df: DataFrame, field: str, percents: list[float] = PERCENTS
) -> DataFrame:
    """Exact-tier ES `percentiles` agg: one row per requested percentile of
    `field`, linear interpolation (Spark's exact `percentile` and DuckDB's
    `quantile_cont` interpolate identically — verified). The exact
    percentile is a sort-based aggregate; `percentiles_approx` below is the
    100 TB path (ES's own percentiles agg is t-digest-approximate)."""
    fracs = [p / 100.0 for p in percents]
    arr = df.agg(F.percentile(field, F.lit(fracs)).alias("_vals"))
    pct = F.array(*[F.lit(float(p)) for p in percents])
    return (
        arr.select(F.posexplode("_vals").alias("_i", "value"))
        .select(
            F.element_at(pct, F.col("_i") + 1).alias("percent"),
            F.round("value", SCORE_DECIMALS).alias("value"),
        )
        .orderBy("percent")
    )


def percentiles_agg_oracle_sql(
    field: str, percents: list[float] = PERCENTS, table: str = "documents"
) -> str:
    plist = ", ".join(str(p / 100.0) for p in percents)
    pctlist = ", ".join(str(float(p)) for p in percents)
    return f"""
        WITH qa AS (
          SELECT quantile_cont({field}, [{plist}]) AS vals FROM {table}
        )
        SELECT CAST(unnest([{pctlist}]) AS DOUBLE) AS percent,
               round(unnest(vals), {SCORE_DECIMALS}) AS value
        FROM qa
        ORDER BY percent
    """


def percentiles_approx(
    df: DataFrame, field: str, percents: list[float] = PERCENTS,
    accuracy: int = 10000,
) -> DataFrame:
    """The scale path: `approx_percentile` (Greenwald-Khanna sketch —
    mergeable partial aggregates, bounded memory, the same
    sketch-then-merge shape as ES's t-digest percentiles). Not
    oracle-hashable by design; pytest bounds its error vs the exact tier."""
    fracs = [p / 100.0 for p in percents]
    arr = df.agg(
        F.approx_percentile(field, F.lit(fracs), F.lit(accuracy)).alias("_vals")
    )
    pct = F.array(*[F.lit(float(p)) for p in percents])
    return arr.select(F.posexplode("_vals").alias("_i", "value")).select(
        F.element_at(pct, F.col("_i") + 1).alias("percent"),
        F.col("value").cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# significant_terms aggregation (ES `significant_terms`, JLH heuristic)
# ---------------------------------------------------------------------------


def significant_terms(
    docs: DataFrame,
    query_terms: list[str],
    size: int = 10,
    min_doc_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `significant_terms` over the hits of a match query, scored with
    ES's default JLH heuristic:

        jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)

    where fg_rate = docs-containing-term / docs-matching-query (foreground)
    and bg_rate = docs-containing-term / all-docs (background). Buckets with
    foreground df < `min_doc_count` are dropped (ES min_doc_count, default
    3 here); top-`size` by (jlh desc, term asc).

    Plan shape at scale (single tokenize pass, zero driver actions): the
    distinct (doc_id, term) relation is tagged per doc with "matches the
    query" (a doc-keyed aggregate + co-partitioned join back), then ONE
    term-keyed aggregate produces bg_df = count(*) and
    fg_df = sum(is_fg) together. n_fg / n_bg ride along as broadcast
    single-row aggregates. Documents never cross a shuffle — only
    (doc_id, term) and (term, counts) rows. This is the same
    shard-local-count-then-merge shape ES uses.

    All rates derive from integer counts via IEEE division, so the oracle
    reproduces them bit-identically; jlh is rounded to SCORE_DECIMALS.
    """
    per_doc_terms = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .select("doc_id", F.explode("_t").alias("term"))
        .distinct()
    )
    # a doc is foreground iff any of its (distinct) terms is a query term —
    # identical membership to arrays_overlap on the raw token array
    doc_flag = per_doc_terms.groupBy("doc_id").agg(
        F.max(F.col("term").isin(list(query_terms)).cast("int")).alias("is_fg")
    )
    counts = (
        per_doc_terms.join(doc_flag, "doc_id")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("bg_df"),
            F.sum("is_fg").alias("fg_df"),
        )
        .where(F.col("fg_df") >= F.lit(int(min_doc_count)))
    )
    n = (
        docs.agg(F.count(F.lit(1)).alias("n_bg"))
        .crossJoin(doc_flag.agg(F.sum("is_fg").alias("n_fg")))
    )
    fg_rate = F.col("fg_df") / F.col("n_fg").cast("double")
    bg_rate = F.col("bg_df") / F.col("n_bg").cast("double")
    jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)
    return (
        counts.crossJoin(F.broadcast(n))
        .select(
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.col("bg_df").cast("long").alias("bg_df"),
            F.round(jlh, SCORE_DECIMALS).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(size)
    )


def significant_terms_oracle_sql(
    query_terms: list[str],
    size: int = 10,
    min_doc_count: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
        WITH dterms AS (
          SELECT DISTINCT {id_col} AS doc_id, unnest({toks}) AS term
          FROM {table}
        ), fg_ids AS (
          SELECT {id_col} AS doc_id FROM {table}
          WHERE list_has_any({toks}, [{terms}])
        ), bg AS (
          SELECT term, count(*) AS bg_df FROM dterms GROUP BY term
        ), fg AS (
          SELECT term, count(*) AS fg_df
          FROM dterms SEMI JOIN fg_ids USING (doc_id)
          GROUP BY term HAVING count(*) >= {int(min_doc_count)}
        ), n AS (
          SELECT (SELECT count(*) FROM fg_ids) AS n_fg,
                 (SELECT count(*) FROM {table}) AS n_bg
        )
        SELECT term,
               CAST(fg_df AS BIGINT) AS fg_df,
               CAST(bg_df AS BIGINT) AS bg_df,
               round( (fg_df / CAST(n_fg AS DOUBLE) - bg_df / CAST(n_bg AS DOUBLE))
                      * ((fg_df / CAST(n_fg AS DOUBLE)) / (bg_df / CAST(n_bg AS DOUBLE))),
                      {SCORE_DECIMALS}) AS score
        FROM fg JOIN bg USING (term) CROSS JOIN n
        ORDER BY score DESC, term ASC
        LIMIT {size}
    """


# ---------------------------------------------------------------------------
# per-routing doc counts from segment metadata (ES `_stats` / `_cat/shards`)
# ---------------------------------------------------------------------------


def routing_doc_counts(spark: SparkSession, store) -> DataFrame:
    """Per-routing-partition doc counts + total doc length served purely
    from segment METADATA: folds the `routing_stats` each segment commit
    persists in stats.json (engine/ingest.py, engine/merge.py). No parquet
    data file is opened — the ES `_stats`-per-shard shape, O(segments)
    driver work regardless of corpus size.

    Matches the data-scan answer exactly because routed segments are
    routing-pure and every commit records the per-routing rollup
    (grand-total row selected via grouping(), ADVICE r04)."""
    agg: dict[str, dict[str, int]] = {}
    view = store.view()
    for seg in view.segments:
        st = view.store.segment_stats(seg)
        for rv, s in (st.get("routing_stats") or {}).items():
            d = agg.setdefault(rv, {"n_docs": 0, "sum_dl": 0})
            d["n_docs"] += s["n_docs"]
            d["sum_dl"] += s["sum_dl"]
    rows = [
        (rv, int(s["n_docs"]), int(s["sum_dl"]))
        for rv, s in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows, "routing string, n_docs long, sum_dl long"
    )


def routing_doc_counts_oracle_sql(
    routing_field: str = "lang", table: str = "documents",
    text_col: str = "text",
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    return f"""
        SELECT {routing_field} AS routing,
               count(*) AS n_docs,
               CAST(sum(len({toks})) AS BIGINT) AS sum_dl
        FROM {table} GROUP BY 1 ORDER BY routing
    """


# ---------------------------------------------------------------------------
# matrix_stats aggregation (ES `matrix_stats` — field-pair moments)
# ---------------------------------------------------------------------------


def matrix_stats_agg(
    docs: DataFrame, x_field: str = "n_chars", text_col: str = "text"
) -> DataFrame:
    """ES `matrix_stats` over the field pair (x_field, doc token length):
    count, per-field mean/variance, covariance, correlation — the moments
    ES reports per field pair (kurtosis/skewness omitted: not exposed by
    Spark/DuckDB as shared-definition builtins; documented subset).

    One scan, map-side partial moments, 1-row final aggregate — the same
    no-join shape as stats_agg; at any corpus size the shuffle is the
    constant-width moment vector. Population (not sample) variance and
    covariance, matching ES.
    """
    toks = tokens(text_col)
    return docs.select(
        F.col(x_field).cast("double").alias("x"),
        F.size(toks).cast("double").alias("y"),
    ).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("x"), SCORE_DECIMALS).alias("mean_x"),
        F.round(F.avg("y"), SCORE_DECIMALS).alias("mean_y"),
        F.round(F.var_pop("x"), SCORE_DECIMALS).alias("var_x"),
        F.round(F.var_pop("y"), SCORE_DECIMALS).alias("var_y"),
        F.round(F.covar_pop("x", "y"), SCORE_DECIMALS).alias("covariance"),
        # zero-variance / single-row input: Spark corr yields NaN where
        # DuckDB yields NULL — normalize to NULL for the oracle contract
        F.round(
            F.when(F.isnan(F.corr("x", "y")), F.lit(None)).otherwise(
                F.corr("x", "y")
            ),
            SCORE_DECIMALS,
        ).alias("correlation"),
    )


def matrix_stats_oracle_sql(
    x_field: str = "n_chars", table: str = "documents", text_col: str = "text"
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    return f"""
        WITH f AS (
          SELECT CAST({x_field} AS DOUBLE) AS x,
                 CAST(len({toks}) AS DOUBLE) AS y
          FROM {table}
        )
        SELECT count(*) AS doc_count,
               round(avg(x), {SCORE_DECIMALS}) AS mean_x,
               round(avg(y), {SCORE_DECIMALS}) AS mean_y,
               round(var_pop(x), {SCORE_DECIMALS}) AS var_x,
               round(var_pop(y), {SCORE_DECIMALS}) AS var_y,
               round(covar_pop(x, y), {SCORE_DECIMALS}) AS covariance,
               round(corr(x, y), {SCORE_DECIMALS}) AS correlation
        FROM f
    """


# ---------------------------------------------------------------------------
# multi_terms / rare_terms / weighted_avg / median_absolute_deviation
# (ES aggs the 5.x-7.x line ships; same single-shuffle shapes as `terms`)
# ---------------------------------------------------------------------------


def multi_terms_agg(
    df: DataFrame, group_cols: list[str], size: int = 10,
    metric_col: str | None = None,
) -> DataFrame:
    """ES `multi_terms`: buckets keyed by a composite of several fields,
    top-`size` by doc_count desc with the composite key as tie-break.

    Plan: ONE hash-aggregate shuffle on the composite key +
    TakeOrderedAndProject — identical shape to `terms`, the key is just
    wider. Never a cross of per-field aggs."""
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if metric_col is not None:
        aggs.append(
            F.round(F.avg(metric_col), SCORE_DECIMALS).alias(f"avg_{metric_col}")
        )
    return (
        df.groupBy(*group_cols)
        .agg(*aggs)
        .orderBy(F.col("doc_count").desc(), *[F.col(c).asc() for c in group_cols])
        .limit(size)
    )


def multi_terms_oracle_sql(
    group_cols: list[str], size: int = 10, metric_col: str | None = None,
    table: str = "documents",
) -> str:
    keys = ", ".join(group_cols)
    metric = (
        f", round(avg({metric_col}), {SCORE_DECIMALS}) AS avg_{metric_col}"
        if metric_col else ""
    )
    order_keys = ", ".join(f"{c} ASC" for c in group_cols)
    return f"""
        SELECT {keys}, count(*) AS doc_count{metric}
        FROM {table}
        GROUP BY {keys}
        ORDER BY doc_count DESC, {order_keys}
        LIMIT {size}
    """


def rare_terms_agg(
    docs: DataFrame, max_doc_count: int = 2, ngram: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """ES `rare_terms` over an analyzed shingle field: word `ngram`-grams
    whose document frequency is <= max_doc_count — the long-tail complement
    of `terms` (which can never surface them without an unbounded size).
    The shingle mapping mirrors the common ES setup (rare_terms over a
    shingle/keyword subfield; unigrams on this closed-vocabulary corpus
    have no tail to find).

    Plan: shingle per-doc-distinct (partition-local) -> ONE groupBy(shingle)
    count with a HAVING filter. ES implements this with a bloom-filtered
    two-phase count for the same reason: the candidate set is large but the
    per-term state is one counter."""
    from engine.dedup import shingles

    return (
        shingles(docs, k=ngram, text_col=text_col, id_col=id_col)
        .groupBy(F.col("shingle").alias("term"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= max_doc_count)
        .orderBy(F.col("term").asc())
    )


def rare_terms_oracle_sql(
    max_doc_count: int = 2, ngram: int = 2, table: str = "documents",
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    toks = _DUCK_TOKS.format(col=text_col, pat=TOKEN_PATTERN)
    return f"""
        WITH t AS (SELECT {id_col} AS doc_id, {toks} AS t FROM {table}),
        idx AS (
          SELECT doc_id, t, unnest(range(1, len(t) - {ngram} + 2)) AS i
          FROM t WHERE len(t) >= {ngram}
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[i:i+{ngram - 1}], ' ') AS term
          FROM idx
        )
        SELECT term, count(*) AS doc_count
        FROM sh
        GROUP BY term
        HAVING count(*) <= {max_doc_count}
        ORDER BY term ASC
    """


def weighted_avg_agg(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """ES `weighted_avg`: sum(value*weight)/sum(weight) per bucket, plus
    `value_count` of non-null values — one hash-aggregate shuffle."""
    v, w = F.col(value_col), F.col(weight_col)
    return (
        df.groupBy(group_col)
        .agg(
            F.round(F.sum(v * w) / F.sum(w), SCORE_DECIMALS).alias("weighted_avg"),
            F.count(value_col).alias("value_count"),
        )
        .orderBy(group_col)
    )


def weighted_avg_oracle_sql(
    group_col: str, value_col: str, weight_col: str, table: str = "documents"
) -> str:
    return f"""
        SELECT {group_col},
               round(sum({value_col} * {weight_col}) * 1.0
                     / sum({weight_col}), {SCORE_DECIMALS}) AS weighted_avg,
               count({value_col}) AS value_count
        FROM {table}
        GROUP BY {group_col}
        ORDER BY {group_col}
    """


def mad_agg(df: DataFrame, group_col: str, field: str) -> DataFrame:
    """ES `median_absolute_deviation`, exact tier: median(|x - median(x)|)
    per bucket. Spark `percentile` and DuckDB `median` both interpolate
    (type R-7), so the twins agree bit-for-bit after rounding.

    Plan: two grouped aggregates over the same shuffle key (median, then
    MAD against the broadcast per-group medians). ES computes this on a
    t-digest sketch; the mergeable approx scale path here is
    percentile_approx over |x - med| with the same shape."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({field}, 0.5)").alias("_med")
    )
    return (
        df.join(F.broadcast(med), group_col)
        .groupBy(group_col)
        .agg(
            F.round(
                F.expr(f"percentile(abs({field} - _med), 0.5)"), SCORE_DECIMALS
            ).alias("mad")
        )
        .orderBy(group_col)
    )


def mad_oracle_sql(group_col: str, field: str, table: str = "documents") -> str:
    return f"""
        WITH med AS (
          SELECT {group_col}, median({field}) AS m FROM {table} GROUP BY {group_col}
        )
        SELECT t.{group_col},
               round(median(abs(t.{field} - med.m)), {SCORE_DECIMALS}) AS mad
        FROM {table} t JOIN med USING ({group_col})
        GROUP BY t.{group_col}
        ORDER BY t.{group_col}
    """


def percentile_ranks_agg(
    df: DataFrame, field: str, values: list[float]
) -> DataFrame:
    """ES `percentile_ranks`: for each requested value, the percentage of
    observations <= it — the inverse of `percentiles`. Exact tier: one
    aggregate computing all ranks in a single pass (conditional sums); the
    scale path is the same t-digest/approx family as percentiles_approx.
    """
    n = F.count(F.lit(1))
    aggs = [
        F.round(
            F.sum((F.col(field) <= F.lit(float(v))).cast("int")) * 100.0 / n,
            SCORE_DECIMALS,
        ).alias(f"_r{i}")
        for i, v in enumerate(values)
    ]
    row = df.agg(*aggs)
    vals = F.array(*[F.lit(float(v)) for v in values])
    ranks = F.array(*[F.col(f"_r{i}") for i in range(len(values))])
    return (
        row.select(F.posexplode(F.arrays_zip(vals, ranks)).alias("_i", "_s"))
        .select(
            F.col("_s.0").alias("value"),
            F.col("_s.1").alias("percent_rank"),
        )
        .orderBy("value")
    )


def percentile_ranks_oracle_sql(
    field: str, values: list[float], table: str = "documents"
) -> str:
    sels = []
    for v in values:
        sels.append(
            f"SELECT CAST({float(v)} AS DOUBLE) AS value, "
            f"round(100.0 * sum(CASE WHEN {field} <= {float(v)} THEN 1 ELSE 0 END)"
            f" / count(*), {SCORE_DECIMALS}) AS percent_rank FROM {table}"
        )
    return " UNION ALL ".join(sels) + " ORDER BY value"
