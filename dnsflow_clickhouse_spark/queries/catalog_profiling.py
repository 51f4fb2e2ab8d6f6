"""Profiling / corpus-statistics query batch: column audit, Gini
concentration, co-occurrence mining, inverted index, weighted
Horvitz-Thompson sampling, grouping sets, blocked fuzzy pairs.

All oracles replay the engine's portable primitives (poly_hash sample
buckets, integer ppm/micro units, Spark ``div`` == DuckDB ``//`` on
non-negative integers, the shared whitespace tokenizer SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.textfn import tokens
from dnsflow_clickhouse_spark.operators.profiling import (
    cooccurrence_pairs,
    fuzzy_pairs,
    gini_concentration,
    inverted_index,
    profile_columns,
    weighted_sample,
)
from dnsflow_clickhouse_spark.operators.sampling import sample_key
from dnsflow_clickhouse_spark.queries.catalog_mlops import _sql_poly, _SQL_TOKS
from dnsflow_clickhouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# column profiling
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "props"]


def column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset audit of the events table (SURVEY §2.5 analogue:
    the reference hand-enumerates its 16 reports; an unfamiliar corpus
    needs a generic per-column profile first)."""
    return profile_columns(load_table(spark, sf_dir, "events"), _PROFILE_COLS)


_PROFILE_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
           count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,
           count(DISTINCT {c}) AS n_distinct FROM events"""
    for c in _PROFILE_COLS
)

# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------


def event_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated each event_type's traffic is over users — the
    skew diagnostic behind the reference's 100-way salting decision
    (DnsRptCH.scala:641): a high-Gini key is the one you salt."""
    return gini_concentration(
        load_table(spark, sf_dir, "events"), "event_type", "user_id"
    )


_GINI_SQL = """
WITH c AS (SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2),
g AS (SELECT event_type, sum(c) AS n_rows, count(*) AS n_keys, sum(c * c) AS s2
      FROM c GROUP BY 1)
SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows, n_keys,
       CAST((n_rows * n_rows - s2) * 1000000 // (n_rows * n_rows) AS BIGINT) AS gini_ppm
FROM g
"""

# ---------------------------------------------------------------------------
# co-occurrence pairs
# ---------------------------------------------------------------------------


def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type pairs sharing users, with exact Jaccard ppm —
    market-basket shape: dedup to (user, type), set-id self-join,
    broadcast marginals back."""
    return cooccurrence_pairs(
        load_table(spark, sf_dir, "events"), "user_id", "event_type"
    )


_COOC_SQL = """
WITH si AS (SELECT DISTINCT user_id, event_type FROM events),
m AS (SELECT event_type, count(*) AS n_sets FROM si GROUP BY 1),
p AS (SELECT a.event_type AS item_a, b.event_type AS item_b, count(*) AS n_both
      FROM si a JOIN si b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
SELECT item_a, item_b, n_both, ma.n_sets AS n_a, mb.n_sets AS n_b,
       n_both * 1000000 // (ma.n_sets + mb.n_sets - n_both) AS jaccard_ppm
FROM p
JOIN m ma ON p.item_a = ma.event_type
JOIN m mb ON p.item_b = mb.event_type
"""

# ---------------------------------------------------------------------------
# inverted index
# ---------------------------------------------------------------------------

_MIN_DF, _SAMPLE_K = 10, 5


def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> document frequency + first-5 posting sample over the
    documents table; posting lists capped before aggregation (window
    row_number), so the plan holds at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return inverted_index(d, "doc_id", tokens(F.col("text")), _MIN_DF, _SAMPLE_K)


_INVIDX_SQL = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
td AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM toks)
SELECT term, count(*) AS doc_freq,
       array_to_string(list_sort(list(doc_id))[1:{_SAMPLE_K}], ',') AS posting_sample
FROM td GROUP BY term HAVING count(*) >= {_MIN_DF}
"""

# ---------------------------------------------------------------------------
# grouping sets
# ---------------------------------------------------------------------------


def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((type, day), (type), (day), ()) in one
    aggregation pass (Catalyst Expand) — the generalization of the
    reference's repeated global + per-client report pairs
    (DnsRptCH.scala:522-552: same agg run twice with different keys)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    gs = base.groupingSets(
        [["event_type", "day"], ["event_type"], ["day"], []], "event_type", "day"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("v_cents").alias("v_sum"))
    return gs.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type_d"),
        F.coalesce("day", F.lit("ALL")).alias("day_d"),
        "n",
        "v_sum",
    )


_GSETS_SQL = """
WITH base AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                     CAST(round(value * 100) AS BIGINT) AS v_cents FROM events)
SELECT coalesce(event_type, 'ALL') AS event_type_d,
       coalesce(day, 'ALL') AS day_d,
       count(*) AS n, CAST(sum(v_cents) AS BIGINT) AS v_sum
FROM base GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
"""

# ---------------------------------------------------------------------------
# weighted sampling with Horvitz-Thompson correction
# ---------------------------------------------------------------------------

_W_SEED = 7


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample of documents (p ∝ n_chars,
    capped at 1), rolled up per language with the integer
    Horvitz-Thompson estimate of the full corpus size."""
    d = load_table(spark, sf_dir, "documents")
    kept = weighted_sample(
        d, sample_key("doc_id", seed=_W_SEED), F.col("n_chars").cast("long") * 50
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.sum("ht_micro").alias("ht_micro_docs"),
    )


_W_BUCKET = (
    f"(({_sql_poly('CAST(doc_id AS VARCHAR)', _W_SEED)}) * 2654435761)"
    " % 1000000007 % 1000000"
)

_WSAMPLE_SQL = f"""
WITH p AS (SELECT lang, n_chars,
                  greatest(1, least(1000000, CAST(n_chars AS BIGINT) * 50)) AS p_ppm,
                  {_W_BUCKET} AS bucket
           FROM documents),
k AS (SELECT * FROM p WHERE bucket < p_ppm)
SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       CAST(sum(1000000000000 // p_ppm) AS BIGINT) AS ht_micro_docs
FROM k GROUP BY lang
"""

# ---------------------------------------------------------------------------
# blocked fuzzy pairs
# ---------------------------------------------------------------------------


def fuzzy_near_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate prefixes, blocked on (lang, 12-char
    prefix) so the O(len^2) Levenshtein kernel only runs within blocks —
    the fuzzy complement to the hash-based near-dup family."""
    return fuzzy_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text", "lang")


_FUZZY_SQL = """
WITH t AS (SELECT doc_id, lang, substr(text, 1, 12) AS blk,
                  substr(text, 1, 32) AS probe FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       levenshtein(a.probe, b.probe) AS edit_dist
FROM t a JOIN t b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.probe, b.probe) <= 8
"""



def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations report over the events table — the
    pre-publish contract check (operators/expectations.py): five row
    rules folded into ONE aggregate pass plus two uniqueness rules,
    each a tiny separate distinct-aggregate. The rule set includes a
    deliberately failing expectation (a (user_id, event_type) "natural
    key") so the report demonstrates both verdicts; a real gate filters
    passed = 0 and refuses to publish."""
    from dnsflow_clickhouse_spark.operators.expectations import (
        expect_report,
        row_rule,
        unique_rule,
    )

    ev = load_table(spark, sf_dir, "events")
    rules = [
        row_rule("event_type_known",
                 F.col("event_type").isin("view", "click", "purchase",
                                          "signup", "error")),
        row_rule("props_is_json_object",
                 F.col("props").startswith("{") & F.col("props").endswith("}")),
        row_rule("ts_not_null", F.col("ts").isNotNull()),
        row_rule("user_id_not_null", F.col("user_id").isNotNull()),
        row_rule("value_in_range",
                 (F.col("value") >= 0) & (F.col("value") < 10000)),
        unique_rule("event_id_unique", "event_id"),
        unique_rule("user_event_natural_key", "user_id", "event_type"),
    ]
    return expect_report(ev, rules)


_EXPECT_SQL = """
WITH rowpass AS (
  SELECT count(*) AS n_rows,
    CAST(sum(CASE WHEN event_type IN ('view','click','purchase','signup','error')
                  THEN 0 ELSE 1 END) AS BIGINT) AS v_type,
    CAST(sum(CASE WHEN props LIKE '{%' AND props LIKE '%}' THEN 0 ELSE 1 END) AS BIGINT) AS v_props,
    CAST(sum(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_ts,
    CAST(sum(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_user,
    CAST(sum(CASE WHEN value >= 0 AND value < 10000 THEN 0 ELSE 1 END) AS BIGINT) AS v_value
  FROM events),
uniq AS (
  SELECT count(*) AS n_rows,
         count(*) - count(DISTINCT event_id) AS v_eid,
         count(*) - count(DISTINCT (CAST(user_id AS VARCHAR) || '/' || event_type)) AS v_nk
  FROM events),
rows_out AS (
  SELECT 'event_type_known' AS rule, 'row' AS kind, n_rows, v_type AS n_violations FROM rowpass
  UNION ALL SELECT 'props_is_json_object', 'row', n_rows, v_props FROM rowpass
  UNION ALL SELECT 'ts_not_null', 'row', n_rows, v_ts FROM rowpass
  UNION ALL SELECT 'user_id_not_null', 'row', n_rows, v_user FROM rowpass
  UNION ALL SELECT 'value_in_range', 'row', n_rows, v_value FROM rowpass
  UNION ALL SELECT 'event_id_unique', 'unique', n_rows, v_eid FROM uniq
  UNION ALL SELECT 'user_event_natural_key', 'unique', n_rows, v_nk FROM uniq)
SELECT rule, kind, n_rows, n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM rows_out ORDER BY rule
"""




def user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history built from snapshots: each user's daily
    dominant event type (a stand-in for any mutable dimension
    attribute) collapses into [valid_from, valid_to) validity intervals
    with a version counter — the history table
    operators.sessions.asof_join consumes for reproducible backfills
    (the reference keeps only LATEST dimension state, so re-running
    last month silently uses today's dimensions; SURVEY §3).
    Build cost: two shuffles of the dimension-sized frame only
    (operators/history.py)."""
    from dnsflow_clickhouse_spark.operators.history import scd2_history

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select("user_id", F.to_date("ts").alias("day"), "event_type")
        .groupBy("user_id", "day", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dominant = (
        counts.groupBy("user_id", "day")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("event_type").alias("t"),
                )
            ).alias("m")
        )
        .select("user_id", "day", F.col("m.t").alias("dominant_type"))
    )
    hist = scd2_history(dominant, ["user_id"], ["dominant_type"], "day")
    return hist.select(
        "user_id", "dominant_type", "valid_from", "valid_to",
        F.col("version").cast("long").alias("version"),
    ).orderBy("user_id", "version")


_SCD2_SQL = """
WITH c AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3),
d AS (
  SELECT user_id, day, event_type AS dominant_type FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, day
                                 ORDER BY cnt DESC, event_type) AS rn
    FROM c) WHERE rn = 1),
v0 AS (
  SELECT user_id, day, dominant_type,
         CASE WHEN dominant_type IS DISTINCT FROM
                   lag(dominant_type) OVER (PARTITION BY user_id ORDER BY day)
              THEN 1 ELSE 0 END AS chg
  FROM d),
v AS (
  SELECT user_id, day, dominant_type,
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS version
  FROM v0),
s AS (
  SELECT user_id, version, any_value(dominant_type) AS dominant_type,
         min(day) AS valid_from
  FROM v GROUP BY user_id, version)
SELECT user_id, dominant_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
       version
FROM s ORDER BY user_id, version
"""


PROFILING_REGISTRY = {
    "column_profile_events": (column_profile_events, _PROFILE_SQL),
    "event_gini_concentration": (event_gini_concentration, _GINI_SQL),
    "event_cooccurrence": (event_cooccurrence, _COOC_SQL),
    "inverted_index_terms": (inverted_index_terms, _INVIDX_SQL),
    "grouping_sets_events": (grouping_sets_events, _GSETS_SQL),
    "weighted_doc_sample": (weighted_doc_sample, _WSAMPLE_SQL),
    "fuzzy_near_titles": (fuzzy_near_titles, _FUZZY_SQL),
    "data_quality_expectations": (data_quality_expectations, _EXPECT_SQL),
    "user_state_history": (user_state_history, _SCD2_SQL),
}


# ---------------------------------------------------------------------------
# Round-6 additions: CUSUM change detection over the hourly event-rate
# series, and a k-anonymity / l-diversity privacy audit of the event
# stream's quasi-identifier classes (operators/profiling.py).
# ---------------------------------------------------------------------------

# drift allowance k = 1.5x the series mean, alarm threshold h = 8x the
# series mean (in micros): a sustained run above 1.5x the average rate
# accumulates toward an alarm, isolated Poisson spikes decay
_CUSUM_K_NUM, _CUSUM_K_DEN = 3, 2
_CUSUM_H_MULT = 8


def event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM over each event type's hourly count series: alarm
    hours where the cumulative positive drift above 1.5x the series
    mean exceeds 8x the mean. The sequential recurrence runs as two
    cumulative window aggregates via the prefix-scan identity
    (operators/profiling.py: cusum_over_mean) — one shuffle, no
    iteration, value-hash oracle. Output: one row per (event_type,
    hour) with the exact cusum trajectory and the alarm flag."""
    from dnsflow_clickhouse_spark.operators.profiling import cusum_over_mean

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("long")
        .alias("hour_ep"),
    )
    counts = ev.groupBy("event_type", "hour_ep").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cusum_over_mean(
        counts,
        "event_type",
        "hour_ep",
        _CUSUM_K_NUM,
        _CUSUM_K_DEN,
        _CUSUM_H_MULT,
    ).orderBy("event_type", "hour_ep")


_CUSUM_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)
           * 3600 AS hour_ep
  FROM events),
c AS (SELECT event_type, hour_ep, count(*) AS cnt FROM h GROUP BY 1, 2),
m AS (SELECT event_type,
             CAST(CAST(sum(cnt) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
               AS mean_micro
      FROM c GROUP BY 1),
s AS (
  SELECT c.event_type, c.hour_ep, c.cnt,
         m.mean_micro * {_CUSUM_K_NUM} // {_CUSUM_K_DEN} AS k_micro,
         m.mean_micro * {_CUSUM_H_MULT} AS h_micro,
         sum(c.cnt * 1000000 - m.mean_micro * {_CUSUM_K_NUM} // {_CUSUM_K_DEN})
           OVER (PARTITION BY c.event_type ORDER BY c.hour_ep) AS srun
  FROM c JOIN m USING (event_type)),
s2 AS (
  SELECT *, min(srun) OVER (PARTITION BY event_type ORDER BY hour_ep) AS smin
  FROM s)
SELECT event_type, hour_ep, CAST(cnt AS BIGINT) AS x,
       CAST(srun - least(0, smin) AS BIGINT) AS cusum_micro,
       CAST(CASE WHEN srun - least(0, smin) > h_micro THEN 1 ELSE 0 END
            AS INT) AS alarm
FROM s2 ORDER BY event_type, hour_ep
"""


_KANON_K, _KANON_L = 5, 3


def event_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the event stream before feature release: the
    quasi-identifier is (event_type, hour bucket), the sensitive
    attribute is user_id. Per event type, how many equivalence classes
    exist, how many violate k-anonymity (n < 5) or l-diversity
    (distinct users < 3), and the worst class sizes (operators/
    profiling.py: k_anonymity_report, rolled up per type)."""
    from dnsflow_clickhouse_spark.operators.profiling import (
        k_anonymity_report,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("long")
        .alias("hour_ep"),
        "user_id",
    )
    classes = k_anonymity_report(
        ev, ["event_type", "hour_ep"], "user_id", _KANON_K, _KANON_L
    )
    return (
        classes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("under_k").cast("long").alias("n_under_k"),
            F.sum("under_l").cast("long").alias("n_under_l"),
            F.min("n").alias("min_class_n"),
            F.min("l_distinct").alias("min_class_l"),
        )
        .orderBy("event_type")
    )


_KANON_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)
           * 3600 AS hour_ep,
         user_id
  FROM events),
cls AS (
  SELECT event_type, hour_ep, count(*) AS n,
         count(DISTINCT user_id) AS l_distinct
  FROM h GROUP BY 1, 2)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_under_k,
       CAST(sum(CASE WHEN l_distinct < {_KANON_L} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_under_l,
       CAST(min(n) AS BIGINT) AS min_class_n,
       CAST(min(l_distinct) AS BIGINT) AS min_class_l
FROM cls GROUP BY event_type ORDER BY event_type
"""


PROFILING_REGISTRY.update(
    {
        "event_rate_cusum": (event_rate_cusum, _CUSUM_SQL),
        "event_k_anonymity": (event_k_anonymity, _KANON_SQL),
    }
)
