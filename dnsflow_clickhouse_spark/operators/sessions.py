"""Event-sequence operators (engine extension): gap-based
sessionization and as-of (latest-prior) joins.

Neither exists in the reference (its stream is stateless 5-minute
batches, SURVEY §2.10), but both are standard capabilities for an
event-analytics engine and for training-data pipelines (session-level
document assembly, point-in-time feature joins).

Scale shape: both operators are ONE shuffle on the entity key — a
window over (key, time) for sessionize, a tagged union + window for
asof_join. No self-joins, no per-row subqueries; state per key is a
single running value, so skewed keys degrade linearly and AQE can split
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_cols: list[str] | None = None,
    session_col: str = "session_idx",
) -> DataFrame:
    """Assign gap-based session indexes per key.

    A new session starts at the first event and whenever the gap to the
    previous event (per key, ordered by ``ts_col`` then
    ``tiebreak_cols``) strictly exceeds ``gap_seconds``. Adds
    ``session_col`` (1-based, dense per key).

    Exact arithmetic: gaps compare in integer microseconds
    (``unix_micros``), so engines agree on boundary events.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    new_session = (
        prev_us.isNull() | ((us - prev_us) > F.lit(int(gap_seconds) * 1_000_000))
    ).cast("long")
    running = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(session_col, F.sum(new_session).over(running))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: for every left row, attach ``value_cols`` from
    the right row with the greatest ``right_ts`` STRICTLY before the
    left row's ``left_ts`` (per ``key_col``); nulls when none exists.

    Ties inside the right side (same key + timestamp) resolve to the
    greatest ``right_tiebreak`` — matching the SQL
    ``ORDER BY ts DESC, tiebreak DESC LIMIT 1`` correlated form.

    Plan: tag both inputs, union, and take ``last_value(..., ignorenulls)``
    over a (key, time) window — one shuffle, no join node at all, the
    canonical Spark composition for point-in-time lookups. At equal
    timestamps left rows order BEFORE right rows, which is exactly the
    strict (<) semantic.
    """
    lcols = left.columns
    # dedupe right to one row per (key, ts): keep greatest tiebreak
    r = right
    if right_tiebreak is not None:
        wdd = Window.partitionBy(key_col, right_ts).orderBy(
            F.col(right_tiebreak).desc()
        )
        r = (
            r.withColumn("__rn", F.row_number().over(wdd))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    payload = F.struct(*[F.col(c) for c in value_cols])
    r2 = r.select(
        F.col(key_col),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        payload.alias("__rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != key_col],
    )
    l2 = left.select(
        F.col(key_col),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(r2.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c) for c in lcols if c != key_col],
    )
    # order: time, then left(0) before right(1) so same-ts right rows are
    # invisible to the left row (strict before)
    w = Window.partitionBy(key_col).orderBy("__ts", "__is_right").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = r2.unionByName(l2).withColumn(
        "__last_rv", F.last("__rv", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("__is_right") == 0).select(
        key_col,
        *[c for c in lcols if c != key_col],
        *[F.col("__last_rv").getField(c).alias(f"asof_{c}") for c in value_cols],
    )
    return out


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition counts over per-key event
    sequences: order each key's events by (ts, tiebreak), pair each
    event with its predecessor (lag window), count (prev_state ->
    next_state) and report the row-conditional probability in exact
    ppm — the behavioral-model / sequence-mining primitive (next-event
    prediction features, anomalous-flow detection).

    Plan: ONE window shuffle on the key (the sequence sort), then one
    map-side-combinable count on the compact (prev, next) pair — the
    transition grain is |states|², never row-scale, so everything after
    the lag is broadcast-sized. The tiebreak column makes the ordering
    total and therefore engine-replayable."""
    pairs = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(state_col).alias("next_state"),
            F.col(ts_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
        )
        .withColumn(
            "prev_state",
            F.lag("next_state").over(
                Window.partitionBy("k").orderBy("__ts", "__tb")
            ),
        )
        .filter(F.col("prev_state").isNotNull())
    )
    counts = pairs.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_prev = Window.partitionBy("prev_state")
    return (
        counts.withColumn("row_total", F.sum("n").over(w_prev))
        .select(
            "prev_state",
            "next_state",
            F.col("n").cast("long").alias("n"),
            F.expr("(n * 1000000) div row_total").cast("long").alias("prob_ppm"),
        )
    )


def u_shaped_attribution(
    df: DataFrame,
    key_col: str,
    channel_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Position-based (U-shaped) credit attribution over each key's
    touch sequence, in EXACT integer ppm: first touch 40%, last touch
    40%, the middle 20% split across interior touches by nonnegative
    integer division with the remainder granted to the EARLIEST
    interiors one ppm each (largest-remainder discipline — credits sum
    to exactly 1e6 per key on any engine). Degenerate journeys: a
    single touch takes 1e6; a two-touch journey splits 500000/500000.

    Plan: one window shuffle on the key (row_number + count), pure
    integer credit arithmetic per row, then one aggregate to the
    channel grain."""
    w = Window.partitionBy("k").orderBy("__ts", "__tb")
    w_all = Window.partitionBy("k")
    base = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(channel_col).alias("channel"),
            F.col(ts_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
        )
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
    )
    mid_share = F.expr("200000 div (n - 2)")
    mid_rem = F.expr("200000 % (n - 2)")
    credit = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when(F.col("pos") == 1, F.lit(400_000))
        .when(F.col("pos") == F.col("n"), F.lit(400_000))
        .otherwise(
            mid_share
            + F.when(F.col("pos") - 1 <= mid_rem, F.lit(1)).otherwise(F.lit(0))
        )
    )
    return (
        base.withColumn("credit_ppm", credit.cast("long"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit_ppm").cast("long").alias("credit_ppm"),
        )
    )


def conversion_lag_stats(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    from_state: str,
    to_state: str,
) -> DataFrame:
    """Per-key conversion lag (first ``to_state`` event at-or-after the
    first ``from_state`` event) summarized as discrete lo-median and
    ceil-p90 of the lag seconds — funnel timing (signup -> first
    purchase) with the same integer order-statistic discipline as
    event_value_percentiles (no interpolation, engine-exact).

    Plan: two map-side-combinable min aggregates on the key, a filter,
    then the order statistics walk the (lag, count) HISTOGRAM."""
    firsts = (
        df.filter(F.col(state_col).isin(from_state, to_state))
        .groupBy(key_col)
        .agg(
            F.min(
                F.when(F.col(state_col) == from_state, F.col(ts_col))
            ).alias("__from"),
            F.min(
                F.when(F.col(state_col) == to_state, F.col(ts_col))
            ).alias("__to"),
        )
        .filter(
            F.col("__from").isNotNull()
            & F.col("__to").isNotNull()
            & (F.col("__to") >= F.col("__from"))
        )
        .select(
            (
                F.unix_timestamp("__to") - F.unix_timestamp("__from")
            ).alias("lag_s")
        )
    )
    hist = firsts.groupBy("lag_s").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("lag_s").rowsBetween(Window.unboundedPreceding, 0)
    c = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy())
    )
    half = F.expr("(n + 1) div 2")
    p90 = F.expr("(9 * n + 9) div 10")
    return c.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min(F.when(F.col("cum") >= half, F.col("lag_s"))).alias("median_lag_s"),
        F.min(F.when(F.col("cum") >= p90, F.col("lag_s"))).alias("p90_lag_s"),
    )


def sequence_fingerprints(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
    min_group: int = 2,
) -> DataFrame:
    """Behavioral-twin detection: fingerprint each key's FULL ordered
    event-type sequence and group keys whose sequences are identical —
    the sequence-grain member of the exact-dedup family (bot/fraud
    rings replay identical flows; synthetic-data leaks show up as
    users with byte-identical histories).

    Plan: one aggregation to the key grain (sort_array(collect_list)
    builds the ordered sequence IN the aggregate — no window sort over
    raw events), then one groupBy on the md5 of the sequence string.
    Per-key sequence size is bounded by that key's activity, the
    classic collect_list contract. Output only groups with >=
    ``min_group`` members (twins), keep-first canonical key."""
    seq = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(state_col).alias("s"),
            F.col(ts_col).alias("t"),
            F.col(tiebreak_col).alias("tb"),
        )
        .groupBy("k")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("t", "tb", "s"))),
                    lambda x: x.getField("s"),
                ),
            ).alias("seq"),
            F.count(F.lit(1)).alias("seq_len"),
        )
    )
    return (
        seq.groupBy(F.md5("seq").alias("seq_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("k").alias("keep_key"),
            F.max("seq_len").cast("long").alias("seq_len"),
        )
        .filter(F.col("n_keys") >= min_group)
        .select("seq_hash", F.col("n_keys").cast("long").alias("n_keys"), "keep_key", "seq_len")
    )


def temporal_split_embargo(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    holdout_days: int = 7,
    embargo_days: int = 1,
) -> DataFrame:
    """Time-based train/test split with an EMBARGO gap (the purged-
    split discipline: rows inside ``embargo_days`` before the test
    cutoff are DROPPED so serially-correlated features cannot leak
    across the boundary — a hash split can't provide this, time must).
    Cutoffs derive from the data's own max timestamp (day-truncated),
    so the split is a pure function of the table. Reports per-group
    counts per split.

    Plan: one scalar max aggregate broadcast back over the scan (the
    documented one-row carve-out), then a map-side classification and
    one count aggregate."""
    bounds = df.agg(
        F.date_trunc("day", F.max(ts_col)).alias("__max_day")
    ).select(
        (F.unix_timestamp("__max_day") - holdout_days * 86400).alias("__cut"),
        (
            F.unix_timestamp("__max_day") - (holdout_days + embargo_days) * 86400
        ).alias("__embargo_start"),
    )
    tagged = df.crossJoin(F.broadcast(bounds)).withColumn(
        "split",
        F.when(F.unix_timestamp(F.col(ts_col)) < F.col("__embargo_start"), "train")
        .when(F.unix_timestamp(F.col(ts_col)) < F.col("__cut"), "embargo")
        .otherwise("test"),
    )
    return (
        tagged.groupBy(F.col(group_col).alias(group_col), "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(group_col, "split")
    )
