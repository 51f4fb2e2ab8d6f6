"""Broadcast interval (range) joins.

The reference implements every range lookup as a driver-collected array
scanned linearly inside map closures (reference: DnsRptCH.scala:928-930
client ranges; :95-101 business ranges; IpSearch.java:41-105 geo binary
search). Here they are declarative broadcast non-equi joins — Catalyst
plans a BroadcastNestedLoopJoin: every executor probes its local copy of
the (small) rule table and the fact table is never shuffled.

Match-disambiguation (SURVEY §7.4 risk register): the reference's lookup
loops give *first*-match (J1: breaks on hit) or *last*-match (J2/J4: no
break) semantics over possibly-overlapping rules. Rather than join all
candidates and dedup per fact row (which would shuffle the 100 TB fact
side on a synthetic row id), we resolve overlaps **on the rule side
first**: ``flatten_intervals`` sweeps the boundaries into disjoint
intervals, each carrying its first/last-winner payload. The join is then
guaranteed single-match and stays a pure broadcast probe — zero extra
exchanges at any scale.

For *large* interval tables (a full IP-geo table is ~100k+ disjoint
ranges), ``prefix_bucketed_range_join`` adds an equi-bucket key (the IP
first octet, mirroring the reference's prefix index IpSearch.java:63-74)
so Catalyst plans a broadcast *hash* join on the bucket with a residual
range predicate — per-row probe cost drops from O(rules) to
O(rules-in-bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def flatten_intervals(
    rows: list[dict],
    lo_key: str,
    hi_key: str,
    payload_keys: list[str],
    match: str = "first",
    order_key: str | None = None,
) -> list[dict]:
    """Resolve overlapping [lo, hi] integer intervals to disjoint ones.

    Winner per elementary interval = the covering rule with the lowest
    (``match='first'``) or highest (``match='last'``) ``order_key``
    (default: input position). Adjacent intervals with identical payloads
    are merged. O(B*R) with B boundaries, R rules — dims are small.
    """
    if not rows:
        return []
    ordered = [
        (r[order_key] if order_key else i, r) for i, r in enumerate(rows)
    ]
    points = sorted(
        {r[lo_key] for _, r in ordered} | {r[hi_key] + 1 for _, r in ordered}
    )
    best = min if match == "first" else max
    out: list[dict] = []
    for i in range(len(points) - 1):
        lo, hi = points[i], points[i + 1] - 1
        covering = [
            (ordv, r)
            for ordv, r in ordered
            if r[lo_key] <= lo and r[hi_key] >= hi and r[lo_key] <= lo <= r[hi_key]
        ]
        if not covering:
            continue
        _, win = best(covering, key=lambda t: t[0])
        payload = {k: win[k] for k in payload_keys}
        if out and out[-1]["hi"] == lo - 1 and out[-1]["payload"] == payload:
            out[-1]["hi"] = hi
        else:
            out.append({"lo": lo, "hi": hi, "payload": payload})
    return out


def range_join(
    facts: DataFrame,
    rules: DataFrame,
    probe_col: str | Column,
    lo_col: str = "min_long_ip",
    hi_col: str = "max_long_ip",
    match: str = "first",
    order_col: str | None = None,
    payload_cols: list[str] | None = None,
    defaults: dict[str, object] | None = None,
    assume_disjoint: bool = False,
    rule_rows: list[dict] | None = None,
) -> DataFrame:
    """Left range join on ``lo <= probe <= hi`` (inclusive bounds, as in
    reference DnsRptCH.scala:929), attaching one rule's payload per fact
    row with first/last-match semantics; unmatched rows get ``defaults``.

    The rule table is collected to the driver (it is a broadcast dim by
    definition — the reference does the same), flattened to disjoint
    intervals, and re-broadcast. The fact side incurs no shuffle.
    ``rule_rows`` passes rows already collected from ``rules`` (as
    dicts), so a caller holding them pays no collect job.
    """
    if payload_cols is None:
        payload_cols = [
            c for c in rules.columns if c not in (lo_col, hi_col, order_col)
        ]
    if rule_rows is None:
        rule_rows = [r.asDict() for r in rules.collect()]
    if assume_disjoint:
        flat = [
            {"lo": r[lo_col], "hi": r[hi_col], "payload": {k: r[k] for k in payload_cols}}
            for r in rule_rows
        ]
    else:
        flat = flatten_intervals(
            rule_rows, lo_col, hi_col, payload_cols, match=match, order_key=order_col
        )

    spark = facts.sparkSession
    payload_fields = [rules.schema[c] for c in payload_cols]
    flat_schema = T.StructType(
        [
            T.StructField("__lo", T.LongType(), False),
            T.StructField("__hi", T.LongType(), False),
            *[T.StructField(f"__p_{f.name}", f.dataType) for f in payload_fields],
        ]
    )
    flat_rows = [
        tuple([iv["lo"], iv["hi"]] + [iv["payload"][c] for c in payload_cols])
        for iv in flat
    ]
    r = spark.createDataFrame(flat_rows, schema=flat_schema)

    probe = F.col(probe_col) if isinstance(probe_col, str) else probe_col
    cond = (probe >= F.col("__lo")) & (probe <= F.col("__hi"))
    joined = facts.join(F.broadcast(r), cond, "left").drop("__lo", "__hi")
    for c in payload_cols:
        col = F.col(f"__p_{c}")
        if defaults and c in defaults:
            col = F.coalesce(col, F.lit(defaults[c]))
        joined = joined.withColumn(c, col).drop(f"__p_{c}")
    return joined


def in_any_range(probe: Column, bounds: list[tuple[int, int]]) -> Column:
    """OR-of-intervals membership predicate from collected bounds.

    Mirrors the reference's inNet rule (DnsRptCH.scala:222-235) whose net
    semantics are membership-OR across two rule tables (SURVEY §7.4).

    Codegen-friendly only for small rule sets: each interval adds two
    comparisons to the generated predicate, and a dim with thousands of
    ranges would blow the whole-stage-codegen method-size limit (Spark
    then falls back to interpreted eval row-by-row). Use
    :func:`membership_flag` to auto-route large bound lists through a
    broadcast interval join instead.
    """
    cond = F.lit(False)
    for lo, hi in bounds:
        cond = cond | ((probe >= F.lit(int(lo))) & (probe <= F.lit(int(hi))))
    return cond


def merge_bounds(bounds: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Coalesce possibly-overlapping [lo, hi] intervals into the minimal
    sorted disjoint set (membership is payload-free, so a plain sweep)."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted((int(l), int(h)) for l, h in bounds):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


MEMBERSHIP_LITERAL_MAX = 100


def membership_flag(
    facts: DataFrame,
    probe_col: str | Column,
    bounds: list[tuple[int, int]],
    flag_col: str,
    literal_max: int = MEMBERSHIP_LITERAL_MAX,
) -> DataFrame:
    """Adds boolean ``flag_col`` = probe falls in any of ``bounds``.

    Size-routed J3 (reference DnsRptCH.scala:222-235): after merging to
    disjoint intervals, small rule sets (<= ``literal_max``) become an
    inlined OR-of-comparisons predicate (stays inside whole-stage
    codegen, zero joins); larger ones become a broadcast range join
    against the merged interval table — a single BNLJ probe per row
    instead of a kilo-line generated predicate. Disjointness guarantees
    at most one match, so the left join adds no duplicate rows.
    """
    probe = F.col(probe_col) if isinstance(probe_col, str) else probe_col
    merged = merge_bounds(bounds)
    if len(merged) <= literal_max:
        return facts.withColumn(flag_col, in_any_range(probe, merged))
    spark = facts.sparkSession
    schema = T.StructType(
        [
            T.StructField("__mlo", T.LongType(), False),
            T.StructField("__mhi", T.LongType(), False),
        ]
    )
    r = spark.createDataFrame(merged, schema=schema)
    cond = (probe >= F.col("__mlo")) & (probe <= F.col("__mhi"))
    return (
        facts.join(F.broadcast(r), cond, "left")
        .withColumn(flag_col, F.col("__mlo").isNotNull())
        .drop("__mlo", "__mhi")
    )


def prefix_bucketed_range_join(
    facts: DataFrame,
    rules: DataFrame,
    probe_col: str | Column,
    fact_bucket: Column,
    lo_col: str = "min_long_ip",
    hi_col: str = "max_long_ip",
    bucket_lo: Column | None = None,
    bucket_hi: Column | None = None,
    payload_cols: list[str] | None = None,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Range join via equi-bucket + residual range filter, for big
    (disjoint) rule tables. The rule side is exploded to one row per
    bucket it spans (a sequence between bucket_lo..bucket_hi), turning
    the plan into a broadcast hash join.

    Default bucketing: IP first octet (probe span >> bucket span), i.e.
    ``bucket_lo = floor(lo / 2^24)``, matching IpSearch.java:63-74.
    """
    if payload_cols is None:
        payload_cols = [c for c in rules.columns if c not in (lo_col, hi_col)]
    if bucket_lo is None:
        bucket_lo = (F.col(lo_col) / F.lit(16777216)).cast("long")
    if bucket_hi is None:
        bucket_hi = (F.col(hi_col) / F.lit(16777216)).cast("long")
    r = (
        rules.withColumn("__bucket", F.explode(F.sequence(bucket_lo, bucket_hi)))
        .select(
            "__bucket",
            F.col(lo_col).alias("__lo"),
            F.col(hi_col).alias("__hi"),
            *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
        )
    )
    probe = F.col(probe_col) if isinstance(probe_col, str) else probe_col
    f = facts.withColumn("__fbucket", fact_bucket)
    cond = (
        (F.col("__fbucket") == F.col("__bucket"))
        & (probe >= F.col("__lo"))
        & (probe <= F.col("__hi"))
    )
    joined = f.join(F.broadcast(r), cond, "left").drop(
        "__fbucket", "__bucket", "__lo", "__hi"
    )
    for c in payload_cols:
        col = F.col(f"__p_{c}")
        if defaults and c in defaults:
            col = F.coalesce(col, F.lit(defaults[c]))
        joined = joined.withColumn(c, col).drop(f"__p_{c}")
    return joined


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Interval × interval overlap join on a shared integer axis (both
    sides are [start, end] closed ranges — e.g. session spans vs outage
    windows). Neither range_join (point-in-interval, broadcast dims) nor
    any Catalyst equi-join covers this shape; the naive form is a cross
    join with an inequality filter.

    Scale path: both sides explode their intervals onto a coarse bucket
    grid (``bucket_width`` in axis units) and equi-join on the bucket, so
    the shuffle partitions by time locality and each pair is tested only
    inside buckets both intervals touch. A pair overlapping several
    shared buckets would match once per bucket; the classic dedup trick
    restricts the match to the FIRST shared bucket — the bucket holding
    ``greatest(l_start, r_start)`` — which every overlapping pair shares
    exactly once. No distinct pass, no post-join dedup shuffle.

    Choose ``bucket_width`` near the typical interval length: too fine
    explodes rows, too coarse degenerates toward the cross join. Column
    names must be disjoint across the two inputs.
    """
    if how != "inner":
        # The bucket-grid explode emits each row once per touched bucket;
        # the first-shared-bucket trick dedups MATCHED pairs only. An
        # outer join would surface every unmatched bucket copy as a
        # spurious null-extended row (k rows for a k-bucket interval).
        # Outer semantics need inner + left-anti backfill of originals —
        # not implemented until a caller needs it.
        raise ValueError(
            "interval_overlap_join supports how='inner' only; "
            f"got {how!r}"
        )
    ls, le = left_range
    rs, re_ = right_range
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"ambiguous columns across join sides: {sorted(overlap)}")

    def b(c: str):  # bucket index (epoch ints are double-exact; floor is safe)
        return F.floor(F.col(c) / F.lit(bucket_width)).cast("long")

    l2 = left.select(
        "*", F.explode(F.sequence(b(ls), b(le))).alias("__bl")
    )
    r2 = right.select(
        "*", F.explode(F.sequence(b(rs), b(re_))).alias("__br")
    )
    cond = (
        (F.col("__bl") == F.col("__br"))
        & (F.col(ls) <= F.col(re_))
        & (F.col(rs) <= F.col(le))
        & (F.col("__bl") == F.greatest(b(ls), b(rs)))
    )
    return l2.join(r2, cond, how).drop("__bl", "__br")
