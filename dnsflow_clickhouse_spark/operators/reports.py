"""The reference's report fan-out (A1-A19, SURVEY §2.5) as pure
``DataFrame -> DataFrame`` functions over the enriched base/top frames.

Shared conventions (reference semantics preserved):
- ``resolver`` sums are row counts (resolver == 1 per event,
  BeanObj.scala:18); ``error`` sums count failed resolutions.
- ``clientName == 0`` is the "all clients" sentinel row set — produced
  here with GROUPING SETS + coalesce-to-0 instead of running each
  aggregation twice (reference runs a global and a per-client
  reduceByKey separately, e.g. DnsRptCH.scala:522-552).
- Reports that aggregate the same input are projections of one shared
  frame (``rollup_aggregate``, ``code_topk_frame``), which the pipeline
  persists once per window: one scan and one exchange feed many reports.
- Every reference ``groupByKey+sort+take`` becomes a window row_number
  (grouped_topk); every ``sortBy+take`` becomes orderBy().limit()
  (TakeOrderedAndProject). Manual 100-way salting (DnsRptCH.scala:641
  etc.) is dropped: map-side partial aggregation + AQE handle skew.
- ``appTime`` (the batch window start) is attached by the pipeline, not
  here; reports stay time-agnostic pure functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.domains import authority_domain
from dnsflow_clickhouse_spark.functions.net import ip_to_long
from dnsflow_clickhouse_spark.operators.enrich import (
    EnrichDims,
    enrich_business,
    join_in_net,
    join_users,
)
from dnsflow_clickhouse_spark.operators.topk import global_topk, grouped_topk

ALL_CLIENTS = 0  # sentinel (DnsRptCH.scala:453, 478, 503, 532)
CLIENT = "clientName"


def _grouping_id(cols: list[str], grouped: list[str]) -> int:
    """Spark's ``grouping_id()`` of the grouping set ``grouped`` in an
    aggregate over ``cols``: one bit per column, first column highest,
    set where the column is aggregated away."""
    return sum(1 << (len(cols) - 1 - i) for i, c in enumerate(cols) if c not in grouped)


# --- A1-A5, A17-A19: the roll-up reports over base, as one spec
#     (DnsRptCH.scala:446-552, 608-625, 747-791; salting dropped) ---

# report -> (key column, or None for the per-client totals; measures).
# Every report holds a per-client row and a clientName=0 all-clients row
# per key value; rows whose key is null are dropped.
ROLLUPS: dict[str, tuple[str | None, tuple[str, ...]]] = {
    "dns_flow_qps": (None, ("dnsNum", "errNum", "avgNum")),  # A1/A2
    "dns_flow_request_type": ("requestType", ("dnsNum",)),  # A3
    "dns_flow_response_type": ("responseType", ("dnsNum",)),  # A4
    "dns_flow_response_code": ("responseCode", ("dnsNum",)),  # A5
    "dns_flow_top_server": ("dnsIp", ("dnsNum",)),  # A17
    "dns_flow_top_province": ("province", ("dnsNum",)),  # A18
    "dns_flow_top_operator": ("operator", ("dnsNum",)),  # A19
}
_ROLLUP_KEYS = [k for k, _ in ROLLUPS.values() if k is not None]
_ROLLUP_COLS = [CLIENT, *_ROLLUP_KEYS]


def rollup_aggregate(base: DataFrame) -> DataFrame:
    """Every ``ROLLUPS`` report's rows in one GROUPING SETS aggregate —
    one scan of base and one exchange instead of one job chain per
    report. The sets are (clientName), () and, per key k, (clientName, k)
    and (k); ``gid`` (``grouping_id()``) tells them apart, so a key's
    rows never mix with another set's nulls."""
    sets = [[CLIENT], []]
    for k in _ROLLUP_KEYS:
        sets += [[CLIENT, k], [k]]
    return base.groupingSets(sets, *_ROLLUP_COLS).agg(
        F.sum("resolver").alias("dnsNum"),
        F.sum("error").alias("errNum"),
        F.grouping_id().alias("gid"),
    )


def rollup_report(shared: DataFrame, name: str, window_seconds: int = 300) -> DataFrame:
    """Report ``name`` of ``ROLLUPS``: its two grouping sets of the
    ``rollup_aggregate`` frame, projected to (clientName, key, measures)."""
    key, measures = ROLLUPS[name]
    keys = [] if key is None else [key]
    gids = [_grouping_id(_ROLLUP_COLS, [CLIENT, *keys]), _grouping_id(_ROLLUP_COLS, keys)]
    m = {  # avgNum: the window's mean queries per second
        "dnsNum": F.col("dnsNum"),
        "errNum": F.col("errNum"),
        "avgNum": F.floor(F.col("dnsNum") / window_seconds).cast("long").alias("avgNum"),
    }
    out = shared.filter(F.col("gid").isin(gids)).select(
        F.coalesce(F.col(CLIENT), F.lit(ALL_CLIENTS)).alias(CLIENT),
        *keys,
        *[m[c] for c in measures],
    )
    return out if key is None else out.filter(F.col(key).isNotNull())


# --- A6-A9: top-K pairs per response code (DnsRptCH.scala:633-741).
#     Each pair (all clients, per client) is ranked in one frame: the
#     grouping sets (clientName, responseCode, x) and (responseCode, x)
#     aggregated together and ranked per (gid, clientName, responseCode).
#     gid is 0 on per-client rows and 4 on all-clients rows. ---

_PER_CLIENT_GID = 0


def code_topk_frame(base: DataFrame, item: str, k: int) -> DataFrame:
    """Top-``k`` ``item`` values by row count per response code, for all
    clients and per client (A6/A8 on ``domain``, A9 on ``clientIp``)."""
    keys = [CLIENT, "responseCode", item]
    agg = base.groupingSets([keys, keys[1:]], *keys).agg(
        F.sum("resolver").alias("dnsNum"), F.grouping_id().alias("gid")
    )
    return grouped_topk(
        agg, ["gid", CLIENT, "responseCode"], [F.desc("dnsNum"), F.asc(item)], k
    )


def authority_topk_frame(domain_topk: DataFrame, k: int = 5000) -> DataFrame:
    """A7: authority-domain rollup OF the ranked domain frame (order of
    operations preserved: rollup-of-topK, not topK-of-rollup;
    DnsRptCH.scala:656-667), both granularities at once."""
    keys = ["gid", CLIENT, "responseCode"]
    rolled = (
        domain_topk.withColumn("authorityDomain", authority_domain("domain"))
        .groupBy(*keys, "authorityDomain")
        .agg(F.sum("dnsNum").alias("dnsNum"))
    )
    return grouped_topk(rolled, keys, [F.desc("dnsNum"), F.asc("authorityDomain")], k)


def split_clients(ranked: DataFrame, item: str) -> tuple[DataFrame, DataFrame]:
    """(all-clients report, per-client report) of a ranked pair frame."""
    per_client = F.col("gid") == _PER_CLIENT_GID
    return (
        ranked.filter(~per_client).select("responseCode", item, "dnsNum"),
        ranked.filter(per_client).select(CLIENT, "responseCode", item, "dnsNum"),
    )


# --- A10: 4-dim flow report with whitelist boost (DnsRptCH.scala:558-602) ---


def flow_report(
    base: DataFrame,
    dims: EnrichDims,
    having_min: int = 10,
    k: int = 70000,
) -> DataFrame:
    """groupBy (clientName, domain, dnsIp, aip) -> sum(resolver, error);
    whitelisted domains get +10 resolver *before* the HAVING and the
    top-K cut and -10 after (guaranteeing whitelist survival,
    DnsRptCH.scala:570-584); enriched with business resources (J2).
    Everything stays cluster-side (the reference round-trips 70k rows
    through the driver)."""
    agg = base.groupBy("clientName", "domain", "dnsIp", "aip").agg(
        F.sum("resolver").alias("resolver"), F.sum("error").alias("error")
    )
    wl = dims.whitelist.select(F.col("domain"), F.lit(True).alias("__wl"))
    agg = agg.join(F.broadcast(wl), "domain", "left").withColumn(
        "resolver",
        F.when(F.col("__wl"), F.col("resolver") + 10).otherwise(F.col("resolver")),
    )
    top = global_topk(
        agg.filter(F.col("resolver") >= having_min),
        [F.desc("resolver"), F.asc("domain"), F.asc("dnsIp"), F.asc("aip"), F.asc("clientName")],
        k,
    ).withColumn(
        "resolver",
        F.when(F.col("__wl"), F.col("resolver") - 10).otherwise(F.col("resolver")),
    ).drop("__wl")
    return enrich_business(top, dims)


# --- A13: trend rollup over the enriched top frame (DnsRptCH.scala:46-57) ---


def detail_report(enriched_top: DataFrame, having_min: int = 100) -> DataFrame:
    return (
        enriched_top.groupBy(
            "clientName",
            "domain",
            "aip",
            "companyName",
            "authorityDomain",
            "soft",
            "websiteName",
            "websiteType",
        )
        .agg(
            F.sum("resolver").alias("resolver"),
            F.sum("inNet").alias("inNet"),
            F.sum("error").alias("error"),
        )
        .filter(F.col("resolver") > having_min)
    )


# --- A16: business rollup (DnsRptCH.scala:417-441) ---


def business_report(flow: DataFrame) -> DataFrame:
    """Rollup by resource, per client and for all clients (clientName=0);
    output resourceType = type + "/" + props (reference :428, 437)."""
    keys = ["resource_name", "resource_type", "resource_props"]
    return (
        flow.filter(F.col("resource_name").isNotNull())
        .groupingSets([[CLIENT, *keys], keys], CLIENT, *keys)
        .agg(F.sum("resolver").alias("dnsNum"))
    ).select(
        F.coalesce(F.col(CLIENT), F.lit(ALL_CLIENTS)).alias(CLIENT),
        F.col("resource_name").alias("resourceName"),
        F.concat_ws("/", "resource_type", "resource_props").alias("resourceType"),
        "dnsNum",
    )


# --- A14: per-user top report (DnsRptCH.scala:355-412) ---


def user_report(
    base: DataFrame,
    dims: EnrichDims,
    client_filter: int = 1,
    having_min: int = 50,
    k1: int = 20000,
    k2: int = 2000,
) -> DataFrame:
    """clientName==1 rows -> 4-dim agg -> HAVING > 50 -> top-20000 by
    resolver -> username join (drop unmatched) -> top-2000 by error ->
    inNet + phone/address enrichment. The reference does the second
    top-K and enrichment on the driver (:396-406); here it's all
    cluster-side with explicit tie-breaks."""
    agg = (
        base.filter(F.col("clientName") == client_filter)
        .groupBy("clientName", "clientIp", "domain", "aip")
        .agg(F.sum("resolver").alias("resolver"), F.sum("error").alias("error"))
        .filter(F.col("resolver") > having_min)
    )
    top1 = global_topk(
        agg, [F.desc("resolver"), F.asc("clientIp"), F.asc("domain"), F.asc("aip")], k1
    )
    top2 = global_topk(
        join_users(top1, dims),
        [F.desc("error"), F.asc("clientIp"), F.asc("domain"), F.asc("aip")],
        k2,
    )
    top2 = join_in_net(top2.withColumn("aipLong", ip_to_long("aip")), dims).drop("aipLong")
    return top2.join(F.broadcast(dims.user_info), "userName", "left")


# --- A15: per-user middle data (DnsRptCH.scala:110-140) ---


def user_middle_data(base: DataFrame, dims: EnrichDims) -> DataFrame:
    agg = base.groupBy("clientIp", "domain").agg(F.sum("resolver").alias("cnt"))
    return join_users(agg, dims).select("userName", "domain", "cnt")


# --- A20-A22: daily user rollups (UserRpt.scala:109-191) ---


def user_domain_top10(middle: DataFrame, k: int = 10) -> DataFrame:
    """Per-user domain top-10 with the top list as an array payload
    (reference builds ArrayBuffer[Map]; here collect_list(struct))."""
    agg = middle.groupBy("userName", "domain").agg(F.sum("cnt").alias("cnt"))
    ranked = grouped_topk(agg, ["userName"], [F.desc("cnt"), F.asc("domain")], k)
    return ranked.groupBy("userName").agg(
        F.collect_list(F.struct("domain", "cnt")).alias("topDomains")
    )


def user_daily_total(middle: DataFrame) -> DataFrame:
    return middle.groupBy("userName").agg(F.sum("cnt").alias("dnsNum"))


def user_tags(middle: DataFrame, dims: EnrichDims) -> DataFrame:
    """distinct (user, domain) -> tag join -> drop all-unknown -> distinct
    flattened tag array per user (UserRpt.scala:141-191)."""
    pairs = middle.select("userName", "domain").dropDuplicates()
    tagged = pairs.join(F.broadcast(dims.domain_tags), "domain", "left").select(
        "userName",
        F.array(
            F.coalesce(F.col("tag1"), F.lit("未知")),
            F.coalesce(F.col("tag2"), F.lit("未知")),
            F.coalesce(F.col("tag3"), F.lit("未知")),
        ).alias("tags3"),
    )
    known = tagged.filter(~F.array_contains("tags3", "未知"))
    return known.groupBy("userName").agg(
        F.array_distinct(F.flatten(F.collect_list("tags3"))).alias("tags")
    )


def seasonal_hour_anomalies(
    hour_counts: DataFrame,
    min_history: int = 7,
    threshold_ppm: int = 500_000,
) -> DataFrame:
    """Seasonal-naive anomaly scoring over (day, hod, cnt) hour-bucket
    counts: each bucket vs the expanding average of PRIOR days'
    same-hour counts (DNS traffic is diurnal — a same-hour baseline is
    the one that does not alarm every ramp). Exactness: the deviation
    test cross-multiplies (|cnt * n_prior - sum_prior| * 1e6 div
    sum_prior) with a decimal-widened numerator, all quantities
    nonnegative integers, so any engine replays it. One expanding
    window over 24 hour-of-day partitions of day-count length.

    Shared by the batch query (queries/catalog_dns5.qps_anomaly_report)
    and a streaming fold that keeps the hour counts with
    io.merge_additive on keys day, hod — the batch ≡ streaming parity
    contract of the pipeline module.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("hod")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = hour_counts.select(
        "day",
        "hod",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("n_prior"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias(
            "sum_prior"
        ),
    )
    return (
        scored.filter(F.col("n_prior") >= min_history)
        .withColumn(
            "dev_ppm",
            F.expr(
                "abs(CAST(cnt AS DECIMAL(38,0)) * n_prior - sum_prior)"
                " * 1000000 div sum_prior"
            ).cast("long"),
        )
        .filter(F.col("dev_ppm") >= threshold_ppm)
        .orderBy("day", "hod")
    )
