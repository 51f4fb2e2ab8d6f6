"""Event enrichment: the reference's join surface J1-J5 as broadcast
DataFrame joins.

Reference mechanics being re-expressed:
- J1 clientIp -> clientName: first-match range lookup, default 5
  (DnsRptCH.scala:928-930, BeanObj.scala:17)
- J5 aip -> geo (country/province/city/operator): binary-search range
  lookup on every event (DnsRptCH.scala:956-962) and again on top-K rows
  (:260-284)
- J2 aip -> business resource: last-match range lookup (:95-101, 590-596)
- J3 aip -> inNet flag: membership-OR over media + segment ranges
  (:222-235; SURVEY §7.4 pins the OR semantics)
- J4 authorityDomain -> company metadata: equi-join, last match wins
  (:247-258)

Every dimension is resolved to at most one payload per probe *on the
rule side* (interval flattening / last-wins dedup), so the fact table
joins exactly once per dim and never shuffles — all joins broadcast.

Each join has one code path: a missing dimension is an empty table of
its declared schema (``app.load_dims``), which yields the documented
defaults exactly as an empty lookup map does in the reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.functions.domains import authority_domain, strip_scheme
from dnsflow_clickhouse_spark.functions.net import ip_to_long
from dnsflow_clickhouse_spark.operators.range_join import (
    membership_flag,
    range_join,
)

DEFAULT_CLIENT_NAME = 5

# the dims ``range_join`` and ``membership_flag`` read as driver rows
RANGE_TABLES = ("client_rules", "geo", "media_rules", "segment_rules")


@dataclass
class EnrichDims:
    """All dimension DataFrames used by the pipeline (fixture-injectable).

    Schemas in dnsflow_clickhouse_spark.schemas. Every field is required;
    a table with no rows stands for a missing one. Every frame is small —
    the reference collects them to the driver; we broadcast-join them.
    """

    client_rules: DataFrame  # CLIENT_RULE_SCHEMA
    media_rules: DataFrame  # MEDIA_RULE_SCHEMA (inNet big table)
    segment_rules: DataFrame  # IP_SEGMENT_SCHEMA (business)
    auth_domains: DataFrame  # AUTH_DOMAIN_SCHEMA
    geo: DataFrame  # GEO_SCHEMA
    whitelist: DataFrame  # WHITELIST_SCHEMA
    users: DataFrame  # USER_SCHEMA (ip -> userName)
    user_info: DataFrame  # USER_INFO_SCHEMA (phone/address)
    domain_tags: DataFrame  # DOMAIN_TAG_SCHEMA
    _rows: dict[str, list[dict]] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def rows(self, name: str) -> list[dict]:
        """Rows of the range table ``name`` (one of ``RANGE_TABLES``),
        collected to the driver once per instance: on first use the four
        range tables are collected together, in one job, through a
        tagged ``unionByName``. Each table keeps its own row order (the
        first-match lookups resolve by input position) and only its own
        columns."""
        if not self._rows:
            frames = [
                getattr(self, t).withColumn("__table", F.lit(i))
                for i, t in enumerate(RANGE_TABLES)
            ]
            tagged = frames[0]
            for df in frames[1:]:
                tagged = tagged.unionByName(df, allowMissingColumns=True)
            cols = [getattr(self, t).columns for t in RANGE_TABLES]
            rows: list[list[dict]] = [[] for _ in RANGE_TABLES]
            for r in tagged.collect():
                i = r["__table"]
                rows[i].append({c: r[c] for c in cols[i]})
            self._rows = dict(zip(RANGE_TABLES, rows))
        return self._rows[name]


_GEO_COLS = ["country", "province", "city", "operator"]


def join_geo(df: DataFrame, dims: EnrichDims) -> DataFrame:
    """J5: ``aipLong`` -> country/province/city/operator, "" when no range
    matches (binary search over disjoint ranges, IpSearch.java:41-105)."""
    return range_join(
        df,
        dims.geo,
        "aipLong",
        rule_rows=dims.rows("geo"),
        match="first",
        payload_cols=_GEO_COLS,
        defaults=dict.fromkeys(_GEO_COLS, ""),
        assume_disjoint=True,
    )


def join_in_net(df: DataFrame, dims: EnrichDims) -> DataFrame:
    """J3: inNet = resolver when ``aipLong`` lies in a media or a segment
    range, else 0 — membership OR over both tables (DnsRptCH.scala:222-235).
    ``membership_flag`` routes the merged ranges: a literal OR up to
    ~100 ranges, a broadcast interval join above."""
    bounds = [
        (r["min_long_ip"], r["max_long_ip"])
        for name in ("media_rules", "segment_rules")
        for r in dims.rows(name)
    ]
    return (
        membership_flag(df, F.col("aipLong"), bounds, "__in_net")
        .withColumn(
            "inNet",
            F.when(F.col("__in_net"), F.col("resolver")).otherwise(F.lit(0)).cast("long"),
        )
        .drop("__in_net")
    )


def enrich_base(events: DataFrame, dims: EnrichDims) -> DataFrame:
    """Per-event enrichment done in the reference's parse stage:
    J1 client range lookup + J5 geo lookup on the answer IP.

    Adds: clientIpLong, aipLong, clientName, country, province, city,
    operator. One narrow stage: both lookups are broadcast range joins.
    """
    df = events.withColumn("clientIpLong", ip_to_long("clientIp")).withColumn(
        "aipLong", ip_to_long("aip")
    )
    df = range_join(
        df,
        dims.client_rules,
        "clientIpLong",
        rule_rows=dims.rows("client_rules"),
        match="first",
        payload_cols=["client_type_id"],
        defaults={"client_type_id": DEFAULT_CLIENT_NAME},
    ).withColumnRenamed("client_type_id", "clientName")
    return join_geo(df, dims)


def _dedup_auth_last(auth: DataFrame) -> DataFrame:
    """J4's last-match-wins: the reference scans the whole metadata array
    without breaking (DnsRptCH.scala:247-258), so for duplicate
    authorityDomain keys the highest rule_idx wins. Dedup on the (tiny)
    dim side so the fact join is 1:1."""
    w = Window.partitionBy("authorityDomain").orderBy(F.desc("rule_idx"))
    return (
        auth.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "rule_idx")
    )


def enrich_top(flow: DataFrame, dims: EnrichDims) -> DataFrame:
    """The reference's Tuple2Es enrichment pass over the top-K flow rows
    (DnsRptCH.scala:207-294), as one withColumns chain + broadcast joins.
    ``flow`` is ``reports.flow_report``'s output, which carries aipLong.

    Adds: authorityDomain, replaceDomain, inNet, company metadata
    (companyName/soft/websiteName/websiteType), geo fields on aip,
    abroadNum/telecomNum/linkNum/gatNum, aIpAddr.
    """
    df = flow.withColumn("authorityDomain", authority_domain("domain")).withColumn(
        "replaceDomain", strip_scheme("domain")
    )
    df = join_in_net(df, dims)
    # J4 company metadata (last match wins, resolved dim-side)
    df = df.join(F.broadcast(_dedup_auth_last(dims.auth_domains)), "authorityDomain", "left")
    # J5 geo on aip (again, over top rows — reference :260-284)
    df = join_geo(df, dims)

    # conditional counters (DnsRptCH.scala:263-280): resolver attributed
    # to abroad / telecom / link / gat buckets by geo fields
    df = (
        df.withColumn(
            "abroadNum",
            F.when(
                (F.col("country") != "中国") & (F.col("country") != ""), F.col("resolver")
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "telecomNum",
            F.when(F.col("operator") == "电信", F.col("resolver")).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "linkNum",
            F.when(F.col("operator") == "联通", F.col("resolver")).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "gatNum",
            F.when(
                F.col("province").isin("香港", "澳门", "台湾"), F.col("resolver")
            ).otherwise(F.lit(0)).cast("long"),
        )
    )

    # aIpAddr: country+province+city+operator concat, skipping city when
    # city == province (municipalities; DnsRptCH.scala:281-283)
    df = df.withColumn(
        "aIpAddr",
        F.concat(
            F.col("country"),
            F.col("province"),
            F.when(F.col("city") == F.col("province"), F.lit("")).otherwise(F.col("city")),
            F.col("operator"),
        ),
    )
    return df


def enrich_business(top: DataFrame, dims: EnrichDims) -> DataFrame:
    """J2: aip -> business resource (name/type/props), last-match wins
    (DnsRptCH.scala:95-101, 590-596). Used by the flow report A10 and
    business rollup A16."""
    return range_join(
        top.withColumn("aipLong", ip_to_long("aip")),
        dims.segment_rules,
        "aipLong",
        rule_rows=dims.rows("segment_rules"),
        match="last",
        order_col="rule_idx",
        payload_cols=["resource_name", "resource_type", "resource_props"],
    )


def join_users(df: DataFrame, dims: EnrichDims) -> DataFrame:
    """J6: clientIp -> userName broadcast equi-join (DnsRptCH.scala:375-376);
    the reference drops rows with no user."""
    out = df.join(F.broadcast(dims.users), "clientIp", "left")
    return out.filter(F.col("userName").isNotNull() & (F.col("userName") != ""))
