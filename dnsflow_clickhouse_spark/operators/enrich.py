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


@dataclass
class EnrichDims:
    """All dimension DataFrames used by the pipeline (fixture-injectable).

    Schemas in dnsflow_clickhouse_spark.schemas. Every frame is small —
    the reference collects them to the driver; we broadcast-join them.
    """

    client_rules: DataFrame | None = None  # CLIENT_RULE_SCHEMA
    media_rules: DataFrame | None = None  # MEDIA_RULE_SCHEMA (inNet big table)
    segment_rules: DataFrame | None = None  # IP_SEGMENT_SCHEMA (business)
    auth_domains: DataFrame | None = None  # AUTH_DOMAIN_SCHEMA
    geo: DataFrame | None = None  # GEO_SCHEMA
    whitelist: DataFrame | None = None  # WHITELIST_SCHEMA
    users: DataFrame | None = None  # USER_SCHEMA (ip -> userName)
    user_info: DataFrame | None = None  # USER_INFO_SCHEMA (phone/address)
    domain_tags: DataFrame | None = None  # DOMAIN_TAG_SCHEMA
    _rows: dict[str, list[dict]] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def rows(self, name: str) -> list[dict]:
        """Rows of the dim table ``name``, collected to the driver at
        most once per instance: the range lookups of every report built
        from these dims share one collect job per table."""
        if name not in self._rows:
            self._rows[name] = [r.asDict() for r in getattr(self, name).collect()]
        return self._rows[name]


def in_net_bounds(dims: EnrichDims) -> list[tuple[int, int]]:
    """J3's [lo, hi] ranges: media and segment rules together, because
    inNet is membership in either (DnsRptCH.scala:222-235)."""
    return [
        (r["min_long_ip"], r["max_long_ip"])
        for name in ("media_rules", "segment_rules")
        if getattr(dims, name) is not None
        for r in dims.rows(name)
    ]


def enrich_base(events: DataFrame, dims: EnrichDims) -> DataFrame:
    """Per-event enrichment done in the reference's parse stage:
    J1 client range lookup + J5 geo lookup on the answer IP.

    Adds: clientIpLong, aipLong, clientName, country, province, city,
    operator. One narrow stage: both lookups are broadcast range joins.
    """
    df = events.withColumn("clientIpLong", ip_to_long("clientIp")).withColumn(
        "aipLong", ip_to_long("aip")
    )
    if dims.client_rules is not None:
        df = range_join(
            df,
            dims.client_rules,
            "clientIpLong",
            rule_rows=dims.rows("client_rules"),
            match="first",
            payload_cols=["client_type_id"],
            defaults={"client_type_id": DEFAULT_CLIENT_NAME},
        ).withColumnRenamed("client_type_id", "clientName")
    else:
        df = df.withColumn("clientName", F.lit(DEFAULT_CLIENT_NAME))
    if dims.geo is not None:
        df = range_join(
            df,
            dims.geo,
            "aipLong",
            rule_rows=dims.rows("geo"),
            match="first",
            payload_cols=["country", "province", "city", "operator"],
            defaults={
                "country": "",
                "province": "",
                "city": "",
                "operator": "",
            },
            assume_disjoint=True,
        )
    else:
        for c in ("country", "province", "city", "operator"):
            df = df.withColumn(c, F.lit(""))
    return df


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


def enrich_top(top: DataFrame, dims: EnrichDims) -> DataFrame:
    """The reference's Tuple2Es enrichment pass over the top-K flow rows
    (DnsRptCH.scala:207-294), as one withColumns chain + broadcast joins.

    Adds: authorityDomain, replaceDomain, inNet, company metadata
    (companyName/soft/websiteName/websiteType), geo fields on aip,
    abroadNum/telecomNum/linkNum/gatNum, aIpAddr.
    """
    df = top.withColumn("authorityDomain", authority_domain("domain")).withColumn(
        "replaceDomain", strip_scheme("domain")
    )
    if "aipLong" not in df.columns:
        df = df.withColumn("aipLong", ip_to_long("aip"))

    # J3 inNet: membership OR over media + segment ranges -> inNet =
    # resolver when inside, else 0 (DnsRptCH.scala:222-235)
    bounds = in_net_bounds(dims)
    if bounds:
        # size-routed: literal OR below ~100 merged ranges, broadcast
        # interval join above (see membership_flag docstring)
        df = membership_flag(df, F.col("aipLong"), bounds, "__in_net")
    else:
        df = df.withColumn("__in_net", F.lit(False))
    df = df.withColumn(
        "inNet",
        F.when(F.col("__in_net"), F.col("resolver")).otherwise(F.lit(0)).cast("long"),
    ).drop("__in_net")

    # J4 company metadata (last match wins, resolved dim-side)
    if dims.auth_domains is not None:
        auth = _dedup_auth_last(dims.auth_domains)
        df = df.join(F.broadcast(auth), "authorityDomain", "left")
    else:
        for c in ("companyName", "soft", "websiteName", "websiteType"):
            df = df.withColumn(c, F.lit(None).cast("string"))

    # J5 geo on aip (again, over top rows — reference :260-284)
    if dims.geo is not None and "country" not in top.columns:
        df = range_join(
            df,
            dims.geo,
            "aipLong",
            rule_rows=dims.rows("geo"),
            match="first",
            payload_cols=["country", "province", "city", "operator"],
            defaults={"country": "", "province": "", "city": "", "operator": ""},
            assume_disjoint=True,
        )

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
    if dims.segment_rules is None:
        return (
            top.withColumn("resource_name", F.lit(None).cast("string"))
            .withColumn("resource_type", F.lit(None).cast("string"))
            .withColumn("resource_props", F.lit(None).cast("string"))
        )
    df = top
    if "aipLong" not in df.columns:
        df = df.withColumn("aipLong", ip_to_long("aip"))
    return range_join(
        df,
        dims.segment_rules,
        "aipLong",
        rule_rows=dims.rows("segment_rules"),
        match="last",
        order_col="rule_idx",
        payload_cols=["resource_name", "resource_type", "resource_props"],
    )


def join_users(df: DataFrame, dims: EnrichDims, drop_unmatched: bool = True) -> DataFrame:
    """J6: clientIp -> userName broadcast equi-join (DnsRptCH.scala:375-376);
    the reference drops rows with no user."""
    if dims.users is None:
        return df.withColumn("userName", F.lit(None).cast("string"))
    out = df.join(F.broadcast(dims.users), "clientIp", "left")
    if drop_unmatched:
        out = out.filter(F.col("userName").isNotNull() & (F.col("userName") != ""))
    return out
