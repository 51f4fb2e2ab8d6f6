"""Synthetic DNS batch input: a RAW_EVENT_SCHEMA frame plus demo
dimension tables derived DETERMINISTICALLY from the generic ``events``
table, so the end-to-end 18-report window batch
(:func:`dnsflow_clickhouse_spark.streaming.pipeline.process_batch`,
mirroring the reference's per-window fan-out, DnsRptCH.scala:1069-1139)
can be driven — and benchmarked — at any scale factor without shipping
real DNS logs.

Every derivation is a pure JVM-side expression keyed on
``event_id``/``user_id`` (no RNG, no Python row functions), so the
frame is reproducible row-for-row and the generator itself costs one
projection over the parquet scan. The value mix intentionally exercises
every enrichment path: known client ranges and the user dim (10.0.0.x),
out-of-dim clients (default clientName 5), authority-domain hits
(baidu.com / qq.com, incl. the dup-key last-wins row), the whitelist
domain, scheme-strip and junk-domain hygiene cases, geo/media/segment
aip ranges, NXDOMAIN-style errors and answerless responses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark import schemas as S
from dnsflow_clickhouse_spark.operators.enrich import EnrichDims
from dnsflow_clickhouse_spark.sources.tables import load_table

SYNTH_APP_TIME = 1_700_000_000 - (1_700_000_000 % 300)  # aligned window

_DOMAINS = [
    "www.baidu.com",
    "www.qq.com",
    "img.taobao.com",
    "rare.baidu.com",  # whitelist member
]

_AIPS = ["172.0.0.60", "8.8.8.8", "1.0.0.9", "172.0.0.150"]


def synthetic_raw_events(
    spark: SparkSession, sf_dir: str, app_time_s: int = SYNTH_APP_TIME
) -> DataFrame:
    """One 5-minute window of raw DNS responses, one per ``events`` row."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    eid = F.col("event_id").cast("long")
    uid = F.col("user_id").cast("long")

    rc = F.element_at(
        F.array(*[F.lit(v) for v in (0, 0, 0, 0, 2, 3, 5)]),
        (F.pmod(eid, F.lit(7)) + 1).cast("int"),
    )
    long_tail = F.concat(
        F.lit("d"), F.pmod(eid, F.lit(2000)).cast("string"), F.lit(".example.com")
    )
    dom = F.element_at(
        F.array(*([F.lit(d) for d in _DOMAINS] + [long_tail, long_tail])),
        (F.pmod(eid, F.lit(6)) + 1).cast("int"),
    )
    # hygiene edge cases: a sliver of scheme-prefixed and junk domains
    dom = (
        F.when(F.pmod(eid, F.lit(97)) == 0, F.concat(F.lit("http://"), dom))
        .when(F.pmod(eid, F.lit(131)) == 0, F.lit("host.localdomain"))
        .otherwise(dom)
    )
    client = (
        F.when(F.pmod(uid, F.lit(50)) == 0, F.lit("10.0.0.1"))  # user alice
        .when(F.pmod(uid, F.lit(50)) == 1, F.lit("10.0.0.2"))  # user bob
        .when(
            F.pmod(uid, F.lit(7)) == 0,
            F.concat(F.lit("192.168.0."), F.pmod(uid, F.lit(250)).cast("string")),
        )
        .when(
            F.pmod(uid, F.lit(11)) == 0,
            F.concat(F.lit("44.1.1."), F.pmod(uid, F.lit(250)).cast("string")),
        )  # outside every client rule -> default clientName 5
        .otherwise(
            F.concat(
                F.lit("10.0."),
                F.pmod(uid, F.lit(2)).cast("string"),
                F.lit("."),
                F.pmod(uid, F.lit(250)).cast("string"),
            )
        )
    )
    aip = F.element_at(
        F.array(*[F.lit(a) for a in _AIPS]), (F.pmod(eid, F.lit(4)) + 1).cast("int")
    )
    answers_t = S.RAW_EVENT_SCHEMA["Answers"].dataType
    answers = (
        F.when(
            (rc == 0) & (F.pmod(eid, F.lit(11)) != 0),
            F.array(
                F.struct(
                    F.lit("CNAME").alias("Type"),
                    F.concat(F.lit("cn"), eid.cast("string"), F.lit(".cdn.net")).alias(
                        "Value"
                    ),
                ),
                F.struct(F.lit("A").alias("Type"), aip.alias("Value")),
            ),
        )
        .otherwise(F.lit(None))
        .cast(answers_t)
    )
    return ev.select(
        (F.lit(app_time_s) + F.pmod(eid, F.lit(300))).cast("long").alias("Timestamp"),
        F.concat(
            F.lit("223.5.5."), (F.pmod(eid, F.lit(4)) + 1).cast("string")
        ).alias("ServerIP"),
        client.alias("ClientIP"),
        dom.alias("Domain"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("A", "A", "A", "AAAA", "MX")]),
            (F.pmod(eid, F.lit(5)) + 1).cast("int"),
        ).alias("Type"),
        rc.cast("int").alias("ResponseCode"),
        (F.pmod(eid, F.lit(89)) != 0).alias("QR"),
        answers.alias("Answers"),
        F.lit(None).cast("string").alias("_corrupt_record"),
    )


def demo_dims(spark: SparkSession) -> EnrichDims:
    """Small deterministic dimension tables matching the synthetic
    events' value ranges (one row per enrichment path, dup-key and
    overlap cases included — same shapes the reference loads from
    MySQL/Redis, DnsRptCH.scala:796-855)."""
    ten, one92, one72 = 10 << 24, (192 << 24) + (168 << 16), 172 << 24
    client_rules = [
        (ten, ten + 255, 1),
        (ten + 256, ten + 511, 2),
        (one92, one92 + 65535, 3),
    ]
    segment_rules = [
        (one72, one72 + 100, "cacheA", "cdn", "video", 0),
        (one72 + 50, one72 + 200, "cacheB", "cdn", "web", 1),  # overlap: last wins
    ]
    geo = [
        (one72, one72 + (1 << 16) - 1, "中国", "浙江", "杭州", "电信"),
        ((8 << 24), (8 << 24) + (1 << 24) - 1, "美国", "加州", "山景城", "谷歌"),
        ((1 << 24), (1 << 24) + (1 << 16) - 1, "中国", "上海", "上海", "联通"),
    ]
    auth = [
        ("baidu.com", "百度", "search", "baidu", "portal", 0),
        ("qq.com", "腾讯OLD", "im", "qq", "social", 1),
        ("qq.com", "腾讯", "im", "qq", "social", 2),  # dup key: last wins
    ]
    return EnrichDims(
        client_rules=spark.createDataFrame(client_rules, S.CLIENT_RULE_SCHEMA),
        media_rules=spark.createDataFrame(
            [(one72, one72 + (1 << 16) - 1)], S.MEDIA_RULE_SCHEMA
        ),
        segment_rules=spark.createDataFrame(
            segment_rules,
            "min_long_ip long, max_long_ip long, resource_name string, "
            "resource_type string, resource_props string, rule_idx int",
        ),
        auth_domains=spark.createDataFrame(
            auth,
            "authorityDomain string, companyName string, soft string, "
            "websiteName string, websiteType string, rule_idx int",
        ),
        geo=spark.createDataFrame(geo, S.GEO_SCHEMA),
        whitelist=spark.createDataFrame([("rare.baidu.com",)], S.WHITELIST_SCHEMA),
        users=spark.createDataFrame(
            [("10.0.0.1", "alice"), ("10.0.0.2", "bob")], S.USER_SCHEMA
        ),
        user_info=spark.createDataFrame(
            [("alice", "137", "hangzhou"), ("bob", "138", "ningbo")],
            S.USER_INFO_SCHEMA,
        ),
        domain_tags=spark.createDataFrame(
            [("www.baidu.com", "search", "web", "cn"), ("www.qq.com", "social", "im", "cn")],
            S.DOMAIN_TAG_SCHEMA,
        ),
    )
