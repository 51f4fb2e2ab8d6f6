"""End-to-end pipeline tests over the DNS fixtures (SURVEY §5.2-5.4):
parse/derive parity against a pure-python oracle, report invariants, and
the full fan-out smoke."""

from __future__ import annotations

import dataclasses
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark import schemas as S
from dnsflow_clickhouse_spark.operators import reports as R
from dnsflow_clickhouse_spark.operators.enrich import enrich_base, enrich_top
from dnsflow_clickhouse_spark.operators.range_join import MEMBERSHIP_LITERAL_MAX
from dnsflow_clickhouse_spark.sources.events import derive_events, parse_raw_lines
from dnsflow_clickhouse_spark.streaming.pipeline import process_batch

from tests import fixtures_dns as FX


@pytest.fixture(scope="module")
def base_df(spark):
    lines = spark.createDataFrame([(l,) for l in FX.raw_lines()], "value string")
    raw = parse_raw_lines(lines)
    derived = derive_events(
        raw,
        window_start_s=FX.APP_TIME,
        window_end_s=FX.APP_TIME + FX.WINDOW,
        deterministic_aip=True,
    )
    return enrich_base(derived, FX.build_dims(spark)).cache()


def test_parse_drops_corrupt_and_filters(spark, base_df):
    expected = FX.py_base_events()
    assert base_df.count() == len(expected)


def test_base_derivation_matches_python_oracle(spark, base_df):
    got = [
        r.asDict()
        for r in base_df.select(
            "clientIp", "domain", "responseCode", "responseType", "aip",
            "error", "clientName", "country", "province", "city", "operator",
        ).collect()
    ]
    exp = [
        {k: e[k] for k in got[0]}
        for e in FX.py_base_events()
    ]
    key = lambda d: tuple(sorted((k, str(v)) for k, v in d.items()))
    assert Counter(map(key, got)) == Counter(map(key, exp))


def test_qps_report_invariants(spark, base_df):
    qps = R.rollup_report(R.rollup_aggregate(base_df), "dns_flow_qps").collect()
    exp = FX.py_base_events()
    rows = {r["clientName"]: r for r in qps}
    # clientName=0 sentinel row equals totals (A1 = Σ A2, SURVEY §5.4)
    assert rows[0]["dnsNum"] == len(exp)
    assert rows[0]["errNum"] == sum(e["error"] for e in exp)
    assert sum(r["dnsNum"] for c, r in rows.items() if c != 0) == len(exp)
    per_client = Counter(e["clientName"] for e in exp)
    for c, n in per_client.items():
        assert rows[c]["dnsNum"] == n


def test_response_code_totals(spark, base_df):
    out = R.rollup_report(R.rollup_aggregate(base_df), "dns_flow_response_code").collect()
    exp = Counter((0, e["responseCode"]) for e in FX.py_base_events())
    exp += Counter((e["clientName"], e["responseCode"]) for e in FX.py_base_events())
    got = {(r["clientName"], r["responseCode"]): r["dnsNum"] for r in out}
    assert got == dict(exp)


def test_flow_report_whitelist_boost(spark, base_df):
    """Whitelisted domains survive the HAVING cut and resolver values are
    restored after ranking (sum invariance across boost/un-boost,
    SURVEY §5.4 / DnsRptCH.scala:570-584)."""
    dims = FX.build_dims(spark)
    flow = R.flow_report(base_df, dims, having_min=10, k=70000)
    rows = flow.collect()
    exp = FX.py_base_events()
    # every whitelist domain present in base must appear even when its
    # true resolver count < having_min
    wl_counts = Counter(
        (e["clientName"], e["domain"], e["dnsIp"], e["aip"])
        for e in exp
        if e["domain"] in FX.WHITELIST
    )
    got_keys = {(r["clientName"], r["domain"], r["dnsIp"], r["aip"]): r["resolver"] for r in rows}
    for k, n in wl_counts.items():
        assert k in got_keys, f"whitelisted group {k} missing from flow report"
        assert got_keys[k] == n, "boost was not removed after ranking"
    # non-whitelist groups respect the HAVING threshold
    for r in rows:
        if r["domain"] not in FX.WHITELIST:
            assert r["resolver"] >= 10


def test_flow_business_last_match(spark, base_df):
    """J2 last-match: aip 172.0.0.60 is covered by both segment rules;
    rule_idx 1 (cacheB) must win (DnsRptCH.scala:95-101 loop w/o break)."""
    dims = FX.build_dims(spark)
    flow = R.flow_report(base_df, dims, having_min=1, k=70000)
    hit = [r for r in flow.collect() if r["aip"] == "172.0.0.60"]
    assert hit and all(r["resource_name"] == "cacheB" for r in hit)


def test_enrich_top_fields(spark, base_df):
    dims = FX.build_dims(spark)
    flow = R.flow_report(base_df, dims, having_min=1, k=70000)
    top = enrich_top(flow, dims)
    rows = {r["aip"]: r for r in top.collect()}
    # intranet aip -> inNet == resolver; geo concat skips city==province
    r172 = rows["172.0.0.60"]
    assert r172["inNet"] == r172["resolver"]
    assert r172["aIpAddr"] == "中国浙江杭州电信"
    assert r172["telecomNum"] == r172["resolver"] and r172["abroadNum"] == 0
    r8 = rows["8.8.8.8"]
    assert r8["inNet"] == 0 and r8["abroadNum"] == r8["resolver"]
    # city==province dedup (上海上海 -> 上海)
    r1 = rows["1.0.0.9"]
    assert r1["aIpAddr"] == "中国上海联通"
    # J4 last-match metadata: qq.com resolves to the rule_idx=2 payload
    qq = [r for r in top.collect() if r["authorityDomain"] == "qq.com"]
    assert qq and all(r["companyName"] == "腾讯" for r in qq)


def test_user_report_shape(spark, base_df):
    dims = FX.build_dims(spark)
    out = R.user_report(base_df, dims, having_min=0).collect()
    assert out, "user report empty"
    assert all(r["clientName"] == 1 for r in out)
    assert all(r["userName"] in ("alice", "bob") for r in out)
    assert all(r["phone"] is not None for r in out)


def test_user_report_in_net_matches_clear_on_join_path(spark, base_df):
    """J3 with more disjoint media ranges than ``membership_flag`` inlines
    takes its broadcast-join path in both reports, and the user report's
    inNet agrees with dns_flow_clear's for every aip the two share."""
    spread = [((100 << 24) + 4 * i, (100 << 24) + 4 * i + 1) for i in range(150)]
    one = (1 << 24) + 9  # 1.0.0.9; 172.0.0.60 is in a segment rule
    media = spark.createDataFrame([(one, one), *spread], S.MEDIA_RULE_SCHEMA)
    assert len(spread) + 1 > MEMBERSHIP_LITERAL_MAX
    dims = dataclasses.replace(FX.build_dims(spark), media_rules=media)
    users = R.user_report(base_df, dims, having_min=0)
    clear = enrich_top(R.flow_report(base_df, dims, having_min=1), dims)
    for df in (users, clear):
        assert "__mlo" in df._jdf.queryExecution().optimizedPlan().toString()

    def in_net(df):
        return {(r["aip"], r["inNet"] > 0) for r in df.select("aip", "inNet").collect()}

    got, exp = in_net(users), in_net(clear)
    assert len(exp) == len({aip for aip, _ in exp})  # one flag per aip
    assert got <= exp
    assert {flag for _, flag in got} == {True, False}


def test_full_fanout_smoke(spark):
    lines = spark.createDataFrame([(l,) for l in FX.raw_lines()], "value string")
    raw = parse_raw_lines(lines)
    out = process_batch(raw, FX.build_dims(spark), FX.APP_TIME, deterministic=True)
    assert len(out) == 18
    for name, df in out.items():
        n = df.count()
        assert n >= 0, name
    # key reports non-empty on the fixture window
    assert out["dns_flow_qps"].count() >= 2
    assert out["dns_flow_clear"].count() > 0


def test_parse_with_quarantine_accounts_for_every_line(spark):
    from dnsflow_clickhouse_spark.sources.events import (
        parse_raw_lines,
        parse_with_quarantine,
    )

    lines = spark.createDataFrame(
        [
            ('{"Timestamp": 1700000000, "Domain": "a.com", "Qr": 1}',),
            ("not json at all",),
            ('{"Domain": "no-timestamp.com"}',),
        ],
        ["value"],
    )
    good, bad = parse_with_quarantine(lines)
    assert good.count() == 1
    reasons = {r.raw_line: r.reason for r in bad.collect()}
    assert reasons["not json at all"] == "corrupt"
    assert reasons['{"Domain": "no-timestamp.com"}'] == "missing_timestamp"
    # quarantine + good == input, and good matches the drop-path parse
    assert good.count() + bad.count() == 3
    assert good.count() == parse_raw_lines(lines).count()
