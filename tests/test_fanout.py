"""The fused report fan-out: every report ``process_batch`` derives from
its shared aggregates equals a plain per-report groupBy written here,
the roll-ups share one cached aggregate with one exchange, a window
written through the pipeline releases everything it persisted, and a
missing dim table behaves as an empty one."""

from __future__ import annotations

import json
import shutil
from collections import Counter

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark import app
from dnsflow_clickhouse_spark import schemas as S
from dnsflow_clickhouse_spark.functions.domains import authority_domain
from dnsflow_clickhouse_spark.operators import reports as R
from dnsflow_clickhouse_spark.operators.enrich import (
    DEFAULT_CLIENT_NAME,
    RANGE_TABLES,
    enrich_base,
    enrich_top,
)
from dnsflow_clickhouse_spark.sources.events import derive_events, parse_raw_lines
from dnsflow_clickhouse_spark.sources.synth import (
    SYNTH_APP_TIME,
    demo_dims,
    synthetic_raw_events,
)
from dnsflow_clickhouse_spark.streaming.pipeline import (
    REPORT_AFTER,
    process_batch,
    run_backfill,
    write_window,
)

from tests import fixtures_dns as FX
from tests.test_synth import SF_DIR


def _null_key_lines() -> list[str]:
    """In-window events whose requestType, responseType, responseCode or
    dnsIp is null: the roll-ups drop them, the top-K pairs keep them."""
    e = dict(
        Timestamp=FX.APP_TIME + 20, ServerIP="223.5.5.1", ClientIP="10.0.0.1",
        Domain="www.baidu.com", Type="A", ResponseCode=0, QR=True,
        Answers=[{"Type": "A", "Value": "8.8.8.8"}],
    )
    without = lambda k: {f: v for f, v in e.items() if f != k}  # noqa: E731
    return [
        json.dumps(x)
        for x in (
            without("Type"),
            without("Type"),
            {**e, "Answers": [{"Value": "8.8.8.8"}]},
            without("ResponseCode"),
            without("ServerIP"),
        )
    ]


def _rollup(base: DataFrame, key: str | None, measures: list[str]) -> DataFrame:
    keys = [] if key is None else [key]
    sums = {"dnsNum": F.sum("resolver"), "errNum": F.sum("error")}
    aggs = [sums[m].alias(m) for m in measures]
    per_client = base.groupBy("clientName", *keys).agg(*aggs)
    every = base.groupBy(*keys).agg(*aggs).select(
        F.lit(0).alias("clientName"), *keys, *measures
    )
    out = per_client.unionByName(every)
    return out if key is None else out.filter(F.col(key).isNotNull())


def _rank(agg: DataFrame, keys: list[str], item: str, k: int) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(F.desc("dnsNum"), F.asc(item))
    return agg.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _topk(base: DataFrame, item: str, k: int, per_client: bool) -> DataFrame:
    keys = ["clientName", "responseCode"] if per_client else ["responseCode"]
    agg = base.groupBy(*keys, item).agg(F.sum("resolver").alias("dnsNum"))
    return _rank(agg, keys, item, k)


def _authority(domain_topk: DataFrame, per_client: bool) -> DataFrame:
    keys = ["clientName", "responseCode"] if per_client else ["responseCode"]
    agg = (
        domain_topk.withColumn("authorityDomain", authority_domain("domain"))
        .groupBy(*keys, "authorityDomain")
        .agg(F.sum("dnsNum").alias("dnsNum"))
    )
    return _rank(agg, keys, "authorityDomain", 5000)


def _oracle(events: DataFrame, dims, app_time: int) -> dict[str, DataFrame]:
    """Each report from its own chain over an uncached base: a plain
    groupBy per roll-up and per top-K report, and the unfused report
    functions for the flow-derived and per-user reports."""
    base = enrich_base(
        derive_events(events, app_time, app_time + 300, deterministic_aip=True), dims
    )
    flow = R.flow_report(base, dims)
    top = enrich_top(flow, dims)
    domain, domain_client = (_topk(base, "domain", 5000, c) for c in (False, True))
    qps = _rollup(base, None, ["dnsNum", "errNum"]).withColumn(
        "avgNum", F.floor(F.col("dnsNum") / 300).cast("long")
    )
    return {
        "dns_flow_qps": qps,
        "dns_flow_request_type": _rollup(base, "requestType", ["dnsNum"]),
        "dns_flow_response_type": _rollup(base, "responseType", ["dnsNum"]),
        "dns_flow_response_code": _rollup(base, "responseCode", ["dnsNum"]),
        "dns_flow_code_domain": domain,
        "dns_flow_code_authority": _authority(domain, False),
        "dns_flow_code_domain_client": domain_client,
        "dns_flow_code_authority_client": _authority(domain_client, True),
        "dns_flow_code_client_ip": _topk(base, "clientIp", 500, False),
        "dns_flow_code_client_ip_client": _topk(base, "clientIp", 500, True),
        "dns_flow_clear": top,
        "dns_flow_trend": R.detail_report(top),
        "dns_flow_top_business": R.business_report(flow),
        "dns_flow_top_server": _rollup(base, "dnsIp", ["dnsNum"]),
        "dns_flow_top_province": _rollup(base, "province", ["dnsNum"]),
        "dns_flow_top_operator": _rollup(base, "operator", ["dnsNum"]),
        "bigdata_dns_flow_top_user": R.user_report(base, dims),
        "dns_middle_user": R.user_middle_data(base, dims),
    }


def _assert_matches_oracle(spark, events: DataFrame, dims, app_time: int) -> dict:
    got = process_batch(events, dims, app_time, deterministic=True)
    exp = _oracle(events, dims, app_time)
    assert got.keys() == exp.keys()
    rows = {}
    try:
        for name, df in got.items():
            assert df.columns == exp[name].columns, name
            rows[name] = Counter(map(tuple, df.collect()))
            assert rows[name] == Counter(map(tuple, exp[name].collect())), name
    finally:
        spark.catalog.clearCache()
    return rows


def test_fused_reports_match_oracle_on_fixture_window(spark):
    lines = FX.raw_lines() + _null_key_lines()
    events = parse_raw_lines(spark.createDataFrame([(l,) for l in lines], "value string"))
    rows = _assert_matches_oracle(spark, events, FX.build_dims(spark), FX.APP_TIME)
    # the null keys reached the reports: dropped from the roll-ups,
    # ranked like any other value by the top-K pairs
    assert all(r[1] is not None for r in rows["dns_flow_request_type"])
    assert all(r[1] is not None for r in rows["dns_flow_response_type"])
    assert any(r[0] is None for r in rows["dns_flow_code_domain"])
    qps = {r[0]: r[1] for r in rows["dns_flow_qps"]}
    assert qps[0] == len(FX.py_base_events()) + 5


def test_fused_reports_match_oracle_on_synthetic_window(spark):
    events = synthetic_raw_events(spark, SF_DIR)
    rows = _assert_matches_oracle(spark, events, demo_dims(spark), SYNTH_APP_TIME)
    assert rows["dns_flow_qps"] and rows["dns_flow_code_domain_client"]


def _nodes(plan):
    """A physical plan's nodes, through its children only: a cached scan
    is a leaf here, and an adaptive plan is walked from its initial plan,
    exchanges included."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _cached_scans(spark, df: DataFrame) -> list:
    """Identity of the cache behind each InMemoryTableScan of ``df``."""
    ident = spark.sparkContext._jvm.System.identityHashCode
    plan = df._jdf.queryExecution().executedPlan()
    return [
        (ident(n.relation().cacheBuilder()), n.relation().cacheBuilder())
        for n in _nodes(plan)
        if n.nodeName() == "InMemoryTableScan"
    ]


def _exchanges(plan) -> int:
    return sum(1 for n in _nodes(plan) if n.nodeName() == "Exchange")


def test_rollups_read_one_shared_aggregate(spark):
    lines = spark.createDataFrame([(l,) for l in FX.raw_lines()], "value string")
    reports, base = process_batch(
        parse_raw_lines(lines), FX.build_dims(spark), FX.APP_TIME,
        deterministic=True, return_base=True,
    )
    try:
        shared = set()
        for name in R.ROLLUPS:
            df = reports[name]
            scans = _cached_scans(spark, df)
            assert len(scans) == 1, name
            shared.add(scans[0][0])
            assert _exchanges(df._jdf.queryExecution().executedPlan()) == 0, name
        assert len(shared) == 1
        builder = scans[0][1]
        assert _exchanges(builder.cachedPlan()) == 1
        (base_cache,) = _cached_scans(spark, base)
        inner = [
            n for n in _nodes(builder.cachedPlan()) if n.nodeName() == "InMemoryTableScan"
        ]
        ident = spark.sparkContext._jvm.System.identityHashCode
        assert [ident(n.relation().cacheBuilder()) for n in inner] == [base_cache[0]]
    finally:
        spark.catalog.clearCache()


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _write_dims(spark, dims_dir) -> None:
    dims = FX.build_dims(spark)
    for f in app._DIM_FIELDS:
        getattr(dims, f).write.parquet(str(dims_dir / f"{f}.parquet"))


def test_windows_release_what_they_persist(spark, tmp_path):
    """Backfill and batch leave no persisted RDD behind (the sink reads
    each report while the window's frames are still cached)."""
    events = parse_raw_lines(
        spark.createDataFrame([(l,) for l in FX.raw_lines()], "value string")
    )
    seen: dict[tuple[str, int], int] = {}

    def sink(name, df, t):
        seen[(name, t)] = df.count()

    before = _persisted_rdds(spark)
    run_backfill(
        spark, events, FX.build_dims(spark), FX.APP_TIME, FX.APP_TIME + 2 * FX.WINDOW,
        sink, deterministic=True,
    )
    assert len(seen) == 2 * 18
    assert _persisted_rdds(spark) <= before

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "events.txt").write_text("\n".join(FX.raw_lines()), encoding="utf-8")
    dims_dir = tmp_path / "dims"
    dims_dir.mkdir()
    _write_dims(spark, dims_dir)
    before = _persisted_rdds(spark)
    app.main([
        "batch", "--input", str(inp), "--dims", str(dims_dir),
        "--out", str(tmp_path / "out"), "--app-time", str(FX.APP_TIME), "--deterministic",
    ])
    assert _persisted_rdds(spark) <= before
    qps = spark.read.parquet(str(tmp_path / "out" / "dns_flow_qps")).count()
    assert qps == seen[("dns_flow_qps", FX.APP_TIME)]


def _load_dims_without_jobs(spark, dims_dir: str | None):
    sc = spark.sparkContext
    group = "load-dims-probe"
    sc.setJobGroup(group, "load_dims must run no Spark job")
    try:
        dims = app.load_dims(spark, dims_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], dims_dir
    return dims


def test_load_dims_reads_declared_schemas_without_jobs(spark, tmp_path):
    """A full dims dir, one with tables missing, and no dims dir: no job
    runs, every field has its declared schema, and an absent table is an
    empty frame."""
    full, partial = tmp_path / "full", tmp_path / "partial"
    _write_dims(spark, full)
    missing = {"geo", "users", "domain_tags"}
    shutil.copytree(full, partial, ignore=lambda d, names: [f"{f}.parquet" for f in missing])
    declared = {
        "client_rules": S.CLIENT_RULE_SCHEMA,
        "media_rules": S.MEDIA_RULE_SCHEMA,
        "segment_rules": S.IP_SEGMENT_SCHEMA,
        "auth_domains": S.AUTH_DOMAIN_SCHEMA,
        "geo": S.GEO_SCHEMA,
        "whitelist": S.WHITELIST_SCHEMA,
        "users": S.USER_SCHEMA,
        "user_info": S.USER_INFO_SCHEMA,
        "domain_tags": S.DOMAIN_TAG_SCHEMA,
    }
    for dims_dir, absent in ((str(full), set()), (str(partial), missing), (None, set(declared))):
        dims = _load_dims_without_jobs(spark, dims_dir)
        for f, schema in declared.items():
            df = getattr(dims, f)
            assert df.schema == schema, (dims_dir, f)
            assert df.isEmpty() == (f in absent), (dims_dir, f)


# Extra in-window events: client-1 queries above user_report's HAVING
# (> 50 per clientIp/domain/aip), from a known user and from a client
# IP with no user, so the per-user reports have rows to check.
_USER_LINES = [
    json.dumps(dict(
        Timestamp=FX.APP_TIME + 30, ServerIP="223.5.5.1", ClientIP=ip,
        Domain="www.qq.com", Type="A", ResponseCode=0, QR=True,
        Answers=[{"Type": "A", "Value": "172.0.0.60"}],
    ))
    for ip in ("10.0.0.1", "10.0.0.3")
    for _ in range(60)
]

# absent dim table -> (report, column, the values that column may hold:
# its documented default; an empty set means the report has no rows)
_DEFAULTS = {
    "client_rules": ("dns_flow_qps", "clientName", {R.ALL_CLIENTS, DEFAULT_CLIENT_NAME}),
    "segment_rules": ("dns_flow_clear", "resource_name", {None}),
    "auth_domains": ("dns_flow_clear", "companyName", {None}),
    "geo": ("dns_flow_clear", "aIpAddr", {""}),
    "users": ("dns_middle_user", "userName", set()),
    "user_info": ("bigdata_dns_flow_top_user", "phone", {None}),
}


def _run_app(spark, monkeypatch, args: list[str], out) -> dict[str, tuple[list, list]]:
    """``app.main(args + --out out)``; returns each report's (columns,
    rows as stored), read back with the schema of the frame the sink was
    given, because an empty report stores no file to infer one from."""
    schemas = {}
    write = app.write_report_idempotent

    def recording(df, base_dir, table, batch_id):
        schemas[table] = df.schema
        write(df, base_dir, table, batch_id)

    monkeypatch.setattr(app, "write_report_idempotent", recording)
    app.main([*args, "--out", str(out)])
    monkeypatch.undo()
    return {
        name: (schema.names, spark.read.schema(schema).parquet(str(out / name)).collect())
        for name, schema in schemas.items()
    }


def _batch(spark, monkeypatch, inp, dims_dir, out) -> dict[str, tuple[list, list]]:
    dims = [] if dims_dir is None else ["--dims", str(dims_dir)]
    return _run_app(spark, monkeypatch, [
        "batch", "--input", str(inp), *dims,
        "--app-time", str(FX.APP_TIME), "--deterministic",
    ], out)


@pytest.fixture(scope="module")
def batch_inputs(spark, tmp_path_factory):
    """(input dir, full dims dir, out dir of the full-dims batch, that
    batch's stored reports)."""
    root = tmp_path_factory.mktemp("missing_dims")
    inp = root / "in"
    inp.mkdir()
    (inp / "events.txt").write_text("\n".join(FX.raw_lines() + _USER_LINES), encoding="utf-8")
    dims_dir, out = root / "dims", root / "out"
    _write_dims(spark, dims_dir)
    with pytest.MonkeyPatch.context() as mp:
        full = _batch(spark, mp, inp, dims_dir, out)
    return inp, dims_dir, out, full


@pytest.mark.parametrize("absent", [*app._DIM_FIELDS, None], ids=lambda a: a or "no_dims")
def test_missing_dim_is_an_empty_dim(spark, monkeypatch, tmp_path, batch_inputs, absent):
    """A batch with one dim table absent (or no --dims at all) writes all
    18 reports with the full-dims column order, its documented defaults,
    and no row without a user in the per-user reports."""
    inp, full_dims, _, full = batch_inputs
    dims_dir = None
    if absent is not None:
        dims_dir = tmp_path / "dims"
        shutil.copytree(full_dims, dims_dir, ignore=lambda d, names: [f"{absent}.parquet"])
    got = _batch(spark, monkeypatch, inp, dims_dir, tmp_path / "out")
    assert got.keys() == full.keys() and len(got) == 18
    for name, (columns, _) in got.items():
        assert columns == full[name][0], name
    for name in ("dns_middle_user", "bigdata_dns_flow_top_user"):
        assert full[name][1] and all(r["userName"] is not None for r in got[name][1]), name
    for table, (report, col, allowed) in _DEFAULTS.items():
        if absent in (table, None):
            values = {r[col] for r in got[report][1]}
            assert values <= allowed, (table, values)
            assert {r[col] for r in full[report][1]} - allowed, table
            # with no dims at all the users are absent too, so the
            # per-user reports may be empty
            assert values or not allowed or absent is None, table


def test_daily_without_domain_tags_writes_no_user_tags(spark, monkeypatch, tmp_path, batch_inputs):
    """Untagged domains tag as unknown and all-unknown users are dropped,
    so with no domain_tags table the daily job writes no user tags."""
    _, full_dims, middle, _ = batch_inputs
    no_tags = tmp_path / "dims"
    shutil.copytree(full_dims, no_tags, ignore=lambda d, names: ["domain_tags.parquet"])

    def daily(dims_dir, out):
        args = ["daily", "--input", str(middle), "--dims", str(dims_dir), "--day", "2023-11-14"]
        return _run_app(spark, monkeypatch, args, out)["bigdata_user_tags"][1]

    assert daily(full_dims, tmp_path / "full")
    assert daily(no_tags, tmp_path / "no_tags") == []


def _next_job_id(spark) -> int:
    """The id the next Spark job gets: the delta over a call is the
    number of jobs it ran, including those submitted from pool threads
    (which a job group would miss)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().nextJobId()


def _fixture_events(spark) -> DataFrame:
    return parse_raw_lines(
        spark.createDataFrame([(l,) for l in FX.raw_lines()], "value string")
    )


def test_each_rule_table_collected_once_per_window(spark):
    """One window's plan collects the four range-rule tables in one job,
    however many lookups and reports use them; a second window over the
    same dims runs none. Each table's rows keep its own order and
    columns."""
    dims = FX.build_dims(spark)
    events = _fixture_events(spark)
    jobs = []
    try:
        for _ in range(2):
            start = _next_job_id(spark)
            process_batch(events, dims, FX.APP_TIME, deterministic=True)
            jobs.append(_next_job_id(spark) - start)
    finally:
        spark.catalog.clearCache()
    assert jobs == [1, 0]
    for table in RANGE_TABLES:
        own = [r.asDict() for r in getattr(dims, table).collect()]
        assert own and dims.rows(table) == own, table


def test_window_loads_each_persisted_frame_once(spark):
    """``write_window`` over the fixture window runs at most 45 jobs,
    the same in consecutive windows: each persisted frame loads in one
    job and the range tables are collected in one. A report that read a
    frame still loading would add a load job of its own."""
    events = _fixture_events(spark)

    def noop(name, df, t):
        df.write.format("noop").mode("overwrite").save()

    jobs = []
    for _ in range(2):
        dims = FX.build_dims(spark)  # batch mode loads the dims per window
        start = _next_job_id(spark)
        write_window(events, dims, FX.APP_TIME, noop, deterministic=True)
        jobs.append(_next_job_id(spark) - start)
    assert jobs[0] == jobs[1] <= 45, jobs


def test_report_order_names_only_reports(spark):
    reports = process_batch(
        _fixture_events(spark), FX.build_dims(spark), FX.APP_TIME, deterministic=True
    )
    spark.catalog.clearCache()
    assert REPORT_AFTER.keys() <= reports.keys()
    assert set(REPORT_AFTER.values()) <= reports.keys()
