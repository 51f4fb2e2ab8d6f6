"""Sink/source tests: partitioned events table with Catalyst partition
pruning (S2), report parquet sink (K1 default), middle-data text sink
(K2)."""

from __future__ import annotations

import os
import time

from tests.fixtures_dns import APP_TIME, WINDOW, raw_lines

import pytest
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.io import (
    read_events_window,
    write_events_partitioned,
    write_middle_data,
    write_report,
)
from dnsflow_clickhouse_spark.sources.events import derive_events, parse_raw_lines


def _events(spark):
    lines = spark.createDataFrame([(l,) for l in raw_lines()], "value string")
    return derive_events(parse_raw_lines(lines), deterministic_aip=True)


def test_partitioned_events_roundtrip_and_pruning(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "events_table")
    write_events_partitioned(ev, path)

    win = read_events_window(spark, path, APP_TIME, APP_TIME + WINDOW)
    expected = ev.filter(
        (F.col("ts") >= F.timestamp_seconds(F.lit(APP_TIME)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(APP_TIME + WINDOW)))
    )
    assert win.count() == expected.count() > 0

    # partition pruning must be visible in the physical plan: the scan
    # carries PartitionFilters and the ts bound is pushed to parquet
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "date" in plan.split("PartitionFilters")[1][:200]


def test_window_read_excludes_other_hours(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "events_table")
    write_events_partitioned(ev, path)
    # a window one day later must read zero rows (and zero partitions)
    empty = read_events_window(
        spark, path, APP_TIME + 86400, APP_TIME + 86400 + WINDOW
    )
    assert empty.count() == 0


def test_report_sink_appends(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "v")
    write_report(df, str(tmp_path), "dns_flow_qps")
    write_report(df, str(tmp_path), "dns_flow_qps")
    back = spark.read.parquet(str(tmp_path / "dns_flow_qps"))
    assert back.count() == 10


def test_middle_data_sink_sep_and_files(spark, tmp_path):
    df = spark.createDataFrame(
        [("alice", "www.baidu.com", 3), ("bob", "www.qq.com", 5)],
        "userName string, domain string, cnt long",
    )
    out = tmp_path / "middle"
    write_middle_data(df, str(out), partitions=2)
    files = [p for p in out.iterdir() if p.name.startswith("part-")]
    assert 1 <= len(files) <= 2
    body = "".join(p.read_text() for p in files)
    assert "\x01" in body and "alice" in body


def test_read_event_files_multi_path_union(spark, tmp_path):
    """S1: a list of text files scans as one frame (UNION ALL of file
    scans — the reference's comma-joined textFile paths)."""
    from dnsflow_clickhouse_spark.sources.events import read_event_files

    lines = raw_lines(corrupt=False)
    p1, p2 = tmp_path / "000010.txt", tmp_path / "000020.txt"
    p1.write_text("\n".join(lines[:50]), encoding="utf-8")
    p2.write_text("\n".join(lines[50:100]), encoding="utf-8")
    df = read_event_files(spark, [str(p1), str(p2)])
    assert df.count() == 100
    parsed = parse_raw_lines(df)
    assert parsed.count() == 100


def test_bucketed_join_plans_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join with zero Exchange —
    the co-location contract bucketing exists for."""
    from dnsflow_clickhouse_spark.io import write_bucketed_table

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed_table(a, "t_bucket_a", ["k"], buckets=4)
    write_bucketed_table(b, "t_bucket_b", ["k"], buckets=4)
    try:
        ta, tb = spark.table("t_bucket_a"), spark.table("t_bucket_b")
        with_hint = ta.hint("merge").join(tb, "k")  # force SMJ over broadcast
        plan = with_hint._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert with_hint.count() == 1000
        # and a bucket-key aggregation needs no shuffle either
        agg_plan = (
            ta.groupBy("k").agg(F.sum("va"))._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_idempotent_batch_sink_replaces_on_retry(spark, tmp_path):
    from dnsflow_clickhouse_spark.io import write_report_idempotent

    base = str(tmp_path / "reports")
    b0 = spark.createDataFrame([(1, "a")], "k int, v string")
    b1 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    write_report_idempotent(b0, base, "t", batch_id=0)
    write_report_idempotent(b1, base, "t", batch_id=1)
    # retry of batch 1 (same id, same or corrected data) must REPLACE it
    write_report_idempotent(b1, base, "t", batch_id=1)
    got = sorted(
        (r.batch_id, r.k, r.v)
        for r in spark.read.parquet(base + "/t").collect()
    )
    assert got == [(0, 1, "a"), (1, 2, "b"), (1, 3, "c")]


def test_merge_upsert_keeps_latest_version(spark):
    from dnsflow_clickhouse_spark.io import merge_upsert

    cur = spark.createDataFrame(
        [(1, 10, "old"), (2, 10, "keep")], "k int, ver int, v string"
    )
    upd = spark.createDataFrame(
        [(1, 20, "new"), (3, 5, "ins"), (2, 10, "dup-same-ver")],
        "k int, ver int, v string",
    )
    got = {r.k: (r.ver, r.v) for r in merge_upsert(cur, upd, ["k"], "ver").collect()}
    # higher version wins; equal version -> update side wins; inserts land
    assert got == {1: (20, "new"), 2: (10, "dup-same-ver"), 3: (5, "ins")}


def test_file_format_roundtrips_and_corrupt_policy(spark, tmp_path):
    from dnsflow_clickhouse_spark.sources import files as FF

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c,x", 3.5)],
        "id long, name string, v double",
    )
    want = sorted(map(tuple, src.collect()))
    ddl = "id long, name string, v double"

    p = str(tmp_path / "t_csv")
    FF.write_csv(src, p)
    got = FF.read_csv(spark, p, ddl)
    assert sorted(map(tuple, got.collect())) == want  # quoting survives ','

    p = str(tmp_path / "t_json")
    FF.write_jsonl(src, p)
    assert sorted(map(tuple, FF.read_jsonl(spark, p, ddl).collect())) == want

    p = str(tmp_path / "t_orc")
    FF.write_orc(src, p)
    assert sorted(map(tuple, FF.read_orc(spark, p, ddl).collect())) == want

    # corrupt JSON lines drop silently instead of poisoning the read
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.json").write_text(
        '{"id": 1, "name": "ok", "v": 1.0}\nnot json at all\n', encoding="utf-8"
    )
    got = FF.read_jsonl(spark, str(bad), ddl).collect()
    assert [tuple(r) for r in got] == [(1, "ok", 1.0)]


def test_manifest_file_skipping(spark, tmp_path):
    """Zone-map skipping: a range predicate on a non-partition column
    opens only the files whose footer stats intersect it — same rows,
    fewer files."""
    from dnsflow_clickhouse_spark.sources.skipping import (
        build_manifest,
        read_with_skipping,
    )

    path = str(tmp_path / "zoned")
    # 4 files with disjoint user_id ranges (repartitionByRange + sort
    # gives each output file a tight min/max — the layout this is for)
    df = spark.range(0, 4000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    (
        df.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(path)
    )
    m = build_manifest(spark, path, ["user_id"])
    assert m.count() == 4

    got = read_with_skipping(spark, path, {"user_id": (1000, 1500)})
    n_files = len(got.inputFiles())
    assert n_files < 4, "no files were skipped"
    exact = got.filter(F.col("user_id").between(1000, 1500))
    assert exact.count() == 501  # identical semantics after the row filter

    # out-of-range predicate: empty result, schema preserved
    none = read_with_skipping(spark, path, {"user_id": (10**9, 2 * 10**9)})
    assert none.count() == 0 and set(none.columns) == {"user_id", "v"}


def test_skipping_keeps_files_unknown_to_manifest(spark, tmp_path):
    """A file written AFTER the manifest build (or one with no usable
    stats for the requested column) has no manifest row — skipping must
    keep it, never silently drop its rows."""
    from dnsflow_clickhouse_spark.sources.skipping import (
        build_manifest,
        read_with_skipping,
    )

    path = str(tmp_path / "zoned")
    df = spark.range(0, 2000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    (
        df.repartitionByRange(2, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(path)
    )
    build_manifest(spark, path, ["user_id"])

    # late-arriving file, in-predicate rows, absent from the manifest
    late = spark.range(1200, 1300).select(
        F.col("id").alias("user_id"), F.lit(7).alias("v")
    )
    late.coalesce(1).write.mode("append").parquet(path)

    got = read_with_skipping(spark, path, {"user_id": (1200, 1299)})
    n = got.filter(F.col("user_id").between(1200, 1299)).count()
    assert n == 200, "late-arriving file was silently skipped"


def test_observed_write_measures_written_rows(spark, tmp_path):
    from dnsflow_clickhouse_spark.io import observed_write

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k int, v string"
    ).filter(F.col("k") > 1)
    path = str(tmp_path / "obs")
    got = observed_write(
        df,
        {
            "rows": F.count(F.lit(1)),
            "null_v": F.sum(F.col("v").isNull().cast("long")),
        },
        lambda d: d.write.parquet(path),
    )
    # metrics reflect the post-filter rows the sink actually received
    assert got == {"rows": 2, "null_v": 1}
    assert spark.read.parquet(path).count() == 2


def test_load_table_naive_timestamps_read_as_ltz(spark, tmp_path):
    """The driver testdata stores naive (no-timezone) parquet timestamps;
    a vanilla session infers TIMESTAMP_NTZ, which breaks epoch math
    (unix_micros) and range frames. load_table must hand back LTZ under
    either session configuration."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dnsflow_clickhouse_spark.sources.tables import load_table

    d = tmp_path / "events.parquet"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                # naive microsecond timestamp — the regenerated-testdata shape
                "ts": pa.array(
                    [datetime.datetime(2024, 1, 1, 0, 0, i) for i in (1, 2)],
                    pa.timestamp("us"),
                ),
            }
        ),
        str(d / "part-0.parquet"),
    )
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    try:
        for infer_ntz in ("true", "false"):
            spark.conf.set(conf, infer_ntz)
            df = load_table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", infer_ntz
            got = df.select(
                F.unix_micros("ts").alias("us")
            ).orderBy("us").collect()
            # UTC session tz: naive wall clock == epoch wall clock
            assert [r.us for r in got] == [1704067201000000, 1704067202000000]
    finally:
        spark.conf.set(conf, old)


def test_merge_additive_equals_full_recompute(spark):
    """Incremental view maintenance: folding per-day partial aggregates
    into the stored report equals aggregating all raw rows at once."""
    from dnsflow_clickhouse_spark.io import merge_additive

    raw = spark.createDataFrame(
        [(d, k, v) for d in range(3) for k, v in
         [("a", 10 + d), ("a", 1), ("b", 5 * d)]],
        "day int, k string, v int",
    )

    def partial(df):
        return df.groupBy("k").agg(
            F.sum("v").alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.max("v").alias("vmax"),
        )

    state = partial(raw.filter(F.col("day") == 0))
    for d in (1, 2):
        state = merge_additive(
            state,
            partial(raw.filter(F.col("day") == d)),
            keys=["k"],
            sum_cols=["total", "n"],
            max_cols=["vmax"],
        )
    whole = partial(raw)
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_merge_additive_histogram_state_gives_exact_merged_percentiles(spark):
    """Quantile state is mergeable too: per-slice (key, value) histograms
    fold with merge_additive, and exact percentiles derived from the
    folded histogram equal a full recompute — the incremental form of
    the catalog's histogram-based percentile query."""
    from dnsflow_clickhouse_spark.io import merge_additive

    raw = spark.createDataFrame(
        [(d, "k", (d * 31 + i * 7) % 100) for d in range(3) for i in range(200)],
        "day int, k string, v int",
    )

    def hist(df):
        return df.groupBy("k", "v").agg(F.count(F.lit(1)).alias("cnt"))

    state = hist(raw.filter(F.col("day") == 0))
    for d in (1, 2):
        state = merge_additive(
            state, hist(raw.filter(F.col("day") == d)),
            keys=["k", "v"], sum_cols=["cnt"],
        )

    def p50_from_hist(h):
        from pyspark.sql import Window

        w_cum = (
            Window.partitionBy("k").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("k")
        c = h.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
            "n", F.sum("cnt").over(w_all)
        )
        target = F.ceil(F.lit(0.5) * F.col("n")).cast("long")
        return c.groupBy("k").agg(
            F.min(F.when(F.col("cum") >= target, F.col("v"))).alias("p50")
        )

    merged = p50_from_hist(state).collect()
    whole = p50_from_hist(hist(raw)).collect()
    assert sorted(merged) == sorted(whole)


def test_sharded_export_validates_and_catches_loss(spark, tmp_path):
    import shutil
    from pathlib import Path

    from dnsflow_clickhouse_spark.io import (
        validate_sharded_export,
        write_sharded_export,
    )

    out = str(tmp_path / "export")
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("payload")
    )
    manifest = write_sharded_export(df, "doc_id", out, n_shards=8)
    assert manifest.count() == 8
    assert manifest.agg(F.sum("n_rows")).collect()[0][0] == 500
    # re-export is byte-identical membership: manifests agree
    again = write_sharded_export(df, "doc_id", str(tmp_path / "e2"), n_shards=8)
    assert sorted(map(tuple, manifest.collect())) == sorted(map(tuple, again.collect()))
    # intact export validates clean
    assert validate_sharded_export(spark, out, "doc_id").count() == 0
    # drop one shard directory -> exactly that shard is flagged
    victim = next(Path(out, "data").glob("__shard=3*"))
    shutil.rmtree(victim)
    bad = validate_sharded_export(spark, out, "doc_id").collect()
    assert len(bad) == 1 and bad[0].shard == 3 and bad[0].actual_rows is None


def test_write_reports_concurrent_matches_sequential(spark, tmp_path):
    from dnsflow_clickhouse_spark.io import (
        write_report_idempotent,
        write_reports_concurrent,
    )

    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).persist()
    reports = {
        f"rep_{i}": base.groupBy("k").agg(F.sum(F.col("id") + i).alias("s"))
        for i in range(6)
    }
    seq_dir, con_dir = str(tmp_path / "seq"), str(tmp_path / "con")
    for name, df in reports.items():
        write_report_idempotent(df, seq_dir, name, batch_id=1)
    done = write_reports_concurrent(
        reports,
        lambda name, df: write_report_idempotent(df, con_dir, name, batch_id=1),
        max_threads=4,
    )
    assert sorted(done) == sorted(reports)
    for name in reports:
        import os

        a = sorted(
            map(tuple, spark.read.parquet(os.path.join(seq_dir, name)).drop("batch_id").collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(os.path.join(con_dir, name)).drop("batch_id").collect())
        )
        assert a == b, name
    base.unpersist()


def test_write_reports_concurrent_preserves_prior_batches(spark, tmp_path):
    """Regression (r7 ADVICE, high): the idempotent sink used to toggle
    the SESSION conf partitionOverwriteMode around each write; under the
    concurrent fan-out one thread's finally-restore to 'static' could
    land inside another thread's write, turning it into a static
    overwrite that deletes every other batch's partitions. The sink now
    sets the mode as a per-writer option, so a concurrent batch-2
    fan-out over tables that already hold batch-1 data must leave every
    batch-1 partition intact."""
    from dnsflow_clickhouse_spark.io import (
        write_report_idempotent,
        write_reports_concurrent,
    )

    base = str(tmp_path / "reports")
    names = [f"rep_{i}" for i in range(6)]
    b1 = {n: spark.range(0, 50).withColumn("v", F.lit(n)) for n in names}
    for n, df in b1.items():
        write_report_idempotent(df, base, n, batch_id=1)
    b2 = {n: spark.range(100, 130).withColumn("v", F.lit(n)) for n in names}
    write_reports_concurrent(
        b2,
        lambda name, df: write_report_idempotent(df, base, name, batch_id=2),
        max_threads=6,
    )
    for n in names:
        got = spark.read.parquet(os.path.join(base, n))
        per_batch = {
            r.batch_id: r.cnt
            for r in got.groupBy("batch_id").agg(F.count("*").alias("cnt")).collect()
        }
        assert per_batch == {1: 50, 2: 30}, (n, per_batch)


def test_write_reports_concurrent_collects_all_errors(spark, tmp_path):
    from dnsflow_clickhouse_spark.io import write_reports_concurrent

    reports = {"ok": spark.range(3), "boom": spark.range(3)}

    def write_one(name, df):
        if name == "boom":
            raise ValueError("sink exploded")
        df.write.format("noop").mode("overwrite").save()

    with pytest.raises(RuntimeError, match="boom"):
        write_reports_concurrent(reports, write_one, max_threads=2)


def _timed_writer(fail: str | None = None, meet: set[str] = frozenset()):
    """A fake ``write_one`` (no Spark) that records each write's
    (start, end) clock. The writes named in ``meet`` wait for each other
    at a barrier, which only passes if they run at the same time."""
    import threading

    spans: dict[str, tuple[float, float]] = {}
    barrier = threading.Barrier(len(meet) or 1, timeout=10)

    def write_one(name, _df):
        start = time.monotonic()
        try:
            if name in meet:
                barrier.wait()
            time.sleep(0.05)
            if name == fail:
                raise ValueError(f"{name} failed")
        finally:
            spans[name] = (start, time.monotonic())

    return write_one, spans


def test_write_reports_concurrent_orders_followers_after_their_first():
    from dnsflow_clickhouse_spark.io import write_reports_concurrent

    reports = dict.fromkeys(["a", "b", "a1", "a2", "a11", "c"])
    after = {"a1": "a", "a2": "a", "a11": "a1", "c": "missing"}
    write_one, spans = _timed_writer(meet={"a", "b", "c"})
    done = write_reports_concurrent(reports, write_one, max_threads=4, after=after)
    assert sorted(done) == sorted(reports)
    # a follower starts only once its first has ended
    for name, first in (("a1", "a"), ("a2", "a"), ("a11", "a1")):
        assert spans[name][0] >= spans[first][1], name
    # the roots (and "c", whose first is not a report) ran side by side:
    # each started before the others ended
    assert max(spans[n][0] for n in "abc") < min(spans[n][1] for n in "abc")


def test_write_reports_concurrent_runs_followers_of_a_failed_write():
    from dnsflow_clickhouse_spark.io import write_reports_concurrent

    reports = dict.fromkeys(["root", "x", "y"])
    write_one, spans = _timed_writer(fail="root")
    with pytest.raises(RuntimeError, match="1 report write.*root") as err:
        write_reports_concurrent(reports, write_one, after={"x": "root", "y": "x"})
    assert isinstance(err.value.__cause__, ValueError)
    assert spans.keys() == {"root", "x", "y"}
    assert spans["x"][0] >= spans["root"][1] and spans["y"][0] >= spans["x"][1]


def test_write_reports_concurrent_rejects_a_cyclic_order():
    from dnsflow_clickhouse_spark.io import write_reports_concurrent

    write_one, spans = _timed_writer()
    with pytest.raises(ValueError, match="cycle"):
        write_reports_concurrent(
            dict.fromkeys("abc"), write_one, after={"a": "b", "b": "a"}
        )
    assert spans == {}


def test_distributed_manifest_build_matches_driver_build(spark, tmp_path):
    """build_manifest(distributed=True) fans footer reads out as
    executor-side mapInPandas (the 100 TB build shape — a driver loop
    is latency-bound at ~100k files); both paths share _footer_stats
    and must write byte-identical manifest rows, and skipping must
    behave the same on either manifest."""
    from dnsflow_clickhouse_spark.sources.skipping import (
        build_manifest,
        read_with_skipping,
    )

    path = str(tmp_path / "zoned")
    df = spark.range(0, 4000).select(
        F.col("id").alias("user_id"), (F.col("id") % 97).alias("v")
    )
    (
        df.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(path)
    )
    drv = sorted(map(tuple, build_manifest(spark, path, ["user_id"]).collect()))
    dist = sorted(
        map(tuple, build_manifest(spark, path, ["user_id"], distributed=True).collect())
    )
    assert drv == dist and len(dist) == 4
    got = read_with_skipping(spark, path, {"user_id": (1000, 1500)})
    assert len(got.inputFiles()) < 4
    assert got.filter(F.col("user_id").between(1000, 1500)).count() == 501
