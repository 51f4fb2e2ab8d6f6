"""Streaming §2.10 coverage: file-source Structured Stream with
foreachBatch must produce the same reports as the plain batch path, and
the backfill loop must replay windows. (The reference achieves streaming
with a DStream clock hack — DnsRptCH.scala:1213-1219; behavior parity,
not mechanism parity, is the contract.)"""

from __future__ import annotations

import time
from pathlib import Path

from tests.fixtures_dns import APP_TIME, WINDOW, build_dims, raw_lines

from dnsflow_clickhouse_spark.sources.events import parse_raw_lines
from dnsflow_clickhouse_spark.streaming.pipeline import (
    process_batch,
    run_backfill,
    start_stream,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_matches_batch(spark, tmp_path):
    dims = build_dims(spark)
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "chunk-000.txt").write_text("\n".join(raw_lines()), encoding="utf-8")

    got: dict[str, list] = {}

    def sink(name, df, t):
        got[name] = _rows(df)
        got.setdefault("__times", []).append(t)

    q = start_stream(
        spark,
        str(inp),
        dims,
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=1,
        deterministic=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert got, "stream produced no reports"
    assert set(got["__times"]) == {APP_TIME}

    lines_df = spark.createDataFrame([(l,) for l in raw_lines()], "value string")
    expected = process_batch(parse_raw_lines(lines_df), dims, APP_TIME, deterministic=True)
    for name in ("dns_flow_qps", "dns_flow_response_code", "dns_flow_trend"):
        assert got[name] == _rows(expected[name]), f"stream != batch for {name}"


def test_stream_late_file_triggers_same_window(spark, tmp_path):
    """A second file with more of the SAME window's data reprocesses that
    window (the reference's fixed late allowance)."""
    dims = build_dims(spark)
    inp = tmp_path / "in"
    inp.mkdir()
    lines = raw_lines(corrupt=False)
    # the APP_TIME+WINDOW edge event closes the window so the handler
    # selects [APP_TIME, APP_TIME+300) as the most recent finished one
    closer = next(l for l in lines if f'"Timestamp": {APP_TIME + WINDOW}' in l)
    (inp / "a.txt").write_text("\n".join(lines[:100] + [closer]), encoding="utf-8")

    calls: list[tuple[int, int]] = []

    def sink(name, df, t):
        if name == "dns_flow_qps":
            calls.append((t, df.count()))

    q = start_stream(
        spark, str(inp), dims, sink,
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_seconds=1,
        deterministic=True,
    )
    try:
        q.processAllAvailable()
        n_first = len(calls)
        (inp / "b.txt").write_text("\n".join(lines[100:200] + [closer]), encoding="utf-8")
        q.processAllAvailable()
    finally:
        q.stop()
    assert n_first >= 1
    assert len(calls) > n_first, "late file did not trigger a new batch"
    assert all(t == APP_TIME for t, _ in calls)


def test_backfill_replays_windows(spark):
    dims = build_dims(spark)
    lines_df = spark.createDataFrame([(l,) for l in raw_lines()], "value string")
    events = parse_raw_lines(lines_df)

    seen: dict[tuple[str, int], int] = {}

    def sink(name, df, t):
        seen[(name, t)] = df.count()

    run_backfill(
        spark, events, dims, APP_TIME, APP_TIME + 2 * WINDOW, sink, deterministic=True
    )
    # window 1 holds the bulk; window 2 sees only the single event pinned
    # at APP_TIME+WINDOW (qps emits the all-clients sentinel + 1 client)
    assert seen[("dns_flow_qps", APP_TIME)] > 2
    assert seen[("dns_flow_qps", APP_TIME + WINDOW)] == 2


def test_windowed_watermark_stream(spark, tmp_path):
    """Native withWatermark + window(): a window finalizes (append-mode
    emit) once the watermark passes its end; records later than the
    allowance are dropped by the engine."""
    import json

    from dnsflow_clickhouse_spark.streaming.pipeline import windowed_qps_stream

    def line(ts, rc=0):
        return json.dumps(
            {
                "Timestamp": ts, "ServerIP": "1.1.1.1", "ClientIP": "10.0.0.1",
                "Domain": "www.baidu.com", "Type": "A", "ResponseCode": rc,
                "QR": True,
                "Answers": [{"Type": "A", "Value": "8.8.8.8"}],
            }
        )

    w0 = APP_TIME  # window [w0, w0+300)
    inp = tmp_path / "win_in"
    inp.mkdir()
    (inp / "f1.txt").write_text(
        "\n".join([line(w0 + 10), line(w0 + 20, rc=3), line(w0 + 30)]),
        encoding="utf-8",
    )
    raw = spark.readStream.format("text").load(str(inp))
    q = (
        windowed_qps_stream(raw, window="5 minutes", watermark="5 minutes")
        .writeStream.format("memory")
        .queryName("win_qps")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing finalized yet: watermark = (w0+30) - 300 < window end
        assert spark.sql("SELECT * FROM win_qps").count() == 0
        # advance event time past w0+300+allowance -> first window closes
        (inp / "f2.txt").write_text(line(w0 + 700), encoding="utf-8")
        q.processAllAvailable()
        rows = {
            int(r.window_start.timestamp()): (r.dnsNum, r.errNum)
            for r in spark.sql("SELECT * FROM win_qps").collect()
        }
        assert rows == {w0: (3, 1)}
        # a record older than the watermark is dropped, not re-emitted
        (inp / "f3.txt").write_text(
            "\n".join([line(w0 + 40), line(w0 + 1300)]), encoding="utf-8"
        )
        q.processAllAvailable()
        rows = {
            int(r.window_start.timestamp()): (r.dnsNum, r.errNum)
            for r in spark.sql("SELECT * FROM win_qps").collect()
        }
        assert rows[w0] == (3, 1), "late record leaked into a closed window"
    finally:
        q.stop()


def test_sessionized_stream_gap_merge_and_finalize(spark, tmp_path):
    """Native session_window: events within the gap merge into one
    session (even arriving across micro-batches), distinct clients keep
    distinct state, and a session emits once the watermark passes its
    close."""
    import json

    from dnsflow_clickhouse_spark.streaming.pipeline import sessionized_stream

    def line(ts, ip):
        return json.dumps(
            {
                "Timestamp": ts, "ServerIP": "1.1.1.1", "ClientIP": ip,
                "Domain": "www.baidu.com", "Type": "A", "ResponseCode": 0,
                "QR": True,
                "Answers": [{"Type": "A", "Value": "8.8.8.8"}],
            }
        )

    t0 = APP_TIME
    inp = tmp_path / "sess_in"
    inp.mkdir()
    # client A: two events 60s apart (one session, gap=120s);
    # client B: one event
    (inp / "f1.txt").write_text(
        "\n".join([line(t0, "10.0.0.1"), line(t0 + 60, "10.0.0.1"),
                   line(t0 + 30, "10.0.0.2")]),
        encoding="utf-8",
    )
    q = (
        sessionized_stream(spark.readStream.format("text").load(str(inp)),
                           gap="2 minutes", watermark="1 minutes")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess").count() == 0  # all still open
        # a second batch extends A's session within the gap, then a far-
        # future event advances the watermark past every session's close
        (inp / "f2.txt").write_text(line(t0 + 150, "10.0.0.1"), encoding="utf-8")
        q.processAllAvailable()
        (inp / "f3.txt").write_text(line(t0 + 10000, "10.0.0.9"), encoding="utf-8")
        q.processAllAvailable()
        got = {
            (r.client_ip, int(r.session_start.timestamp()),
             int(r.session_end.timestamp()), r.n_events)
            for r in spark.sql("SELECT * FROM sess").collect()
        }
        assert got == {
            ("10.0.0.1", t0, t0 + 150 + 120, 3),   # merged across batches
            ("10.0.0.2", t0 + 30, t0 + 30 + 120, 1),
        }
    finally:
        q.stop()


def test_attribution_stream_stream_join(spark, tmp_path):
    """Stream-stream interval join: an error matches the same client's
    requests within the lookback window — across micro-batches — and
    never another client's."""
    import json

    from dnsflow_clickhouse_spark.streaming.pipeline import attribution_stream

    def line(ts, ip, domain, rc=0):
        return json.dumps(
            {
                "Timestamp": ts, "ServerIP": "1.1.1.1", "ClientIP": ip,
                "Domain": domain, "Type": "A", "ResponseCode": rc,
                "QR": True,
                "Answers": [{"Type": "A", "Value": "8.8.8.8"}],
            }
        )

    t0 = APP_TIME
    inp = tmp_path / "attr_in"
    inp.mkdir()
    # batch 1: client A requests d1; client B requests d9 (noise)
    (inp / "f1.txt").write_text(
        "\n".join([line(t0, "10.0.0.1", "d1.com"),
                   line(t0 + 30, "10.0.0.2", "d9.com")]),
        encoding="utf-8",
    )
    q = (
        attribution_stream(
            spark.readStream.format("text").load(str(inp)),
            attribution_window="10 minutes",
        )
        .writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: client A errors on d2 120s later -> joins its own d1
        # request AND the error row itself (errors are requests too);
        # client B's request is out of reach
        (inp / "f2.txt").write_text(
            line(t0 + 120, "10.0.0.1", "d2.com", rc=3), encoding="utf-8"
        )
        q.processAllAvailable()
        got = {
            (r.e_client, r.e_domain, r.r_domain)
            for r in spark.sql("SELECT * FROM attr").collect()
        }
        assert got == {
            ("10.0.0.1", "d2.com", "d1.com"),
            ("10.0.0.1", "d2.com", "d2.com"),
        }
        # a request far outside the window never matches
        (inp / "f3.txt").write_text(
            line(t0 + 5000, "10.0.0.1", "d3.com", rc=2), encoding="utf-8"
        )
        q.processAllAvailable()
        got3 = {
            (r.e_domain, r.r_domain)
            for r in spark.sql("SELECT * FROM attr").collect()
            if r.e_domain == "d3.com"
        }
        assert got3 == {("d3.com", "d3.com")}  # only itself, d1/d2 aged out
    finally:
        q.stop()


def test_app_cli_batch_mode(spark, tmp_path):
    """The job entry point runs a full batch end-to-end: JSON-line files
    + parquet dims dir -> report tables through the retry-safe sink."""
    from dnsflow_clickhouse_spark import app

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "events.txt").write_text("\n".join(raw_lines()), encoding="utf-8")

    dims = build_dims(spark)
    dims_dir = tmp_path / "dims"
    dims_dir.mkdir()
    for f in app._DIM_FIELDS:
        df = getattr(dims, f)
        if df is not None:
            df.write.parquet(str(dims_dir / f"{f}.parquet"))

    out = tmp_path / "reports"
    app.main([
        "batch", "--input", str(inp), "--dims", str(dims_dir),
        "--out", str(out), "--app-time", str(APP_TIME), "--deterministic",
    ])
    qps = spark.read.parquet(str(out / "dns_flow_qps"))
    assert qps.count() > 0
    assert set(qps.columns) >= {"batch_id"}
    # re-running the same batch must not duplicate (idempotent sink)
    n = qps.count()
    app.main([
        "batch", "--input", str(inp), "--dims", str(dims_dir),
        "--out", str(out), "--app-time", str(APP_TIME), "--deterministic",
    ])
    assert spark.read.parquet(str(out / "dns_flow_qps")).count() == n
    # daily mode (§3.3 UserRpt): rolls the day's middle data into the
    # three daily user reports
    app.main([
        "daily", "--input", str(out), "--dims", str(dims_dir),
        "--out", str(out), "--day", "2024-01-01",
    ])
    top10 = spark.read.parquet(str(out / "bigdata_user_domain_top10"))
    assert top10.count() > 0 and "topDomains" in top10.columns


def test_stream_folds_hll_sketch_state_across_microbatches(spark, tmp_path):
    """End-to-end streaming distinct-count sketch: a file stream's
    micro-batches each build HLL registers that foreachBatch folds into
    a parquet state table; the final estimate equals the one-shot batch
    estimate over the union of all inputs."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    inp = tmp_path / "sketch_in"
    inp.mkdir()
    state_dir = str(tmp_path / "sketch_state")

    def handle(batch_df, batch_id):
        regs = hll_registers(
            batch_df.select(
                F.split("value", ",")[0].alias("grp"),
                F.split("value", ",")[1].alias("item"),
            ),
            ["grp"],
            "item",
        )
        try:
            state = spark.read.parquet(state_dir)
        except Exception:
            state = None
        merged = (
            regs if state is None else hll_merge(state.unionByName(regs), ["grp"])
        )
        # overwrite-on-read state table: <= 64 rows per key forever
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            state_dir
        )

    (inp / "b1.txt").write_text(
        "\n".join(f"g{i % 2},item-{i}" for i in range(0, 400)), encoding="utf-8"
    )
    raw = spark.readStream.format("text").load(str(inp))
    q = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "sketch_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch: half overlap, half new items
        (inp / "b2.txt").write_text(
            "\n".join(f"g{i % 2},item-{i}" for i in range(200, 600)),
            encoding="utf-8",
        )
        q.processAllAvailable()
    finally:
        q.stop()

    folded = {
        r.grp: r.est_distinct
        for r in hll_estimate(spark.read.parquet(state_dir), ["grp"]).collect()
    }
    whole_rows = [(f"g{i % 2}", f"item-{i}") for i in range(0, 600)]
    whole_df = spark.createDataFrame(whole_rows, "grp string, item string")
    whole = {
        r.grp: r.est_distinct
        for r in hll_estimate(
            hll_registers(whole_df, ["grp"], "item"), ["grp"]
        ).collect()
    }
    assert folded == whole and set(folded) == {"g0", "g1"}


def test_stream_folds_quantile_sketch_state_across_microbatches(spark, tmp_path):
    """End-to-end streaming quantile state: each micro-batch builds
    HDR-histogram buckets that foreachBatch folds into a parquet state
    table; quantiles answered from the folded state equal the one-shot
    batch answer over the union of all inputs."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.operators.sketches import (
        qh_merge,
        qh_quantiles,
        qh_sketch,
    )

    inp = tmp_path / "qh_in"
    inp.mkdir()
    state_dir = str(tmp_path / "qh_state")

    def handle(batch_df, batch_id):
        st = qh_sketch(
            batch_df.select(
                F.split("value", ",")[0].alias("grp"),
                F.split("value", ",")[1].cast("long").alias("v"),
            ),
            ["grp"],
            "v",
        )
        try:
            prev = spark.read.parquet(state_dir)
        except Exception:
            prev = None
        merged = st if prev is None else qh_merge(prev.unionByName(st), ["grp"])
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            state_dir
        )

    (inp / "b1.txt").write_text(
        "\n".join(f"g{i % 2},{i}" for i in range(1, 500)), encoding="utf-8"
    )
    raw = spark.readStream.format("text").load(str(inp))
    q = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "qh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (inp / "b2.txt").write_text(
            "\n".join(f"g{i % 2},{i}" for i in range(500, 1001)),
            encoding="utf-8",
        )
        q.processAllAvailable()
    finally:
        q.stop()

    qs = [500_000, 990_000]
    folded = sorted(
        map(
            tuple,
            qh_quantiles(spark.read.parquet(state_dir), ["grp"], qs).collect(),
        )
    )
    whole_df = spark.createDataFrame(
        [(f"g{i % 2}", i) for i in range(1, 1001)], "grp string, v long"
    )
    whole = sorted(
        map(tuple, qh_quantiles(qh_sketch(whole_df, ["grp"], "v"), ["grp"], qs).collect())
    )
    assert folded == whole


def test_streaming_psi_fold_matches_batch(spark):
    """Fold two micro-batches of histogram cells, score against a fixed
    reference: the result must equal psi_report over the equivalent
    one-shot frame (batch ≡ streaming parity, the repo's §2.10 rule)."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.io import merge_additive
    from dnsflow_clickhouse_spark.operators.evaluation import psi_report
    from dnsflow_clickhouse_spark.streaming.pipeline import streaming_psi

    def cells(rows):
        return spark.createDataFrame(rows, "g string, b long, cnt long")

    ref = cells([("x", 0, 8), ("x", 1, 2), ("y", 0, 5)])
    b1 = cells([("x", 0, 1), ("x", 1, 3)])
    b2 = cells([("x", 1, 4), ("y", 1, 6)])
    state = merge_additive(b1, b2, ["g", "b"], ["cnt"])
    got = {
        r.g: r for r in streaming_psi(state, ref, "g", 2).collect()
    }

    # equivalent one-shot frame: ref rows flagged cur=0, stream rows cur=1
    rows = []
    for g, b, c in [("x", 0, 8), ("x", 1, 2), ("y", 0, 5)]:
        rows += [(g, b, 0)] * c
    for g, b, c in [("x", 0, 1), ("x", 1, 7), ("y", 1, 6)]:
        rows += [(g, b, 1)] * c
    df = spark.createDataFrame(rows, "g string, b long, cur int")
    want = {
        r.g: r
        for r in psi_report(
            df, "g", F.col("cur") == 1, F.col("b"), 2
        ).collect()
    }
    assert set(got) == set(want) == {"x", "y"}
    for g in ("x", "y"):
        assert got[g].psi_pico == want[g].psi_pico
        assert (got[g].n_ref, got[g].n_cur) == (want[g].n_ref, want[g].n_cur)
    # y's current slice abandoned bucket 0 entirely -> strong drift
    assert got["y"].psi_bits > 1


def test_streaming_anomaly_matches_batch(spark):
    """Fold the same epochs through 3 micro-batches: the streaming
    anomaly report must equal the batch query's, row for row."""
    from dnsflow_clickhouse_spark.queries.catalog_dns5 import (
        anomalies_from_epochs,
        bucket_hour_counts,
    )
    from dnsflow_clickhouse_spark.io import merge_additive
    from dnsflow_clickhouse_spark.operators.reports import seasonal_hour_anomalies
    from pyspark.sql import functions as F

    rows = []
    for day in range(10):
        n = 22 if day == 9 else 10
        rows += [(day * 86400 + 5 * 3600 + i,) for i in range(n)]
    ev = spark.createDataFrame(rows, "ep long")
    batch = anomalies_from_epochs(ev).collect()

    state = None
    for k in range(3):  # deterministic 3-way split, batches overlap days
        part = ev.filter(F.col("ep") % 3 == k)
        counts = bucket_hour_counts(part)
        state = (
            counts
            if state is None
            else merge_additive(state, counts, ["day", "hod"], ["cnt"])
        )
    stream = seasonal_hour_anomalies(state).collect()
    assert stream == batch
    assert len(batch) == 1 and batch[0]["cnt"] == 22


def _seasonal_oracle(counts: dict[tuple[int, int], int]) -> list[tuple]:
    """``seasonal_hour_anomalies`` in plain Python: each (day, hod)
    bucket against the sum of the same hour's prior days, kept with at
    least 7 of them and an integer deviation of at least 500000 ppm."""
    out = []
    for (day, hod), cnt in sorted(counts.items()):
        prior = [c for (d, h), c in counts.items() if h == hod and d < day]
        n, s = len(prior), sum(prior)
        if n >= 7:
            dev = abs(cnt * n - s) * 1_000_000 // s
            if dev >= 500_000:
                out.append((day, hod, cnt, n, s, dev))
    return out


def test_seasonal_hour_anomalies_injected_spikes(spark):
    """Spikes injected at known hours of day 7, each bucket's same-hour
    baseline flat before it: a rise and a drop are kept, a deviation of
    exactly 50 % is kept and one just under is dropped, and a spike with
    6 prior days is dropped where the same hour's next spike, with 7, is
    kept. Checked against an inline oracle of the integer arithmetic."""
    from dnsflow_clickhouse_spark.operators.reports import seasonal_hour_anomalies

    base = {3: 100, 4: 100, 5: 100, 6: 1_000_000, 7: 100}
    counts = {(d, h): c for h, c in base.items() for d in range(9)}
    del counts[(0, 7)]  # hod 7 starts a day late: day 7 has 6 prior days
    counts.update({
        (7, 3): 300,  # rise: +200 %
        (7, 4): 10,  # drop: -90 %
        (7, 5): 150,  # exactly +50 %
        (7, 6): 1_499_999,  # 499999 ppm: just under 50 %
        (7, 7): 1_000,  # 6 prior days: too little history
        (8, 7): 1_000,  # 7 prior days (day 7's spike among them)
    })
    df = spark.createDataFrame(
        [(d, h, c) for (d, h), c in counts.items()], "day int, hod int, cnt long"
    )
    got = [tuple(r) for r in seasonal_hour_anomalies(df).collect()]
    assert got == _seasonal_oracle(counts)
    dev = {(r[0], r[1]): r[5] for r in got}
    assert dev == {(7, 3): 2_000_000, (7, 4): 900_000, (7, 5): 500_000, (8, 7): 3_375_000}


def test_streaming_cusum_matches_batch(spark):
    """The CUSUM fold (additive (series, hour_ep) counts) rescored by
    the shared detector equals the one-shot batch result on the same
    events — including a late hour arriving in a later micro-batch,
    which re-enters the prefix at its event-time position."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.io import merge_additive
    from dnsflow_clickhouse_spark.operators.profiling import (
        cusum_changepoints,
        cusum_over_mean,
    )

    # one series, 12 hours, a sustained burst in hours 8-11; h_mult=2
    # so the short test series can actually trip the alarm
    xs = [3, 3, 3, 3, 3, 3, 3, 3, 20, 20, 20, 20]
    rows = [("a", h * 3600, x) for h, x in enumerate(xs)]
    counts = spark.createDataFrame(rows, "series string, hour_ep long, cnt long")
    means = counts.groupBy("series").agg(
        F.expr("CAST(sum(cnt) AS DECIMAL(38,0)) * 1000000 div count(*)")
        .cast("long")
        .alias("mean_micro")
    )
    batch = (
        cusum_changepoints(
            counts.join(F.broadcast(means), "series"),
            "series",
            "hour_ep",
            F.col("cnt"),
            F.expr("mean_micro * 3 div 2"),
            F.expr("mean_micro * 2"),
        )
        .orderBy("series", "hour_ep")
        .collect()
    )

    # 3 micro-batches: hour 9 (index 9) arrives LATE in the last batch,
    # split as partial counts (5 in batch 2, 4 in batch 3) to exercise
    # the additive fold
    b1 = [("a", h * 3600, xs[h]) for h in range(0, 6)]
    b2 = [("a", h * 3600, xs[h]) for h in (6, 7, 8, 10)] + [("a", 9 * 3600, 12)]
    b3 = [("a", 11 * 3600, xs[11]), ("a", 9 * 3600, 8)]
    state = None
    for b in (b1, b2, b3):
        part = spark.createDataFrame(b, "series string, hour_ep long, cnt long")
        state = (
            part
            if state is None
            else merge_additive(state, part, ["series", "hour_ep"], ["cnt"])
        )
    stream = (
        cusum_over_mean(state, "series", "hour_ep", 3, 2, 2)
        .orderBy("series", "hour_ep")
        .collect()
    )
    assert stream == batch
    assert any(r.alarm == 1 for r in batch)  # the burst is detected


def test_stream_restart_from_checkpoint_no_redelivery(spark, tmp_path):
    """Restart-safety the reference never had (SURVEY §3.2: its DStream
    clock hack restarts from scratch): stop the stream, add new input,
    restart with the SAME checkpoint dir — the already-processed file
    must NOT be re-delivered to the sink, and the new file must be.
    foreachBatch + file-source checkpointing is the mechanism; this
    pins it end to end."""
    dims = build_dims(spark)
    inp = tmp_path / "in"
    inp.mkdir()
    lines = raw_lines(corrupt=False)
    closer = next(
        l for l in lines if f'"Timestamp": {APP_TIME + WINDOW}' in l
    )
    (inp / "a.txt").write_text(
        "\n".join(lines[:100] + [closer]), encoding="utf-8"
    )

    deliveries: list[tuple[str, int]] = []

    def sink(name, df, t):
        if name == "dns_flow_qps":
            deliveries.append(("batch", df.count()))

    ckpt = str(tmp_path / "ckpt")
    q = start_stream(
        spark, str(inp), dims, sink, checkpoint_dir=ckpt,
        trigger_seconds=1, deterministic=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_before = len(deliveries)
    assert n_before >= 1

    # restart with the same checkpoint and no new data: nothing fires
    q2 = start_stream(
        spark, str(inp), dims, sink, checkpoint_dir=ckpt,
        trigger_seconds=1, deterministic=True,
    )
    try:
        q2.processAllAvailable()
        assert len(deliveries) == n_before, "restart re-delivered old data"
        # now new data arrives: exactly the new file triggers
        (inp / "b.txt").write_text(
            "\n".join(lines[100:200] + [closer]), encoding="utf-8"
        )
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(deliveries) > n_before, "new file after restart not processed"


def test_streaming_ewma_fold_matches_batch(spark):
    """Fold three micro-batches of bucket counts, score the state: the
    result must equal ewma_smooth over the equivalent one-shot events
    frame (batch ≡ streaming parity, the repo's §2.10 rule — the EWMA
    contribution expansion is linear in additive counts)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.io import merge_additive
    from dnsflow_clickhouse_spark.operators.profiling import (
        ewma_from_counts,
        ewma_smooth,
    )

    events = (
        [("x", datetime(2024, 1, 1, 0, 5))] * 3
        + [("x", datetime(2024, 1, 1, 1, 5))] * 2
        + [("x", datetime(2024, 1, 1, 3, 5))]
        + [("y", datetime(2024, 1, 1, 0, 30))] * 4
    )
    df = spark.createDataFrame(events, "k string, ts timestamp")

    def batch_counts(rows):
        b = spark.createDataFrame(rows, "k string, ts timestamp")
        return (
            b.select("k", (F.unix_timestamp("ts") / 3600).cast("long").alias("b"))
            .groupBy("k", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # the same events split across three micro-batches (one bucket
    # split ACROSS batches to exercise the additive fold)
    state = batch_counts(events[:2])
    for rows in (events[2:6], events[6:]):
        state = merge_additive(state, batch_counts(rows), ["k", "b"], ["cnt"])

    got = sorted(
        map(tuple, ewma_from_counts(state, 8).collect())
    )
    want = sorted(
        map(tuple, ewma_smooth(df, "k", "ts", 3600, window_buckets=8).collect())
    )
    assert got == want and len(got) == 4
