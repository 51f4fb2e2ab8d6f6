"""The traced window: the program's layers called one at a time from
outside, each output materialized at its boundary inside a span.

Production runs the same calls fused into fewer jobs (``app.main``); the
traced window pays extra jobs and caches to separate them, which is why
end-to-end metrics come only from untraced runs. What the traced window
caches for itself (the parsed lines, a flow copy, each report) it
releases again; the program's own persists (base and flow in
``process_batch``) are left alone, so their retention stays visible.

Calls made here, in order, for window ``t``:

- ``app.load_dims``
- ``sources.events.parse_raw_lines`` over every input line (cached)
- ``sources.events.derive_events`` and ``operators.enrich.enrich_base``
  over the parsed lines, materialized without caching
- ``streaming.pipeline.process_batch``, then materializing the base it
  persists
- ``operators.reports.flow_report`` over that base, cached, and
  ``operators.enrich.enrich_top`` over it. This flow is a copy: the
  one ``process_batch`` persists cannot be reached from outside
  (``range_join`` rebuilds its rule frame from collected rows on every
  call, so an equal plan is not found in the cache). The program's flow
  is built inside the first report span that reads it,
  ``dns_flow_clear``, as in production
- each of the 18 reports (cached), then ``io.write_report_idempotent``
  of it from that cache, one report after another
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark import app
from dnsflow_clickhouse_spark.io import write_report_idempotent
from dnsflow_clickhouse_spark.operators import reports as R
from dnsflow_clickhouse_spark.operators.enrich import (
    DEFAULT_CLIENT_NAME,
    enrich_base,
    enrich_top,
)
from dnsflow_clickhouse_spark.sources.events import derive_events, parse_raw_lines
from dnsflow_clickhouse_spark.streaming.pipeline import WINDOW_SECONDS, process_batch

from perfbench.spans import Tracer, storage

_ROWS = F.count(F.lit(1))


def _materialize(df: DataFrame, **aggs: Column) -> dict:
    """Evaluate every column of ``df`` (a noop write, so nothing is
    pruned) and return the observed aggregates."""
    obs = Observation()
    df.observe(obs, *[a.alias(k) for k, a in aggs.items()]).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get


def partition_size(out_dir: str, t: int) -> tuple[int, int]:
    """(files, bytes) stored for window ``t`` across all report tables."""
    files = size = 0
    for table in os.listdir(out_dir):
        part = os.path.join(out_dir, table, f"batch_id={t}")
        if os.path.isdir(part):
            for f in os.listdir(part):
                files += 1
                size += os.path.getsize(os.path.join(part, f))
    return files, size


def traced_window(
    spark, tracer: Tracer, lines_dir: str, dims_dir: str, out_dir: str, t: int
) -> dict:
    """Run window ``t`` layer by layer; returns the window's counts
    (spans hold the times and Spark counters)."""
    mem = StorageLevel.MEMORY_AND_DISK
    got: dict = {"window": t}
    with tracer.span("window", window=t):
        with tracer.span("app.load_dims"):
            dims = app.load_dims(spark, dims_dir)

        with tracer.span("sources.events.parse"):
            lines_in = Observation()
            lines = spark.read.text(lines_dir).observe(lines_in, _ROWS.alias("n"))
            parsed = parse_raw_lines(lines).persist(mem)
            n_parsed = _materialize(parsed, n=_ROWS)["n"]
            got["lines_in"] = lines_in.get["n"]
            got["lines_malformed"] = got["lines_in"] - n_parsed

        with tracer.span("sources.events.derive"):
            derived = derive_events(
                parsed, t, t + WINDOW_SECONDS, deterministic_aip=True
            )
            got["rows_in_window"] = _materialize(derived, n=_ROWS)["n"]
            got["rows_dropped"] = n_parsed - got["rows_in_window"]

        with tracer.span("operators.enrich.base"):
            miss = _materialize(
                enrich_base(derived, dims),
                client=F.sum((F.col("clientName") == DEFAULT_CLIENT_NAME).cast("long")),
                geo=F.sum((F.col("country") == "").cast("long")),
            )
            got["client_miss_rows"] = miss["client"] or 0
            got["geo_miss_rows"] = miss["geo"] or 0

        cached_before = storage(spark)[0]
        with tracer.span("streaming.pipeline.process_batch"):
            reports, base = process_batch(
                parsed, dims, t, deterministic=True, return_base=True
            )
        with tracer.span("streaming.pipeline.base_persist"):
            base.write.format("noop").mode("overwrite").save()
        got["base_cached_mb"] = storage(spark)[0] - cached_before

        cached_before = storage(spark)[0]
        with tracer.span("streaming.pipeline.flow_persist"):
            flow = R.flow_report(base, dims).persist(mem)
            flow.write.format("noop").mode("overwrite").save()
        got["flow_cached_mb"] = storage(spark)[0] - cached_before
        with tracer.span("operators.enrich.top"):
            _materialize(enrich_top(flow, dims), n=_ROWS)
        with tracer.span("perfbench.release"):
            flow.unpersist(blocking=True)

        rows: dict[str, int] = {}
        for name, df in reports.items():
            with tracer.span(f"operators.reports.{name}", report=name):
                report = df.persist(mem)
                rows[name] = _materialize(report, n=_ROWS)["n"]
            with tracer.span("io.sink", report=name):
                write_report_idempotent(report, out_dir, name, batch_id=t)
            # released at once: a later report whose plan contains this
            # one (the authority roll-ups, the trend) must not read it
            with tracer.span("perfbench.release"):
                report.unpersist(blocking=True)
        got["report_rows"] = rows

    parsed.unpersist(blocking=True)
    got["persisted_rdds_after"] = storage(spark)[1]
    got["sink_files"], got["sink_bytes"] = partition_size(out_dir, t)
    return got
