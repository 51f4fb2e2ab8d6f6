"""Runnable job entry — the rebuild of the reference's spark-submit
application surface (DnsRptCH streaming job + DnsRptOffline backfill,
conf/config.properties), as one CLI:

    python -m dnsflow_clickhouse_spark.app stream   --input DIR --dims DIR --out DIR --checkpoint DIR
    python -m dnsflow_clickhouse_spark.app backfill --input DIR --dims DIR --out DIR --start S --end S
    python -m dnsflow_clickhouse_spark.app batch    --input DIR --dims DIR --out DIR --app-time S
    python -m dnsflow_clickhouse_spark.app daily    --input OUTDIR --dims DIR --out DIR --day yyyy-MM-dd

Configuration is explicit flags (the reference's properties file mapped
1:1 where still meaningful); dimensions load from a directory of parquet
tables named after the EnrichDims fields. A missing table (every table,
without --dims) loads as an empty one, so that enrichment takes its
documented default, same as an empty dim in the reference. Reports land
as parquet under --out, one table per report, written through the
retry-safe batch-id sink.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession

from dnsflow_clickhouse_spark import schemas as S
from dnsflow_clickhouse_spark.io import write_report_idempotent
from dnsflow_clickhouse_spark.operators.enrich import EnrichDims
from dnsflow_clickhouse_spark.session import get_spark
from dnsflow_clickhouse_spark.sources.events import parse_raw_lines
from dnsflow_clickhouse_spark.streaming.pipeline import (
    WINDOW_SECONDS,
    run_backfill,
    start_stream,
    write_window,
)

# EnrichDims field -> the declared schema of its parquet table
_DIM_FIELDS = {
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


def load_dims(spark: SparkSession, dims_dir: str | None) -> EnrichDims:
    """Each EnrichDims field reads ``<dims_dir>/<field>.parquet`` with its
    declared schema, so no schema-inference job runs. An absent table, or
    every table when ``dims_dir`` is None, is an empty frame of that
    schema: absent = empty, and its join yields the documented defaults."""

    def load(f: str, schema) -> DataFrame:
        p = os.path.join(dims_dir, f"{f}.parquet") if dims_dir else None
        if p and os.path.exists(p):
            return spark.read.schema(schema).parquet(p)
        return spark.createDataFrame([], schema)

    return EnrichDims(**{f: load(f, schema) for f, schema in _DIM_FIELDS.items()})


def _sink(out_dir: str):
    def sink(name: str, df: DataFrame, app_time: int) -> None:
        write_report_idempotent(df, out_dir, name, batch_id=app_time)

    return sink


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="dnsflow-spark")
    sub = ap.add_subparsers(dest="mode", required=True)
    for mode in ("stream", "backfill", "batch", "daily"):
        p = sub.add_parser(mode)
        p.add_argument("--input", required=True, help="dir of JSON-line event files")
        p.add_argument("--dims", default=None, help="dir of dim parquet tables")
        p.add_argument("--out", required=True, help="report output dir")
        p.add_argument("--deterministic", action="store_true")
        if mode == "stream":
            p.add_argument("--checkpoint", required=True)
            p.add_argument("--trigger-seconds", type=int, default=WINDOW_SECONDS)
        if mode == "backfill":
            p.add_argument("--start", type=int, required=True)
            p.add_argument("--end", type=int, required=True)
        if mode == "batch":
            p.add_argument("--app-time", type=int, required=True)
        if mode == "daily":
            p.add_argument("--day", required=True, help="yyyy-MM-dd label for the output batch")
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"dnsflow-{args.mode}")
    dims = load_dims(spark, args.dims)
    sink = _sink(args.out)

    if args.mode == "stream":
        q = start_stream(
            spark,
            args.input,
            dims,
            sink,
            checkpoint_dir=args.checkpoint,
            trigger_seconds=args.trigger_seconds,
            deterministic=args.deterministic,
        )
        q.awaitTermination()
    elif args.mode == "backfill":
        events = parse_raw_lines(spark.read.text(args.input))
        run_backfill(
            spark, events, dims, args.start, args.end, sink,
            deterministic=args.deterministic,
        )
    elif args.mode == "daily":
        # §3.3 daily job (UserRpt): aggregate the day's accumulated user
        # middle data (written per window by the batch/stream modes) into
        # the three daily user reports
        from dnsflow_clickhouse_spark.operators import reports as R

        middle = spark.read.parquet(os.path.join(args.input, "dns_middle_user"))
        batch = int(args.day.replace("-", ""))
        for name, df in {
            "bigdata_user_domain_top10": R.user_domain_top10(middle),
            "bigdata_user_daily_total": R.user_daily_total(middle),
            "bigdata_user_tags": R.user_tags(middle, dims),
        }.items():
            sink(name, df, batch)
    else:  # batch: one window, same code path as a stream micro-batch
        events = parse_raw_lines(spark.read.text(args.input))
        write_window(
            events, dims, args.app_time, sink, deterministic=args.deterministic
        )


if __name__ == "__main__":
    main()
