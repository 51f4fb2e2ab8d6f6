"""Backfill-at-scale drill (r8 verdict ask #7: evidence depth — "a
backfill-at-scale run").

The reference's offline loop (DnsRptOffline.scala:69-73, rebuilt as
``streaming/pipeline.run_backfill``) replays the batch job over a
historical range. This drill runs that replay END-TO-END at sf0.1 the
way a production backfill over a 100 TB store would:

- the raw events for W consecutive 5-minute windows land ONCE in the
  (date, hour)-partitioned event store (``io.write_events_partitioned``
  — the S2 scale layout);
- each backfill step reads its window back through
  ``io.read_events_window`` — the artifact asserts the scan carries
  ``PartitionFilters`` (planning-time pruning: a month-long backfill
  touches each window's files once, never the whole store);
- each step runs the full 18-report ``process_batch`` fan-out and
  lands every report through ``io.write_report_idempotent`` keyed on
  the window start (real parquet writes, not noop);
- after the sweep, ONE window is REPLAYED in full (the crashed-and-
  rerun backfill step / double-scheduled Airflow task case) and the
  artifact asserts every report table's content hash is UNCHANGED —
  at-least-once scheduling converges instead of duplicating, which is
  precisely what the reference's plain JDBC append gets wrong
  (SURVEY §3).

    python tools/backfill_run.py sf_dir n_windows out.json
    (all three are required, so no run overwrites a committed artifact
    by default; the committed drills used the sf0.1 testdata and 6)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.io import (
    read_events_window,
    write_events_partitioned,
    write_report_idempotent,
)
from dnsflow_clickhouse_spark.session import get_spark
from dnsflow_clickhouse_spark.sources.synth import (
    SYNTH_APP_TIME,
    demo_dims,
    synthetic_raw_events,
)
from dnsflow_clickhouse_spark.streaming.pipeline import (
    WINDOW_SECONDS,
    process_batch,
)


def _table_hashes(spark, reports_dir: Path, tables: list[str]) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for t in tables:
        df = spark.read.parquet(str(reports_dir / t))
        row = df.agg(
            F.expr(
                "bit_xor(xxhash64("
                + ", ".join(
                    f"coalesce(cast(`{c}` as string), '<NULL>')"
                    for c in sorted(df.columns)
                )
                + "))"
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        out[t] = [int(row["h"]) if row["h"] is not None else 0, int(row["n"])]
    return out


def _run_window(spark, store: str, reports_dir: Path, dims, t: int) -> tuple[float, bool, int]:
    """One backfill step: pruned store read -> 18 reports -> idempotent
    writes. Returns (wall, pruned?, report_count)."""
    t0 = time.perf_counter()
    win = read_events_window(spark, store, t, t + WINDOW_SECONDS)
    pruned = "PartitionFilters: [" in win._jdf.queryExecution().executedPlan().toString()
    raw = win.drop("ts")
    out = process_batch(raw, dims, t, deterministic=True)
    for name, df in out.items():
        # batch_id = window index so replays of the same window replace
        # their own partition
        write_report_idempotent(
            df, str(reports_dir), name, batch_id=(t - SYNTH_APP_TIME) // WINDOW_SECONDS
        )
    spark.catalog.clearCache()  # process_batch persists base/flow
    return round(time.perf_counter() - t0, 2), pruned, len(out)


def main() -> None:
    if len(sys.argv) != 4:
        raise SystemExit("usage: python tools/backfill_run.py sf_dir n_windows out.json")
    sf_dir, n_windows, out_path = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    work = Path("/tmp/backfill_run")
    shutil.rmtree(work, ignore_errors=True)
    store = str(work / "events_store")
    reports_dir = work / "reports"

    spark = get_spark(app_name="backfill-drill")
    spark.sparkContext.setLogLevel("ERROR")
    dims = demo_dims(spark)

    # land W windows of raw events in the partitioned store (once)
    t0 = time.perf_counter()
    for k in range(n_windows):
        app_k = SYNTH_APP_TIME + WINDOW_SECONDS * k
        raw = synthetic_raw_events(spark, sf_dir, app_time_s=app_k)
        write_events_partitioned(
            raw.withColumn("ts", F.timestamp_seconds(F.col("Timestamp"))), store
        )
    store_wall = round(time.perf_counter() - t0, 2)
    store_rows = spark.read.parquet(store).count()

    # the backfill sweep
    walls: list[float] = []
    pruned_all = True
    n_reports = 0
    for k in range(n_windows):
        t = SYNTH_APP_TIME + WINDOW_SECONDS * k
        wall, pruned, n_reports = _run_window(spark, store, reports_dir, dims, t)
        walls.append(wall)
        pruned_all &= pruned
        print(f"window {k}: {wall}s pruned={pruned}", file=sys.stderr, flush=True)

    tables = sorted(p.name for p in reports_dir.iterdir())
    before = _table_hashes(spark, reports_dir, tables)

    # replay one mid-range window in full (double-scheduled step)
    replay_k = n_windows // 2
    replay_wall, _, _ = _run_window(
        spark, store, reports_dir, dims, SYNTH_APP_TIME + WINDOW_SECONDS * replay_k
    )
    after = _table_hashes(spark, reports_dir, tables)
    idempotent = before == after

    art = {
        "metric": "backfill_drill",
        "sf_dir": sf_dir,
        "n_windows": n_windows,
        "reports_per_window": n_reports,
        "store_rows": store_rows,
        "store_build_wall_s": store_wall,
        "window_walls_s": walls,
        "window_wall_mean_s": round(sum(walls) / len(walls), 2),
        "partition_pruned_every_window": pruned_all,
        "replayed_window": replay_k,
        "replay_wall_s": replay_wall,
        "replay_idempotent_all_tables": idempotent,
        "tables": {t: {"xor_hash": before[t][0], "rows": before[t][1]} for t in tables},
        "load_1m": round(os.getloadavg()[0], 1),
    }
    out_path.write_text(json.dumps(art, indent=1, sort_keys=True))
    print(
        json.dumps(
            {
                k: art[k]
                for k in (
                    "window_wall_mean_s",
                    "partition_pruned_every_window",
                    "replay_idempotent_all_tables",
                    "store_rows",
                )
            }
        )
    )
    print(f"wrote {out_path}")
    if not (pruned_all and idempotent):
        raise SystemExit(1)


if __name__ == "__main__":
    main()
