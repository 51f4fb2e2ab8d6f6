"""Sinks. The reference appends every report to ClickHouse via JDBC
(ClickUtils.scala:22-33) and writes user middle data as \\x01-delimited
text to HDFS (DnsRptCH.scala:110-140 / K2). The rebuild's default sink
is parquet tables with identical schemas; the JDBC writer is kept in
sources.dims.write_jdbc as an optional backend.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_report(df: DataFrame, base_dir: str, table: str, mode: str = "append") -> None:
    """Append-only report sink, one directory per report table."""
    df.write.mode(mode).parquet(os.path.join(base_dir, table))


def write_events_partitioned(events: DataFrame, path: str, mode: str = "append") -> None:
    """S2 scale layout: events land in a (date, hour)-partitioned parquet
    table instead of the reference's flat 10-second HDFS files
    (DnsRptCH.scala:983-1011 enumerates paths by hand to fake partition
    pruning). With a partitioned table, Catalyst prunes for free."""
    (
        events.withColumn("date", F.date_format("ts", "yyyyMMdd"))
        .withColumn("hour", F.date_format("ts", "HH"))
        .write.partitionBy("date", "hour")
        .mode(mode)
        .parquet(path)
    )


def read_events_window(
    spark: SparkSession, path: str, start_s: int, end_s: int
) -> DataFrame:
    """Window scan over the partitioned events table.

    The (date, hour) membership predicate hits only partition columns, so
    it resolves at planning time (PartitionFilters in the scan — zero
    data files touched outside the window's hours); the ``ts`` bounds
    then cut row-exactly inside the edge hours. This replaces the
    reference's driver-side path existence probe with the same pruning,
    engine-side.
    """
    hours: set[tuple[str, str]] = set()
    t = start_s - (start_s % 3600)
    while t < end_s:
        d = datetime.fromtimestamp(t, tz=timezone.utc)
        hours.add((d.strftime("%Y%m%d"), d.strftime("%H")))
        t += 3600
    df = spark.read.parquet(path)
    # OR of plain (date =, hour =) conjuncts: predicates over raw
    # partition columns, guaranteed to resolve at planning time
    prune = None
    for d, h in sorted(hours):
        c = (F.col("date") == d) & (F.col("hour") == h)
        prune = c if prune is None else (prune | c)
    return (
        df.filter(prune)
        .filter(
            (F.col("ts") >= F.timestamp_seconds(F.lit(start_s)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(end_s)))
        )
        .drop("date", "hour")
    )


def write_middle_data(df: DataFrame, path: str, partitions: int = 12) -> None:
    """K2: \\x01-delimited text, coalesced to a fixed file count
    (reference: coalesce(12), DnsRptCH.scala:138)."""
    df.coalesce(partitions).write.mode("overwrite").option("sep", "\x01").csv(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-clustered into ``buckets``
    files per partition by ``keys`` at write time, and the layout is
    recorded in the catalog.

    This is the pre-paid shuffle: any later equi-join or aggregation on
    the bucket keys between tables with matching bucketing reads
    co-located data and plans with NO Exchange — at 100 TB the repeated
    per-query shuffle of a hot fact table is usually the single largest
    cost, and bucketing moves it to ingest, once. (The reference has no
    analogue; its ClickHouse tables get this from primary-key locality.)
    """
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def write_report_idempotent(
    df: DataFrame, base_dir: str, table: str, batch_id: int
) -> None:
    """Exactly-once-per-batch report sink: the reference's JDBC append
    duplicates rows when a batch retries (SURVEY §3 — no transactions,
    `isolationLevel=NONE`); here each batch owns a `batch_id=` partition
    and a retry *replaces* that partition instead of appending beside it
    (dynamic partition overwrite touches only the partitions present in
    this write — other batches' output is never rewritten).

    Safe to call from foreachBatch with the streaming batch id: Spark
    replays a failed batch with the same id, so the sink converges to
    one copy per batch at any retry count.

    The overwrite mode is a PER-WRITER option, not a session conf:
    ``write_reports_concurrent`` calls this from a thread pool sharing
    one SparkSession, and a session-conf set/restore pair races — one
    thread's restore to ``static`` can land between another thread's
    ``set('dynamic')`` and the moment its write command snapshots the
    conf, silently turning that write into a STATIC overwrite that
    deletes every other batch's partitions. The writer-level option is
    read only by this write and cannot be clobbered by a sibling thread.
    """
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(base_dir, table))
    )


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """ClickHouse-ReplacingMergeTree-style merge: union the update set
    onto the current snapshot and keep, per key, the row with the
    highest version (ties broken by ``tiebreak_cols`` then by update-
    side wins). One window shuffle on the key — the Spark-native form
    of the background collapse ClickHouse applies at read/merge time.
    """
    from pyspark.sql import Window

    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    order = [F.desc(version_col)] + [
        F.desc(c) for c in (tiebreak_cols or [])
    ] + [F.desc("__src")]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def merge_additive(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    max_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
) -> DataFrame:
    """ClickHouse-SummingMergeTree / AggregatingMergeTree-style merge:
    fold a delta batch of partial aggregate states into the stored
    report without rescanning history — additive columns sum, extrema
    take max/min. With the sketch registers (operators.sketches) the
    same fold covers approximate-distinct state (max per register) and
    frequency state (sum per counter).

    This is the incremental-view-maintenance primitive a periodic 100 TB
    rollup runs: each period aggregates ONLY its own slice to the report
    grain, then merges here — one union + one map-side-combinable
    groupBy on the report key, never a rescan. Correct for any
    commutative/associative state; rates and averages must be stored as
    (numerator, denominator) pairs and derived at read time.
    """
    folded = current.unionByName(updates)
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + [F.max(c).alias(c) for c in (max_cols or [])]
        + [F.min(c).alias(c) for c in (min_cols or [])]
    )
    return folded.groupBy(*keys).agg(*aggs)


def observed_write(
    df: DataFrame,
    metrics: dict[str, "F.Column"],
    writer: "Callable[[DataFrame], None]",
) -> dict[str, object]:
    """Data-quality guardrail for sinks: attach named metric expressions
    (counts, null rates, sums) to the frame via ``Observation``, run the
    caller's write action, and return the metrics measured ON THE ROWS
    ACTUALLY WRITTEN — no second pass over the data, unlike a separate
    validation count() (which at 100 TB doubles the job and can disagree
    with what the sink saw).

    Usage:
        got = observed_write(
            report,
            {"rows": F.count(F.lit(1)), "null_keys": F.sum(F.col("k").isNull().cast("long"))},
            lambda d: d.write.mode("append").parquet(path),
        )
        if got["rows"] == 0: alert(...)
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    writer(observed)
    return obs.get


def _id_hash(id_col: str):
    """Mixed portable hash of the id — shard router and checksum input."""
    from dnsflow_clickhouse_spark.functions.textfn import POLY_MOD, poly_hash
    from dnsflow_clickhouse_spark.operators.sampling import MIX_MULT

    return (poly_hash(F.col(id_col).cast("string")) * MIX_MULT) % POLY_MOD


def write_sharded_export(
    df: DataFrame,
    id_col: str,
    path: str,
    n_shards: int = 16,
) -> DataFrame:
    """Reproducible sharded training-data export with a verifiable
    manifest — the delivery contract a downstream trainer consumes:

    - shard assignment is a pure function of the row id (the portable
      mixed hash mod ``n_shards``), so re-running the export on the
      same corpus yields identical shard membership;
    - data lands partitioned by ``__shard`` (one directory per shard);
    - a ``_manifest`` parquet records per shard: row count and an
      order-insensitive id checksum (``bit_xor`` of the id hashes —
      associative/commutative/self-inverse, so any partitioning of the
      data computes the same value, and a duplicated row cancels out of
      the xor but still trips the row count).

    :func:`validate_sharded_export` recomputes the manifest from the
    shipped data and diffs it — a lost, truncated, duplicated, or
    foreign shard shows up as a count or checksum mismatch without
    reading any payload column (column pruning keeps validation
    id-only). Returns the manifest frame.
    """
    sharded = df.withColumn(
        "__shard", (_id_hash(id_col) % n_shards).cast("int")
    )
    sharded.write.mode("overwrite").partitionBy("__shard").parquet(
        os.path.join(path, "data")
    )
    manifest = _shard_manifest(sharded, id_col)
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_manifest")
    )
    return manifest


def _shard_manifest(sharded: DataFrame, id_col: str) -> DataFrame:
    return (
        sharded.withColumn("__idh", _id_hash(id_col))
        .groupBy("__shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__idh)").alias("id_checksum"),
        )
        .withColumnRenamed("__shard", "shard")
    )


def validate_sharded_export(
    spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """Recompute the export manifest from the shipped data and diff it
    against the stored ``_manifest``: returns rows ONLY for shards that
    disagree — empty result == export verified."""
    stored = spark.read.parquet(os.path.join(path, "_manifest"))
    data = spark.read.parquet(os.path.join(path, "data"))
    actual = _shard_manifest(data, id_col)
    m, d = stored.alias("m"), actual.alias("d")
    return (
        m.join(d, F.col("m.shard") == F.col("d.shard"), "full_outer")
        .filter(
            F.col("m.n_rows").isNull()
            | F.col("d.n_rows").isNull()
            | (F.col("m.n_rows") != F.col("d.n_rows"))
            | (F.col("m.id_checksum") != F.col("d.id_checksum"))
        )
        .select(
            F.coalesce(F.col("m.shard"), F.col("d.shard")).alias("shard"),
            F.col("m.n_rows").alias("manifest_rows"),
            F.col("d.n_rows").alias("actual_rows"),
            (
                F.coalesce(F.col("m.id_checksum"), F.lit(-1))
                != F.coalesce(F.col("d.id_checksum"), F.lit(-1))
            ).cast("int").alias("checksum_mismatch"),
        )
    )


def write_reports_concurrent(
    reports: dict[str, DataFrame],
    write_one,
    max_threads: int = 8,
    after: dict[str, str] | None = None,
) -> list[str]:
    """Submit the report fan-out's sink jobs CONCURRENTLY from a driver
    thread pool. The 18-report fan-out is eighteen small jobs over a few
    cached shared frames; submitted sequentially, the wall
    is sum(job + driver gap) — on a 1000-executor cluster most of the
    cluster idles while the driver plans the next tiny job (bench.py's
    ``fanout_overhead`` line is exactly this cost, ~3.5s of the batch
    at sf0.1). Spark's scheduler accepts concurrent job submission
    from multiple driver threads natively (FAIR or FIFO — each job's
    tasks interleave either way), so a thread pool overlaps the driver
    gaps and the small stages WITHOUT changing any result: the writes
    are reads of persisted frames, ordered by the frame each report
    reads.

    ``after`` maps a report to the report whose write loads the
    persisted frame it reads. A report whose entry names another report
    in ``reports`` is submitted when that write ends, succeeded or
    failed; every other report is submitted at once. A reader that ran
    while its frame was still loading would run its own load job of
    that frame (AQE's table-cache query stage); ordered, each frame
    loads in one job, and the readers of different frames still run
    side by side. Entries naming a report not in ``reports`` are
    ignored; a cycle among the named reports raises ``ValueError``
    before any write starts.

    ``write_one(name, df)`` performs one report's write (e.g. a
    ``write_report_idempotent`` closure). Exceptions propagate after
    every write has ended (no silent partial fan-out: a failed write's
    followers still run); returns the report names in completion order
    (diagnostic only).

    Threads stay bounded (default 8): each in-flight job holds a
    result-stage buffer on the driver, and the fan-out's jobs are small
    enough that ~8 in flight saturates the gap-overlap win.
    """
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    waits = {
        name: first
        for name, first in (after or {}).items()
        if name in reports and first in reports
    }
    followers: dict[str, list[str]] = {}
    for name, first in waits.items():
        followers.setdefault(first, []).append(name)
    for name in waits:
        chain = {name}
        while name in waits:
            name = waits[name]
            if name in chain:
                raise ValueError(f"report order has a cycle through {name}")
            chain.add(name)

    done: list[str] = []
    errors: list[tuple[str, Exception]] = []
    with ThreadPoolExecutor(max_workers=max_threads) as pool:

        def submit(names):
            return {pool.submit(write_one, n, reports[n]): n for n in names}

        pending = submit(n for n in reports if n not in waits)
        while pending:
            finished, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = pending.pop(fut)
                try:
                    fut.result()
                    done.append(name)
                except Exception as exc:  # collect all, raise after
                    errors.append((name, exc))
                pending.update(submit(followers.get(name, ())))
    if errors:
        names = ", ".join(n for n, _ in errors)
        raise RuntimeError(
            f"{len(errors)} report write(s) failed: {names}"
        ) from errors[0][1]
    return done
