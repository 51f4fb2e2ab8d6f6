"""Crash/restart recovery drill (r8 verdict ask #7: evidence depth —
"restart/recovery drills on the streaming folds").

The soak (tools/soak_stream.py) proves the cross-batch loop stays flat
when nothing goes wrong. This drill proves the loop RECOVERS: a
deployed foreachBatch pipeline persists its fold state and report
output per trigger, crashes mid-run, restarts in a NEW process, and
must converge to exactly the state + output an uninterrupted run
produces — including replaying the in-flight batch under at-least-once
delivery without duplicating anything.

Recovery protocol modeled (the standard checkpoint/commit-log shape a
production foreachBatch uses; Structured Streaming's own checkpoint
does the batch-id bookkeeping, this drill makes the state-store side
explicit and testable):

- per batch k, each state family (bloom bitmap, HLL registers,
  per-series hour counts) is written to ``state/<name>/v=<k>`` as
  parquet (versioned, never in-place), and three representative
  reports go through :func:`io.write_report_idempotent` keyed on
  ``batch_id=k``;
- only after ALL writes for batch k succeed is the manifest
  ``commit.json`` atomically replaced (tmp + os.replace) with
  ``{"last": k}`` — the commit point;
- versions older than last-1 are pruned (bounded storage);
- on restart, the new process reads the manifest, loads state
  ``v=<last>``, and resumes at ``last + 1``. A crash AFTER the state/
  report writes but BEFORE the manifest commit therefore REPLAYS that
  batch: state v=<k> is overwritten with identical content (the folds
  are deterministic functions of committed state + batch input) and
  the idempotent report sink replaces the ``batch_id=k`` partition
  instead of appending — the at-least-once path the reference's plain
  JDBC append gets wrong (SURVEY §3).

Drill: life A runs batches 0..CRASH_AFTER, hard-crashes (os._exit)
after writing batch CRASH_AFTER's state + reports but before its
commit; life B restarts, replays CRASH_AFTER, continues to N_BATCHES.
A control life runs 0..N_BATCHES uninterrupted in its own process.
The artifact asserts, per state family and for the report tables, an
order-independent content hash (bit_xor of xxhash64 over all columns +
row count) EQUAL between drill and control, and exactly one
``batch_id`` partition per batch in the report tables.

    python tools/restart_drill.py sf_dir out.json
    (both are required, so no run overwrites a committed artifact by
    default; the committed drills used the sf0.01 testdata)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_BATCHES = 8
CRASH_AFTER = 4  # life A dies after writing batch 4, before its commit
# three representative nonempty reports at sf0.01 (the per-user top
# report is empty at this scale and a zero-row dynamic-partition write
# emits no files, which is fine for a sink but unreadable as evidence)
DRILL_REPORTS = ["dns_flow_qps", "dns_flow_response_code", "dns_flow_code_domain"]
STATE_FAMILIES = ["bloom", "hll", "hours"]


# ---------------------------------------------------------------------------
# life body (runs in its own subprocess == its own JVM)
# ---------------------------------------------------------------------------

def _manifest_path(root: Path) -> Path:
    return root / "commit.json"


def _read_last(root: Path) -> int:
    p = _manifest_path(root)
    if not p.exists():
        return -1
    return int(json.loads(p.read_text())["last"])


def _commit(root: Path, k: int) -> None:
    tmp = root / f".commit.{k}.tmp"
    tmp.write_text(json.dumps({"last": k}))
    os.replace(tmp, _manifest_path(root))


def _state_dir(root: Path, name: str, k: int) -> str:
    return str(root / "state" / name / f"v={k}")


def _prune_versions(root: Path, name: str, keep_from: int) -> None:
    base = root / "state" / name
    if not base.exists():
        return
    for child in base.iterdir():
        if child.name.startswith("v=") and int(child.name[2:]) < keep_from:
            shutil.rmtree(child, ignore_errors=True)


def run_life(root: Path, sf_dir: str, crash_after: int | None) -> None:
    """Resume from the manifest and run batches until N_BATCHES (or the
    crash point). Designed to be invoked repeatedly: each invocation is
    one process lifetime."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.io import merge_additive, write_report_idempotent
    from dnsflow_clickhouse_spark.operators.sketches import (
        bloom_build,
        bloom_merge,
        hll_merge,
        hll_registers,
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

    spark = get_spark(app_name="restart-drill")
    spark.sparkContext.setLogLevel("ERROR")
    dims = demo_dims(spark)
    last = _read_last(root)
    state = {
        name: (
            spark.read.parquet(_state_dir(root, name, last))
            if last >= 0
            else None
        )
        for name in STATE_FAMILIES
    }

    for k in range(last + 1, N_BATCHES):
        app_k = SYNTH_APP_TIME + WINDOW_SECONDS * k
        raw = synthetic_raw_events(spark, sf_dir, app_time_s=app_k)
        out = process_batch(raw, dims, app_k, deterministic=True)

        # fold the three state families from committed state + batch
        bloom = bloom_build(raw, "Domain")
        state["bloom"] = (
            bloom if state["bloom"] is None else bloom_merge(state["bloom"], bloom)
        )
        regs = hll_registers(raw, ["ServerIP"], "ClientIP")
        state["hll"] = (
            regs
            if state["hll"] is None
            else hll_merge(state["hll"].unionByName(regs), ["ServerIP"])
        )
        batch_hours = (
            raw.select(
                F.col("Type").alias("series"),
                (F.col("Timestamp") - F.pmod(F.col("Timestamp"), F.lit(3600)))
                .cast("long")
                .alias("hour_ep"),
            )
            .groupBy("series", "hour_ep")
            .agg(F.count("*").alias("cnt"))
        )
        state["hours"] = (
            batch_hours
            if state["hours"] is None
            else merge_additive(
                state["hours"], batch_hours, ["series", "hour_ep"], ["cnt"]
            )
        )

        # persist: versioned state writes + idempotent report writes...
        for name in STATE_FAMILIES:
            state[name].write.mode("overwrite").parquet(
                _state_dir(root, name, k)
            )
            # read back so the next fold's lineage starts at the store,
            # exactly like a restarted process would (and so a replay
            # can't accidentally reuse in-memory pre-crash state)
            state[name] = spark.read.parquet(_state_dir(root, name, k))
        for rpt in DRILL_REPORTS:
            write_report_idempotent(
                out[rpt], str(root / "reports"), rpt, batch_id=k
            )
        spark.catalog.clearCache()  # process_batch persists base/flow

        if crash_after is not None and k == crash_after:
            # hard crash BEFORE the commit: batch k's writes are on
            # disk but uncommitted -> the next life must replay it
            print(f"CRASH after batch {k} writes, before commit", flush=True)
            os._exit(17)

        # ...then the commit point, then bounded-version pruning
        _commit(root, k)
        for name in STATE_FAMILIES:
            _prune_versions(root, name, keep_from=k - 1)
        print(f"committed batch {k}", flush=True)


# ---------------------------------------------------------------------------
# JDBC idempotent-sink drill (r10 verdict #3): the reference's REAL sink
# is a bare JDBC append that duplicates on retry (ClickUtils.scala:29-32
# swallows errors). sources.dims.write_jdbc_idempotent adds the
# batch-id-keyed commit-marker protocol; this drill proves it against a
# REAL process kill in the worst window — after the data append, before
# the commit mark — using an on-disk embedded Derby DB that survives
# process death exactly like an external warehouse would.
# ---------------------------------------------------------------------------

JDBC_BATCHES = 6
JDBC_CRASH_AT = 3
JDBC_ROWS_PER_BATCH = 50
_JDBC_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _jdbc_url(root: Path) -> str:
    return f"jdbc:derby:{root}/derbydb;create=true"


def run_jdbc_life(root: Path, crash_at: int | None, report_crash_at: int) -> None:
    """One process lifetime of the JDBC sink loop: replays every batch
    id from 0 (the commit-marker table turns completed batches into
    no-op ``skipped``s, so blind full replay is the simplest correct
    resume). ``crash_at`` hard-kills (``os._exit``) INSIDE the window
    between that batch's data append and its commit mark."""
    from dnsflow_clickhouse_spark.session import get_spark
    from dnsflow_clickhouse_spark.sources.dims import (
        _jdbc_connect,
        write_jdbc_idempotent,
    )

    spark = get_spark(app_name="restart-drill-jdbc")
    spark.sparkContext.setLogLevel("ERROR")
    url = _jdbc_url(root)

    # restart evidence: how many stragglers did the crashed batch leave?
    # (counted BEFORE any replay work in this life)
    try:
        conn = _jdbc_connect(spark, url, _JDBC_PROPS)
        try:
            rs = conn.createStatement().executeQuery(
                'SELECT COUNT(*) FROM report_rows WHERE "batch_id" = '
                + str(report_crash_at)
            )
            rs.next()
            print(f"stragglers_before_replay: {rs.getLong(1)}", flush=True)
            rs.close()
        finally:
            conn.close()
    except Exception:
        print("stragglers_before_replay: -1", flush=True)  # fresh DB

    for k in range(JDBC_BATCHES):
        df = spark.range(k * 100, k * 100 + JDBC_ROWS_PER_BATCH).selectExpr(
            "id", "id * 2 AS v"
        )
        hook = None
        if crash_at is not None and k == crash_at:
            def hook() -> None:
                print(
                    f"CRASH between batch {k} data append and commit mark",
                    flush=True,
                )
                os._exit(17)
        got = write_jdbc_idempotent(
            df, url, "report_rows", batch_id=k,
            properties=_JDBC_PROPS, on_before_commit_mark=hook,
        )
        print(f"batch {k}: {got}", flush=True)


def jdbc_drill(work: Path, env: dict, me: str) -> dict:
    """Run control + crash/replay lives in their own processes and
    compare final table content; returns the ``jdbc`` artifact
    subsection."""
    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.session import get_spark
    from dnsflow_clickhouse_spark.sources.dims import read_jdbc

    roots = {"control": work / "jdbc_control", "drill": work / "jdbc_drill"}
    for r in roots.values():
        r.mkdir(parents=True)

    lives: list[dict] = []
    full_out: dict[str, list[str]] = {}

    def life(root: Path, crash: bool, label: str) -> int:
        proc = subprocess.run(
            [sys.executable, me, "--jdbc-life", str(root)]
            + (["--crash"] if crash else []),
            env=env, capture_output=True, text=True,
        )
        out = proc.stdout.strip().splitlines()
        full_out[label] = out
        lives.append({"label": label, "rc": proc.returncode, "tail": out[-4:]})
        print(f"[jdbc:{label}] rc={proc.returncode}", flush=True)
        return proc.returncode

    rc_control = life(roots["control"], crash=False, label="control")
    rc_a = life(roots["drill"], crash=True, label="life_A")
    rc_b = life(roots["drill"], crash=False, label="life_B")

    # life B's FIRST stdout line proves the kill window was real: the
    # crashed batch's rows were ON the table with no commit mark
    # (parsed from the full stdout — the 4-line tail has rolled past it)
    stragglers = next(
        (
            int(line.split(":")[1])
            for line in full_out.get("life_B", [])
            if line.startswith("stragglers_before_replay")
        ),
        None,
    )
    replay_status = next(
        (
            line.split(": ")[1]
            for line in full_out.get("life_B", [])
            if line.startswith(f"batch {JDBC_CRASH_AT}:")
        ),
        None,
    )

    spark = get_spark(app_name="restart-drill-jdbc-verify")
    spark.sparkContext.setLogLevel("ERROR")

    def table_summary(root: Path) -> dict:
        df = read_jdbc(spark, _jdbc_url(root), "report_rows", properties=_JDBC_PROPS)
        cols = sorted(df.columns)
        row = df.agg(
            F.expr(
                "bit_xor(xxhash64("
                + ", ".join(f"coalesce(cast(`{c}` as string), '<NULL>')" for c in cols)
                + "))"
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        per_batch = {
            int(r[0]): int(r[1])
            for r in df.groupBy("batch_id").count().collect()
        }
        return {
            "xor_hash": int(row["h"] or 0),
            "rows": int(row["n"]),
            "per_batch_rows": per_batch,
        }

    control, drill = table_summary(roots["control"]), table_summary(roots["drill"])
    no_dups = all(
        drill["per_batch_rows"].get(k) == JDBC_ROWS_PER_BATCH
        for k in range(JDBC_BATCHES)
    )
    return {
        "n_batches": JDBC_BATCHES,
        "crash_at_batch": JDBC_CRASH_AT,
        "rc": {"control": rc_control, "life_A": rc_a, "life_B": rc_b},
        "lives": lives,
        "stragglers_before_replay": stragglers,
        "replayed_batch_status": replay_status,
        "control": control,
        "drill": drill,
        "recovered_equal": bool(
            control == drill
            and no_dups
            and rc_a == 17 and rc_b == 0 and rc_control == 0
            and stragglers == JDBC_ROWS_PER_BATCH
            and replay_status == "written"
        ),
    }


# ---------------------------------------------------------------------------
# orchestrator
# ---------------------------------------------------------------------------

def _content_hash(spark, path: str, drop: list[str] | None = None):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for c in drop or []:
        df = df.drop(c)
    row = (
        df.agg(
            F.expr(
                "bit_xor(xxhash64("
                + ", ".join(
                    f"coalesce(cast(`{c}` as string), '<NULL>')"
                    for c in sorted(df.columns)
                )
                + "))"
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return {"xor_hash": int(row["h"]) if row["h"] is not None else 0, "rows": int(row["n"])}


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit("usage: python tools/restart_drill.py sf_dir out.json")
    sf_dir, out_path = sys.argv[1], Path(sys.argv[2])
    work = Path("/tmp/restart_drill")
    shutil.rmtree(work, ignore_errors=True)
    control_root, drill_root = work / "control", work / "drill"
    for r in (control_root, drill_root):
        r.mkdir(parents=True)

    env = {**os.environ, "PYTHONPATH": str(Path(__file__).resolve().parent.parent)}
    me = str(Path(__file__).resolve())
    walls: dict[str, float] = {}
    lives: list[dict] = []

    def life(root: Path, crash: bool, label: str) -> int:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, me, "--life", str(root), sf_dir]
            + (["--crash"] if crash else []),
            env=env,
            capture_output=True,
            text=True,
        )
        walls[label] = round(time.perf_counter() - t0, 1)
        lives.append(
            {
                "label": label,
                "rc": proc.returncode,
                "tail": proc.stdout.strip().splitlines()[-3:],
            }
        )
        print(f"[{label}] rc={proc.returncode} wall={walls[label]}s", flush=True)
        return proc.returncode

    rc_control = life(control_root, crash=False, label="control")
    rc_a = life(drill_root, crash=True, label="drill_life_A")
    last_after_crash = _read_last(drill_root)
    rc_b = life(drill_root, crash=False, label="drill_life_B")

    # compare final artifacts from a fresh session
    from dnsflow_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="restart-drill-verify")
    spark.sparkContext.setLogLevel("ERROR")
    comparison: dict[str, dict] = {}
    equal = True
    final = N_BATCHES - 1
    for name in STATE_FAMILIES:
        c = _content_hash(spark, _state_dir(control_root, name, final))
        d = _content_hash(spark, _state_dir(drill_root, name, final))
        comparison[f"state:{name}"] = {"control": c, "drill": d, "equal": c == d}
        equal &= c == d
    for rpt in DRILL_REPORTS:
        c = _content_hash(spark, str(control_root / "reports" / rpt))
        d = _content_hash(spark, str(drill_root / "reports" / rpt))
        comparison[f"report:{rpt}"] = {"control": c, "drill": d, "equal": c == d}
        equal &= c == d
    # replay must not duplicate: exactly one batch_id partition per batch
    import pyspark.sql.functions as F

    parts = (
        spark.read.parquet(str(drill_root / "reports" / DRILL_REPORTS[0]))
        .select("batch_id")
        .distinct()
        .count()
    )

    jdbc = jdbc_drill(work, env, me)

    art = {
        "metric": "restart_drill",
        "jdbc": jdbc,
        "sf_dir": sf_dir,
        "n_batches": N_BATCHES,
        "crash_after_batch": CRASH_AFTER,
        "manifest_last_at_crash": last_after_crash,
        "replayed_batch": last_after_crash + 1,
        "lives": lives,
        "rc": {"control": rc_control, "drill_life_A": rc_a, "drill_life_B": rc_b},
        "walls_s": walls,
        "comparison": comparison,
        "report_batch_partitions": parts,
        "recovered_equal": bool(
            equal and parts == N_BATCHES and rc_a == 17 and rc_b == 0
        ),
    }
    out_path.write_text(json.dumps(art, indent=1, sort_keys=True))
    print(json.dumps({
        **{k: art[k] for k in ("recovered_equal", "replayed_batch", "report_batch_partitions", "walls_s")},
        "jdbc_recovered_equal": jdbc["recovered_equal"],
    }))
    print(f"wrote {out_path}")
    if not (art["recovered_equal"] and jdbc["recovered_equal"]):
        raise SystemExit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--life":
        run_life(
            Path(sys.argv[2]),
            sys.argv[3],
            CRASH_AFTER if "--crash" in sys.argv else None,
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "--jdbc-life":
        run_jdbc_life(
            Path(sys.argv[2]),
            JDBC_CRASH_AT if "--crash" in sys.argv else None,
            JDBC_CRASH_AT,
        )
    else:
        main()
