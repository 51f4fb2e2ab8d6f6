"""Crash/restart recovery drill for the STATEFUL streaming path
(r9 verdict ask #6: RESTART_DRILL_r09 covered the batch fan-out; this
drill kills a real Structured Streaming query that keeps custom state
via ``applyInPandasWithState`` mid-run and proves the restarted query
converges to exactly what an uninterrupted control produces).

Shape:

- input: N_FILES single-file parquet batches in one directory, strictly
  increasing mtimes so the file source's batch order is deterministic;
  file k carries keys [k*60, k*60+99] (two rows per key), so every
  batch has 60 never-seen keys and 40 keys already claimed by the
  previous batch — cross-batch dedup state is load-bearing in every
  single trigger.
- query: ``readStream.parquet(maxFilesPerTrigger=1)`` ->
  :func:`streaming.stateful.first_seen` (applyInPandasWithState,
  append mode) -> ``foreachBatch`` writing through the idempotent
  batch_id-partitioned report sink, ``trigger(availableNow)`` with a
  checkpoint.
- drill life A: hard-crashes (``os._exit``) INSIDE foreachBatch of
  batch CRASH_AT — after the sink write, before the micro-batch
  commit, the worst-ordered failure point: the batch's output is on
  disk but neither the offset commit nor the state-store version
  advance happened.
- drill life B: a NEW process restarts from the same checkpoint.
  Structured Streaming replays batch CRASH_AT from the logged offsets
  against the state-store version of batch CRASH_AT-1; the idempotent
  sink replaces the half-committed partition; the run continues to the
  end.
- control: an uninterrupted run in its own process with its own
  checkpoint + sink.

Asserted (``stateful`` section, merged into the round artifact):

- order-independent content hash of the drill sink EQUALS the control
  sink (same first-seen winners, same batch attribution, no dup/loss);
- the dedup invariant survived the replay: every key emitted exactly
  once, total distinct keys = the expected closed-form count;
- one batch_id partition per input file (the replayed batch did not
  append a second copy);
- the checkpointed STATE itself compared via Spark's state-store
  reader (``spark.read.format("statestore")``) when it can decode the
  python-state layout — recorded as ``state_reader: skipped`` with the
  error otherwise (the observable-output equality above is the
  behavioral state check either way).

    python tools/restart_drill_stateful.py merge_into.json
    (required, so no run rewrites a committed artifact by default; the
    section is merged into the file if it exists, else written fresh)
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

N_FILES = 8
CRASH_AT = 4  # life A dies inside batch 4's foreachBatch, pre-commit
KEYS_PER_FILE, KEY_STRIDE = 100, 60  # 40-key overlap with the previous file
WORK = Path("/tmp/restart_drill_stateful")


def expected_distinct_keys() -> int:
    return KEY_STRIDE * (N_FILES - 1) + KEYS_PER_FILE


def make_input(inp: Path) -> None:
    """N_FILES deterministic single-file parquet batches, mtime-ordered."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inp.mkdir(parents=True)
    t0 = time.time() - 3600
    for k in range(N_FILES):
        keys, ids = [], []
        for key in range(k * KEY_STRIDE, k * KEY_STRIDE + KEYS_PER_FILE):
            for rep in (1, 0):  # reversed so min(id) is exercised
                keys.append(f"k{key:05d}")
                ids.append(key * 10 + rep)
        f = inp / f"b{k}.parquet"
        pq.write_table(
            pa.table({"dup_key": pa.array(keys), "id": pa.array(ids, pa.int64())}),
            f,
        )
        os.utime(f, (t0 + k, t0 + k))


def run_life(root: Path, crash: bool) -> None:
    """One process lifetime: run the checkpointed stateful query over
    whatever input remains (availableNow), crashing mid-batch if asked."""
    from dnsflow_clickhouse_spark.io import write_report_idempotent
    from dnsflow_clickhouse_spark.session import get_spark
    from dnsflow_clickhouse_spark.streaming.stateful import first_seen

    spark = get_spark(app_name="restart-drill-stateful")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_DRILL_SS_PROVIDER=rocksdb: run the whole drill —
    # including the crash/replay state recovery — on the production
    # RocksDB provider with changelog checkpointing (the configuration
    # the operators' 10^9-key scale notes cite)
    if os.environ.get("SPARK_GRAFT_DRILL_SS_PROVIDER", "") == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    raw = (
        spark.readStream.schema("dup_key string, id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(WORK / "input"))
    )
    out = first_seen(raw)

    def sink(bdf, bid: int) -> None:
        write_report_idempotent(bdf, str(root / "sink"), "first_seen", batch_id=bid)
        if crash and bid == CRASH_AT:
            print(f"CRASH inside foreachBatch of batch {bid}, pre-commit", flush=True)
            os._exit(17)
        print(f"committed batch {bid}", flush=True)

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _content_hash(spark, path: str) -> dict:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
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
    return {"xor_hash": int(row["h"] or 0), "rows": int(row["n"])}


def _state_hash(spark, ckpt: Path) -> dict | str:
    """Literal state-table comparison via the state-store reader
    (decodes the applyInPandasWithState layout to
    key.dup_key / value.groupState.seen). The batch reader tries to
    report snapshot-upload lag to the StateStoreCoordinator, an RPC
    endpoint only streaming queries create — disable that reporting or
    a pure-batch session throws RpcEndpointNotFoundException. Still
    degrades to a recorded skip on any other reader gap, never a drill
    failure (the sink equality is the behavioral state check)."""
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag",
            "false",
        )
        df = spark.read.format("statestore").load(str(ckpt))
        from pyspark.sql import functions as F

        row = (
            df.selectExpr(
                "key.dup_key AS k",
                "cast(value.groupState.seen AS string) AS v",
            )
            .agg(
                F.expr("bit_xor(xxhash64(k, v))").alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        return {"xor_hash": int(row["h"] or 0), "rows": int(row["n"])}
    except Exception as ex:  # noqa: BLE001 - recorded, not raised
        return f"skipped: {type(ex).__name__}: {str(ex).splitlines()[0][:160]}"


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit("usage: python tools/restart_drill_stateful.py merge_into.json")
    merge_into = Path(sys.argv[1])
    shutil.rmtree(WORK, ignore_errors=True)
    make_input(WORK / "input")
    control_root, drill_root = WORK / "control", WORK / "drill"
    control_root.mkdir()
    drill_root.mkdir()

    env = {**os.environ, "PYTHONPATH": str(Path(__file__).resolve().parent.parent)}
    me = str(Path(__file__).resolve())
    walls: dict[str, float] = {}
    lives: list[dict] = []

    def life(root: Path, crash: bool, label: str) -> int:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, me, "--life", str(root)] + (["--crash"] if crash else []),
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

    rc_control = life(control_root, crash=False, label="stateful_control")
    rc_a = life(drill_root, crash=True, label="stateful_life_A")
    rc_b = life(drill_root, crash=False, label="stateful_life_B")

    from pyspark.sql import functions as F

    from dnsflow_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="restart-drill-stateful-verify")
    spark.sparkContext.setLogLevel("ERROR")
    c = _content_hash(spark, str(control_root / "sink" / "first_seen"))
    d = _content_hash(spark, str(drill_root / "sink" / "first_seen"))
    sink_df = spark.read.parquet(str(drill_root / "sink" / "first_seen"))
    n_rows = sink_df.count()
    n_keys = sink_df.select("dup_key").distinct().count()
    n_parts = sink_df.select("batch_id").distinct().count()
    state_c = _state_hash(spark, control_root / "ckpt")
    state_d = _state_hash(spark, drill_root / "ckpt")
    state_cmp = (
        {"control": state_c, "drill": state_d, "equal": state_c == state_d}
        if isinstance(state_c, dict) and isinstance(state_d, dict)
        else {"control": state_c, "drill": state_d, "equal": None}
    )

    section = {
        "operator": "first_seen (applyInPandasWithState, append)",
        "state_store_provider": os.environ.get(
            "SPARK_GRAFT_DRILL_SS_PROVIDER", "hdfs-backed (default)"
        ),
        "n_input_files": N_FILES,
        "crash_inside_batch": CRASH_AT,
        "rc": {"control": rc_control, "life_A": rc_a, "life_B": rc_b},
        "walls_s": walls,
        "lives": lives,
        "sink": {"control": c, "drill": d, "equal": c == d},
        "dedup_invariant": {
            "rows": n_rows,
            "distinct_keys": n_keys,
            "expected_keys": expected_distinct_keys(),
            "holds": n_rows == n_keys == expected_distinct_keys(),
        },
        "batch_partitions": n_parts,
        "state_reader": state_cmp,
        "recovered_equal": bool(
            c == d
            and n_rows == n_keys == expected_distinct_keys()
            and n_parts == N_FILES
            and rc_a == 17
            and rc_b == 0
            and rc_control == 0
            and state_cmp["equal"] in (True, None)
        ),
    }

    art = json.loads(merge_into.read_text()) if merge_into.exists() else {}
    key = (
        "stateful_rocksdb"
        if os.environ.get("SPARK_GRAFT_DRILL_SS_PROVIDER", "") == "rocksdb"
        else "stateful"
    )
    art[key] = section
    merge_into.write_text(json.dumps(art, indent=1, sort_keys=True))
    print(json.dumps({k: section[k] for k in ("recovered_equal", "dedup_invariant", "batch_partitions", "walls_s", "state_reader")}, default=str))
    print(f"merged stateful section into {merge_into}")
    if not section["recovered_equal"]:
        raise SystemExit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--life":
        run_life(Path(sys.argv[2]), "--crash" in sys.argv)
    else:
        main()
