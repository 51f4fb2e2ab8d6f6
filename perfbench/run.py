"""Benchmark of the 5-minute DNS window, end to end through the real
parquet sink.

Run from the repository root:

    python3 perfbench/run.py --workload window_100k --seed 1 --seconds 10 --trace 0

Inputs (raw JSON-line files and a dims parquet directory) are generated
from ``--seed`` before anything is timed. Windows go in through
``app.main(["batch", ...])`` or ``app.main(["backfill", ...])``, one
after another from this process (a closed loop), on ``local[nproc]``.
Every stored window is read back and checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
layers one at a time (``perfbench/layers.py``), writes the spans under
``.perfbench/traces/`` and prints the per-layer metrics. The last line
of stdout is one JSON object; a table goes to stderr, and a record of
the run with its environment goes to ``.perfbench/records/``. The exit
code is 1 when any stored window is wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
MB = 1e6


@dataclass(frozen=True)
class Workload:
    lines: int
    windows: int


# a single window goes through batch mode, whose sink writes are
# concurrent; a backfill replays its windows through one app.main call
WORKLOADS = {
    "window_100k": Workload(100_000, 1),
    "backfill_2w": Workload(100_000, 2),
}
WARMUP_LINES = 3_000

SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",  # the status store must keep every job
    "spark.ui.retainedStages": "100000",  # until it has been read
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _loadavg() -> float:
    return os.getloadavg()[0]


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks so far; steal is time a neighbour on the
    same host took from this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _source_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dnsflow_clickhouse_spark")
    for d, dirs, fs in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def _commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with fewer than eleven samples no percentile has,
    and the maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100
    p = math.floor(100 * (n - 10) / n)
    return xs[max(0, math.ceil(p / 100 * n) - 1)], p


def _env_setup() -> None:
    """Spark's scratch space stays inside the checkout; local[nproc]."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    SPARK_CONF["spark.driver.extraJavaOptions"] = "-Djava.io.tmpdir=" + os.environ["TMPDIR"]


class Run:
    """One benchmark process: inputs, session, measured loop, checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        from perfbench import gen

        t0 = time.perf_counter()
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.wl = WORKLOADS[workload]
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(WORK, "runs", self.run_id)
        self.dims_dir = os.path.join(self.dir, "dims")
        gen.write_dims(self.dims_dir)
        self.inp = gen.generate(os.path.join(self.dir, "input"), seed, self.wl.lines, self.wl.windows)
        self.warm = gen.generate(os.path.join(self.dir, "warm"), seed, WARMUP_LINES, 1)
        self.windows: list[int] = self.inp["windows"]
        self.spark = None
        self.problems: dict[str, list[str]] = {}
        self.attempted = 0
        self.phases = {"generate_s": time.perf_counter() - t0}

    # -- program entry points -------------------------------------------
    def _main(self, lines_dir: str, out: str, windows: list[int]) -> None:
        from dnsflow_clickhouse_spark import app

        common = ["--input", lines_dir, "--dims", self.dims_dir, "--out", out, "--deterministic"]
        if self.wl.windows == 1:
            app.main(["batch", *common, "--app-time", str(windows[0])])
        else:
            app.main(["backfill", *common, "--start", str(windows[0]),
                      "--end", str(windows[-1] + 300)])

    def setup(self) -> float:
        """Session start + load_dims + one warm-up window on a small input
        through batch mode, for every workload (the first window of a
        session runs 1.5-2x slower). Done once: a second set-up costs
        another 8-20 s, and a run is kept to about a minute."""
        from dnsflow_clickhouse_spark import app
        from dnsflow_clickhouse_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=SPARK_CONF)
        app.load_dims(self.spark, self.dims_dir)
        app.main([
            "batch", "--input", self.warm["lines_dir"], "--dims", self.dims_dir,
            "--out", os.path.join(self.dir, "warm-out"), "--deterministic",
            "--app-time", str(self.warm["windows"][0]),
        ])
        took = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return took

    def stop(self) -> None:
        """Stop the context and the JVM this process launched, and wait
        for it to exit."""
        from pyspark import SparkContext

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.phases["stop_s"] = time.perf_counter() - t0

    # -- correctness ----------------------------------------------------
    def judge(self, out: str, windows: list[int], reference: dict, tag: str) -> None:
        from perfbench import check

        t0 = time.perf_counter()
        found = check.judge(out, windows, self.inp["expected"], reference)
        self.phases["check_s"] = self.phases.get("check_s", 0.0) + time.perf_counter() - t0
        for t, bad in found.items():
            if bad:
                self.problems[f"{tag}@{t}"] = bad

    def fail(self, tag: str, exc: BaseException) -> None:
        _log(traceback.format_exc())
        self.problems[tag] = [repr(exc)]

    # -- untraced -------------------------------------------------------
    def measure(self) -> dict:
        """Closed loop of whole passes (one window, or the whole backfill)
        until ``seconds`` of pass time are spent. Between passes, outside
        the timed path: read counters and retention, then clear the cache."""
        from perfbench.spans import SparkCounters, storage

        counters = SparkCounters(self.spark)
        walls, passes = [], []
        spent = 0.0
        while spent < self.seconds or not passes:
            i = len(passes)
            out = os.path.join(self.dir, f"out-{i}")
            self.attempted += self.wl.windows
            start_wall, t0 = time.time(), time.perf_counter()
            try:
                self._main(self.inp["lines_dir"], out, self.windows)
            except Exception as exc:  # a failed pass counts, the loop goes on
                self.fail(f"pass{i}", exc)
                spent += time.perf_counter() - t0
                passes.append(None)
                continue
            wall = time.perf_counter() - t0
            spent += wall
            cached_mb, persisted = storage(self.spark)
            passes.append({
                "out": out,
                "wall_s": wall,
                "cached_mb_after": cached_mb,
                "persisted_rdds_after": persisted,
                "sink_mb": _dir_bytes(out) / MB,
                **counters.take(),
            })
            walls += self._window_walls(out, start_wall, wall)
            self.spark.catalog.clearCache()
        ok = [p for p in passes if p is not None]
        reference: dict = {}
        for i, p in enumerate(ok):
            self.judge(p["out"], self.windows, reference, f"pass{i}")
        return {"walls": walls, "passes": ok}

    def _window_walls(self, out: str, start_wall: float, wall: float) -> list[float]:
        """Per-window walls of a pass. A backfill writes its windows one
        after another, so window k ends at its last stored file."""
        if self.wl.windows == 1:
            return [wall]
        ends = []
        for t in self.windows:
            mtimes = [
                os.path.getmtime(os.path.join(d, f))
                for table in os.listdir(out)
                for d in [os.path.join(out, table, f"batch_id={t}")]
                if os.path.isdir(d)
                for f in os.listdir(d)
            ]
            ends.append(max(mtimes))
        starts = [start_wall, *ends[:-1]]
        return [e - s for s, e in zip(starts, ends)]

    def end_to_end(self, setup_s: float, m: dict) -> dict:
        passes, walls = m["passes"], m["walls"]
        w = self.wl.windows
        tail_v, tail_p = tail(walls)

        def per_window(k: str) -> float:
            return statistics.median(p[k] for p in passes) / w

        metrics = {
            "setup_s": (setup_s, "s"),
            "window_wall_s.p50": (statistics.median(walls), "s"),
            "window_wall_s.tail": (tail_v, "s"),
            "lines_per_s": (
                self.wl.lines * len(passes) / sum(p["wall_s"] for p in passes),
                "lines/s",
            ),
            "jobs_per_window": (per_window("jobs"), "count"),
            "tasks_per_window": (per_window("tasks"), "count"),
            "shuffle_mb_per_window": (per_window("shuffle_write_mb"), "MB"),
            "executor_cpu_s_per_window": (per_window("executor_cpu_s"), "s"),
            "cached_mb_after": (statistics.median(p["cached_mb_after"] for p in passes), "MB"),
            "sink_mb_written": (statistics.median(p["sink_mb"] for p in passes), "MB"),
        }
        self.extra = {
            "window_wall_samples": walls,
            "tail_percentile": tail_p,
            "tail_samples": len(walls),
            "failed_ratio": self.failed() / self.attempted,
            "persisted_rdds_after": [p["persisted_rdds_after"] for p in passes],
            "passes": passes,
        }
        return metrics

    # -- traced ---------------------------------------------------------
    def traced(self) -> dict:
        """One untraced window (the baseline for the tracing overhead and
        the reference copy of the first window), then traced windows in
        order until ``seconds`` are spent: a traced window costs about
        twice an untraced one, and all backfill windows would not fit
        in a run."""
        from perfbench.layers import traced_window
        from perfbench.spans import SparkCounters, Tracer

        reference: dict = {}
        first = self.windows[:1]
        out = os.path.join(self.dir, "out-untraced")
        self.attempted += 1
        t0 = time.perf_counter()
        self._main(self.inp["lines_dir"], out, first)
        untraced = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.judge(out, first, reference, "untraced")

        tracer = Tracer(self.run_id, SparkCounters(self.spark))
        out = os.path.join(self.dir, "out-traced")
        got, t0 = [], time.perf_counter()
        for t in self.windows:
            self.attempted += 1
            got.append(traced_window(
                self.spark, tracer, self.inp["lines_dir"], self.dims_dir, out, t
            ))
            if time.perf_counter() - t0 >= self.seconds:
                break
        self.judge(out, [g["window"] for g in got], reference, "traced")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{self.run_id}.jsonl"))
        return per_layer(tracer, got, untraced, self.inp["lines"] / self.wl.windows)

    def failed(self) -> int:
        return sum(1 for k in self.problems if "@" in k) + sum(
            self.wl.windows for k in self.problems if "@" not in k
        )

    def record(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm if self.spark is not None else None
        return {
            "run_id": self.run_id,
            "workload": self.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "nproc": _nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
            "spark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version") if jvm else None,
            "python": platform.python_version(),
            "commit": _commit(),
            "source_sha256": _source_sha256(),
            "input": {k: v for k, v in self.inp.items() if k != "expected"},
            "problems": self.problems,
            "phases": self.phases,
        }


def per_layer(tracer, got: list[dict], untraced_s: float, window_lines: float) -> dict:
    """Per-layer metrics, each a mean per traced window."""
    from perfbench.check import REPORTS
    from perfbench.spans import COUNTER_KEYS

    n = len(got)
    windows = [s for s in tracer.spans if s.name == "window"]
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def self_s(name: str) -> float:
        return sum(tracer.self_time(s) for s in by_name.get(name, [])) / n

    def count(key: str) -> float:
        return sum(g[key] for g in got) / n

    def counters(names: list[str]) -> dict[str, float]:
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        for name in names:
            for s in by_name.get(name, []):
                for k, v in tracer.counters(s).items():
                    out[k] = max(out[k], v) if k == "peak_exec_mem_mb" else out[k] + v
        return {k: (v if k == "peak_exec_mem_mb" else v / n) for k, v in out.items()}

    units = {"jobs": "count", "stages": "count", "tasks": "count", "executor_cpu_s": "s"}
    m: dict[str, tuple[float, str]] = {}

    def layer(prefix: str, names: list[str]) -> None:
        for k, v in counters(names).items():
            m[f"{prefix}.{k}"] = (v, units.get(k, "MB"))

    m["app.load_dims_s"] = (self_s("app.load_dims"), "s")
    m["app.load_dims.jobs"] = (counters(["app.load_dims"])["jobs"], "count")
    m["sources.events.parse_s"] = (self_s("sources.events.parse"), "s")
    m["sources.events.lines_in"] = (count("lines_in"), "count")
    m["sources.events.lines_malformed"] = (count("lines_malformed"), "count")
    m["sources.events.parse_per_window_line"] = (count("lines_in") / window_lines, "ratio")
    layer("sources.events.parse", ["sources.events.parse"])
    m["sources.events.derive_s"] = (self_s("sources.events.derive"), "s")
    m["sources.events.rows_in_window"] = (count("rows_in_window"), "count")
    m["sources.events.rows_dropped"] = (count("rows_dropped"), "count")
    layer("sources.events.derive", ["sources.events.derive"])
    m["operators.enrich.base_s"] = (self_s("operators.enrich.base"), "s")
    m["operators.enrich.top_s"] = (self_s("operators.enrich.top"), "s")
    m["operators.enrich.client_miss_rows"] = (count("client_miss_rows"), "count")
    m["operators.enrich.geo_miss_rows"] = (count("geo_miss_rows"), "count")
    layer("operators.enrich.base", ["operators.enrich.base"])
    layer("operators.enrich.top", ["operators.enrich.top"])
    # building the plan runs jobs: the range joins collect their dims
    m["streaming.pipeline.process_batch_s"] = (self_s("streaming.pipeline.process_batch"), "s")
    m["streaming.pipeline.process_batch.jobs"] = (
        counters(["streaming.pipeline.process_batch"])["jobs"], "count"
    )
    m["streaming.pipeline.base_persist_s"] = (self_s("streaming.pipeline.base_persist"), "s")
    m["streaming.pipeline.flow_persist_s"] = (self_s("streaming.pipeline.flow_persist"), "s")
    m["streaming.pipeline.base_cached_mb"] = (count("base_cached_mb"), "MB")
    m["streaming.pipeline.flow_cached_mb"] = (count("flow_cached_mb"), "MB")
    m["streaming.pipeline.persisted_rdds_after"] = (got[-1]["persisted_rdds_after"], "count")
    layer("streaming.pipeline.base_persist", ["streaming.pipeline.base_persist"])
    report_spans = [f"operators.reports.{r}" for r in REPORTS]
    for r in REPORTS:
        m[f"operators.reports.{r}_s"] = (self_s(f"operators.reports.{r}"), "s")
        m[f"operators.reports.{r}_rows"] = (
            sum(g["report_rows"][r] for g in got) / n, "count"
        )
    layer("operators.reports", report_spans)
    rc = counters(report_spans)
    m["operators.reports.shuffle_mb"] = (rc["shuffle_read_mb"] + rc["shuffle_write_mb"], "MB")
    m["io.sink_s"] = (self_s("io.sink"), "s")
    m["io.sink_files"] = (count("sink_files"), "count")
    m["io.sink_mb"] = (count("sink_bytes") / MB, "MB")
    m["io.sink_rows"] = (sum(sum(g["report_rows"].values()) for g in got) / n, "count")
    layer("io.sink", ["io.sink"])
    traced_s = sum(s.duration for s in windows) / n
    m["driver.gap_s"] = (sum(tracer.self_time(s) for s in windows) / n, "s")
    m["driver.traced_window_s"] = (traced_s, "s")
    m["driver.untraced_window_s"] = (untraced_s, "s")
    m["driver.tracing_overhead_s"] = (traced_s - untraced_s, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dnsflow_clickhouse_spark", "app.py")):
        _log("perfbench: run from the repository root (dnsflow_clickhouse_spark/ not found)")
        return 2
    sys.path.insert(0, ROOT)
    _env_setup()
    load_start, ticks_start, t0 = _loadavg(), _cpu_ticks(), time.perf_counter()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        setup_s = run.setup()
        if args.trace:
            metrics, extra = run.traced(), {"setup_s": setup_s}
        else:
            metrics = run.end_to_end(setup_s, run.measure())
            extra = run.extra
        rec = run.record()
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    failed = run.failed()
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    rec.update(extra, load_start=load_start, load_end=_loadavg(),
               cpu_steal_share=ticks[1] / max(ticks[0], 1),
               wall_s=time.perf_counter() - t0,
               metrics={k: v for k, (v, _) in metrics.items()})
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{run.run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    for k, (v, unit) in metrics.items():
        _log(f"{k:<58} {v:>14.4f} {unit}")
    for tag, bad in run.problems.items():
        _log(f"WRONG {tag}: {'; '.join(bad)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
