"""Tests of the benchmark's own code. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import check, gen
from perfbench.run import tail
from perfbench.spans import COUNTER_KEYS, SparkCounters, Tracer


@pytest.fixture(scope="module")
def spark():
    from dnsflow_clickhouse_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, 5_000, 2)
    b = gen.generate(str(tmp_path / "b"), 7, 5_000, 2)
    c = gen.generate(str(tmp_path / "c"), 8, 5_000, 2)
    assert _files(a["lines_dir"]) == _files(b["lines_dir"])
    assert a["expected"] == b["expected"]
    assert (a["bytes"], a["files"], a["malformed_lines"]) == (b["bytes"], b["files"], b["malformed_lines"])
    assert _files(a["lines_dir"]) != _files(c["lines_dir"])


def test_generator_value_mix(tmp_path):
    m = gen.generate(str(tmp_path / "g"), 3, 20_000, 1)
    text = "".join(v.decode() for v in _files(m["lines_dir"]).values())
    for needle in ('"10.0.0.1"', '"10.0.0.2"', '"44.1.1.', '"www.qq.com"',
                   '"rare.baidu.com"', '"http://', '"host.localdomain"',
                   '"Answers":null', '"Answers":[]', '"QR":false', "<garbage"):
        assert needle in text, needle
    assert 0 < m["malformed_lines"] < 0.01 * m["lines"]
    qps = m["expected"][m["windows"][0]]["dns_flow_qps"]
    # the all-clients row is the sum of the per-client rows
    assert qps[(0,)][0] == sum(v[0] for k, v in qps.items() if k != (0,))
    assert qps[(gen.DEFAULT_CLIENT_NAME,)][0] > 0  # out-of-dim clients


def test_expected_aggregates_match_a_tiny_run(spark, tmp_path):
    from dnsflow_clickhouse_spark import app

    m = gen.generate(str(tmp_path / "in"), 11, 4_000, 2)
    dims = str(tmp_path / "dims")
    gen.write_dims(dims)
    out = str(tmp_path / "out")
    app.main(["backfill", "--input", m["lines_dir"], "--dims", dims, "--out", out,
              "--start", str(m["windows"][0]), "--end", str(m["windows"][-1] + 300),
              "--deterministic"])
    spark.catalog.clearCache()
    reference: dict = {}
    found = check.judge(out, m["windows"], m["expected"], reference)
    assert found == {t: [] for t in m["windows"]}
    # a second copy must match the first; a changed expectation must not
    assert check.judge(out, m["windows"], m["expected"], reference) == found
    t = m["windows"][0]
    wrong = {w: {k: dict(v) for k, v in e.items()} for w, e in m["expected"].items()}
    wrong[t]["dns_flow_top_server"][(0, gen.SERVERS[0])] += 1
    assert check.judge(out, [t], wrong, reference)[t]


def test_counters_see_jobs_from_worker_threads(spark):
    counters = SparkCounters(spark)
    df = spark.range(1000)
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda k: df.filter(df.id % 4 == k).count(), range(4)))
    got = counters.take()
    assert got["jobs"] >= 4
    assert got["tasks"] >= 4
    assert counters.take()["jobs"] == 0


class _NoCounters:
    def take(self):
        return dict.fromkeys(COUNTER_KEYS, 0.0)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer("r", _NoCounters())
    with tr.span("root"):
        pass
    root = tr.spans[0]
    root.start, root.end = 0.0, 10.0
    for a, b in ((1.0, 3.0), (2.0, 4.0), (6.0, 7.0)):  # two overlap
        with tr.span("child"):
            pass
        tr.spans[-1].start, tr.spans[-1].end, tr.spans[-1].parent = a, b, 0
    assert tr.self_time(root) == pytest.approx(10.0 - 3.0 - 1.0)


def test_tail_needs_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100)
    xs = [float(i) for i in range(1, 21)]
    assert tail(xs) == (10.0, 50)
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90)


def test_digest_ignores_row_order_only():
    a, b = {"k": 1, "v": "x"}, {"v": "y", "k": 2}
    assert check.digest([a, b]) == check.digest([b, a])
    assert check.digest([a, b]) != check.digest([a])
    assert check.digest([a]) != check.digest([{"k": 1, "v": "z"}])
