"""Seeded generator of the benchmark's inputs: raw DNS JSON-line files,
a parquet dims directory, and the aggregates the stored reports must
hold.

The value mix follows ``sources/synth.py`` (known and out-of-dim
clients, the users alice and bob, authority-domain hits including the
duplicate-key dim row, the whitelist domain, scheme-prefixed and junk
domains, non-zero response codes and answerless responses) and adds
malformed lines and lines outside every window. The program under test
only ever sees the files written here; the expected aggregates are
computed from the generator's own draws, not by the program.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_S = 300
FILE_S = 10  # one input file per 10 s of event time
APP_TIME = 1_700_000_000 - (1_700_000_000 % WINDOW_S)

MALFORMED_SHARE = 0.005
OUT_OF_WINDOW_SHARE = 0.03

SERVERS = ["223.5.5.1", "223.5.5.2", "223.5.5.3", "223.5.5.4"]
DOMAINS = ["www.baidu.com", "www.qq.com", "img.taobao.com", "rare.baidu.com"]
LONG_TAIL = 2000  # d<k>.example.com, k < LONG_TAIL
AIPS = ["172.0.0.60", "8.8.8.8", "1.0.0.9", "172.0.0.150"]
REQUEST_TYPES = ["A", "A", "A", "AAAA", "MX"]
RESPONSE_CODES = [0, 0, 0, 0, 2, 3, 5]
USERS = 5000  # distinct client draws
DEFAULT_CLIENT_NAME = 5

# the four reports whose stored rows are checked against the generator
CHECKED_REPORTS = (
    "dns_flow_qps",
    "dns_flow_response_code",
    "dns_flow_request_type",
    "dns_flow_top_server",
)


def _client(u: int) -> tuple[str, int]:
    """Client IP for user draw ``u`` and the clientName the client rules
    of :func:`write_dims` give it (the all-clients sentinel is 0)."""
    if u % 50 == 0:
        return "10.0.0.1", 1  # alice
    if u % 50 == 1:
        return "10.0.0.2", 1  # bob
    if u % 7 == 0:
        return f"192.168.0.{u % 250}", 3
    if u % 11 == 0:
        return f"44.1.1.{u % 250}", DEFAULT_CLIENT_NAME  # outside every rule
    return f"10.0.{u % 2}.{u % 250}", 1 + u % 2


_CLIENTS = [_client(u) for u in range(USERS)]


def _empty_expected() -> dict[str, Counter]:
    return {name: Counter() for name in CHECKED_REPORTS}


def generate(
    out_dir: str, seed: int, n_lines: int, n_windows: int = 1
) -> dict:
    """Write ``n_lines`` JSON lines for ``n_windows`` consecutive windows
    starting at :data:`APP_TIME` under ``out_dir/lines``.

    Returns a manifest: window start times, line and byte counts, and
    per window the expected rows of :data:`CHECKED_REPORTS` as
    ``{report: {key_tuple: value}}`` with keys as the sink stores them.
    """
    rng = np.random.default_rng(seed)
    start, end = APP_TIME, APP_TIME + n_windows * WINDOW_S
    n = n_lines

    ts = start + rng.integers(0, end - start, n)
    out_of_window = rng.random(n) < OUT_OF_WINDOW_SHARE
    early = rng.random(n) < 0.5
    ts = np.where(
        out_of_window,
        np.where(early, start - 1 - rng.integers(0, WINDOW_S, n), end + rng.integers(0, WINDOW_S, n)),
        ts,
    )
    user = rng.integers(0, USERS, n)
    server = rng.integers(0, len(SERVERS), n)
    dom_pick = rng.integers(0, len(DOMAINS) + 2, n)  # 2/6 long tail
    tail = rng.integers(0, LONG_TAIL, n)
    scheme = rng.random(n) < 1 / 97
    junk = rng.random(n) < 1 / 131
    rtype = rng.integers(0, len(REQUEST_TYPES), n)
    rcode = rng.integers(0, len(RESPONSE_CODES), n)
    qr = rng.random(n) >= 1 / 89
    answerless = rng.random(n) < 1 / 11
    empty_array = rng.random(n) < 0.5  # answerless as [] rather than null
    aip = rng.integers(0, len(AIPS), n)
    cname = rng.integers(0, 1 << 30, n)
    malformed = rng.random(n) < MALFORMED_SHARE
    malformed_kind = rng.integers(0, 3, n)
    file_of_malformed = rng.integers(start - WINDOW_S, end + WINDOW_S, n)

    expected = {t: _empty_expected() for t in range(start, end, WINDOW_S)}
    files: dict[int, list[str]] = {}
    cols = zip(
        ts.tolist(), user.tolist(), server.tolist(), dom_pick.tolist(),
        tail.tolist(), scheme.tolist(), junk.tolist(), rtype.tolist(),
        rcode.tolist(), qr.tolist(), answerless.tolist(),
        empty_array.tolist(), aip.tolist(), cname.tolist(),
        malformed.tolist(), malformed_kind.tolist(),
        file_of_malformed.tolist(),
    )
    for (t, u, s, dp, k, sch, jk, rt, rc_i, is_resp, no_ans, empty, a, cn,
         bad, bad_kind, bad_file) in cols:
        client_ip, client_name = _CLIENTS[u]
        domain = DOMAINS[dp] if dp < len(DOMAINS) else f"d{k}.example.com"
        if jk:
            domain = "host.localdomain"
        elif sch:
            domain = "http://" + domain
        rc = RESPONSE_CODES[rc_i]
        has_answers = rc == 0 and not no_ans
        if has_answers:
            answers = (
                f'[{{"Type":"CNAME","Value":"cn{cn}.cdn.net"}},'
                f'{{"Type":"A","Value":"{AIPS[a]}"}}]'
            )
        else:
            answers = "[]" if empty else "null"
        line = (
            f'{{"Timestamp":{t},"ServerIP":"{SERVERS[s]}",'
            f'"ClientIP":"{client_ip}","Domain":"{domain}",'
            f'"Type":"{REQUEST_TYPES[rt]}","ResponseCode":{rc},'
            f'"QR":{"true" if is_resp else "false"},"Answers":{answers}}}'
        )
        if bad:
            if bad_kind == 0:
                line = line[: len(line) // 2]  # truncated write
            elif bad_kind == 1:
                line = "<garbage " + line[::7] + ">"
            else:
                line = line.replace(f'"Timestamp":{t},', "")
            t = bad_file
        elif is_resp and not jk and start <= t < end:
            w = start + (t - start) // WINDOW_S * WINDOW_S
            error = int(not has_answers)  # rc != 0, or no A answer
            exp = expected[w]
            for cname_key in (0, client_name):
                exp["dns_flow_qps"][(cname_key, "dnsNum")] += 1
                exp["dns_flow_qps"][(cname_key, "errNum")] += error
                exp["dns_flow_response_code"][(cname_key, rc)] += 1
                exp["dns_flow_request_type"][(cname_key, REQUEST_TYPES[rt])] += 1
                exp["dns_flow_top_server"][(cname_key, SERVERS[s])] += 1
        files.setdefault(t - t % FILE_S, []).append(line)

    lines_dir = os.path.join(out_dir, "lines")
    os.makedirs(lines_dir, exist_ok=True)
    n_bytes = 0
    for bucket, lines in sorted(files.items()):
        body = "\n".join(lines) + "\n"
        with open(os.path.join(lines_dir, f"dns_{bucket}.json"), "w", encoding="utf-8") as f:
            f.write(body)
        n_bytes += len(body.encode("utf-8"))

    return {
        "seed": seed,
        "lines_dir": lines_dir,
        "windows": list(expected),
        "lines": n,
        "bytes": n_bytes,
        "files": len(files),
        "malformed_lines": int(malformed.sum()),
        "expected": {w: _finish(e) for w, e in expected.items()},
    }


def _finish(exp: dict[str, Counter]) -> dict[str, dict[tuple, int]]:
    """Counter form -> the rows the sink stores: qps rows keyed by
    clientName with (dnsNum, errNum, avgNum); the ratio reports keyed by
    (clientName, key) with dnsNum."""
    qps = exp["dns_flow_qps"]
    out: dict[str, dict[tuple, int]] = {
        "dns_flow_qps": {
            (c,): (qps[(c, "dnsNum")], qps[(c, "errNum")], qps[(c, "dnsNum")] // WINDOW_S)
            for c, m in qps if m == "dnsNum"
        }
    }
    for name in CHECKED_REPORTS[1:]:
        out[name] = dict(exp[name])
    return out


def write_dims(dims_dir: str) -> None:
    """The ``demo_dims`` tables as parquet, one ``<field>.parquet`` per
    EnrichDims field (what ``app.load_dims`` reads)."""
    ten, one92, one72 = 10 << 24, (192 << 24) + (168 << 16), 172 << 24
    i64, i32, s = pa.int64(), pa.int32(), pa.string()
    tables = {
        "client_rules": (
            [("min_long_ip", i64), ("max_long_ip", i64), ("client_type_id", i32)],
            [(ten, ten + 255, 1), (ten + 256, ten + 511, 2), (one92, one92 + 65535, 3)],
        ),
        "media_rules": (
            [("min_long_ip", i64), ("max_long_ip", i64)],
            [(one72, one72 + (1 << 16) - 1)],
        ),
        "segment_rules": (
            [("min_long_ip", i64), ("max_long_ip", i64), ("resource_name", s),
             ("resource_type", s), ("resource_props", s), ("rule_idx", i32)],
            [(one72, one72 + 100, "cacheA", "cdn", "video", 0),
             (one72 + 50, one72 + 200, "cacheB", "cdn", "web", 1)],  # overlap: last wins
        ),
        "auth_domains": (
            [("authorityDomain", s), ("companyName", s), ("soft", s),
             ("websiteName", s), ("websiteType", s), ("rule_idx", i32)],
            [("baidu.com", "百度", "search", "baidu", "portal", 0),
             ("qq.com", "腾讯OLD", "im", "qq", "social", 1),
             ("qq.com", "腾讯", "im", "qq", "social", 2)],  # dup key: last wins
        ),
        "geo": (
            [("min_long_ip", i64), ("max_long_ip", i64), ("country", s),
             ("province", s), ("city", s), ("operator", s)],
            [(one72, one72 + (1 << 16) - 1, "中国", "浙江", "杭州", "电信"),
             (8 << 24, (8 << 24) + (1 << 24) - 1, "美国", "加州", "山景城", "谷歌"),
             (1 << 24, (1 << 24) + (1 << 16) - 1, "中国", "上海", "上海", "联通")],
        ),
        "whitelist": ([("domain", s)], [("rare.baidu.com",)]),
        "users": (
            [("clientIp", s), ("userName", s)],
            [("10.0.0.1", "alice"), ("10.0.0.2", "bob")],
        ),
        "user_info": (
            [("userName", s), ("phone", s), ("address", s)],
            [("alice", "137", "hangzhou"), ("bob", "138", "ningbo")],
        ),
        "domain_tags": (
            [("domain", s), ("tag1", s), ("tag2", s), ("tag3", s)],
            [("www.baidu.com", "search", "web", "cn"), ("www.qq.com", "social", "im", "cn")],
        ),
    }
    for name, (fields, rows) in tables.items():
        schema = pa.schema(fields)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        path = os.path.join(dims_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
