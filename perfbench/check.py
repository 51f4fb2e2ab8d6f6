"""Read the stored reports back from the sink and judge each window.

A window is correct when the four checked reports hold exactly the rows
the generator expects, and every one of the 18 reports has the same row
count and order-insensitive digest as the reference copy of that window
(the first copy the run stored). The sink is read with pyarrow, so the
check adds no Spark jobs.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

REPORTS = (
    "dns_flow_qps",
    "dns_flow_request_type",
    "dns_flow_response_type",
    "dns_flow_response_code",
    "dns_flow_code_domain",
    "dns_flow_code_authority",
    "dns_flow_code_domain_client",
    "dns_flow_code_authority_client",
    "dns_flow_code_client_ip",
    "dns_flow_code_client_ip_client",
    "dns_flow_clear",
    "dns_flow_trend",
    "dns_flow_top_business",
    "dns_flow_top_server",
    "dns_flow_top_province",
    "dns_flow_top_operator",
    "bigdata_dns_flow_top_user",
    "dns_middle_user",
)

# stored columns of the checked reports: key columns, then value columns
_CHECKED_COLUMNS = {
    "dns_flow_qps": (["clientName"], ["dnsNum", "errNum", "avgNum"]),
    "dns_flow_response_code": (["clientName", "responseCode"], ["dnsNum"]),
    "dns_flow_request_type": (["clientName", "requestType"], ["dnsNum"]),
    "dns_flow_top_server": (["clientName", "dnsIp"], ["dnsNum"]),
}


def stored_rows(out_dir: str, report: str, t: int) -> list[dict]:
    """Rows of ``report`` stored for window ``t``; none when the window
    wrote no partition (an empty report writes nothing)."""
    part = os.path.join(out_dir, report, f"batch_id={t}")
    if not os.path.isdir(part):
        return []
    return pq.read_table(part).to_pylist()


def digest(rows: list[dict]) -> str:
    """Sum of per-row hashes over the columns in name order, so row
    order does not matter."""
    total = 0
    for r in rows:
        canon = json.dumps([r[k] for k in sorted(r)], default=str, ensure_ascii=False)
        total += int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "big")
    return f"{total % (1 << 64):016x}"


def _checked(rows: list[dict], keys: list[str], values: list[str]) -> dict[tuple, object]:
    out = {}
    for r in rows:
        v = tuple(r[c] for c in values)
        out[tuple(r[c] for c in keys)] = v if len(v) > 1 else v[0]
    return out


def judge(
    out_dir: str,
    windows: list[int],
    expected: dict[int, dict[str, dict[tuple, object]]],
    reference: dict[tuple[str, int], tuple[int, str]],
) -> dict[int, list[str]]:
    """Problems found per window (an empty list means the window is
    correct). ``reference`` is filled from the first copy of each window
    seen and compared against afterwards."""
    problems: dict[int, list[str]] = {}
    for t in windows:
        bad = problems.setdefault(t, [])
        for name in REPORTS:
            rows = stored_rows(out_dir, name, t)
            if name in _CHECKED_COLUMNS:
                got = _checked(rows, *_CHECKED_COLUMNS[name])
                exp = expected[t][name]
                if got != exp:
                    diff = sorted(set(got.items()) ^ set(exp.items()), key=str)[:4]
                    bad.append(f"{name}: stored rows differ from expected, e.g. {diff}")
            seen = (len(rows), digest(rows))
            ref = reference.setdefault((name, t), seen)
            if seen != ref:
                bad.append(f"{name}: rows/digest {seen} differ from {ref}")
    return problems
