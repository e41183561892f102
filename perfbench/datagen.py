"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed and the requested size,
so one seed always yields byte-identical inputs. Nothing reads the
engine: the syslog generator's expected counts come from its own copy
of the reference classifier ladder, so they are an independent ground
truth for the engine's parser.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    span = (end - start).days
    us = _micros(start) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def make_tables(seed: int, n_events: int) -> dict[str, pa.Table]:
    """Star schema plus ``events`` with the layout of FIXTURES.md §A.

    The dimension sizes keep the ratios of the repo's reference
    fixtures: 1.5 orders and 6 line items per event, one customer per
    ten orders, about 66 events per user.
    """
    rng = np.random.default_rng(seed)
    n_orders = n_events * 3 // 2
    n_lines = n_events * 6
    n_cust = max(10, n_orders // 10)
    n_users = max(10, n_events // 66)

    start = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.clip(np.round(rng.exponential(50.0, n_events), 2), 0.01, 490.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(10, n_orders // 7), n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, n_orders // 150), n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
        "l_linestatus": _pick(rng, ("F", "O"), n_lines),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_lines),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(list(REGIONS)),
    })
    return {"events": events, "orders": orders, "customer": customer,
            "lineitem": lineitem, "nation": nation, "region": region}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One snappy parquet file per table, as ``<name>.parquet``;
    returns the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return sum(t.num_rows for t in tables.values())


# ---------------------------------------------------------------- syslog

# The reference classifier (FIXTURES.md §B): the first substring that
# matches names the event. Kept here, not imported from the engine, so
# the expected counts check the parser instead of repeating it.
REFERENCE_LADDER = (
    ("Invalid user", "invalid_user"),
    ("Failed password", "failed_password"),
    ("authentication failure", "auth_failure"),
    ("reverse mapping", "reverse_mapping_check"),
    ("Connection closed", "connection_closed"),
    ("Received disconnect", "disconnect"),
    ("Did not receive identification string", "no_identification"),
    ("Too many authentication failures", "too_many_failures"),
    ("ignoring max retries", "ignoring_max_retries"),
    ("Failed none", "failed_none"),
)

# Every sshd message shape of FIXTURES.md §B, with a relative weight.
SSHD_SHAPES = (
    (6, "Invalid user {user} from {ip}"),
    (12, "Failed password for {user} from {ip} port {port} ssh2"),
    (4, "Failed password for invalid user {user} from {ip} port {port} ssh2"),
    (5, "pam_unix(sshd:auth): authentication failure; logname= uid=0 euid=0 "
        "tty=ssh ruser= rhost={ip}  user={user}"),
    (2, "reverse mapping checking getaddrinfo for host{n}.example [{ip}] "
        "failed - POSSIBLE BREAK-IN ATTEMPT!"),
    (6, "Connection closed by {ip} [preauth]"),
    (5, "Received disconnect from {ip}: 11: Bye Bye [preauth]"),
    (2, "Did not receive identification string from {ip}"),
    (2, "error: maximum authentication attempts exceeded for {user} from {ip} "
        "port {port} ssh2 [preauth] Too many authentication failures for "
        "{user} from {ip} port {port} ssh2 [preauth]"),
    (1, "PAM service(sshd) ignoring max retries; 6 > 3"),
    (2, "Failed none for invalid user {user} from {ip} port {port} ssh2"),
    (4, "Accepted password for {user} from {ip} port {port} ssh2"),
    (1, "Timeout, client not responding."),
    (1, "Received disconnect from {ip}: Connection closed"),
)
# Lines the master regex must drop: another daemon, and no syslog shape.
NOISE_SHAPES = (
    (2, "{mon} {day:2d} {time} srv{host} CRON[{pid}]: pam_unix(cron:session): session opened"),
    (1, "not a syslog line at all {n}"),
)
USERS = ("root", "admin", "ubuntu", "oracle", "test", "guest")
MONTHS = ("Jan", "Feb", "Mar")
# Six calendar days (FIXTURES.md §B asks for >= 3) keep the store's date
# partitions, and so the files each ETL writes, few.
SPAN_DAYS = 6


def classify(message: str) -> str:
    for needle, tag in REFERENCE_LADDER:
        if needle in message:
            return tag
    return "other"


def _ips(rng, n: int) -> list[str]:
    """~20 distinct addresses; two attackers take a third of the lines."""
    pool = [f"203.0.113.{i}" for i in (7, 9)] + [f"198.51.100.{i}" for i in range(2, 20)]
    weights = np.array([8.0, 8.0] + [1.0] * 18)
    return [pool[i] for i in rng.choice(len(pool), n, p=weights / weights.sum())]


def make_syslog(seed: int, n_lines: int, n_files: int, out_dir: str) -> dict:
    """Write ``n_lines`` raw syslog lines as ``n_files`` equal files.

    Lines are in time order across files (the files cover consecutive
    slices of the first SPAN_DAYS days of 2024), and the files get
    increasing mtimes, so a file-tail stream reads them oldest first and
    no row falls behind the watermark. Returns the ground truth: lines written, lines the
    master regex keeps, and the expected count per event tag.
    """
    rng = np.random.default_rng(seed)
    shapes = SSHD_SHAPES + NOISE_SHAPES
    w = np.array([s[0] for s in shapes], dtype=float)
    kinds = rng.choice(len(shapes), n_lines, p=w / w.sum())
    ips = _ips(rng, n_lines)
    users = np.asarray(USERS, dtype=object)[rng.integers(0, len(USERS), n_lines)]
    ports = rng.integers(1024, 65536, n_lines)
    pids = rng.integers(100, 40000, n_lines)
    hosts = rng.integers(0, 4, n_lines)
    # seconds since Jan 1, sorted; day d maps to MONTHS[d // 28], d % 28 + 1
    secs = np.sort(rng.integers(0, SPAN_DAYS * 86400, n_lines))

    expected: Counter = Counter()
    valid = 0
    lines = []
    for i in range(n_lines):
        k = int(kinds[i])
        s = int(secs[i])
        day_index, rest = divmod(s, 86400)
        mon, day = MONTHS[day_index // 28], day_index % 28 + 1
        clock = f"{rest // 3600:02d}:{rest // 60 % 60:02d}:{rest % 60:02d}"
        fields = dict(user=users[i], ip=ips[i], port=int(ports[i]), n=i,
                      mon=mon, day=day, time=clock, host=int(hosts[i]), pid=int(pids[i]))
        if k < len(SSHD_SHAPES):
            message = shapes[k][1].format(**fields)
            lines.append(f"{mon} {day:2d} {clock} srv{fields['host']} sshd[{fields['pid']}]: {message}")
            expected[classify(message)] += 1
            valid += 1
        else:
            lines.append(shapes[k][1].format(**fields))

    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-n_lines // n_files)
    base = 1_700_000_000
    for f in range(n_files):
        path = os.path.join(out_dir, f"ssh-{f:03d}.log")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n")
        os.utime(path, (base + f, base + f))
    return {"lines": n_lines, "valid": valid, "events": dict(expected)}
