"""Input generator and reference figures for the lake_ingest workload.

Turns the one-month `events` table into a history of consecutive months:
the same users and event types, each month shifted by whole months with a
seeded jitter of up to half an hour (kept inside its month, so the stream
stays append-only), fresh event ids, FILES_PER_MONTH files per month.

The reference figures the published lake tables must match are computed
here, from the rows written, and never by reading the input back through
the engine under test.
"""
import datetime as dt
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_MONTH = 4
BOOTSTRAP_MONTHS = 3  # months the one-shot pipeline run starts from
SESSION_GAP_US = 30 * 60 * 1_000_000  # graft.operators.Etl.SessionGapMinutes
# KLL at the engine's k = 200 has a normalized rank error of 1.33%; one more
# item of slack covers the two middle values of an even count.
KLL_RANK_ERROR = 0.0133
DAY_US = 86_400 * 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def to_us(t):
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def from_us(us):
    return EPOCH + dt.timedelta(microseconds=int(us))


def add_months(t, n):
    y, m = divmod(t.month - 1 + n, 12)
    y, m = t.year + y, m + 1
    last = (dt.datetime(y + m // 12, m % 12 + 1, 1) - dt.timedelta(days=1)).day
    return t.replace(year=y, month=m, day=min(t.day, last))


def month_rng(seed, m):
    """The jitter generator of month m. Any integer seed is accepted: it is
    hashed down to the 32 bits numpy's RandomState takes."""
    digest = hashlib.sha256(f"{seed}/{m}".encode()).digest()
    return np.random.RandomState(int.from_bytes(digest[:4], "little"))


def month_of(us):
    t = from_us(us)
    return to_us(dt.datetime(t.year, t.month, 1))


def generate(data_dir, out_dir, seed, months):
    table = pq.read_table(os.path.join(data_dir, "events.parquet"))
    base = table.to_pydict()
    base["ts"] = table.column("ts").cast(pa.timestamp("us"), safe=False).to_pylist()
    ts0 = [to_us(t) for t in base["ts"]]
    first = from_us(min(ts0)).replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    history = []
    for m in range(1, months + 1):
        lo = to_us(add_months(first, m - 1))
        hi = to_us(add_months(first, m)) - 1
        jitter = month_rng(seed, m).randint(-1800, 1801, len(ts0))
        ts = [min(hi, max(lo, to_us(add_months(from_us(t - t % 1_000_000), m - 1))
                          + t % 1_000_000 + int(j) * 1_000_000))
              for t, j in zip(ts0, jitter)]
        rows = sorted(zip(ts, (m * 100_000_000 + i for i in base["event_id"]),
                          base["user_id"], base["event_type"], base["value"], base["props"]),
                      key=lambda r: (r[0], r[1]))
        history.append(rows)
        d = os.path.join(out_dir, "src", f"m{m}")
        os.makedirs(d, exist_ok=True)
        chunk = math.ceil(len(rows) / FILES_PER_MONTH)
        for i in range(FILES_PER_MONTH):
            part = rows[i * chunk:(i + 1) * chunk]
            pq.write_table(pa.table({
                "event_id": pa.array([r[1] for r in part], pa.int64()),
                "ts": pa.array([r[0] for r in part], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in part], pa.int64()),
                "event_type": pa.array([r[3] for r in part], pa.string()),
                "value": pa.array([r[4] for r in part], pa.float64()),
                "props": pa.array([r[5] for r in part], pa.string()),
            }), os.path.join(d, f"part-{i:05d}.parquet"))
    expected = {"bootstrap": BOOTSTRAP_MONTHS,
                "month_start": [add_months(first, k).date().isoformat() for k in range(months)],
                "after": {str(k): figures(history[:k]) for k in range(BOOTSTRAP_MONTHS, months + 1)}}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


def figures(months):
    """Exact figures of the lake once `months` have landed."""
    evs = [r for rows in months for r in rows]
    by_user, by_type = {}, {}
    for ts, _, user, kind, value, _ in evs:
        by_user.setdefault(user, []).append((ts, value))
        by_type.setdefault(kind, set()).add(user)
    users, sessions = {}, 0
    for user, xs in by_user.items():
        ts = sorted(t for t, _ in xs)
        sessions += 1 + sum(b > a + SESSION_GAP_US for a, b in zip(ts, ts[1:]))
        vs = sorted(v for _, v in xs)
        n = len(vs)
        slack = KLL_RANK_ERROR * n + 1
        lo = max(0, math.ceil(n / 2 - slack) - 1)
        hi = min(n - 1, math.floor(n / 2 + slack))
        users[str(user)] = [n, ts[0], ts[-1], vs[lo], vs[hi]]
    last = months[-1]
    kinds = sorted(by_type)
    return {
        "events": len(evs),
        "sessions": sessions,
        "user_months": len({(r[2], month_of(r[0])) for r in evs}),
        "days": len({r[0] // DAY_US for r in evs}),
        "users": users,
        "reach": {k: len(by_type[k]) for k in kinds},
        "overlap": {f"{a}|{b}": len(by_type[a] & by_type[b])
                    for i, a in enumerate(kinds) for b in kinds[i + 1:]},
        "month_events": len(last),
        "month_users": len({r[2] for r in last}),
    }
