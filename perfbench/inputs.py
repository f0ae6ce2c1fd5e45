"""Seeded input generation: the event micro-batches of the streaming
workloads and the BQL each workload submits.

Everything the streaming engine receives is made here, from the seed, and
written as parquet files; the program sees only those files and BQL
strings. The columns follow the sf0.1 ``events`` table, as measured there:
1500 users, five event types in equal shares, ``value`` exponential with
mean 50 rounded to cents (sf0.1: mean 49.9, median 34.8), ``props`` a
one-key JSON object. ``user_id`` is Zipf-skewed (s = 1.1), unlike sf0.1,
whose users are near-uniform (45..99 rows each): the skew is what makes a
few GROUP BY and TOP K keys hot, as in a live event stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_USERS = 1500
ZIPF_S = 1.1
VALUE_MEAN = 50.0
EVENTS_SCHEMA_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

_USER_P = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
_USER_P /= _USER_P.sum()


def _users(rng: np.random.Generator, n: int, perm: np.ndarray) -> np.ndarray:
    return perm[rng.choice(N_USERS, size=n, p=_USER_P)]


def _events(rng, n: int, first_id: int, ts_start_us: int, span_us: int, perm):
    ts = ts_start_us + np.sort(rng.integers(0, max(span_us, 1), n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(_users(rng, n, perm), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


class BatchWriter:
    """Writes the event micro-batches of one stream. Batch ``k`` holds
    event ids ``[k * rows, (k + 1) * rows)``; its contents depend only on
    the seed and ``k``."""

    def __init__(self, directory: str, seed: int, rows: int, interval_s: float):
        self.directory = directory
        self.seed = seed
        self.rows = rows
        self.interval_us = int(interval_s * 1e6)
        os.makedirs(directory, exist_ok=True)
        self.perm = np.random.default_rng([seed, 0]).permutation(N_USERS)

    def path(self, k: int) -> str:
        return os.path.join(self.directory, f"batch-{k:05d}.parquet")

    def write(self, k: int) -> None:
        rng = np.random.default_rng([self.seed, 1, k])
        table = _events(
            rng, self.rows, k * self.rows,
            1_700_000_000_000_000 + k * self.interval_us, self.interval_us,
            self.perm,
        )
        pq.write_table(table, self.path(k))


# --- query schedules ----------------------------------------------------------


class StreamQuery:
    """One streaming query: its family, its BQL, and the parameters the
    reference check needs."""

    def __init__(self, family: str, params: dict, bql: str) -> None:
        self.family = family
        self.params = params
        self.bql = bql


FLEET_FAMILIES = ["group_all", "group_type", "group_user", "top_k", "freq", "count_distinct"]


def fleet_generation(rng: np.random.Generator, n: int, duration_ms: int,
                     window_ms: int) -> list[StreamQuery]:
    """``n`` windowed aggregations spread over six families."""
    src = f"STREAM({duration_ms}, TIME)"
    win = f"WINDOWING EVERY({window_ms}, TIME)"
    out = []
    for i in range(n):
        family = FLEET_FAMILIES[i % len(FLEET_FAMILIES)]
        t = round(float(rng.uniform(0.0, 120.0)), 2)
        if family == "group_all":
            p = {"t": t}
            bql = f"SELECT COUNT(*) AS cnt, SUM(value) AS s FROM {src} WHERE value > {t} {win}"
        elif family == "group_type":
            p = {"t": t}
            bql = (f"SELECT event_type, COUNT(*) AS cnt, SUM(value) AS s FROM {src} "
                   f"WHERE value > {t} GROUP BY event_type {win}")
        elif family == "group_user":
            p = {"t": t, "u": int(rng.integers(50, 480))}
            bql = (f"SELECT user_id, COUNT(*) AS cnt, MAX(value) AS mx FROM {src} "
                   f"WHERE user_id < {p['u']} AND value > {t} GROUP BY user_id {win}")
        elif family == "top_k":
            p = {"t": t, "k": int(rng.integers(3, 11))}
            bql = f"SELECT TOP({p['k']}, user_id) AS cnt FROM {src} WHERE value > {t} {win}"
        elif family == "freq":
            lo = int(rng.integers(5, 30))
            p = {"et": EVENT_TYPES[int(rng.integers(0, 5))], "points": [lo, lo + 40, lo + 100]}
            pts = ", ".join(str(x) for x in p["points"])
            bql = (f"SELECT FREQ(value, MANUAL, {pts}) FROM {src} "
                   f"WHERE event_type = '{p['et']}' {win}")
        else:  # count_distinct
            p = {"t": t}
            bql = f"SELECT COUNT(DISTINCT user_id) AS u FROM {src} WHERE value > {t} {win}"
        out.append(StreamQuery(family, p, bql))
    return out


def churn_raw(rng: np.random.Generator) -> StreamQuery:
    """A RAW ``LIMIT n`` query whose filter matches 1-5% of the rows, so it
    fills within a few small batches."""
    p = {"t": round(float(rng.uniform(150.0, 230.0)), 2), "n": int(rng.integers(20, 101))}
    return StreamQuery(
        "raw", p,
        f"SELECT event_id, user_id, value FROM STREAM(10000, TIME) "
        f"WHERE value > {p['t']} LIMIT {p['n']}",
    )


def churn_short_agg(rng: np.random.Generator) -> StreamQuery:
    """A short unwindowed GROUP BY that ends by duration."""
    p = {"t": round(float(rng.uniform(0.0, 100.0)), 2)}
    dur = int(rng.choice([2000, 3000, 4000]))
    return StreamQuery(
        "group_type", p,
        f"SELECT event_type, COUNT(*) AS cnt, SUM(value) AS s FROM STREAM({dur}, TIME) "
        f"WHERE value > {p['t']} GROUP BY event_type",
    )


ONESHOT_KINDS = 6


def oneshot_bql(rng: np.random.Generator, kind: int) -> str:
    """A synchronous BQL query of shape ``kind`` over ``events`` or
    ``lineitem``, with seeded parameters."""
    t = round(float(rng.uniform(0.0, 150.0)), 2)
    if kind == 0:
        return (f"SELECT event_type, COUNT(*) AS cnt, SUM(value) AS s FROM events "
                f"WHERE value > {t} GROUP BY event_type")
    if kind == 1:
        return f"SELECT COUNT(DISTINCT user_id) AS u FROM events WHERE value > {t}"
    if kind == 2:
        return (f"SELECT TOP({int(rng.integers(3, 11))}, user_id) AS cnt FROM events "
                f"WHERE value > {t}")
    if kind == 3:
        return (f"SELECT event_id, user_id, value FROM events WHERE value > {t + 150} "
                f"ORDER BY event_id LIMIT {int(rng.integers(10, 60))}")
    d = round(float(rng.integers(0, 10)) / 100.0, 2)
    if kind == 4:
        return (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, "
                f"SUM(l_quantity) AS qty, AVG(l_discount) AS disc FROM lineitem "
                f"WHERE l_discount > {d} GROUP BY l_returnflag, l_linestatus")
    return (f"SELECT COUNT(*) AS cnt, MAX(l_extendedprice) AS mx FROM lineitem "
            f"WHERE l_quantity > {int(rng.integers(1, 50))} AND l_discount > {d}")
