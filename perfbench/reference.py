"""Independent reference answers, computed with DuckDB from the same input
files the program read. Nothing here is timed."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ORACLE_CHECK = None


def oracle_hash(columns, rows) -> str:
    """The order-insensitive value hash of ``scripts/oracle_check.py``."""
    global _ORACLE_CHECK
    if _ORACLE_CHECK is None:
        path = os.path.join(ROOT, "scripts", "oracle_check.py")
        spec = importlib.util.spec_from_file_location("oracle_check", path)
        module = importlib.util.module_from_spec(spec)
        saved = list(sys.path)  # the script prepends its own checkout path
        try:
            spec.loader.exec_module(module)
        finally:
            sys.path[:] = saved
        _ORACLE_CHECK = module
    return _ORACLE_CHECK.table_hash(list(columns), [tuple(r) for r in rows])


class BatchReference:
    """DuckDB over a set of event batch files, reloaded when the set
    changes."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self._files: tuple[str, ...] | None = None

    def load(self, files: tuple[str, ...]) -> None:
        if files == self._files:
            return
        if files:
            listed = ", ".join(f"'{f}'" for f in files)
            self.con.execute(f"CREATE OR REPLACE TABLE b AS SELECT * FROM read_parquet([{listed}])")
        else:
            self.con.execute(
                "CREATE OR REPLACE TABLE b (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type VARCHAR, value DOUBLE, props VARCHAR)"
            )
        self._files = files

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def check_aggregate(ref: BatchReference, family: str, p: dict, records: list[dict]) -> bool:
    """Compare one aggregation result with DuckDB over the loaded batches,
    under the query's filter."""
    if family == "group_all":
        (cnt, s), = ref.rows(f"SELECT COUNT(*), SUM(value) FROM b WHERE value > {p['t']}")
        return len(records) == 1 and records[0]["cnt"] == cnt and _close(records[0]["s"], s)
    if family == "group_type":
        want = {r[0]: r[1:] for r in ref.rows(
            f"SELECT event_type, COUNT(*), SUM(value) FROM b WHERE value > {p['t']} GROUP BY 1")}
        got = {r["event_type"]: (r["cnt"], r["s"]) for r in records}
        return len(got) == len(records) and got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and _close(got[k][1], want[k][1]) for k in want)
    if family == "group_user":
        want = {r[0]: r[1:] for r in ref.rows(
            f"SELECT user_id, COUNT(*), MAX(value) FROM b "
            f"WHERE user_id < {p['u']} AND value > {p['t']} GROUP BY 1")}
        got = {r["user_id"]: (r["cnt"], r["mx"]) for r in records}
        return len(got) == len(records) and got == want
    if family == "top_k":
        want = ref.rows(
            f"SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c FROM b "
            f"WHERE value > {p['t']} GROUP BY 1 ORDER BY c DESC, k LIMIT {p['k']}")
        return [(r["user_id"], r["cnt"]) for r in records] == [tuple(w) for w in want]
    if family == "freq":
        pts = p["points"]
        edges = [f"value < {pts[0]}"] + [
            f"value >= {lo} AND value < {hi}" for lo, hi in zip(pts, pts[1:])
        ] + [f"value >= {pts[-1]}"]
        cols = ", ".join(f"COUNT(*) FILTER (WHERE {e})" for e in edges)
        want = list(ref.rows(f"SELECT {cols} FROM b WHERE event_type = '{p['et']}'")[0])
        total = sum(want) or 1
        return [r["count"] for r in records] == want and all(
            abs(r["probability"] - c / total) <= 1e-6 for r, c in zip(records, want))
    if family == "count_distinct":
        (u,), = ref.rows(f"SELECT COUNT(DISTINCT user_id) FROM b WHERE value > {p['t']}")
        return len(records) == 1 and records[0]["u"] == u
    raise ValueError(f"unknown family {family}")


def check_raw(ref: BatchReference, p: dict, records: list[dict], lo_id: int, hi_id: int) -> bool:
    """A RAW ``LIMIT n`` result over the loaded batches: it holds
    ``min(n, matching rows)`` rows, each satisfying the filter and equal to
    a row of a consumed batch (event ids ``[lo_id, hi_id)``)."""
    (matching,), = ref.rows(f"SELECT COUNT(*) FROM b WHERE value > {p['t']}")
    if len(records) != min(p["n"], matching):
        return False
    ids = [r["event_id"] for r in records]
    if len(set(ids)) != len(ids) or not all(lo_id <= i < hi_id for i in ids):
        return False
    if not records:
        return True
    source = {r[0]: r[1:] for r in ref.rows(
        f"SELECT event_id, user_id, value FROM b WHERE event_id IN ({', '.join(map(str, ids))})")}
    return all(
        r["value"] > p["t"] and source.get(r["event_id"]) == (r["user_id"], r["value"])
        for r in records
    )


class CachedTwins:
    """Reference answers of registry entries: the entry's DuckDB twin
    (``__spark_entry__.oracle_sql()``) over a fixed table directory, kept
    on disk keyed by the twin's SQL and the tables' contents."""

    def __init__(self, table_dir: str, cache_dir: str) -> None:
        self.table_dir = table_dir
        self.cache_dir = cache_dir
        self._con = None
        digest = hashlib.sha256()
        for name in sorted(os.listdir(table_dir)):
            with open(os.path.join(table_dir, name), "rb") as f:
                digest.update(name.encode() + hashlib.sha256(f.read()).digest())
        self._tables_digest = digest.hexdigest()

    def get(self, sql: str) -> dict:
        key = hashlib.sha256((self._tables_digest + sql).encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"twin-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        columns, rows = self.query(sql)
        out = {"rows": len(rows), "hash": oracle_hash(columns, rows)}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Uncached: run ``sql`` against the tables."""
        if self._con is None:
            self._con = duckdb.connect()
            for name in os.listdir(self.table_dir):
                self._con.execute(
                    f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.table_dir, name)}')"
                )
        rel = self._con.sql(sql)
        return rel.columns, rel.fetchall()
