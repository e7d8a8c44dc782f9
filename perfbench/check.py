"""Output checks against the program's own DuckDB twins.

The comparison rule is ``tools/check_oracles.py``'s, imported from it:
row count, sorted column names, and its order-insensitive value hash.
Expected digests are cached on disk by (seed, workload, op, input digest,
oracle-text digest), so a changed oracle or changed input is recomputed
and oracle time counts in no metric.
"""

from __future__ import annotations

import hashlib
import json
import os


def digest(rows, cols) -> dict:
    from tools.check_oracles import value_hash

    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def ranged_flagship_sql(sql: str, lo: int, hi: int) -> str:
    """Re-range the flagship oracle's ``range(1500)`` image-index generator
    to [lo, hi) and keep the (image_id, poly_id) pairs."""
    old = "FROM range(1500) t(i)"
    if sql.count(old) != 1:
        raise ValueError("flagship oracle no longer generates its ids with range(1500)")
    inner = sql.replace(old, f"FROM range({lo}, {hi}) t(i)")
    return f"SELECT DISTINCT image_id, poly_id FROM ({inner}) o"


class OracleCache:
    """Expected digests on disk, one JSON object keyed by a content key."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}

    @staticmethod
    def key(seed: int, workload: str, op: str, input_digest: str, sql: str) -> str:
        raw = json.dumps([seed, workload, op, input_digest, sql_digest(sql)])
        return hashlib.sha256(raw.encode()).hexdigest()[:24]

    def get_or_compute(self, key: str, compute) -> tuple[dict, bool]:
        if key in self.data:
            return self.data[key], True
        self.data[key] = compute()
        return self.data[key], False

    def save(self) -> None:
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, sort_keys=True)
        os.replace(tmp, self.path)


def duckdb_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return digest(res.fetchall(), cols)
