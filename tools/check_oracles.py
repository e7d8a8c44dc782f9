"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compare row count + sorted column names + order-insensitive value hash.
First prints one `contract:` line with the sha256 digests of the driver
contract, so two checkouts can be compared by diffing that line.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from extractors_geo_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm_cell(v):
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def contract_digests() -> str:
    """sha256 of DRIVER_WINDOW (as a JSON list), of oracle_sql() (JSON,
    sorted keys) and of every SQL_* text (each hashed, then the
    name -> digest map hashed as JSON, sorted keys)."""
    def sha(text):
        return hashlib.sha256(text.encode()).hexdigest()

    sql = {k: sha(v) for k, v in vars(E).items() if k.startswith("SQL_") and isinstance(v, str)}
    return (f"contract: DRIVER_WINDOW {sha(json.dumps(list(E.DRIVER_WINDOW)))}"
            f" oracle_sql {sha(json.dumps(E.oracle_sql(), sort_keys=True))}"
            f" SQL_*[{len(sql)}] {sha(json.dumps(sql, sort_keys=True))}")


def main():
    print(contract_digests(), flush=True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle_check", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {type(ex).__name__}: {str(ex)[:300]}")
            fails.append(name)
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        sh = value_hash(srows, scols)
        dh = value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK   " if (ok_count and ok_schema and ok_hash) else "FAIL "
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} schema={ok_schema} hash={ok_hash} [{time.time()-t0:.1f}s]")
        if status.startswith("FAIL"):
            fails.append(name)
            if not ok_schema:
                print(f"       spark cols: {sorted(scols)}\n       duck  cols: {sorted(dcols)}")
            elif not ok_hash and len(srows) == len(drows):
                sset = {tuple(norm_cell(v) for v in r) for r in srows}
                # align column order to sorted for comparison
                sorder = sorted(range(len(scols)), key=lambda i: scols[i])
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = {tuple(norm_cell(r[i]) for i in sorder) for r in srows}
                dset = {tuple(norm_cell(r[i]) for i in dorder) for r in drows}
                diff_s = list(sset - dset)[:3]
                diff_d = list(dset - sset)[:3]
                print(f"       only-spark: {diff_s}\n       only-duck:  {diff_d}")
    print(f"\n{len(fails)} failures: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
