"""Local differential harness — mimics the driver's t2 gate.

Runs every __spark_entry__.queries() entry at a given sf_dir via Spark AND
its oracle_sql() via DuckDB, then compares: row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name, values
canonicalized). Rows-only queries are executed for determinism (two runs
must agree on row count).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from nyc_bikeshare_datawarehouse_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a value for hashing (mirror of what a sane driver does:
    stringify with stable float/timestamp forms)."""
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def frame_signature(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mapped = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.md5()
    for r in mapped:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_rows = sdf.collect()
            s_cols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        # The DRIVER's hasher cannot canonicalize non-scalar columns (its
        # pandas sort dies on 'unhashable type: list' — r03 q_collect_agg
        # ERR). Reject them here so the break is caught pre-driver:
        # serialize arrays/structs/maps before the contract boundary.
        bad = [f"{c}:{t}" for c, t in sdf.dtypes
               if t.startswith(("array", "struct", "map", "binary"))]
        if bad:
            failures.append(name)
            print(f"FAIL  {name}: non-scalar output columns (driver hasher "
                  f"cannot canonicalize them): {bad}")
            continue
        if name not in oracles:
            # rows-only queries still must be deterministic: execute twice
            # and require identical value hashes
            h1 = frame_signature([tuple(r) for r in s_rows], s_cols)
            rerun = fn(spark, sf_dir).collect()
            h2 = frame_signature([tuple(r) for r in rerun], s_cols)
            if h1 != h2:
                failures.append(name)
                print(f"FAIL  {name}: rows-only NONDETERMINISTIC across runs "
                      f"({len(s_rows)} vs {len(rerun)} rows)")
            else:
                print(f"rows  {name}: {len(s_rows)} rows, deterministic "
                      f"({time.time() - t0:.1f}s) [rows-only]")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_types = dict(
                (r[0], r[1]) for r in con.execute(f"DESCRIBE ({oracles[name]})").fetchall()
            )
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        # advisory type comparison (driver strictness unknown): map both
        # engines to families and warn on mismatch
        _duck2fam = {"INTEGER": "int", "BIGINT": "bigint", "DOUBLE": "double",
                     "FLOAT": "float", "VARCHAR": "string", "TIMESTAMP": "timestamp",
                     "TIMESTAMP_NS": "timestamp", "BOOLEAN": "bool", "HUGEINT": "hugeint",
                     "INTEGER[]": "array<int>", "BIGINT[]": "array<bigint>",
                     "VARCHAR[]": "array<string>", "DOUBLE[]": "array<double>"}
        _spark2fam = {"int": "int", "bigint": "bigint", "double": "double",
                      "string": "string", "timestamp": "timestamp",
                      "timestamp_ntz": "timestamp", "float": "float", "boolean": "bool"}
        s_types = dict(sdf.dtypes)
        for c in d_cols:
            st, dt = s_types.get(c, "?"), str(d_types.get(c, "?"))
            if _spark2fam.get(st, st) != _duck2fam.get(dt, dt):
                print(f"  TYPEWARN {name}.{c}: spark={st} duckdb={dt}")
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            hs = frame_signature([tuple(r) for r in s_rows], s_cols)
            hd = frame_signature(d_rows, d_cols)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show first differing row for debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ss = sorted(tuple(canon(r[i]) for i in order_s) for r in [tuple(x) for x in s_rows])
                dd = sorted(tuple(canon(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ss, dd):
                    if a != b:
                        problems.append(f"first diff:\n  spark : {a}\n  duckdb: {b}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
