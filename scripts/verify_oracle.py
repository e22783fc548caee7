#!/usr/bin/env python
"""Run every __spark_entry__ query against its DuckDB oracle and
compare (row count, column names, order-insensitive values) — a local
stand-in for the driver's CORRECTNESS gate.

Usage:
  python scripts/verify_oracle.py [--sf DIR] [--only name[,name...]]
"""

from __future__ import annotations

import argparse
import decimal
import math
import sys
import time
from pathlib import Path

# this checkout's root, so a run from any copy tests that copy's code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm_val(x) for x in v)
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_val(r[i]) for i in idx) for r in rows), key=repr
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from kgc.session import get_spark

    spark = get_spark("verify-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            # pipeline-backed queries pin stage caches that outlive the
            # collect; drop them so 50+ queries don't stack persists
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if sorted(c.lower() for c in scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rows spark={len(srows)} duck={len(drows)}")
        if ok:
            sn = norm_rows([c.lower() for c in scols], srows)
            dn = norm_rows(dcols, drows)
            if sn != dn:
                ok = False
                diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if ok:
            print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + "; ".join(msgs))
            n_fail += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
