"""Local stand-in for the driver's correctness gate.

Runs every queries() entry through Spark and, where an oracle exists,
through DuckDB on the same parquet tables; compares row count, sorted
column names, and an order-insensitive multiset of values (floats rounded
to 9 significant digits before comparison, mirroring a value-hash check).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# the checkout this script lives in, not whichever package is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}")
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(f"{float(v):.9g}")
    except Exception:
        pass
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main():
    # default to sf0.01: the driver compares there, and six oracle_sql()
    # entries embed VALUES relations precomputed at sf0.01 — running this
    # tool at another sf makes exactly those six "fail" as an artifact
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from geowave_spark.session import get_spark

    spark = get_spark("correctness")
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
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok-   {name}: rows={len(srows)} (rows-only, no oracle) [{el:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        sc, sv = norm_rows(scols, srows)
        oc, ov = norm_rows(ocols, orows)
        if sc != oc:
            failures.append(name)
            print(f"FAIL  {name}: columns {sc} vs {oc}")
        elif len(sv) != len(ov):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sv)} vs {len(ov)}")
        elif sv != ov:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            print(f"FAIL  {name}: values differ, e.g. {diff}")
        else:
            print(f"OK    {name}: rows={len(sv)} [{el:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
