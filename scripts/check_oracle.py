"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column-name set
and (column-name-sorted, row-sorted) values. Floats are compared exactly
AND with tolerance so we can see whether a mismatch is real or last-ulp
noise (the driver hashes values, so exact is what ultimately matters).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

# this checkout's package, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def norm(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from strict_hash_check import oracle_connection
    from topnotch_spark.runtime import dedup_scope
    from topnotch_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # release what the query persisted before the next one runs
            # (see strict_hash_check.spark_result)
            with dedup_scope():
                sdf = fn(spark, sf_dir)
                scols = [c.lower() for c in sdf.columns]
                srows = [
                    tuple(norm(r[c]) for c in sorted(scols))
                    for r in sdf.toDF(*scols).collect()
                ]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
            dcols = [c.lower() for c in ddf.column_names]
            dpy = ddf.to_pylist()
            drows = [
                tuple(norm(row[c]) for c in sorted(dcols, key=str))
                for row in ({k.lower(): v for k, v in r.items()} for r in dpy)
            ]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if set(scols) != set(dcols):
            print(f"FAIL  {name}: column mismatch\n  spark:  {sorted(scols)}\n  duckdb: {sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: row count {len(srows)} vs {len(drows)}")
            failures += 1
            continue
        skey = sorted(srows, key=repr)
        dkey = sorted(drows, key=repr)
        exact = skey == dkey
        if exact:
            print(f"OK    {name}: {len(srows)} rows exact  ({dt:.1f}s)")
            continue
        # tolerance pass to classify
        ok = all(
            all(approx_eq(a, b) for a, b in zip(sr, dr))
            for sr, dr in zip(skey, dkey)
        )
        if ok:
            print(f"WARN  {name}: {len(srows)} rows approx-equal only (float ulp) ({dt:.1f}s)")
        else:
            bad = next(
                (sr, dr)
                for sr, dr in zip(skey, dkey)
                if not all(approx_eq(a, b) for a, b in zip(sr, dr))
            )
            print(f"FAIL  {name}: value mismatch\n  spark:  {bad[0]}\n  duckdb: {bad[1]}")
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
