"""Strict oracle comparator: Arrow-level types + exact value hash.

The tolerance checker (check_oracle.py) normalizes Decimal->float and
int==float, which can mask representation differences that a value-hash
gate catches (round-1 lesson: view_sessionize_events was value-exact but
hash-red because DuckDB window sum(int) is HUGEINT while Spark emits
BIGINT).  This script compares, per query:

  1. Arrow schema of both results (after lowercasing + name-sorting cols)
  2. sha256 over the sorted rows' repr, with python types preserved
     (int vs float vs Decimal are DIFFERENT here, on purpose)
  3. PANDAS dtype kinds of both sides (Spark limit(0).toPandas() vs a
     DuckDB LIMIT-0 .df() probe — the mapping is type-driven, so zero
     rows suffice). This is the round-2 lesson: DuckDB sum(BIGINT) is
     HUGEINT, which pandas renders float64 while Spark emits int64 —
     value-identical rows, different external-driver hash. fetchall()
     (step 2) folds HUGEINT back to Python int and CANNOT see it.
  4. No complex-typed (array/map/struct) output column — the driver's
     pandas canonicalizer cannot sort them (round-2 embedding_centroids
     err); oracle-checked catalog queries must emit scalar columns only.

Usage: python scripts/strict_hash_check.py [--json OUT.json] [sf_dir] [query ...]

With --json, per-query results are also written as a committed-able
artifact (one object per query: status/rows/hashes/seconds), so the
full-catalog evidence lives in the repo even when the external driver's
correctness file is capped below the catalog size.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

# this checkout's package, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def cell_key(v):
    """Exact, type-tagged representation of one cell."""
    import datetime
    import decimal

    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(cell_key(x) for x in v) + "]"
    return f"s:{v}"


def oracle_connection(sf_dir):
    """A DuckDB connection with one view per catalog table over
    ``sf_dir``'s parquet files: what every oracle SQL reads."""
    import duckdb

    from topnotch_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keys = sorted(
        "|".join(cell_key(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()


def dtype_mismatches(sdf, con, sql):
    """(column, spark_kind, duckdb_kind) triples whose pandas dtype KINDS
    differ. Kind-level (i/u/f/O/M/b), not exact-width: int32 vs int64
    hashes identically under value repr, int vs float does not. The
    object-vs-datetime pair is excluded (Spark dates land as object,
    DuckDB dates as datetime64 — value canonicalizers agree on those)."""
    spdf = sdf.limit(0).toPandas()
    skinds = {c.lower(): spdf[c].dtype.kind for c in spdf.columns}
    dpdf = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").df()
    dkinds = {c.lower(): dpdf[c].dtype.kind for c in dpdf.columns}
    bad = []
    for col in sorted(set(skinds) & set(dkinds)):
        a, b = skinds[col], dkinds[col]
        if a == b or {a, b} <= {"i", "u"} or {a, b} == {"O", "M"}:
            continue
        bad.append((col, a, b))
    return bad


def complex_cols(sdf):
    from pyspark.sql import types as T

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def spark_result(spark, fn, sf_dir, con, sql):
    """Build one catalog query and read what the checks need from it:
    (complex columns, dtype mismatches, columns, rows), the later ones
    None once a check fails. Runs inside ``dedup_scope``, so what the
    query persisted is released before the next query runs. Left
    cached, a later query persisting the same plan gets Spark's "Asked
    to cache already cached data" no-op, and its frame silently
    recomputes once the first query's storage is released."""
    from topnotch_spark.runtime import dedup_scope

    with dedup_scope():
        sdf = fn(spark, sf_dir)
        cc = complex_cols(sdf)
        if cc:
            return cc, None, None, None
        dm = dtype_mismatches(sdf, con, sql)
        if dm:
            return cc, dm, None, None
        scols = [c.lower() for c in sdf.columns]
        return cc, dm, scols, [tuple(r) for r in sdf.toDF(*scols).collect()]


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from topnotch_spark.session import get_spark

    spark = get_spark("strict-hash-check")
    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        cc, dm, scols, srows = spark_result(
            spark, fn, sf_dir, con, oracles[name]
        )
        if cc:
            print(f"FAIL  {name}: complex-typed output columns {cc} — "
                  "the driver's pandas canonicalizer cannot sort these; "
                  "explode/flatten the catalog query")
            failures += 1
            results[name] = {"status": "fail", "reason": f"complex cols {cc}"}
            continue
        if dm:
            print(f"FAIL  {name}: pandas dtype-kind mismatch "
                  f"(col, spark, duckdb): {dm} — the external driver's "
                  "hash is dtype-sensitive; CAST the oracle (HUGEINT "
                  "sums -> BIGINT) or the Spark column")
            failures += 1
            results[name] = {"status": "fail", "reason": f"dtype kinds {dm}"}
            continue

        res = con.execute(oracles[name])
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()

        sh = table_hash(scols, srows)
        dh = table_hash(dcols, drows)
        dt = time.time() - t0
        results[name] = {
            "status": "ok" if sorted(scols) == sorted(dcols) and sh == dh
            else "fail",
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "spark_hash": sh[:16],
            "oracle_hash": dh[:16],
            "hash_match": sh == dh,
            "schema_match": sorted(scols) == sorted(dcols),
            "seconds": round(dt, 2),
        }
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: cols {sorted(scols)} vs {sorted(dcols)}")
            failures += 1
        elif sh != dh:
            failures += 1
            print(f"FAIL  {name}: hash {sh[:12]} vs {dh[:12]} "
                  f"({len(srows)} vs {len(drows)} rows)  [{dt:.1f}s]")
            # show first differing cell for debugging — each side sorted
            # by ITS OWN column layout (they may differ physically)
            sorder = sorted(range(len(scols)), key=lambda i: scols[i])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            skeys = sorted("|".join(cell_key(r[i]) for i in sorder) for r in srows)
            dkeys = sorted("|".join(cell_key(r[i]) for i in dorder) for r in drows)
            for a, b in zip(skeys, dkeys):
                if a != b:
                    print(f"      spark : {a[:200]}")
                    print(f"      duckdb: {b[:200]}")
                    break
        else:
            print(f"OK    {name}: {len(srows)} rows strict-hash match  [{dt:.1f}s]")
    print("failures:", failures)
    if json_out:
        import json as jsonlib

        payload = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_failures": failures,
            "queries": results,
        }
        with open(json_out, "w") as f:
            jsonlib.dump(payload, f, indent=1, sort_keys=True)
        print("wrote", json_out)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
