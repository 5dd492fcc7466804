"""Dump .explain("formatted") for named catalog queries to files.

Usage: python scripts/dump_plans.py OUT_DIR SUFFIX query [query ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt for each query. Streaming queries
(which materialize on construction) are dumped as the plan of the
RESULT table they return, with a header noting that; batch queries dump
the full lazy plan. Queries run inside dedup_scope so operator persists
are released between dumps.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from topnotch_spark.runtime import dedup_scope  # noqa: E402
from topnotch_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        with dedup_scope():
            df = fn(spark, sf_dir)
            text = plan_text(df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({suffix}) — explain('formatted') at {sf_dir}\n")
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
