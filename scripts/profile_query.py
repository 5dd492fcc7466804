"""Per-query job breakdown: run one catalog query (noop sink, the bench
methodology) and print every Spark job it scheduled — duration, stages,
tasks, description — from the live AppStatusStore. This is the
guide-§1 empirical loop without the (disabled) UI.

Usage: python scripts/profile_query.py query [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), REPS (default 1,
first run reported separately as warmup when REPS > 1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from topnotch_spark.runtime import dedup_scope  # noqa: E402
from topnotch_spark.session import get_spark  # noqa: E402


def run_once(spark, fn, sf_dir):
    with dedup_scope():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()


def job_rows(spark):
    store = spark._jsc.sc().statusStore()
    jlist = store.jobsList(None)
    out = []
    for i in range(jlist.size()):
        j = jlist.apply(i)
        sub = j.submissionTime()
        comp = j.completionTime()
        t0 = sub.get().getTime() if sub.isDefined() else None
        t1 = comp.get().getTime() if comp.isDefined() else None
        out.append(
            {
                "id": j.jobId(),
                "dur_ms": (
                    (t1 - t0) if t0 is not None and t1 is not None else None
                ),
                "t0": t0,
                "stages": j.stageIds().size(),
                "tasks": j.numTasks(),
                "desc": (j.description().get() if j.description().isDefined() else j.name())[:110],
            }
        )
    out.sort(key=lambda r: r["id"])
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "1"))
    spark = get_spark("profile")
    qs = entrymod.queries()
    for name in sys.argv[1:]:
        fn = qs[name]
        for rep in range(reps):
            before_ids = {r["id"] for r in job_rows(spark)}
            t0 = time.time()
            run_once(spark, fn, sf_dir)
            wall = time.time() - t0
            rows = [r for r in job_rows(spark) if r["id"] not in before_ids]
            label = "warmup" if (reps > 1 and rep == 0) else f"rep{rep}"
            print(f"\n=== {name} [{label}] wall={wall:.2f}s jobs={len(rows)} "
                  f"job_sum={sum(r['dur_ms'] or 0 for r in rows)/1000:.2f}s ===")
            prev_end = None
            for r in rows:
                gap = ""
                if prev_end is not None and r["t0"] is not None:
                    g = (r["t0"] - prev_end) / 1000
                    if g > 0.05:
                        gap = f"  (+{g:.2f}s gap)"
                if r["t0"] is not None and r["dur_ms"] is not None:
                    prev_end = r["t0"] + r["dur_ms"]
                print(f"  job {r['id']:4d} {((r['dur_ms'] or 0)/1000):7.2f}s "
                      f"stages={r['stages']:2d} tasks={r['tasks']:4d}  {r['desc']}{gap}")


if __name__ == "__main__":
    main()
