"""Stage/task-level breakdown for one catalog query: per-stage task-time
decomposition (executor compute, (de)serialization, scheduler delay, GC,
python boundary) from the AppStatusStore — the guide-§1 empirical loop one
level below scripts/profile_query.py.

Usage: python scripts/profile_stages.py query [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), REPS (default 1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from topnotch_spark.operators.dedup import dedup_scope  # noqa: E402
from topnotch_spark.session import get_spark  # noqa: E402


def run_once(spark, fn, sf_dir):
    with dedup_scope():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()


def stage_rows(spark):
    store = spark._jsc.sc().statusStore()
    jvm = spark._jvm
    empty_status = jvm.java.util.ArrayList()
    quantiles = spark._sc._gateway.new_array(jvm.double, 0)
    slist = store.stageList(
        empty_status, False, False, quantiles, jvm.java.util.ArrayList()
    )
    out = []
    for i in range(slist.size()):
        s = slist.apply(i)
        sub = s.submissionTime()
        comp = s.completionTime()
        t0 = sub.get().getTime() if sub.isDefined() else None
        t1 = comp.get().getTime() if comp.isDefined() else None
        out.append(
            {
                "id": s.stageId(),
                "wall_ms": (
                    (t1 - t0) if t0 is not None and t1 is not None else None
                ),
                "tasks": s.numCompleteTasks(),
                "exec_run_ms": s.executorRunTime(),
                "exec_cpu_ms": s.executorCpuTime() // 1_000_000,
                "deser_ms": s.executorDeserializeTime(),
                "gc_ms": s.jvmGcTime(),
                "ser_ms": s.resultSerializationTime(),
                "shuffle_read_mb": round(
                    s.shuffleReadBytes() / 1048576, 2
                ),
                "shuffle_write_mb": round(
                    s.shuffleWriteBytes() / 1048576, 2
                ),
                "name": s.name()[:80],
            }
        )
    out.sort(key=lambda r: r["id"])
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "1"))
    spark = get_spark("profile-stages")
    qs = entrymod.queries()
    for name in sys.argv[1:]:
        fn = qs[name]
        for rep in range(reps):
            before = {r["id"] for r in stage_rows(spark)}
            import time

            t0 = time.time()
            run_once(spark, fn, sf_dir)
            wall = time.time() - t0
            rows = [r for r in stage_rows(spark) if r["id"] not in before]
            print(f"\n=== {name} [rep{rep}] wall={wall:.2f}s "
                  f"stages={len(rows)} ===")
            for r in rows:
                print(
                    f"  st{r['id']:4d} wall={r['wall_ms'] or 0:6d}ms "
                    f"tasks={r['tasks']:3d} run={r['exec_run_ms']:6d}ms "
                    f"cpu={r['exec_cpu_ms']:6d}ms deser={r['deser_ms']:5d}ms "
                    f"gc={r['gc_ms']:4d}ms "
                    f"sr={r['shuffle_read_mb']:6.2f}MB "
                    f"sw={r['shuffle_write_mb']:6.2f}MB  {r['name']}"
                )


if __name__ == "__main__":
    main()
