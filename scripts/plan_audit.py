"""Regenerate SCALE.md §5: per-query physical-plan audit.

For every BATCH catalog query, prints exchange count, join-operator
counts (bhj/smj/shj/nlj) and whether any parquet scan carries pushed
filters — the table pasted into SCALE.md §5. Streaming queries are
skipped (their per-micro-batch plans are discussed in SCALE.md §4).

Counts are DISTINCT physical node ids parsed from the formatted
explain's numbered detail blocks — the tree re-prints cached
InMemoryRelation plans under every reading branch (and AQE Final/
Initial sections repeat nodes), so naive substring counts over-report
on persist-using queries.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump_plans import plan_text  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from topnotch_spark.session import get_spark

    spark = get_spark("plan-audit")
    for name, fn in entrymod.queries().items():
        if name.startswith("streaming_"):
            continue
        try:
            txt = plan_text(fn(spark, sf_dir))
        except Exception as e:
            print(f"{name:26s} ERROR {str(e)[:80]}")
            continue
        # unique (id, kind) from the numbered detail blocks: each
        # physical node details exactly once no matter how many times
        # the tree re-prints it
        nodes = {
            nid: kind
            for nid, kind in re.findall(r"\n\((\d+)\) (\w+)", txt)
        }
        kinds = list(nodes.values())

        def n(prefix):
            return sum(1 for k in kinds if k.startswith(prefix))

        counts = {
            "exch": n("Exchange") + n("BroadcastExchange"),
            "bhj": n("BroadcastHashJoin"),
            "smj": n("SortMergeJoin"),
            "shj": n("ShuffledHashJoin"),
            "nlj": n("BroadcastNestedLoopJoin"),
        }
        pushed = (
            "pushed=Y" if re.search(r"PushedFilters: \[(?!\])", txt) else ""
        )
        cells = [f"{k}={v}" for k, v in counts.items() if v and k != "exch"]
        print(
            f"{name:26s} exch={counts['exch']:<3d} "
            + " ".join(cells)
            + (" " + pushed if pushed else "")
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
