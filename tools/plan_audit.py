"""Physical-plan audit for PLANS_r{N}.md: run each named queries()
entry at a small SF, pull executedPlan(), and count the shapes that
matter at 100 TB — hash/range/SinglePartition exchanges, broadcast vs
sort-merge joins, WindowExec (and whether every window is keyed).

Usage: python tools/plan_audit.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(plan: str) -> dict:
    # strip ReusedExchange (no second shuffle happens)
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    range_ex = len(re.findall(r"Exchange rangepartitioning", plan))
    single = len(re.findall(r"Exchange SinglePartition", plan))
    bcast = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin",
                           plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    win = len(re.findall(r"\bWindow\b|WindowExec|WindowGroupLimit", plan))
    return dict(hash_ex=hash_ex, range_ex=range_ex, single=single,
                bcast=bcast, smj=smj, window=win)


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)

    import __spark_entry__ as E
    from gdal_spark.session import get_spark

    qs = E.queries()
    spark = get_spark("plan_audit", cpus=8)

    print("| query | hash-ex | range-ex | single-part | bcast-join |"
          " SMJ | Window |")
    print("|---|---|---|---|---|---|---|")
    for name in args or sorted(qs):
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit(plan)
            print(f"| {name} | {a['hash_ex']} | {a['range_ex']} |"
                  f" {a['single']} | {a['bcast']} |"
                  f" {'yes' if a['smj'] else 'no'} |"
                  f" {'yes' if a['window'] else 'no'} |")
        except Exception as exc:  # noqa: BLE001
            print(f"| {name} | ERROR: {type(exc).__name__}: {exc} |")
    spark.stop()


if __name__ == "__main__":
    main()
