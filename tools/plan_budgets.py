"""Capture plan-shape budgets for the contract queries.

Prints, for each named contract query (every ``queries()`` entry when no
name is given): total Exchange count,
hash/range exchange count, join strategies present, and whether an
unbounded all-pairs join appears. Used to (re)pin the budgets asserted
in tests/test_query_plans.py::test_top_compute_query_plan_budgets —
run it after an intentional plan change and update the table there.

Usage: python tools/plan_budgets.py [query ...]
       SPARK_GRAFT_SF_DIR picks the data dir (default sf0.001, the scale
       tests/test_query_plans.py pins).
"""

from __future__ import annotations

import os
import sys

REPO = __file__.rsplit("/", 2)[0]
sys.path.insert(0, REPO)


def main(names):
    import __spark_entry__ as ent
    from scio_spark.context import build_session
    from scio_spark.plans import lint

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = build_session()
    qs = ent.queries()
    print(f"{'query':28s} {'exch':>4} {'hash/rng':>8} joins")
    for name in names or qs:
        df = qs[name](spark, sf_dir)
        plan = lint.executed_plan(df)
        exch = plan.count("Exchange")
        hr = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        joins = sorted(
            {
                j
                for j in (
                    "BroadcastHashJoin", "SortMergeJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct",
                    "ShuffledHashJoin",
                )
                if j in plan
            }
        )
        bad = lint.find_all_pairs_joins(df)
        flag = " ALL-PAIRS!" if bad else ""
        print(f"{name:28s} {exch:>4} {hr:>8} {','.join(joins) or '-'}{flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
