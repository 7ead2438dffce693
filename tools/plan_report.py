"""Generate PLANS.md: physical-plan properties of every contract query —
the artifact of the '.explain and iterate' loop (pushdown, pruning, join
strategies, shuffle counts). Run: python tools/plan_report.py"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"

SKIP = {"streaming_window", "stateful_stream"}  # streaming plans resolve at runtime

# SMB queries exist to demonstrate the NO-SHUFFLE bucketed join; at toy
# scale AQE broadcasts below threshold, which hides that property in the
# report (r12 verdict, cosmetic). Capture their rows with broadcasts
# disabled — the same conf tests/test_plans.py pins them under.
NO_BROADCAST = {"smb_join", "smb_transform"}
_NB_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def props(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = sorted(
        set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan))
    )
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p]
    shuffles = plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")
    # codegen'd operators carry a `*(n)` stage prefix — visible only in the
    # FINAL AQE plan, i.e. after an action on this exact DataFrame
    try:
        df.limit(1).collect() if False else df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        joins = sorted(
            set(
                re.findall(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)",
                    plan,
                )
            )
        )
    except Exception:  # noqa: BLE001
        pass
    wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return joins, pushed, shuffles, wsc


def main():
    import __spark_entry__ as ent
    from scio_spark.context import build_session

    spark = build_session("plan_report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the contract queries",
        "",
        "Generated by `tools/plan_report.py` at sf0.001 (plan shape is",
        "scale-invariant for these properties; AQE may further coalesce/convert",
        "at runtime). Columns: join strategies in the plan, number of pre-AQE",
        "shuffle exchanges, whole-stage-codegen spans, filters pushed to scans.",
        "",
        "| query | joins | shuffles | codegen spans | pushed filters |",
        "|---|---|---|---|---|",
    ]
    from scio_spark.plans.lint import find_all_pairs_joins

    all_pairs_findings: list[str] = []
    for name, fn in ent.queries().items():
        if name in SKIP:
            lines.append(f"| {name} | *(streaming — plan resolves per micro-batch)* | | | |")
            continue
        saved = {}
        if name in NO_BROADCAST:
            for k, v in _NB_CONFS.items():
                saved[k] = spark.conf.get(k, None)
                spark.conf.set(k, v)
        try:
            df = fn(spark, SF)
            for finding in find_all_pairs_joins(df):
                all_pairs_findings.append(f"- `{name}`: {finding}")
            joins, pushed, shuffles, wsc = props(df)
            jtxt = ", ".join(joins) or "—"
            if name in NO_BROADCAST:
                jtxt += " *(no-broadcast conf)*"
            ptxt = "; ".join(p[:60] for p in pushed[:3]) or "—"
            lines.append(f"| {name} | {jtxt} | {shuffles} | {wsc} | {ptxt} |")
        except Exception as e:  # noqa: BLE001
            lines.append(f"| {name} | ERROR {type(e).__name__} | | | |")
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    lines += [
        "",
        "## All-pairs join lint (plans/lint.find_all_pairs_joins)",
        "",
        "BroadcastNestedLoopJoin/CartesianProduct nodes whose BOTH sides'",
        "size estimates exceed 32 MB — the O(n·m) shape that breaks at",
        "100 TB. 1-row scalar joins (corpus totals, broadcast thresholds)",
        "pass the size gate by construction.",
        "",
    ]
    lines += all_pairs_findings or ["**No findings across the contract suite.**"]

    lines += [
        "",
        "## Notes",
        "",
        "- `hash_join`, `cross`, `embedding_topk` run shuffle-free: broadcast",
        "  builds on the small side only.",
        "- `smb_join` reads bucketed+sorted tables (the write amortizes the",
        "  shuffle). At audit scale the table above may show BroadcastHashJoin:",
        "  with default configs the tiny side clears the broadcast threshold",
        "  and Catalyst picks the cheaper plan. The zero-exchange SortMergeJoin",
        "  property is asserted under the `no_broadcast` fixture",
        "  (tests/test_plans.py:46-101), which is the regime that matters at",
        "  100 TB where neither side broadcasts.",
        "- `sparse_join` / `sparse_lookup` reduce with a LeftSemi before the",
        "  main join: non-matching rows never shuffle. With rhs_num_keys",
        "  unstated the semi-join carries no static broadcast hint (the",
        "  keyset is unbounded by contract) — AQE converts it to broadcast",
        "  at runtime; `sparse_join_bloom` instead shows the forced-Bloom",
        "  regime (ArrowEvalPython position-probe predicate since r15-opt —",
        "  only the k hashed positions cross the Python boundary, the row",
        "  payload stays JVM-side; no semi-join in the plan).",
        "- Dedup/minhash queries intentionally shuffle on shingle/bucket keys —",
        "  that's the algorithm's data movement, partial-aggregated map-side.",
        "- Single-shuffle aggregations (count_by_key, sum_by_key, windows)",
        "  show exactly 1 exchange: the groupBy itself.",
    ]
    open(os.path.join(ROOT, "PLANS.md"), "w").write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(ent.queries())} queries)")


if __name__ == "__main__":
    main()
