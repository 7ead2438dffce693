"""Dump .explain("formatted") for named contract queries to
<outdir>/<query>.txt, normalized so that two checkouts of the same plan
dump byte-identical files: expression ids (``#12``, ``#12L``) → ``#N``,
``plan_id=12`` → ``plan_id=N``, this checkout's root → ``<ROOT>``,
``/tmp/...`` paths (per-run temp dirs of index-building queries) →
``<TMP>``, and the session-wide counters that depend on what ran before
in the same process — RDD ids (``RDD[24]``) and lambda variable suffixes
(``x_33``) — → ``N``.

Plan-identity check between two checkouts A and B (same data dir):

    python A/tools/explain_dump.py /path/a q1 q2
    python B/tools/explain_dump.py /path/b q1 q2
    diff -r /path/a /path/b        # empty = identical plans

Usage: python tools/explain_dump.py <outdir> <query> [query ...]
       SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1 — bench scale).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize(plan: str) -> str:
    """The plan text with run- and checkout-specific tokens masked."""
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"\blambda (\w+?)_\d+#", r"lambda \1_N#", plan)
    plan = plan.replace(REPO, "<ROOT>")
    return re.sub(r"/tmp/[^\s,\]\)]*", "<TMP>", plan)


def main():
    outdir = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as ent
    from scio_spark.context import build_session
    from scio_spark.functions.dedup import release_cached

    spark = build_session("explain_dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(normalize(plan))
        print(f"wrote {path} ({len(plan)} bytes)")
        release_cached(df)


if __name__ == "__main__":
    main()
