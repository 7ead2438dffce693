"""Soak the wall-clock-sensitive streaming contract queries against their
oracles — the pre-driver flake check for the scripted streaming quartet.

These queries are value-deterministic by construction (single-batch panes,
driver-side sequencing), but they run real micro-batch machinery, so this
tool repeats each one N times and strict-compares against DuckDB. Run it
after touching streaming/core.py or any q_*_panes query, ideally once idle
and once under load (e.g. while pytest runs):

    python tools/soak_streaming.py [reps=5] [sf_dir=/root/testdata/sf0.01]

Exit code 1 on any mismatch, printing the rep and row counts.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as ent
    from scio_spark.context import build_session

    spark = build_session("soak_streaming")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def canon(rows):
        return sorted(tuple(r) for r in rows)

    failed = False
    for name in ent.SOAK:
        fn, sql = ent.queries()[name], ent.oracle_sql()[name]
        bad = []
        for i in range(reps):
            srows = canon(tuple(r) for r in fn(spark, sf_dir).collect())
            drows = canon(con.execute(sql).fetchall())
            if srows != drows:
                bad.append((i, len(srows), len(drows)))
        status = f"FLAKE {bad}" if bad else "stable"
        print(f"{name}: {reps - len(bad)}/{reps} {status}")
        failed |= bool(bad)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
