"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The full result (cold + warm per-query maps, fallback list) is also written
to BENCH_RESULT.json next to this file — the stdout line is kept compact
(cold map only, 2-decimal timings) because the driver captures a fixed-size
tail of stdout and a 73-query dual map overflows it.

Each query is executed to completion (count action) after a warm-up of the
input scans; timings exclude session startup.

Known cold-run floor (profiled r5, sf0.1): the FIRST stateful/streaming
query in a session pays ~3 s of one-time machinery — state-store init plus
the applyInPandasWithState Python worker pool — on top of its steady-state
cost (stateful_stream: 4.3 s first run vs 1.45 s re-run in the same
session). It is session startup in disguise, not per-batch cost; the warm
map is the steady-state signal for streaming queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as ent
    from scio_spark.context import build_session

    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = ent.queries()
    # Warm-up: touch every table once so first-query timing isn't scan-cold,
    # and run one representative agg+join+window so the codegen compiler,
    # shuffle and broadcast machinery are JIT-warm before the first
    # measurement (otherwise query #1 absorbs ~2-3s of JVM warmup).
    #
    # Two cold-cost sources that .count() alone does NOT cover (r13: the
    # first-in-suite query absorbed them and masqueraded as a regression):
    # 1. page cache — Spark serves count() over parquet from row-group
    #    metadata (zero-column scan), so data pages stay cold on disk.
    #    Read the raw file bytes once: every table is page-cache-hot
    #    before the first timed query, so cold numbers measure PLAN cost,
    #    not suite order.
    # 2. the Python/Arrow worker pool — the first pandas-UDF query pays
    #    spawning the per-core python workers. One tiny mapInPandas
    #    round-trip spins the pool up front.
    import glob as _glob

    for f in _glob.glob(f"{sf_dir}/*.parquet"):
        try:
            with open(f, "rb") as fh:
                while fh.read(1 << 22):
                    pass
        except OSError:
            pass
    for t in ["lineitem", "orders", "customer", "part", "events",
              "documents", "embeddings"]:
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass
    try:
        spark.range(64, numPartitions=32).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        pt = spark.read.parquet(f"{sf_dir}/part.parquet")
        warm = (
            li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
            .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("q"))))
        )
        warm.write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    def run_once(name: str, fn) -> tuple[float | None, bool]:
        """Execute one query to completion. Returns (seconds, used_fallback):
        fallback = the noop-format write failed and we re-ran with .count()
        (so the timing includes a failed attempt — flagged, not hidden)."""
        from scio_spark.functions.dedup import release_cached

        t0 = time.perf_counter()
        df = None
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            # Drop operator-attached caches per run: before r8 simhash's
            # banded table leaked into the session, so its WARM number
            # (r7: 0.73 s) measured cache reuse across runs, not the
            # query; the honest warm cost is ~1.5 s.
            release_cached(df)
            return elapsed, False
        except Exception:
            # release the FIRST attempt's caches too: a cache materialized
            # before the noop write failed would otherwise leak into the
            # session and contaminate subsequent warm timings — the same
            # measurement bug release_cached exists to prevent
            if df is not None:
                try:
                    release_cached(df)
                except Exception:
                    pass
            try:
                df = fn(spark, sf_dir)
                df.count()
                elapsed = round(time.perf_counter() - t0, 3)
                release_cached(df)
                return elapsed, True
            except Exception as e:
                print(f"bench: {name} failed: {e}", file=sys.stderr)
                return None, False

    # Optional subset (scale-evidence runs at big SFs time only the
    # scale-sensitive families): SPARK_GRAFT_QUERIES="q1,q2,..."
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        wanted = [q.strip() for q in subset.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in qs]
        if unknown:
            raise SystemExit(f"bench: unknown queries {unknown}")
        qs = {q: qs[q] for q in wanted}

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    fallback: list[str] = []
    progress = os.environ.get("SPARK_GRAFT_PROGRESS")
    for name, fn in qs.items():
        cold_s, fb = run_once(name, fn)
        if cold_s is None:
            continue
        timings[name] = cold_s
        if fb:
            fallback.append(name)
        warm_s, _ = run_once(name, fn)
        if warm_s is not None:
            warm[name] = warm_s
        if progress:
            print(
                f"bench: {name} cold={cold_s} warm={warm_s}",
                file=sys.stderr, flush=True,
            )

    total = round(sum(timings.values()), 3)
    # The compute totals exclude the wall-clock streaming queries (their cost
    # is trigger-sleep cadence, not compute) so real regressions stay
    # visible; their per-query timings remain in the maps.
    full = {
        "metric": "scio_spark_query_suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "total_warm": round(sum(warm.values()), 3),
        "total_compute": round(
            sum(v for k, v in timings.items() if k not in ent.WALL_CLOCK), 3
        ),
        "total_warm_compute": round(
            sum(v for k, v in warm.items() if k not in ent.WALL_CLOCK), 3
        ),
        "wall_clock_queries": sorted(ent.WALL_CLOCK),
        "fallback_path": fallback,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    result_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RESULT.json"
    )
    with open(result_path, "w") as f:
        json.dump(full, f, indent=1)
    compact = dict(full)
    # The driver captures only the LAST ~2000 chars of output; a full
    # 193-query map cannot fit, and a truncated line fails its JSON parse
    # outright (BENCH_r05/r06 recorded parsed:{} for exactly this reason).
    # r16 (VERDICT r15 item 2): instead of a fixed slowest-40 cut, pack as
    # many queries as fit a 1950-byte line budget (measured capture window
    # = exactly 2000 bytes, and the line is the final output), slowest
    # first, with 1-decimal timings at >= 1 s (quantization <= 5%) and
    # 2 decimals below — ~80 queries make the line vs 40 before, so the
    # round-over-round diff sees the mid-tail too. The omission stays
    # explicit and the FULL dual map lives in BENCH_RESULT.json
    # (committed) via detail_file. Additions only: same fields, same
    # slowest-first key set (a superset of the old top-40).
    del compact["queries_warm"]
    del compact["fallback_path"]
    del compact["wall_clock_queries"]
    compact["n_queries"] = len(timings)
    compact["detail_file"] = "BENCH_RESULT.json"
    LINE_BUDGET = 1950
    # slowest first; drop the fastest until the FINAL line (with its
    # recomputed queries_omitted) fits the budget
    packed = {
        k: round(v, 2) if v < 1 else round(v, 1)
        for k, v in sorted(timings.items(), key=lambda kv: -kv[1])
    }
    while True:
        compact["queries"] = packed
        compact["queries_omitted"] = len(timings) - len(packed)
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= LINE_BUDGET or not packed:
            break
        packed.popitem()
    print(line)


if __name__ == "__main__":
    main()
