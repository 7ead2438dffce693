"""Closed-loop batch workloads: one client runs the contract jobs of
``__spark_entry__.queries()`` in a fixed order, each to a complete result
and starts the next job only when the last one ends. The rows of each
job's first, untimed execution are checked against its ``oracle_sql()``
in DuckDB."""

from __future__ import annotations

import contextlib
import sys
import time
from dataclasses import dataclass, field

from common import ROOT, median

sys.path.insert(0, str(ROOT / "tools"))
import check_oracle as co  # noqa: E402  (the repository's oracle gate)


@dataclass
class Spec:
    sf: float
    jobs: list[str]


#: A run times a fixed number of passes, so that counts repeat exactly: as
#: many as take ``--seconds`` at NOMINAL_JOB_S a job on a 4-core host, and
#: at least MIN_PASSES.
NOMINAL_JOB_S = 0.85
MIN_PASSES = 3

KEYED_JOBS = ["pricing_summary", "skewed_join"]
#: DuckDB checks these in about a second in all; the pairwise oracles of
#: dedup_embedding and dedup_embedding_lsh take 6 and 16 s at sf0.1.
RETRIEVAL_JOBS = ["ann_ivf", "semantic_dedup"]

#: batch_mix is the benchmark's batch workload; keyed_batch and
#: retrieval_dedup split it by family, for diagnosis only (each run pays a
#: JVM start, and 22 runs of three workloads overrun the benchmark's 3420 s).
SPECS = {
    "batch_mix": Spec(sf=0.1, jobs=KEYED_JOBS + RETRIEVAL_JOBS),
    "keyed_batch": Spec(
        sf=0.1, jobs=KEYED_JOBS + ["smb_join", "cogroup_3way", "multi_join", "window_session"]
    ),
    "retrieval_dedup": Spec(
        sf=0.1, jobs=RETRIEVAL_JOBS + ["ann_pq_index", "ann_lsh", "embedding_topk"]
    ),
}


@dataclass
class Outcome:
    metrics: dict
    attempted: int
    failed: int
    window_ms: tuple[float, float]
    samples: dict = field(default_factory=dict)


class ClosedLoop:
    generation_s = 0.0  # the tables are generated before the workload

    def __init__(self, spark, spec: Spec, data_dir: str):
        import __spark_entry__ as entry

        self.spark = spark
        self.spec = spec
        self.data_dir = data_dir
        queries = entry.queries()
        self.fns = {name: queries[name] for name in spec.jobs}
        self.oracle = {name: entry.oracle_sql()[name] for name in spec.jobs}

    def _once(self, name: str, collect: bool, tracer=None):
        """One execution of a job to completion. Timed executions write to
        Spark's no-op sink, as bench.py does; the untimed first pass collects
        the rows for the oracle check."""
        from scio_spark.functions.dedup import release_cached

        t0 = time.perf_counter()
        df = rows = None
        try:
            with tracer.span("job", name) if tracer else contextlib.nullcontext():
                df = self.fns[name](self.spark, self.data_dir)
                if collect:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception as e:  # a failed job is counted, not fatal
            print(f"perfbench: {name} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        elapsed = time.perf_counter() - t0
        if df is not None:
            release_cached(df)
        return elapsed, ok, df, rows

    def passes(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / NOMINAL_JOB_S / len(self.spec.jobs)))

    def run(self, seconds: float, tracer=None, check: bool = True) -> Outcome:
        """One untimed pass, then the timed passes. The untimed pass
        collects each job's rows and checks them against the oracle, unless
        ``check=False`` (a session restarted in a JVM that already ran the
        jobs). The JVM keeps compiling the jobs' hot paths for several more
        passes; a fixed pass count makes every run measure the same part of
        that warm-up."""
        w0 = time.perf_counter()
        prime = {name: self._once(name, collect=check) for name in self.spec.jobs}
        failed = self._check(prime) if check else sum(1 for p in prime.values() if not p[1])
        warm_s = time.perf_counter() - w0
        if tracer is not None:
            tracer.reset()
        runs: list[tuple[str, float, bool]] = []
        start_ms = time.time() * 1e3
        for _ in range(self.passes(seconds)):
            for name in self.spec.jobs:
                elapsed, ok, _, _ = self._once(name, collect=False, tracer=tracer)
                runs.append((name, elapsed, ok))
        window = (start_ms, time.time() * 1e3)
        failed += sum(1 for r in runs if not r[2])
        by_job = {name: [r[1] for r in runs if r[0] == name] for name in self.spec.jobs}
        job_medians = [median(v) for v in by_job.values()]
        job_worst = [max(v) for v in by_job.values()]
        return Outcome(
            metrics={
                "wall_s": sum(job_medians),
                # the pooled times cluster by job, so their median would jump
                # between clusters; the median of the jobs' medians does not
                "job_p50_s": median(job_medians),
                # far fewer than the ten samples per job a percentile tail
                # needs: each job's slowest timed run, median over the jobs
                "job_tail_s": median(job_worst),
            },
            attempted=len(prime) + len(runs),
            failed=failed,
            window_ms=window,
            samples={
                "jobs": len(runs), "passes": len(runs) // len(self.spec.jobs),
                "job_tail_percentile": 100.0,
                "warm_s": warm_s,
                "job_median_s": dict(zip(by_job, job_medians)),
                "job_worst_s": dict(zip(by_job, job_worst)),
            },
        )

    def _check(self, prime) -> int:
        """Jobs of the first pass that raised or whose rows differ from the
        oracle's, run by DuckDB on the same files."""
        import duckdb

        con = duckdb.connect()
        for t in co.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        failed = 0
        for name, (_, ok, df, rows) in prime.items():
            sql = self.oracle[name]
            if not ok or not self._matches(name, con, sql, df, rows):
                print(f"perfbench: {name} output differs from its oracle", file=sys.stderr)
                failed += 1
        con.close()
        return failed

    def _matches(self, name, con, sql, df, rows) -> bool:
        if co.timestamp_types(df.dtypes, con, sql) or co.numeric_types(df.dtypes, con, sql):
            return False
        cur = con.execute(sql)
        ref_cols = [d[0] for d in cur.description]
        ref = co.canon(cur.fetchall(), ref_cols)
        if sorted(df.columns) != sorted(ref_cols) or len(rows) != len(ref):
            return False
        got = co.canon(rows, df.columns)
        if got == ref:
            return True
        spec = co.APPROX_AT_SCALE.get(name)
        sf = co.parse_sf(self.data_dir)
        return (
            spec is not None and sf is not None and sf > 0.01
            and co.sketch_aligned_eq(got, ref, sorted(ref_cols), spec)
        )
