"""Benchmark of scio_spark on seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 15 --trace 0

Workloads (METRICS.md gives their sizes, metrics and predictions):

- batch_mix        closed loop over keyed and retrieval contract jobs
- event_stream     open loop: stream_dedup -> maintain_rollup at a fixed rate
- keyed_batch      diagnostic: the keyed family of batch_mix, widened
- retrieval_dedup  diagnostic: the retrieval family of batch_mix, widened

``--trace 0`` prints the end-to-end metrics, measured untraced. ``--trace 1``
measures untraced, then traced in a new session of the same JVM, each for
half of ``--seconds``, and prints the per-layer metrics of the traced run
plus the tracing overhead. ``--diagnostic`` (keyed_batch only) adds a
local[1] run and reports the core-scaling speed-up.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics; the line before it holds the run's metadata, which is
also written to .perfbench/results/.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(1, str(Path(__file__).resolve().parent.parent))

from common import (  # noqa: E402
    ROOT, STATE, PeakRss, cores, cpu_pressure, cpu_ticks, fresh_dir, git_commit, loadavg,
    source_digest,
)
from inputs import HELD_OUT_SEED, tables  # noqa: E402
from session import isolate, shutdown  # noqa: E402

WORKLOADS = ("batch_mix", "event_stream", "keyed_batch", "retrieval_dedup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--diagnostic", action="store_true")
    return p.parse_args(argv)


def catalogue() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def make_workload(name: str, spark, data_dir, work: Path, seed: int, seconds: float):
    if name == "event_stream":
        from stream import EventStream

        return EventStream(spark, work, seed, seconds)
    from batch import SPECS, ClosedLoop

    return ClosedLoop(spark, SPECS[name], data_dir)


def spec_sf(name: str) -> float | None:
    from batch import SPECS

    return SPECS[name].sf if name in SPECS else None


def main(argv=None) -> int:
    args = parse_args(argv)
    cat = catalogue()
    n = cores()
    work = fresh_dir(STATE / "run" / str(os.getpid()))
    isolate(work, n)
    try:
        meta, result = measure(args, cat, n, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    wanted = cat["per_layer"] if args.trace else cat["end_to_end"]
    values = result["values"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    if args.diagnostic and "scaling.keyed_batch_speedup" in values:
        metrics["scaling.keyed_batch_speedup"] = {
            "value": values["scaling.keyed_batch_speedup"], "unit": "ratio",
        }
    meta["metrics"] = metrics
    out_dir = STATE / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(out_dir / f"{stem}.json", "w") as f:
        json.dump(meta, f, indent=1)
    if "spans" in result:
        with open(out_dir / f"{stem}-spans.json", "w") as f:
            json.dump(result["spans"], f)
    print(json.dumps({"perfbench": {k: v for k, v in meta.items() if k != "metrics"}}))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def measure(args, cat: dict, n: int, work: Path):
    import session

    load_start, pressure_start, ticks_start = loadavg(), cpu_pressure(), cpu_ticks()
    sf = spec_sf(args.workload)
    g0 = time.perf_counter()
    data_dir = tables(sf, args.seed) if sf is not None else None
    gen_s = time.perf_counter() - g0

    # A traced run prints no end-to-end metric; it measures untraced and
    # traced for half the time each, to end within the run's time limit.
    seconds = args.seconds / 2 if args.trace else args.seconds
    # set-up: process start until the first timed job is ready (JVM,
    # imports, session, workload, warm-up), less input generation
    spark = session.start(work, n)
    workload = make_workload(args.workload, spark, data_dir, work, args.seed, seconds)
    session.warm_up(spark, data_dir)
    setup_s = time.perf_counter() - T_PROCESS - gen_s - workload.generation_s

    reference = [session.reference_s(spark) for _ in range(2)]
    with PeakRss() as rss:
        plain = workload.run(seconds)
    reference += [session.reference_s(spark) for _ in range(2)]
    values = dict(plain.metrics)
    values["setup_s"] = setup_s
    values["peak_rss_mb"] = rss.peak / 2**20
    attempted, failed = plain.attempted, plain.failed
    # job_p50_s and job_tail_s are diagnostic: printed by --trace 1, recorded here
    samples = {
        "untraced": plain.samples, "untraced_metrics": plain.metrics,
        "peak_rss_mb_by_process": rss.at_peak,
    }

    def restart(cores: int = n, event_log: Path | None = None):
        """A new session in the same JVM, for running the workload again."""
        nonlocal spark
        spark.stop()
        spark = session.start(work, cores, event_log=event_log)
        session.warm_up(spark, data_dir)
        workload.spark = spark

    if args.trace:
        from tracing import LAYERS, SPAN_FIELDS, Tracer, instrument, read_event_log, summarize

        log_dir = work / "eventlog"
        restart(event_log=log_dir)
        tracer = Tracer(spark)
        wrapped = instrument(tracer)
        traced = workload.run(seconds, tracer, check=False)
        spark.stop()  # flushes the event log
        layer = summarize(read_event_log(log_dir), tracer.spans, traced.window_ms)
        tracer.active = False  # a --diagnostic run follows untraced
        stream_layer = traced.samples.get("layer") or {}
        for k in (m["name"] for m in cat["per_layer"]):
            if k.startswith(("streaming.", "harness.gen_")) and k not in layer:
                layer[k] = stream_layer.get(k, 0.0)
        # against the untraced run, made earlier in the JVM's warm-up
        layer["harness.tracing_overhead_frac"] = (
            traced.metrics["job_p50_s"] / plain.metrics["job_p50_s"] - 1.0
        )
        values.update(layer)
        attempted += traced.attempted
        failed += traced.failed
        samples["traced"] = traced.samples
        samples["traced_end_to_end"] = traced.metrics
        samples["layers"] = list(LAYERS)
        samples["wrapped_functions"] = wrapped

    if args.diagnostic and args.workload == "keyed_batch":
        restart(cores=1)
        single = workload.run(seconds, check=False)
        values["scaling.keyed_batch_speedup"] = single.metrics["wall_s"] / plain.metrics["wall_s"]
        samples["local1"] = single.metrics
        attempted += single.attempted
        failed += single.failed

    ticks_end = cpu_ticks()
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "cores_N": n,
        "sf": sf,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "cpu_pressure_start": pressure_start,
        "cpu_pressure_end": cpu_pressure(),
        "cpu_steal_share": (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]),
        "generation_s": gen_s + workload.generation_s,
        "reference_s": reference,
        "failed_frac": failed / attempted if attempted else 0.0,
        "samples": samples,
    }
    result = {"values": values, "attempted": attempted, "failed": failed, "correct": failed == 0}
    if args.trace:
        result["spans"] = {"fields": SPAN_FIELDS, "spans": tracer.spans}
    return meta, result


if __name__ == "__main__":
    sys.exit(main())
