"""Run one workload of the geohash benchmark and print its metrics.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

One client runs one Spark action at a time, closed-loop, on ``local[nproc]``
with the program's recommended session. The run sets up (session start; three
times the inputs and caches, of which the median counts; one warm-up job),
checks the warm-up job's output against an oracle, runs untimed jobs for
the workload's ``warmup_s`` and then timed jobs for ``--seconds`` (and at
least its ``min_jobs``). Every job's digests must equal the verified ones.
The share of CPU time the host stole and spent waiting on I/O is printed
for the run, so a run slowed by its host can be told apart.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs untraced
jobs for half the time and traced jobs for the other half, and prints every
per-layer metric (see README.md). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. A wrong
output makes the run exit with 1; a checkout without the program, with 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import harness

END_TO_END = {"setup_s": "s", "job_p50_s": "s"}
SETUP_REPS = 3
MIN_TRACED_JOBS = 2
TRACES = os.path.join(harness.HERE, ".traces")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(wl, reference: dict, seconds: float, min_jobs: int):
    """Closed loop for ``seconds`` (and at least ``min_jobs`` jobs): job
    wall times, per-operation times, and the number of failed jobs. A job
    that raises counts as failed and ends the loop."""
    jobs, ops, failed = [], {}, 0
    deadline = time.perf_counter() + seconds
    while len(jobs) < min_jobs or time.perf_counter() < deadline:
        start = time.perf_counter()
        try:
            result = wl.job()
        except Exception:  # noqa: BLE001 - a failed job is a result
            traceback.print_exc()
            jobs.append(time.perf_counter() - start)
            return jobs, ops, failed + 1
        jobs.append(time.perf_counter() - start)
        for op, seconds_op, _ in result:
            ops.setdefault(op, []).append(seconds_op)
        failed += any(d != reference[op] for op, _, d in result)
    return jobs, ops, failed


def untraced(spark, wl, reference, seconds, setup_s):
    jobs, ops, failed = measure(wl, reference, seconds, wl.min_jobs)
    p50 = statistics.median(jobs)
    lines = [f"job_p50_s {p50:.4f} s (median of {len(jobs)} jobs: "
             f"{[round(t, 3) for t in jobs]})"]
    if wl.pages:
        lines.append(f"pages_per_s {wl.pages * len(jobs) / sum(jobs):.1f} 1/s "
                     f"({wl.pages} pages a job)")
    if len(ops) > 1:
        lines += [f"{op}_p50_s {statistics.median(t):.4f} s "
                  f"(median of {len(t)})" for op, t in ops.items()]
    lines.append(f"peak_rss_mb {harness.peak_rss_mb(spark):.1f} MB")
    metrics = {"setup_s": setup_s, "job_p50_s": p50}
    return lines, metrics, len(jobs), failed


def traced(spark, wl, reference, seconds):
    import workloads
    from tracing import Tracer

    jobs, _, failed = measure(wl, reference, seconds / 2, MIN_TRACED_JOBS)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer = Tracer(spark)
    per_job, walls = [], []
    deadline = time.perf_counter() + seconds / 2
    while len(per_job) < MIN_TRACED_JOBS or time.perf_counter() < deadline:
        start = time.perf_counter()
        layer, digests = wl.trace(tracer, f"{wl.name}/{len(per_job)}")
        walls.append(time.perf_counter() - start)
        per_job.append(layer)
        failed += any(d != reference[op] for op, d in digests.items())
    metrics = dict.fromkeys(workloads.LAYER_METRICS, 0.0)
    for name in per_job[0]:
        metrics[name] = statistics.median(m[name] for m in per_job)
    metrics.update(wl.kernel_metrics())
    metrics["trace.overhead_s"] = (statistics.median(walls)
                                   - statistics.median(jobs))
    os.makedirs(TRACES, exist_ok=True)
    tracer.dump(os.path.join(TRACES, f"{wl.name}-seed{wl.seed}.json"))
    lines = [f"{name} {value:.6g} {workloads.LAYER_METRICS[name][0]}"
             for name, value in metrics.items()]
    lines.append(f"traced jobs {len(per_job)}, untraced jobs {len(jobs)}")
    return lines, metrics, len(jobs) + len(per_job), failed


def result_line(correct, attempted, failed, metrics, units) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}})


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, harness.ROOT)
    try:
        import geohash_dotnet_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {harness.ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = harness.make_workdir(args.workload)
    spark = None
    try:
        host = harness.cpu_times()
        start = time.perf_counter()
        spark = harness.start_session(work)
        session_s = time.perf_counter() - start
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        setups = []
        for rep in range(SETUP_REPS):
            start = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - start)
        # the warm-up job is the first job, and is checked like the rest
        start = time.perf_counter()
        first = wl.job()
        warmup_s = time.perf_counter() - start
        setup_s = session_s + statistics.median(setups) + warmup_s
        start = time.perf_counter()
        try:
            reference = wl.verify(first)
            workloads.check(all(d == reference[op] for op, _, d in first),
                            "the first job's digests differ from the oracle's")
        except workloads.Mismatch as exc:
            print(f"perfbench: wrong output: {exc}", file=sys.stderr)
            print(result_line(False, 1, 1, {}, {}))
            return 1
        print(f"workload {wl.name} seed {args.seed} "
              f"local[{harness.cpus()}] one client, closed loop")
        print(f"setup_s {setup_s:.4f} s (session {session_s:.3f} s + median "
              f"of {SETUP_REPS} input set-ups {[round(s, 3) for s in setups]}"
              f" + warm-up job {warmup_s:.3f} s)")
        print(f"verified against the oracle in "
              f"{time.perf_counter() - start:.1f} s")
        print(f"cached_mb {harness.cached_mb(spark):.1f} MB of "
              f"{harness.storage_mb(spark):.0f} MB storage memory")
        warm, _, warm_failed = measure(wl, reference, wl.warmup_s, min_jobs=0)
        print(f"warm-up {sum(warm):.1f} s, {len(warm)} untimed jobs")
        print(f"host before the measured phase: "
              f"{harness.host_noise(host, harness.cpu_times())}")
        host = harness.cpu_times()
        if args.trace:
            lines, metrics, attempted, failed = traced(
                spark, wl, reference, args.seconds)
            units = {k: u for k, (u, _) in workloads.LAYER_METRICS.items()}
        else:
            lines, metrics, attempted, failed = untraced(
                spark, wl, reference, args.seconds, setup_s)
            units = END_TO_END
        lines.append("host during the measured phase: "
                     + harness.host_noise(host, harness.cpu_times()))
        attempted += len(warm)
        failed += warm_failed
        lines.append(f"failed_ops_frac {failed / attempted:.4f} "
                     f"({failed} of {attempted} jobs)")
        print("\n".join(lines))
        print(result_line(failed == 0, attempted, failed, metrics, units))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
