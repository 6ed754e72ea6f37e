"""Self-test of the benchmark.

Checks that BENCHMARK.json names exactly the metrics the runs print, and
that two traced runs with the same seed give identical deterministic
counters (rows, records, bytes, cells, exchanges, stages, tasks).

    python3 perfbench/selftest.py --seed 3 --workload tile_join cell_algebra

Exits with 1 if anything differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import harness


def traced_run(workload: str, seed: int, seconds: float) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(harness.HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=harness.ROOT, capture_output=True, text=True, timeout=600,
        check=True)
    result = json.loads(proc.stdout.splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    sys.path.insert(0, harness.ROOT)
    import run
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=4.0)
    p.add_argument("--workload", nargs="+", default=list(workloads.WORKLOADS))
    args = p.parse_args()

    failures = []
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, names in (("end_to_end", run.END_TO_END),
                       ("per_layer", workloads.LAYER_METRICS)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        printed = {k: (v if isinstance(v, str) else v[0])
                   for k, v in names.items()}
        if listed != printed:
            failures.append(f"BENCHMARK.json {key} != the metrics printed")
    if not {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS):
        failures.append("BENCHMARK.json names a workload run.py lacks")

    for workload in args.workload:
        first = traced_run(workload, args.seed, args.seconds)
        second = traced_run(workload, args.seed, args.seconds)
        diff = {k: (first[k], second[k]) for k in workloads.DETERMINISTIC
                if first[k] != second[k]}
        if diff:
            failures.append(f"{workload}: counters differ {diff}")
        print(f"{workload} seed {args.seed}: "
              f"{len(workloads.DETERMINISTIC) - len(diff)} of "
              f"{len(workloads.DETERMINISTIC)} counters identical", flush=True)

    for failure in failures:
        print(f"FAIL {failure}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
