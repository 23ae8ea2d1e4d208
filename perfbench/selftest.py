"""Self-test of the benchmark, at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

For each workload: one untraced run must print every end-to-end metric
of BENCHMARK.json with its unit and pass its checks, and two traced
runs with the same seed must print every per-layer metric with its unit
and agree exactly on spark.jobs, spark.stages and spark.tasks.
Exits non-zero on the first failure.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, spec: list, what: str) -> None:
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        sys.exit(f"{what}: missing {missing}, unexpected {extra}, wrong unit {wrong}")


def main(workloads) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in workloads or [x["name"] for x in spec["workloads"]]:
        plain = run(w, 0)
        expect_metrics(plain, spec["end_to_end"], f"{w} trace=0")
        if not plain["correct"] or plain["failed"]:
            sys.exit(f"{w}: checks failed: {plain}")
        counts = []
        for _ in range(2):
            traced = run(w, 1)
            expect_metrics(traced, spec["per_layer"], f"{w} trace=1")
            counts.append({k: traced["metrics"][k]["value"] for k in ("spark.jobs", "spark.stages", "spark.tasks")})
        if counts[0] != counts[1]:
            sys.exit(f"{w}: counters differ between two traced runs with one seed: {counts}")
        print(f"{w}: ok {counts[0]}")


if __name__ == "__main__":
    main(sys.argv[1:])
