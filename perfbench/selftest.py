#!/usr/bin/env python3
"""Self-test of the benchmark on the small sf0.001 tables.

For every workload it makes two short untraced runs and one short traced
run, each recording the per-query fingerprints, then checks that
  - the untraced runs print every end-to-end metric of BENCHMARK.json with
    its unit, and the traced run every per-layer metric with its unit;
  - no op failed;
  - the fingerprints of the three runs are identical.
Exit code 0 means every check passed.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def run(workload, trace, record):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--data", os.path.join(BENCH, "data", "sf0.001"), "--record", record]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"selftest: {workload} trace={trace} exited {p.returncode}")
    with open(record) as f:
        return json.loads(p.stdout.strip().splitlines()[-1]), f.read()


def check_metrics(workload, result, specs):
    problems = []
    for spec in specs:
        m = result["metrics"].get(spec["name"])
        if m is None:
            problems.append(f"{workload}: {spec['name']} missing")
        elif m.get("unit") != spec["unit"]:
            problems.append(f"{workload}: {spec['name']} unit {m.get('unit')} != {spec['unit']}")
    if result["failed"] or not result["correct"]:
        problems.append(f"{workload}: {result['failed']} of {result['attempted']} ops failed "
                        f"or wrong (correct={result['correct']})")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        prints = []
        for i, trace in enumerate((0, 0, 1)):
            result, fingerprints = run(w, trace, os.path.join(WORK, f"{w}-{i}.tsv"))
            metrics = spec["per_layer"] if trace else spec["end_to_end"]
            problems += check_metrics(w, result, metrics)
            prints.append(fingerprints)
        if len(set(prints)) != 1:
            problems.append(f"{w}: fingerprints differ between runs")
        print(f"selftest: {w} done, {prints[0].count(chr(10))} fingerprints", flush=True)
    for p in problems:
        print(f"selftest: FAIL {p}")
    print("selftest: ok" if not problems else f"selftest: {len(problems)} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
