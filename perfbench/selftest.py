#!/usr/bin/env python3
"""Self-test of the graft benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload it runs the small-input mode (run.py --small: every
operation once, traced) and asserts that
  - the run exits 0 and reports correct=true with no failed operation;
  - every end-to-end and per-layer metric BENCHMARK.json names is printed,
    with a unit, and failed_op_share is 0;
  - the workload's own end-to-end metrics (perfbench/workloads.json) are
    printed too;
  - every traced layer the workload lists in perfbench/workloads.json was
    called (<layer>.calls > 0);
  - each operation's span tree lies inside its wall time and covers it
    (checked inside the run, which fails otherwise).
It also checks that run.py fails fast, without a result, in a directory
that holds only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_workload(name, bench, spec):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "7", "--small"],
                       cwd=ROOT, capture_output=True, text=True, timeout=1000)
    errors = []
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        errors.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
        return errors
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"] != 0:
        errors.append(f"correct={result['correct']} failed={result['failed']}")
    printed = {}
    for l in lines:
        if l.startswith("metric "):
            metric, rest = l[len("metric "):].split(" = ", 1)
            parts = rest.split()
            if len(parts) < 2:
                errors.append(f"no unit: {l}")
                continue
            printed[metric] = (float(parts[0]), parts[1])
    wanted = [m["name"] for m in bench["end_to_end"]] + [m["name"] for m in bench["per_layer"]]
    wanted += [m for m, s in spec["metrics"].items() if name in s["workloads"]]
    for m in wanted:
        if m not in printed:
            errors.append(f"metric {m} not printed")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update({m: s["unit"] for m, s in spec["metrics"].items()})
    for m, (_, unit) in printed.items():
        if m in units and units[m] != unit:
            errors.append(f"metric {m} printed in {unit}, declared in {units[m]}")
    traced_layers = {m["name"][:-len(".calls")] for m in bench["per_layer"] if m["name"].endswith(".calls")}
    workload = next(w for w in spec["workloads"] if w["name"] == name)
    for layer in workload["layers"]:
        if layer in traced_layers and printed.get(f"{layer}.calls", (0.0, ""))[0] <= 0:
            errors.append(f"layer {layer} was never called")
    if printed.get("failed_op_share", (1.0, ""))[0] != 0.0:
        errors.append("failed_op_share is not 0")
    print(f"{name}: {'ok' if not errors else 'FAILED'} ({time.monotonic() - t0:.0f} s, "
          f"{result['attempted']} operations, {len(printed)} metrics)")
    return errors


def check_bare():
    """run.py must refuse a directory without graft's sources."""
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "corpus", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=200)
    shutil.rmtree(bare, ignore_errors=True)
    errors = []
    if p.returncode == 0:
        errors.append("run.py exited 0 without graft sources")
    if p.stdout.strip():
        errors.append("run.py printed a result without graft sources")
    print(f"bare directory: {'ok' if not errors else 'FAILED'} (exit {p.returncode} in {time.monotonic() - t0:.1f} s)")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    errors = check_bare()
    for n in names:
        errors += [f"{n}: {e}" for e in check_workload(n, bench, spec)]
    for e in errors:
        print("  " + e)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
