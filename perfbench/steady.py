#!/usr/bin/env python3
"""Steadiness and A/B tool for the graft benchmark.

Run one workload several times (one seed per run) and record every metric
each run printed:

    python3 perfbench/steady.py runs --workload corpus --runs 10 --out a.jsonl
        [--first-seed 1] [--seconds 8] [--trace 0] [--checkout DIR]

Summarize a set of runs: each metric's median, quartiles and spread (the
distance between the quartiles as a share of the median) against its bound:

    python3 perfbench/steady.py report a.jsonl

Compare two sets (the same code twice, or parent against change):

    python3 perfbench/steady.py compare parent.jsonl change.jsonl

Make the two sets in alternating order, parent first on even pairs and the
change first on odd ones, from two checkouts of the repository:

    python3 perfbench/steady.py ab --parent DIR --change DIR --workload corpus
        --pairs 10 --out-prefix ab

Bounds come from BENCHMARK.json (the gated end-to-end metrics) and from
perfbench/workloads.json (every metric, with its unit and direction).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_specs():
    """name -> {"unit", "better", "bound"} from both spec files."""
    specs = {}
    with open(os.path.join(HERE, "workloads.json")) as fh:
        for name, m in json.load(fh)["metrics"].items():
            specs[name] = m
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for m in bench["end_to_end"]:
        specs.setdefault(m["name"], {}).update(m)
    for m in bench["per_layer"]:
        specs.setdefault(m["name"], {}).update(m)
    return specs


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns the record: the JSON result plus every
    printed metric line."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1000)
    wall = time.monotonic() - t0
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    printed = {}
    for l in lines:
        if l.startswith("metric "):
            name, rest = l[len("metric "):].split(" = ", 1)
            value, unit = rest.split()[:2]
            printed[name] = {"value": float(value), "unit": unit}
        elif l.startswith("op "):
            # "op <name> p50 <ms> ms n=<k> ...": one operation type's median
            parts = l.split()
            printed[f"op.{parts[1]}_p50_ms"] = {"value": float(parts[3]), "unit": "ms"}
    return {"workload": workload, "seed": seed, "checkout": checkout, "wall_s": wall,
            "result": json.loads(lines[-1]), "printed": printed}


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def values(records):
    """metric -> list of values over the records (printed lines, which hold
    every metric of the run)."""
    out = {}
    for r in records:
        for name, m in r["printed"].items():
            out.setdefault(name, []).append(m["value"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(records, specs):
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}  verdict")
    for name, xs in sorted(values(records).items()):
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / abs(med) if med else 0.0
        bound = specs.get(name, {}).get("bound")
        if bound is None:
            verdict = ""
        elif spread <= bound / 3:
            verdict = "steady"
        elif spread <= bound:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
        print(f"{name:40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {bound if bound is not None else '':>6}  {verdict}")
    walls = [r["wall_s"] for r in records if "wall_s" in r]
    if walls:
        print(f"run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    failed = sum(r["result"]["failed"] for r in records)
    wrong = sum(1 for r in records if not r["result"]["correct"])
    print(f"runs {len(records)}, failed operations {failed}, incorrect runs {wrong}")


def compare(a, b, specs):
    va, vb = values(a), values(b)
    print(f"{'metric':40s} {'median A':>12s} {'median B':>12s} {'B vs A':>8s} {'spread A':>8s} {'bound':>6s}  verdict")
    for name in sorted(set(va) & set(vb)):
        qa1, ma, qa3 = quartiles(va[name])
        _, mb, _ = quartiles(vb[name])
        spec = specs.get(name, {})
        better = spec.get("better", "lower")
        change = (mb - ma) / abs(ma) if ma else 0.0
        worse = change if better == "lower" else -change
        spread = (qa3 - qa1) / abs(ma) if ma else 0.0
        bound = spec.get("bound")
        if bound is None:
            verdict = ""
        elif spread > bound:
            verdict = "unresolved (A spread > bound)"
        elif worse > bound:
            verdict = "WORSE beyond bound"
        elif -worse > spread and -worse > 0:
            verdict = "better"
        else:
            verdict = "same within bound"
        print(f"{name:40s} {ma:12.4f} {mb:12.4f} {change:+8.3f} {spread:8.3f} {bound if bound is not None else '':>6}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--checkout", default=ROOT)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("file")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    x = sub.add_parser("ab")
    x.add_argument("--parent", required=True)
    x.add_argument("--change", required=True)
    x.add_argument("--workload", required=True)
    x.add_argument("--pairs", type=int, default=10)
    x.add_argument("--first-seed", type=int, default=1)
    x.add_argument("--seconds", type=float, default=None)
    x.add_argument("--out-prefix", required=True)
    args = ap.parse_args()
    specs = metric_specs()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        default_seconds = json.load(fh)["run_seconds"]

    if args.cmd == "runs":
        with open(args.out, "a") as out:
            for i in range(args.runs):
                rec = run_once(args.checkout, args.workload, args.first_seed + i,
                               args.seconds or default_seconds, args.trace)
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"seed {rec['seed']}: {json.dumps(rec['result']['metrics'])}", file=sys.stderr)
        report(load(args.out), specs)
    elif args.cmd == "report":
        report(load(args.file), specs)
    elif args.cmd == "compare":
        compare(load(args.a), load(args.b), specs)
    else:
        files = {side: f"{args.out_prefix}-{side}.jsonl" for side in ("parent", "change")}
        dirs = {"parent": args.parent, "change": args.change}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = run_once(dirs[side], args.workload, args.first_seed + i,
                               args.seconds or default_seconds, 0)
                with open(files[side], "a") as out:
                    out.write(json.dumps(rec) + "\n")
        pa, ch = load(files["parent"]), load(files["change"])
        wins = {}
        for name in values(pa):
            better = specs.get(name, {}).get("better", "lower")
            n = 0
            for x, y in zip(pa, ch):
                if name in x["printed"] and name in y["printed"]:
                    vx, vy = x["printed"][name]["value"], y["printed"][name]["value"]
                    if (vy < vx) if better == "lower" else (vy > vx):
                        n += 1
            wins[name] = n
        compare(pa, ch, specs)
        print("pairs the change won (a claim needs 9 of 10):")
        for name, n in sorted(wins.items()):
            print(f"  {name:40s} {n}/{len(pa)}")


if __name__ == "__main__":
    main()
