#!/usr/bin/env python3
"""Run one workload N times, each in a fresh process, and print every
metric's median, quartiles, min/max and quartile spread (Q3 - Q1 as a
share of the median).

    python3 opbench/steadiness.py --workload ann_query --runs 10 --seconds 10

Seeds are ``--first-seed`` .. ``--first-seed + runs - 1``, so each run
reads other inputs. The per-run JSON lines go to ``--out`` (default:
stdout only) so two sets can be compared later with ``--compare``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    print("\n".join(f"  {line}" for line in lines[:-1]), flush=True)
    out = json.loads(lines[-1])
    out["seed"], out["run_wall_s"] = seed, wall
    return out


def summarize(results: "list[dict]") -> "dict[str, dict]":
    """Per metric: median, quartiles (``statistics.quantiles(n=4)``),
    min/max and the quartile spread as a share of the median. The
    process wall of each run is reported as ``run_wall_s``."""
    columns = {name: ([r["metrics"][name]["value"] for r in results], m["unit"])
               for name, m in results[0]["metrics"].items()}
    columns["run_wall_s"] = ([r["run_wall_s"] for r in results], "s")
    table = {}
    for name, (vals, unit) in columns.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        table[name] = {"unit": unit, "median": med, "q1": q1, "q3": q3, "min": min(vals),
                       "max": max(vals), "spread": (q3 - q1) / med if med else 0.0}
    return table


def print_table(title: str, table: "dict[str, dict]") -> None:
    print(title)
    print(f"{'metric':<44}{'unit':>10}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'min':>12}{'max':>12}{'spread':>9}")
    for name, t in table.items():
        print(f"{name:<44}{t['unit']:>10}{t['median']:>12.4f}{t['q1']:>12.4f}{t['q3']:>12.4f}"
              f"{t['min']:>12.4f}{t['max']:>12.4f}{t['spread']:>9.3f}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append each run's JSON line to this file")
    p.add_argument("--compare", nargs=2, metavar=("SET_A", "SET_B"),
                   help="compare the medians of two saved sets against BENCHMARK.json bounds")
    a = p.parse_args()
    if a.compare:
        return compare(*a.compare)
    results = []
    for i in range(a.runs):
        r = run_once(a.workload, a.first_seed + i, a.seconds, a.trace)
        results.append(r)
        print(f"seed {r['seed']}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['run_wall_s']:.1f}s", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, **r}) + "\n")
    print_table(f"{a.workload}: {a.runs} runs, --seconds {a.seconds}", summarize(results))
    return 0 if all(r["correct"] and r["failed"] == 0 for r in results) else 1


def compare(path_a: str, path_b: str) -> int:
    """Per workload and end-to-end metric: both sets' medians, the
    second's change against the first, and whether it stays inside the
    metric's bound."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sets = []
    for path in (path_a, path_b):
        by_w = {}
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                by_w.setdefault(r["workload"], []).append(r)
        sets.append(by_w)
    ok = True
    for w in sorted(set(sets[0]) & set(sets[1])):
        ta, tb = summarize(sets[0][w]), summarize(sets[1][w])
        for name, m in spec.items():
            a, b = ta[name]["median"], tb[name]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            within = worse <= m["bound"]
            ok &= within
            print(f"{w:<12}{name:<14} A={a:<12.4f} B={b:<12.4f} worse={worse:+.3f} "
                  f"bound={m['bound']} spreadA={ta[name]['spread']:.3f} "
                  f"spreadB={tb[name]['spread']:.3f} {'ok' if within else 'OUT'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
