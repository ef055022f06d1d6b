#!/usr/bin/env python3
"""Run a workload over several seeds and report, per metric, the median and
the spread: the distance between the first and third quartile of the
per-run values as a share of their median (statistics.quantiles, n=4).

    python3 perfbench/spread.py --workload lake_dml --seeds 1-10 [--trace 0]
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls, bad = {}, [], 0
    for s in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", str(bench["run_seconds"]),
                            "--trace", args.trace],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            bad += 1
            log = os.path.join(ROOT, ".bench_build", f"failed-{args.workload}-{s}.log")
            with open(log, "w") as f:
                f.write(p.stdout + p.stderr)
            print(f"seed {s}: exit {p.returncode}, output in {log}", file=sys.stderr)
            continue
        r = json.loads(lines[-1])
        if not r["correct"] or r["failed"]:
            bad += 1
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {s}: wall {walls[-1]:.1f}s correct={r['correct']} "
              f"failed={r['failed']} {vals}", flush=True)
    print(f"{args.workload}: {len(walls)} runs, {bad} bad, wall median "
          f"{statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" OK" if spread < b / 3 else " WIDE")
        print(f"  {k:34s} median {med:.6g}  spread {spread:.3f}"
              + ("" if b is None else f"  bound {b}") + flag)


if __name__ == "__main__":
    main()
