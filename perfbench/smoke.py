#!/usr/bin/env python3
"""Smoke check of the benchmark itself: one step of every workload at
sf0.001, plain and traced, asserting that every metric named in
BENCHMARK.json is printed (as a human-readable line and in the result
JSON) and that the run is correct.

    python3 perfbench/smoke.py [--src-dir ~/testdata/sf0.001]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src-dir", default=os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.001"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, wanted in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "1", "--seconds", "0.001", "--trace", trace,
                   "--src-dir", args.src_dir]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            prefix = "e2e " if trace == "0" else "layer "
            printed = {l.split()[1] for l in lines[:-1] if l.startswith(prefix)}
            for m in wanted:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or got["value"] is None:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing from JSON")
                if m["name"] not in printed:
                    problems.append(f"{w} trace={trace}: metric {m['name']} not printed")
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"{w} trace={trace}: not correct: " +
                                "; ".join(l for l in lines if l.startswith("note:")))
            print(f"{w} trace={trace}: {len(result['metrics'])} metrics, "
                  f"correct={result['correct']}")
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke ok")


if __name__ == "__main__":
    main()
