#!/usr/bin/env python3
"""Runs one workload with several seeds and prints, per metric, the median
and the spread (distance between the first and third quartile, as
`statistics.quantiles(values, n=4)` gives them, as a share of the median).

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 [--seconds N] [--trace 0]

Run from the repository root. Each run's result line is appended to
`.bench_build/perfbench/steadiness-<workload>.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench",
                       f"steadiness-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for s in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(s), "--seconds", seconds,
                              "--trace", args.trace], capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, **res}) + "\n")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
        print(f"{k:28s} median={med:<12.5g} spread={spread:.4f} bound={b} {flag}")


if __name__ == "__main__":
    main()
