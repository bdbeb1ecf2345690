#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with another seed,
and prints each metric's median, quartiles and spread (the distance
between the first and third quartile as a share of the median, from
statistics.quantiles(values, n=4)), with each metric's bound from
BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                                [--seconds <n>] [--trace 0|1] [--json <path>]

Run from the repository root. The runs are sequential; each one is a
full `perfbench/run.py` invocation.
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


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results, walls, failed_share = [], [], set()
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        env = next((json.loads(ln)["run"] for ln in lines if ln.startswith('{"run"')), {})
        results.append(res)
        failed_share.add(res["failed"] / res["attempted"])
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        close = env.get("env_close", {})
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {vals} "
              f"canary={close.get('canary_s')} steal={close.get('cpu_steal_share')}", flush=True)

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "walls": walls, "results": results}, f, indent=1)
    print(f"\n{args.workload}: {args.runs} runs, wall per run median {statistics.median(walls):.1f} s, "
          f"failed shares {sorted(failed_share)}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in results])
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if sp < bound / 3 else "  WIDE" if sp > bound else "  <bound")
        print(f"{name:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.3f} {bound if bound else '':>6}{flag}")


if __name__ == "__main__":
    main()
