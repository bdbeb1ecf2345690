#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: each check must pass
on the program's real outputs and fail once the outputs are perturbed.

    python3 perfbench/selftest.py [--seed 7]

Run from the repository root. It makes one short kept run per workload
(run.py --keep), re-runs the checks on the kept outputs, then on copies
with one change each:

- batch: one value changed in one query's result; one row dropped;
- stream_keyed: one running-max row dropped; one sensor's final argmax
  changed.

Exits non-zero if a check passes a perturbed output or fails a real one.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402


def kept_run(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "2", "--keep"],
                       cwd=ROOT, capture_output=True, text=True)
    rec = next((json.loads(ln)["run"] for ln in p.stdout.splitlines() if ln.startswith('{"run"')), None)
    if rec is None or "kept" not in rec:
        sys.exit(f"{workload}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
    with open(os.path.join(rec["kept"], "result.json")) as f:
        return rec["kept"], json.load(f)


def perturb_value(df):
    df = df.copy()
    col = df.columns[0]
    if pd.api.types.is_numeric_dtype(df[col]):
        df.loc[df.index[0], col] = df[col].iloc[0] + 1
    else:
        df[col] = df[col].astype(object)
        df.loc[df.index[0], col] = f"{df[col].iloc[0]}x"
    return df


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    outcomes = []

    def expect(name, problems, should_fail):
        ok = bool(problems) == should_fail
        outcomes.append(ok)
        verdict = "fails" if problems else "passes"
        print(f"{'ok ' if ok else 'BAD'} {name}: {verdict}" + (f" ({problems[0]})" if problems else ""))

    dirs = []
    try:
        # batch
        run_dir, res = kept_run("batch", args.seed)
        dirs.append(run_dir)
        spec = run.WORKLOADS["batch"]
        problems, failed = run.check(spec, res, run_dir)
        expect("batch: real outputs", problems + failed, False)
        name = spec["queries"][0]
        for label, change in [("one value changed", perturb_value),
                              ("one row dropped", lambda df: df.iloc[1:])]:
            bad = os.path.join(run_dir, "perturbed")
            shutil.rmtree(bad, ignore_errors=True)
            shutil.copytree(os.path.join(run_dir, "check"), bad)
            shutil.rmtree(os.path.join(bad, name))
            os.makedirs(os.path.join(bad, name))
            df = pd.read_parquet(os.path.join(run_dir, "check", name))
            change(df).to_parquet(os.path.join(bad, name, "part-0.parquet"), index=False)
            problems, _ = checks.batch(run.BATCH_DATA, bad, run_dir)
            expect(f"batch: {name} {label}", problems, True)

        # stream_keyed
        run_dir, res = kept_run("stream_keyed", args.seed)
        dirs.append(run_dir)
        events = run.read_csv(os.path.join(run_dir, "events.csv"))
        sink = run.read_csv(os.path.join(run_dir, "sink.csv"))
        expect("stream_keyed: real outputs", checks.keyed(events, sink), False)
        expect("stream_keyed: one row dropped", checks.keyed(events, sink.iloc[1:]), True)
        best = sink.sort_values(["value", "event_id"], ascending=[False, True]).index[0]
        changed = sink.copy()
        changed.loc[best, "value"] += 0.01
        expect("stream_keyed: one final argmax changed", checks.keyed(events, changed), True)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    print(f"{sum(outcomes)}/{len(outcomes)} expectations met")
    sys.exit(0 if all(outcomes) else 1)


if __name__ == "__main__":
    main()
