"""Correctness checks of graft's outputs against computations made apart
from the program.

- batch: each query's result parquet against its `SparkEntry.oracleSql`
  run by DuckDB over the same tables, through the project's own checker
  `tools/check_oracle.py` (columns by name, rows sorted, doubles rounded
  to 1e-9).
- keyed: each sensor's final running argmax recomputed from the fed
  events, and one emitted row per event.

Each check returns a list of problems; an empty list means correct.
"""
import json
import os
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")


def batch(data_dir, check_dir, work_dir):
    """Runs tools/check_oracle.py over the results and the oracle_sql.json
    in check_dir. Returns (problems, failed names): a query without a
    result threw in the program and counts as a failed operation, not a
    wrong one."""
    verdicts_path = os.path.join(work_dir, "oracle_verdicts.json")
    if os.path.exists(verdicts_path):
        os.remove(verdicts_path)
    p = subprocess.run([sys.executable, CHECK_ORACLE, data_dir, check_dir, "--json", verdicts_path],
                       capture_output=True, text=True)
    if not os.path.exists(verdicts_path):
        return [f"oracle checker exited {p.returncode}: {(p.stdout + p.stderr)[-300:]}"], []
    with open(verdicts_path) as f:
        verdicts = json.load(f)["queries"]
    problems, failed = [], []
    for name, v in sorted(verdicts.items()):
        if v["hash_match"]:
            continue
        if not v["schema_match"] and (v["err"] or "").startswith("no spark result"):
            failed.append(name)
        else:
            problems.append(f"{name}: {v['err']}")
    return problems, failed


def _argmax(df: pd.DataFrame) -> pd.DataFrame:
    """Per sensor, the row with the highest value; ties go to the lower event_id."""
    return (df.sort_values(["sensor_id", "value", "event_id"], ascending=[True, False, True])
            .drop_duplicates("sensor_id")[["sensor_id", "event_id", "value"]]
            .reset_index(drop=True))


def keyed(events: pd.DataFrame, sink: pd.DataFrame):
    problems = []
    if len(sink) != len(events):
        problems.append(f"emitted {len(sink)} running-max rows for {len(events)} events")
    per_key = sink.groupby("sensor_id").size().sort_index()
    want_per_key = events.groupby("sensor_id").size().sort_index()
    if not per_key.equals(want_per_key):
        problems.append("per-sensor emitted row counts differ from per-sensor event counts")
    want, got = _argmax(events), _argmax(sink)
    if not want.equals(got):
        m = want.merge(got, on="sensor_id", how="outer", suffixes=("_want", "_got"))
        bad = int(((m["event_id_want"] != m["event_id_got"]) | (m["value_want"] != m["value_got"])).sum())
        problems.append(f"final argmax differs on {bad}/{len(want)} sensors")
    return problems
