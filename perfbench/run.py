#!/usr/bin/env python3
"""graft benchmark: two workloads over graft's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. Each run:

0. compiles the harness on first use (build.py);
1. records a fixed-work CPU canary and the load average (open);
2. takes the workload's inputs: the batch tables are fixed fixtures
   (perfbench/data), the stream events are generated from --seed;
3. starts one JVM (graftbench.Harness) that sets up a local[4] session,
   warms up, and runs whole rounds of the workload's operations for
   --seconds;
4. checks the program's outputs against computations made apart from it
   (checks.py);
5. records the canary and load average again (close), then prints the
   result as the last line of stdout.

With --trace 0 the result carries the end-to-end metrics; with --trace 1
a SparkListener and the streaming progress are read and the result
carries the per-layer metrics. The exit code is non-zero when an
operation failed or an output was wrong.
"""
import argparse
import glob
import json
import os
import pwd
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
RUN_LIMIT_S = 175

sys.path.insert(0, HERE)
from build import CLASSES, build, java, spark_jars  # noqa: E402

BATCH_QUERIES = ["q04_window_avg", "qx2_cosine_topk", "qx20_dup_clusters"]

# The project's seeded sf0.01 test tables (TESTDATA.md) that the batch
# queries read, copied unchanged so a checkout carries them.
BATCH_DATA = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = {
    "batch": {"mode": "batch", "queries": BATCH_QUERIES, "warmup-passes": 3},
    "stream_keyed": {"mode": "keyed", "sensors": 10000, "chunk": 20000, "warmup-chunks": 8},
}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- interpreter

CHECK_MODULES = ("numpy", "pandas", "pyarrow", "duckdb")


def has_check_modules(python):
    return subprocess.run([python, "-c", "import " + ", ".join(CHECK_MODULES)],
                          stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0


def ensure_check_modules():
    """The checks need numpy, pandas, pyarrow and duckdb. When the python3
    that started this script lacks them (a bare system python ahead of
    pyenv's or conda's on PATH), re-executes the script under the first
    python3 that has them: those on PATH, then pyenv's and conda's."""
    try:
        for m in CHECK_MODULES:
            __import__(m)
        return
    except ImportError:
        pass
    if os.environ.get("PERFBENCH_REEXEC"):
        raise SystemExit(f"python3 lacks one of {', '.join(CHECK_MODULES)}")
    dirs = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.path.expanduser("~"), pwd.getpwuid(os.getuid()).pw_dir]
    for pyenv in [os.environ.get("PYENV_ROOT")] + [os.path.join(h, ".pyenv") for h in homes]:
        if pyenv:
            dirs += [os.path.join(pyenv, "shims")]
            dirs += sorted(glob.glob(os.path.join(pyenv, "versions", "*", "bin")), reverse=True)
    dirs += [os.path.join(os.environ[v], "bin") for v in ("CONDA_PREFIX", "VIRTUAL_ENV") if os.environ.get(v)]
    seen = {os.path.realpath(sys.executable)}
    for d in dirs:
        python = os.path.join(d, "python3")
        if not d or not os.access(python, os.X_OK) or os.path.realpath(python) in seen:
            continue
        seen.add(os.path.realpath(python))
        if has_check_modules(python):
            log(f"re-running under {python}: {sys.executable} lacks the checks' modules")
            os.environ["PERFBENCH_REEXEC"] = "1"
            os.execv(python, [python, os.path.abspath(__file__)] + sys.argv[1:])
    raise SystemExit(f"no python3 with {', '.join(CHECK_MODULES)} found on PATH, in pyenv or in conda")


# ---------------------------------------------------------------- environment

def canary_s():
    """Fixed-work single-thread integer kernel: its time measures the host,
    never the code under test."""
    t0 = time.perf_counter()
    x = 0x9E3779B9
    for _ in range(400_000):
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
    t = time.perf_counter() - t0
    return round(t, 4) if x != 42 else t


def cpu_times():
    """(steal, total) jiffies of the whole host since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return 0, 0


def environment():
    return {"canary_s": canary_s(), "load_avg_1m": round(os.getloadavg()[0], 2),
            "cpus": os.cpu_count()}


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this host between two
    cpu_times() readings; a high share marks a contended run."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total > 0 else 0.0


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- metrics

def batch_metrics(res, names, trace):
    ok = [o for o in res["ops"] if o["error"] is None]
    per_query = {n: [o["build_ms"] + o["action_ms"] for o in ok if o["name"] == n] for n in names}
    if not trace:
        return {
            "suite_s": (sum(median(v) for v in per_query.values()) / 1000.0, "s"),
            "op_p50_ms": (median([median(v) for v in per_query.values() if v]), "ms"),
        }
    m = {
        "queries.build_s": (sum(median([o["build_ms"] for o in ok if o["name"] == n])
                                for n in names) / 1000.0, "s"),
        "queries.action_s": (sum(median([o["action_ms"] for o in ok if o["name"] == n])
                                 for n in names) / 1000.0, "s"),
    }
    for n in names:
        m[f"query.{n}_ms"] = (median(per_query[n]), "ms")
    return m


def stream_metrics(res, trace):
    chunks = res["chunks"]
    if not trace:
        return {
            "suite_s": (sum(c["ms"] for c in chunks) / len(chunks) / 1000.0, "s"),
            "op_p50_ms": (median([c["ms"] for c in chunks]), "ms"),
        }
    prog = res["progress"]
    starts = [c["start_ms"] for c in chunks] + [res["timed_end_ms"]]
    per_chunk = [[p for p in prog if starts[i] <= p["start_ms"] < starts[i + 1]]
                 for i in range(len(chunks))]

    def phase(key):
        return median([sum(p["duration_ms"].get(key, 0) for p in ps) for ps in per_chunk])

    def state(key):
        return median([sum(p[key] for p in ps) for ps in per_chunk])

    timed = [p for ps in per_chunk for p in ps]
    last = timed[-1] if timed else {"state_rows_total": 0, "state_memory_bytes": 0}
    return {
        "streaming.trigger_ms": (phase("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (phase("addBatch"), "ms"),
        "streaming.query_planning_ms": (phase("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (phase("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (phase("commitOffsets"), "ms"),
        "sources.add_data_ms": (median([c["add_ms"] for c in chunks]), "ms"),
        "state.update_ms": (state("state_update_ms"), "ms"),
        "state.commit_ms": (state("state_commit_ms"), "ms"),
        "state.rows_total": (last["state_rows_total"], "count"),
        "state.memory_mb": (last["state_memory_bytes"] / 1e6, "MB"),
    }


ENGINE = [("spark.jobs", "jobs", 1, "count"), ("spark.stages", "stages", 1, "count"),
          ("spark.tasks", "tasks", 1, "count"), ("spark.task_busy_s", "task_busy_ms", 1e3, "s"),
          ("spark.round_wall_s", "wall_ms", 1e3, "s"), ("spark.job_s", "job_covered_ms", 1e3, "s"),
          ("spark.shuffle_write_mb", "shuffle_write_bytes", 1e6, "MB"),
          ("spark.shuffle_read_mb", "shuffle_read_bytes", 1e6, "MB"),
          ("spark.input_rows", "input_rows", 1, "count"),
          ("spark.result_mb", "result_bytes", 1e6, "MB"), ("spark.gc_s", "gc_ms", 1e3, "s")]

def engine_metrics(res):
    """Per-round engine counters read through the SparkListener: medians
    over the timed rounds (a batch pass, or one stream chunk)."""
    rounds = res["rounds"]
    m = {name: (median([r[key] for r in rounds]) / div, unit) for name, key, div, unit in ENGINE}
    m["spark.driver_gap_s"] = (median([r["wall_ms"] - r["job_covered_ms"] for r in rounds]) / 1e3, "s")
    m["spark.core_busy_share"] = (median([r["task_busy_ms"] / (r["wall_ms"] * res["cores"])
                                          for r in rounds if r["wall_ms"] > 0]), "ratio")
    return m


def layer_metrics(spec, res):
    """Every per-layer metric BENCHMARK.json lists, on every workload; a
    layer the workload's path does not cross reads 0."""
    m = engine_metrics(res)
    if spec["mode"] == "batch":
        m.update(batch_metrics(res, spec["queries"], trace=True))
    else:
        m.update(stream_metrics(res, trace=True))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer"]
    return {d["name"]: m.get(d["name"], (0.0, d["unit"])) for d in listed}


# ---------------------------------------------------------------- run

def read_csv(path):
    import pandas as pd
    return pd.read_csv(path, dtype={"sensor_id": str})


def check(spec, res, run_dir):
    """Returns (problems, failed operation names)."""
    import checks
    if spec["mode"] == "batch":
        problems, missing = checks.batch(BATCH_DATA, os.path.join(run_dir, "check"), run_dir)
        return problems, sorted(set(res["check_failures"]) | set(missing))
    events = read_csv(os.path.join(run_dir, "events.csv"))
    sink = read_csv(os.path.join(run_dir, "sink.csv"))
    return checks.keyed(events, sink), []


def harness_cmd(spec, args, run_dir):
    jars = os.path.join(spark_jars(), "*")
    opts = dict(spec)
    if spec["mode"] == "batch":
        opts["queries"] = ",".join(spec["queries"])
        opts["data"] = BATCH_DATA
    opts.update({"out": run_dir, "seconds": args.seconds, "seed": args.seed,
                 "trace": args.trace, "cores": CORES})
    cmd = [java(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}", "graftbench.Harness"]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def run(args):
    spec = WORKLOADS[args.workload]
    ensure_check_modules()
    build()
    t_start = time.time()
    env_open = environment()
    cpu_open = cpu_times()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cmd = harness_cmd(spec, args, run_dir)
        t_launch = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (t_launch - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("harness exceeded the run time limit")
        if proc.returncode != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                tail = [ln for ln in f.read().splitlines() if "Exception" in ln or "Error" in ln][-5:]
            raise SystemExit(f"harness exited {proc.returncode}: " + " | ".join(tail))
        session_ms = next((int(ln.split()[1]) for ln in stdout.splitlines()
                           if ln.startswith("session-ready-ms ")), None)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)

        problems, failed_names = check(spec, res, run_dir)
        if spec["mode"] == "batch":
            attempted = len(res["ops"])
            failed = sum(1 for o in res["ops"] if o["error"] is not None)
            failed_names = sorted(set(failed_names) |
                                  {o["name"] for o in res["ops"] if o["error"] is not None})
        else:
            attempted = len(res["chunks"])
            failed = 0

        if args.trace:
            metrics = layer_metrics(spec, res)
        else:
            metrics = {"setup_s": (res["first_op_ms"] / 1000.0 - t_launch, "s")}
            if spec["mode"] == "batch":
                metrics.update(batch_metrics(res, spec["queries"], trace=False))
            else:
                metrics.update(stream_metrics(res, trace=False))
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    env_close = environment()
    env_close["cpu_steal_share"] = steal_share(cpu_open, cpu_times())
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "attempted": attempted, "failed": failed, "failed_operations": failed_names,
              "problems": problems, "env_open": env_open, "env_close": env_close}
    if session_ms is not None:
        record["jvm_to_session_s"] = round(session_ms / 1000.0 - t_launch, 3)
    if spec["mode"] != "batch":
        ev = sum(c["events"] for c in res["chunks"])
        record["ev_per_s"] = round(ev / (sum(c["ms"] for c in res["chunks"]) / 1000.0), 1)
    record["warmup_ms"] = [round(x) for x in res["warmup_ms"]]
    if args.keep:
        record["kept"] = run_dir
    print(json.dumps({"run": record}))
    for p in problems:
        log(f"WRONG {p}")
    for n in failed_names:
        log(f"FAILED operation {n}")
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if not problems and not failed and not failed_names else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's directory (inputs, outputs, JVM log) under .perfbench_work")
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
