#!/usr/bin/env python3
"""Benchmark of the sync engine: one workload, one seed, one JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 5 --trace 0

Steps: build the program and the harness from source (perfbench/build.py,
skipped when the sources are unchanged), generate the seed's tables with
tools/gen_testdata.py, run graft.perfbench.Main in a fresh JVM, check
every op's output against its DuckDB twin (SparkEntry.oracleSql), and print
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run is correct only if it scheduled
the untraced run's jobs. A context line (cores, master, parallelism,
loadavg, seed) is printed just before it. See perfbench/README.md.
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import build as builder

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SCALE = "0.01"
WORKLOADS = ("sync_cycle", "query_mix")
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
T_START = time.monotonic()
CHILD = None  # the running child process, stopped with us


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def remaining():
    """Seconds left of the run's budget, counted from the end of the build
    (a first run in a checkout may build for much longer)."""
    return DEADLINE_S - (time.monotonic() - T_START)


def stop_child():
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_proc(cmd, log, cwd, timeout):
    """Run cmd in its own process group to completion, or kill the group
    at timeout; returns the exit code, None on timeout."""
    global CHILD
    with open(log, "w") as out:
        CHILD = subprocess.Popen(cmd, cwd=cwd, stdout=out,
                                 stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            return CHILD.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            stop_child()
            return None
        finally:
            CHILD = None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def build():
    """Run build.py (it skips an up-to-date build) under the run's
    process control."""
    def stamp():
        try:
            with open(builder.STAMP) as f:
                return f.read()
        except OSError:
            return None
    before = stamp()
    log = os.path.join(WORK, "build.log")
    rc = run_proc([sys.executable, os.path.join(HERE, "build.py")],
                  log, ROOT, 880)
    if rc != 0:
        sys.stderr.write(tail(log))
        die("build failed")
    if stamp() != before:
        # results of another build must not serve as untraced baselines
        shutil.rmtree(os.path.join(WORK, "results"), ignore_errors=True)


# ----------------------------------------------------------------- data

def dataset(seed):
    gen = os.path.join(ROOT, "tools", "gen_testdata.py")
    with open(gen, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"sf{SCALE}-seed{seed}-{version}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    log = os.path.join(WORK, f"gen-{seed}.log")
    # numpy's generator takes no negative seed
    rc = run_proc([sys.executable, gen, d, "--seed", str(seed % 2 ** 32),
                   "--sf", SCALE], log, ROOT, 120)
    if rc != 0:
        sys.stderr.write(tail(log))
        die("test data generation failed")
    open(os.path.join(d, ".done"), "w").close()
    return d


# ---------------------------------------------------- result comparison

def cell(v):
    """Canonical text of one value, equal across Spark's parquet and
    DuckDB's result for the same SQL value."""
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT or v is pd.NA:
        return "\0"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        i = int(v)
        return repr(float(i)) if abs(i) < 2 ** 53 else str(i)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "\0" if math.isnan(f) else repr(f)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):  # datetime, date, pandas Timestamp
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert(None)
        return t.isoformat()
    return str(v)


def frame_hash(df):
    """Order-independent hash of a result frame: column names plus the
    sorted multiset of canonical rows."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x1d")
    return h.hexdigest()


def oracle_hashes(data_dir, oracles):
    import duckdb
    out, con = {}, None
    for name, sql in sorted(oracles.items()):
        if not sql:
            die(f"{name} has no DuckDB twin")
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cache = os.path.join(data_dir, f"oracle-{name}-{key}.sha")
        if os.path.exists(cache):
            out[name] = open(cache).read()
            continue
        if con is None:
            con = duckdb.connect()
            for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out[name] = frame_hash(con.execute(sql).df())
        with open(cache, "w") as f:
            f.write(out[name])
    return out


def check_ops(run_dir, result, expected):
    """Mark each op correct when its output hashes like its twin's."""
    import pandas as pd
    for op in result["ops"]:
        op["correct"] = False
        if op["ok"]:
            got = frame_hash(pd.read_parquet(os.path.join(run_dir, op["out"])))
            op["correct"] = got == expected[op["name"]]
            if not op["correct"]:
                print(f"[perfbench] {op['name']} (op {op['i']}) differs from "
                      "its DuckDB twin", file=sys.stderr)


# -------------------------------------------------------------- metrics

def tail_percentile(samples, min_beyond=10):
    """Highest percentile of the ladder with at least `min_beyond`
    samples above it: (percentile, value, samples beyond), or None."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75):
        rank = math.ceil(p / 100 * n)  # nearest-rank
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return None


def counts(ops):
    """(attempted, failed): an op fails when it throws or its output
    differs from the twin's."""
    return len(ops), sum(1 for o in ops if not (o["ok"] and o["correct"]))


def end_to_end(result):
    timed = [o for o in result["ops"] if o["timed"]]
    good = [o["wall_s"] for o in timed if o["ok"] and o["correct"]]
    # with no correct op the run reports correct=false; the median then
    # falls back to every timed op so that the figure stays a number
    lat = good or [o["wall_s"] for o in timed]
    return {
        "setup_s": (result["setup"]["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_min": (60.0 * len(good) / result["timed_wall_s"], "1/min"),
        "live_heap_mb": (max(o["heap_mb"] for o in timed
                             if o["heap_mb"] is not None), "MB"),
    }


def metric_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def jobs_per_op(result):
    jobs = [o["jobs"] for o in result["ops"] if o["timed"]]
    return sum(jobs) / max(1, len(jobs))


def jobs_match(traced, untraced):
    """True when tracing changed no op's job count: each op name's timed
    job counts are the same in both runs, and the traced listener's
    spark.jobs_per_op equals the untraced run's jobs per op."""
    def by_name(result):
        out = {}
        for o in result["ops"]:
            if o["timed"]:
                out.setdefault(o["name"], set()).add(o["jobs"])
        return out
    return (by_name(traced) == by_name(untraced) and
            traced["layers"]["spark.jobs_per_op"] == jobs_per_op(untraced))


def per_layer(result, untraced):
    e2e = end_to_end(result)
    base = end_to_end(untraced)
    layers = dict(result["layers"])
    att, bad = counts(result["ops"])
    layers.update({
        "setup.session_s": result["setup"]["session_s"],
        "setup.ops_s": result["setup"]["ops_s"],
        "setup.first_op_s": result["setup"]["first_op_s"],
        "fail_ratio": bad / att,
        "trace.op_p50_s": e2e["op_p50_s"][0],
        "trace.overhead_ratio": e2e["op_p50_s"][0] / base["op_p50_s"][0],
        "trace.untraced_jobs_per_op": jobs_per_op(untraced),
        "trace.jobs_match": 1.0 if jobs_match(result, untraced) else 0.0,
    })
    units = metric_units()
    missing = sorted(set(units) - set(layers))
    if missing:
        die(f"per-layer metrics not measured: {missing}")
    return {k: (layers[k], units[k]) for k in units}


# ------------------------------------------------------------------ run

def java_cmd(args, run_dir):
    jars = os.path.join(builder.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [builder.java(), *opens, "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", f"{builder.CLASSES}{os.pathsep}{jars}",
            "graft.perfbench.Main", *args]


def jvm_pass(workload, seed, seconds, trace, data_dir):
    """One JVM run; returns its result with every op checked."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(run_dir, "jvm.log")
    rc = run_proc(java_cmd(["--workload", workload, "--data", data_dir,
                            "--out", run_dir, "--seconds", str(seconds),
                            "--trace", str(trace)], run_dir),
                  log, ROOT, remaining() - 10)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(tail(log))
        die(f"benchmark JVM failed (exit {rc})", 1)
    with open(res_path) as f:
        result = json.load(f)
    with open(os.path.join(run_dir, "oracles.json")) as f:
        expected = oracle_hashes(data_dir, json.load(f))
    check_ops(run_dir, result, expected)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(run_dir) + ".json"),
              "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "gen_testdata.py")):
        if not os.path.exists(need):
            die(f"program sources not found ({os.path.relpath(need, ROOT)}); "
                "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    global T_START
    T_START = time.monotonic()
    data_dir = dataset(a.seed)

    untraced = None
    if a.trace:
        cached = os.path.join(WORK, "results",
                              f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(cached):
            with open(cached) as f:
                untraced = json.load(f)
        else:
            untraced = jvm_pass(a.workload, a.seed, a.seconds, 0, data_dir)
    result = jvm_pass(a.workload, a.seed, a.seconds, a.trace, data_dir)

    att, bad = counts(result["ops"])
    correct = bad == 0
    if a.trace:
        metrics = per_layer(result, untraced)
        if metrics["trace.jobs_match"][0] != 1.0:
            print("[perfbench] the traced run scheduled other jobs than the "
                  "untraced run", file=sys.stderr)
            correct = False
    else:
        metrics = end_to_end(result)
    timed = [o["wall_s"] for o in result["ops"] if o["timed"]]
    tp = tail_percentile(timed)
    ctx = dict(result["context"], seed=a.seed, scale=SCALE,
               timed_ops=len(timed),
               op_tail=None if tp is None else
               {"percentile": tp[0], "value_s": tp[1], "beyond": tp[2]})
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": correct, "attempted": att, "failed": bad,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
