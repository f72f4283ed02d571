#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (once per source state,
cached under perfbench/target), runs the workload in one JVM on
local[<nproc>], checks every registry row's output against its DuckDB
oracle with tools/check.py's compare rules, and prints one JSON object
as the last line of stdout. Run artifacts land in .perfbench/runs/<run>/
(result.json, failures.jsonl, and with --trace 1 spans.jsonl).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                   "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                       recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def classpath():
    """Compile if the sources changed since the cached build; return the
    runtime classpath."""
    files = sources()
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft",
                                  "*.scala")):
        raise SystemExit("library sources not found: run from the root "
                         "of a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"]
    log("building (sbt compile)")
    t = time.time()
    # no sbt server, and sbt's scratch files inside the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in out.stdout.splitlines() if l.strip()][-1].strip()
    log(f"built in {time.time() - t:.1f} s")
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def jvm_options():
    with open(os.path.join(HERE, "jvm.options")) as fh:
        return [l.strip() for l in fh if l.strip()]


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_options() +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", cp, "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--out", run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S - 20)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")


def oracle_answer(con, sql):
    """The oracle's answer, cached by SQL text: the corpus under
    perfbench/data is fixed, so an answer never goes stale."""
    cache = os.path.join(ROOT, ".perfbench", "oracle",
                         hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(cache):
        import pandas as pd
        return pd.read_pickle(cache)
    want = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    want.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return want


def oracle_failures(run_dir, seed, workload):
    """Compare every dumped registry-row result with its DuckDB oracle.
    Returns failure records (one per wrong op)."""
    res = os.path.join(run_dir, "results")
    sql_path = os.path.join(res, "oracle_sql.json")
    if not os.path.exists(sql_path):
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import compare_frames
    with open(sql_path) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(DATA, t + '.parquet')}'")
    bad = []
    for name in sorted(oracles):
        def fail(cls, msg):
            bad.append({"workload": workload, "op": name, "seed": seed,
                        "pass": 0, "class": cls, "message": msg,
                        "detail": ""})
        parts = glob.glob(os.path.join(res, name, "*.parquet"))
        if not parts:
            fail("MissingResult", "no result was written")
            continue
        try:
            got = pd.concat([pd.read_parquet(p) for p in parts])
            want = oracle_answer(con, oracles[name])
        except Exception as e:  # a failed read or oracle is a failure
            fail(type(e).__name__, str(e).splitlines()[0] if str(e) else "")
            continue
        if sorted(got.columns) != sorted(want.columns):
            fail("OracleMismatch", f"columns {sorted(got.columns)} vs "
                 f"oracle {sorted(want.columns)}")
        elif len(got) != len(want):
            fail("OracleMismatch", f"rows {len(got)} vs oracle {len(want)}")
        else:
            ok, msg = compare_frames(got.copy(), want.copy())
            if not ok:
                fail("OracleMismatch", msg)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    cp = classpath()
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs",
        f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm(cp, args, run_dir)
        with open(os.path.join(run_dir, "result.json")) as fh:
            r = json.load(fh)
        bad = oracle_failures(run_dir, args.seed, args.workload)
    finally:
        for d in ("results", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if bad:
        with open(os.path.join(run_dir, "failures.jsonl"), "a") as fh:
            for b in bad:
                fh.write(json.dumps(b) + "\n")
    # a wrong output fails every run of its op
    wrong = {b["op"] for b in bad}
    failed = r["failed"] + sum(n for op, n in r["op_runs"].items()
                               if op in wrong)
    with open(os.path.join(run_dir, "failures.jsonl")) as fh:
        for line in fh:
            f = json.loads(line)
            log(f"FAILED {f['op']} ({f['class']}): {f['message']} "
                f"{f['detail']}".rstrip())
    # BENCHMARK.json names the metrics of each mode and their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = r["per_layer"] if args.trace else r["end_to_end"]
    values["ops_failed_frac"] = failed / r["attempted"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    tail = r["op_pooled_tail"]
    log(f"{args.workload} seed {args.seed}: {r['passes']} timed passes of "
        f"{r['ops_per_pass']} ops, pooled p{tail['percentile']} of "
        f"{tail['samples']} op runs {tail['value']:.3f} s, "
        f"steal {r['host']['steal_s']:.2f} s, "
        f"load1 max {r['host']['load1_max']:.2f}, artifacts {run_dir}")
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
