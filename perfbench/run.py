#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: gates-floor, gates-corpus, riff-steady, riff-backlog (see
perfbench/README.md). The runner builds the engine and the harness from
source on first use (sbt, offline), generates the fixed gate tables, and
starts one JVM for the run with its own artifact, Spark-local, temp,
warehouse and checkpoint directories. It then checks the outputs (DuckDB
oracle for gates; the JVM checks riff frames itself), prints every metric
by name with its unit, and prints one JSON object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of a separate traced run, whose full trace
is written to perfbench/.work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("gates", "riff-steady", "riff-backlog")
# scale of the gate tables (lineitem = 6M x SF rows)
SF = 0.01
# a fixed heap and young generation: G1's adaptive sizing otherwise makes
# peak RSS and GC pauses differ from run to run
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_LIMIT_S = 170
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# what Spark needs on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "pass_s": "s", "commit_p50_ms": "ms",
              "commit_p95_ms": "ms", "drain_rps": "1/s", "peak_rss_mb": "MB"}
# per-layer metrics of a traced run; one a workload does not exercise
# (a riff counter on the gate workload, say) reads 0
PER_LAYER = {
    "queries.wall_s": "s", "queries.jobs": "count", "queries.stages": "count",
    "queries.tasks": "count", "queries.task_s": "s", "queries.cpu_s": "s",
    "queries.deser_s": "s", "queries.gc_s": "s", "queries.sched_delay_s": "s",
    "queries.busy_frac": "ratio", "queries.driver_gap_s": "s",
    "queries.unattributed_jobs": "count", "queries.par_ratio": "ratio",
    "sources.bytes_read": "bytes", "sources.records_read": "count",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.fetch_wait_s": "s", "operators.spill_bytes": "bytes",
    "operators.cached_peak_mb": "MB",
    "streaming.batches": "count", "streaming.batch_ms": "ms", "streaming.plan_ms": "ms",
    "streaming.addbatch_ms": "ms", "streaming.walcommit_ms": "ms",
    "streaming.sink_write_ms": "ms", "streaming.files_written": "count",
    "streaming.bytes_written": "bytes", "streaming.state_rows": "count",
    "streaming.backlog_end": "count",
    "functions.records_in": "count", "functions.records_out": "count",
    "functions.bytes_in": "bytes", "functions.decode_s": "s", "functions.fn_s": "s",
    "functions.encode_write_s": "s",
    "setup.session_s": "s", "setup.warmup_s": "s",
    "harness.generator_lag_ms": "ms", "harness.trace_overhead_frac": "ratio",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg):
    log(f"[perfbench] error: {msg}")
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness (once per source state); returns the
    runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("engine sources (src/main/scala, build.sbt) not found next to perfbench/")
    inputs = [engine, os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash([p for p in inputs if os.path.exists(p)])
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read()
    log("[perfbench] building engine and harness (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         f"-Djava.io.tmpdir={tmp}", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        log(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def tables(sf):
    """The fixed gate tables at scale `sf`, generated once per generator."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(WORK, "data", f"sf{sf}")
    stamp = tree_hash([gen]) + str(sf)
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, "--sf", str(sf), "--out", out], check=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def run_jvm(cp, args, data, run_dir, deadline):
    """One JVM for the run; returns (exit code, peak RSS in MB)."""
    for d in ("index", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_MEMORY, *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--run-dir", run_dir,
           "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, GRAFT_INDEX_DIR=f"{run_dir}/index",
               SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    env.pop("GRAFT_INDEX_REBUILD", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog, stderr=jlog)
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                proc.kill()
                proc.wait()
                return -9, 0.0
            time.sleep(0.1)


def canon(df):
    """STRICT canonical form: columns by name, rows sorted, exact doubles,
    timestamps as strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_gates(gate_dir, data):
    """Compares each gate's output with its oracle SQL run in DuckDB over
    the same tables; returns the names of gates that do not match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(json.load(open(os.path.join(gate_dir, "oracle_sql.json"))).items()):
        try:
            if not glob.glob(os.path.join(gate_dir, name, "*.parquet")):
                raise ValueError("no output")
            got, exp = canon(pd.read_parquet(os.path.join(gate_dir, name))), canon(con.execute(sql).df())
            if list(got.columns) != list(exp.columns) or len(got) != len(exp) or not got.equals(exp):
                raise ValueError(f"differs from oracle ({len(got)} vs {len(exp)} rows)")
        except Exception as e:  # a gate whose output cannot be checked has failed
            log(f"[perfbench] oracle check {name}: {e}")
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    cp = build()
    data = tables(SF)
    runs = os.path.join(WORK, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        code, rss_mb = run_jvm(cp, args, data, run_dir, deadline)
        result_file = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.isfile(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                log(f.read()[-30000:])
            die(f"benchmark JVM exited with {code}")
        res = json.load(open(result_file))
        attempted, failed = res["attempted"], res["failed"]
        log(f"[perfbench] set-up {json.dumps(res['setup'])}")
        log(f"[perfbench] info {json.dumps(res['info'])[:3000]}")
        if "gate_dir" in res["info"]:
            bad = check_gates(res["info"]["gate_dir"], data)
            failed += len(bad)
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            shutil.copyfile(os.path.join(run_dir, "trace.json"), dst)
            log(f"[perfbench] trace artifact: {os.path.relpath(dst, ROOT)}")
            values = res["per_layer"]
            metrics = {k: {"value": values.get(k) or 0.0, "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = dict(res["metrics"], peak_rss_mb=rss_mb)
            missing = [k for k in END_TO_END if values.get(k) is None]
            if missing:
                die(f"no measurement for {missing}")
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_frac = {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted} operations failed)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
