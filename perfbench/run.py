#!/usr/bin/env python3
"""Benchmark command for the graft engine's MQ-streaming and batch paths.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the engine (src/main/scala) together with the harness in
perfbench/src into the build directory ($CARGO_TARGET_DIR, default
.bench_build), runs one workload in a fresh JVM, checks the engine's outputs
(the batch queries against a DuckDB replay of their declared oracle SQL) and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the full layer report and the
spans file are printed on the line before it (perfbench/baseline.py turns
traced and untraced medians into the tracing overhead). A listed metric the
run did not produce, and that config.json does not declare as a layer the
workload never calls, makes the command exit 2 without a result line.

Development flags: --cores N overrides the Spark core count (the local[1]
scaling reference uses --cores 1); --corrupt 1 drops one output row so the
correctness check can be seen to fail.
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
ROOT = os.getcwd()
JVM_TIMEOUT_S = 165
# JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
FIXTURE_TABLES = ("region nation customer supplier part orders lineitem events "
                  "documents embeddings").split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        fail("no engine sources under src/main/scala: run from the repository root")
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return files


def build(build_dir, jars):
    """Compile engine + harness once per source state; reuse afterwards."""
    files = sources()
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    os.rename(tmp, out)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, run_dir, cores, heap):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_LOCAL_DIR=local,
               SPARK_GRAFT_CPUS=str(cores))
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    # a fixed heap size: no heap resizing inside the timed phase
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.PerfBench"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: JVM exited with {code}", file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


# ---------- batch outputs against the DuckDB oracle ----------

def norm_rows(cols, rows):
    """Rows as column-name-ordered value reprs, sorted: order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple("NaN" if isinstance(r[i], float) and r[i] != r[i] else repr(r[i])
                        for i in order) for r in rows)


def rows_digest(cols, rows):
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in norm_rows(cols, rows):
        h.update(json.dumps(r).encode())
    return {"cols": sorted(cols), "n": len(rows), "sha": h.hexdigest()}


def oracle_check(sf, run_dir, cache_dir):
    """Compare each checked batch output with its oracle replay. The oracle
    result depends only on the SQL text and the fixture files, so its digest
    is cached in the build directory."""
    import duckdb
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    stamp = hashlib.sha256()
    for t in FIXTURE_TABLES:
        path = os.path.join(sf, t + ".parquet")
        if os.path.exists(path):
            st = os.stat(path)
            stamp.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in FIXTURE_TABLES:
        path = os.path.join(sf, t + ".parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    results = {}
    for name in sorted(os.listdir(os.path.join(run_dir, "check"))):
        files = glob.glob(os.path.join(run_dir, "check", name, "*.parquet"))
        rel = con.sql("SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])")
        got = rows_digest(rel.columns, rel.fetchall())
        if name not in oracle:
            results[name] = (got["n"] > 0, f"no oracle; {got['n']} rows")
            continue
        key = hashlib.sha256((oracle[name] + stamp.hexdigest()).encode()).hexdigest()[:24]
        cpath = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(cpath):
            with open(cpath) as fh:
                want = json.load(fh)
        else:
            rel = con.sql(oracle[name])
            want = rows_digest(rel.columns, rel.fetchall())
            with open(cpath, "w") as fh:
                json.dump(want, fh)
        ok = got == want
        results[name] = (ok, f"spark {got['n']} rows, oracle {want['n']} rows" +
                         ("" if ok else "; rows differ"))
    con.close()
    return results


# ---------- result line ----------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    cfg_path = os.path.join(HERE, "config.json")
    if not os.path.exists(bench_path) or not os.path.exists(cfg_path):
        fail("run from the repository root (BENCHMARK.json, perfbench/config.json)")
    with open(bench_path) as fh:
        bench = json.load(fh)
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    sf = os.environ.get("PERFBENCH_SF_DIR", cfg["fixture_dir"])
    if not os.path.isdir(sf):
        fail(f"fixture dir {sf} not found (set PERFBENCH_SF_DIR)")

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build(build_dir, jars)

    nproc = os.cpu_count() or 1
    cores = a.cores or max(1, nproc - 1 if w["cores"] == "nproc-1" else nproc)
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--sf", sf, "--out", run_dir, "--cores", str(cores),
                "--corrupt", str(a.corrupt)]
        for k, v in w["params"].items():
            args += ["--p", f"{k}={v}"]
        t0 = time.time()
        res = run_jvm(classes, jars, args, run_dir, cores, cfg["heap"])
        checks = list(res["checks"])
        failed = res["failed"]
        if os.path.isdir(os.path.join(run_dir, "check")):
            runs_per_query = res["info"]["passes"]
            for name, (ok, detail) in oracle_check(sf, run_dir,
                                                   os.path.join(build_dir, "oracle")).items():
                checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
                if not ok:
                    # every timed run reproduced the checked (wrong) output
                    failed += runs_per_query
        spans_src = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans_src):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copy(spans_src, os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(1, int(res["attempted"]))
    failed = min(int(failed), attempted)
    load = res["load"]
    contended = max(load["start_per_core"], load["end_per_core"]) > 1.0
    summary = {
        "workload": a.workload, "seed": a.seed, "cores": cores, "nproc": nproc,
        "error_rate": failed / attempted, "checks": checks, "info": res["info"],
        "load": dict(load, contended=contended), "wall_s": time.time() - t0,
    }
    late = res["layers"].get("gen.late_p99_ms")
    if late is not None:
        # an open-loop generator that publishes late hides queueing delay
        # from the per-event latency; a fifth of a trigger interval is the limit
        summary["generator_late_p99_ms"] = late
        summary["generator_behind"] = late > w["params"]["trigger_ms"] / 5
    e2e = res["e2e"]
    if a.trace:
        listed = bench["per_layer"]
        # a layer the workload never calls reads zero, but only when
        # config.json declares it so; any other missing metric is an error
        source = dict({k: 0.0 for k in w.get("not_exercised", [])}, **res["layers"])
        summary["layers"] = res["layers"]
        summary["spans_file"] = os.path.relpath(
            os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.jsonl"), ROOT)
    else:
        listed = bench["end_to_end"]
        source = e2e
    missing = [m["name"] for m in listed if m["name"] not in source]
    if missing:
        fail(f"{a.workload} produced no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]} for m in listed}
    correct = failed == 0
    print(json.dumps({"summary": summary, "e2e_traced" if a.trace else "e2e": e2e}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
