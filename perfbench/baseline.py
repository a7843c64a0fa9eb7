#!/usr/bin/env python3
"""Record benchmark runs and summarize their spread (run from the repository root):

    python3 perfbench/baseline.py --label NAME --workload W --seeds 1-10 [--trace 1] [--cores N]
    python3 perfbench/baseline.py --summarize perfbench/results/runs.jsonl > summary.json

The first form runs perfbench/run.py once per seed with BENCHMARK.json's
run_seconds and appends one record per run (seed, wall time, result line,
summary line) to perfbench/results/runs.jsonl, tagged with the label. The
second form prints, per label and metric, the median, the quartiles as
statistics.quantiles(values, n=4) gives them, and the spread: the distance
between the quartiles as a share of the median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(HERE, "results", "runs.jsonl")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(a):
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(os.path.dirname(RUNS), exist_ok=True)
    for s in seeds(a.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(s),
               "--seconds", str(seconds), "--trace", str(a.trace)]
        if a.cores:
            cmd += ["--cores", str(a.cores)]
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        rec = {"label": a.label, "workload": a.workload, "seed": s, "trace": a.trace,
               "cores": a.cores, "exit": p.returncode, "wall_s": time.time() - t0,
               "result": json.loads(lines[-1]) if lines else None,
               "summary": json.loads(lines[-2]) if len(lines) > 1 else None}
        with open(RUNS, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        res = rec["result"] or {}
        print(a.label, s, p.returncode, f"{rec['wall_s']:.1f}s",
              {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}, flush=True)


def summarize(path):
    groups = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            groups.setdefault(rec["label"], []).append(rec)
    out = {}
    for label, recs in groups.items():
        ok = [r for r in recs if r["exit"] == 0 and r["result"]]
        # end-to-end metrics from the result line; a traced run's full layer
        # report from its summary line
        if recs[0]["trace"]:
            rows = [{k: (v, "") for k, v in r["summary"]["summary"]["layers"].items()} for r in ok]
        else:
            rows = [{k: (m["value"], m["unit"]) for k, m in r["result"]["metrics"].items()}
                    for r in ok]
        metrics = {}
        for name in [k for k in rows[0] if all(k in row for row in rows)] if rows else []:
            vals = [row[name][0] for row in rows]
            med = statistics.median(vals)
            entry = {"unit": rows[0][name][1], "n": len(vals), "median": med, "values": vals}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                entry.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
            metrics[name] = entry
        out[label] = {"workload": recs[0]["workload"], "trace": recs[0]["trace"],
                      "cores": recs[0]["cores"], "runs": len(recs), "ok_runs": len(ok),
                      "seeds": [r["seed"] for r in recs],
                      "mean_wall_s": statistics.mean(r["wall_s"] for r in recs),
                      "contended_runs": sum(1 for r in ok if r["summary"]["summary"]["load"]["contended"]),
                      "metrics": metrics}
        traced = [r["summary"]["e2e_traced"] for r in ok if "e2e_traced" in r["summary"]]
        if traced:
            out[label]["e2e_traced_median"] = {
                k: statistics.median(t[k] for t in traced) for k in traced[0]}
    # tracing overhead: traced medians against the untraced runs of the
    # same workload and core count
    for label, g in out.items():
        base = next((b for b in out.values() if b["workload"] == g["workload"] and
                     b["cores"] == g["cores"] and b["trace"] == 0), None)
        if "e2e_traced_median" in g and base:
            g["tracing_overhead"] = {
                k: {"traced_minus_untraced": v - base["metrics"][k]["median"],
                    "share": (v - base["metrics"][k]["median"]) / base["metrics"][k]["median"]}
                for k, v in g["e2e_traced_median"].items() if k in base["metrics"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--summarize")
    ap.add_argument("--label")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=0)
    a = ap.parse_args()
    if a.summarize:
        json.dump(summarize(a.summarize), sys.stdout, indent=1)
        print()
    else:
        if not (a.label and a.workload and a.seeds):
            ap.error("--label, --workload and --seeds are required to record runs")
        record(a)


if __name__ == "__main__":
    main()
