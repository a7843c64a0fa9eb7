#!/usr/bin/env python3
"""Self-test of the benchmark command (run from the repository root):

    python3 perfbench/selftest.py

1. Smoke: a tiny run (--seconds 1) of every workload of BENCHMARK.json,
   and of the ungated batch_headline, prints every end-to-end metric with
   its unit; a traced run of each workload of BENCHMARK.json prints every
   per-layer metric with its unit. Each value must be the one the JVM
   reported (the summary line), or zero for a layer config.json declares
   the workload never calls.
2. Corruption: with --corrupt 1 the command drops one output row (a sink
   row, an output-topic message, or a row of a checked batch output); the
   correctness check must catch it, count it in `failed`, and exit non-zero.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()


def run(workload, trace=0, corrupt=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        raise AssertionError(f"{workload}: no result (exit {p.returncode})\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1]), json.loads(lines[-2])


def expect_metrics(res, raw, zero, listed, what):
    """Every listed metric is printed with its unit, and its value is the
    JVM's (`raw`) or, for a declared unexercised layer (`zero`), 0."""
    for m in listed:
        name = m["name"]
        got = res["metrics"].get(name)
        assert got is not None, f"{what}: metric {name} missing"
        assert got["unit"] == m["unit"], f"{what}: {name} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], float), f"{what}: {name} is not a number"
        if name in raw:
            assert got["value"] == float(raw[name]), f"{what}: {name} is not the JVM's value"
        else:
            assert name in zero and got["value"] == 0.0, \
                f"{what}: {name} was not reported by the JVM"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "config.json")) as fh:
        cfg = json.load(fh)
    gated = [w["name"] for w in bench["workloads"]]
    workloads = gated + ["batch_headline"]
    for w in workloads:
        code, res, summ = run(w)
        assert code == 0 and res["correct"] and res["failed"] == 0, f"{w}: smoke run failed: {res}"
        assert res["attempted"] >= 1
        expect_metrics(res, summ["e2e"], [], bench["end_to_end"], w)
        print(f"ok  smoke {w}: {len(res['metrics'])} end-to-end metrics")
    for w in gated:
        code, res, summ = run(w, trace=1)
        assert code == 0 and res["correct"], f"{w}: traced smoke run failed: {res}"
        expect_metrics(res, summ["summary"]["layers"], cfg["workloads"][w].get("not_exercised", []),
                       bench["per_layer"], f"{w} traced")
        print(f"ok  traced {w}: {len(res['metrics'])} per-layer metrics")
    for w in workloads:
        code, res, _ = run(w, corrupt=1)
        assert code != 0 and not res["correct"] and res["failed"] >= 1, \
            f"{w}: a dropped output row went unnoticed: {res}"
        print(f"ok  corrupt {w}: caught, failed={res['failed']} of {res['attempted']}")
    print("selftest passed")


if __name__ == "__main__":
    main()
