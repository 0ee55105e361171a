#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

Usage (from the repository root): python3 perfbench/selftest.py

1. An unreachable OPTIMADE provider (--inject source-fail) raises
   tool_session's failed ratio over a plain run of the same seed, and turns
   `correct` false.
2. A throwing query (--inject query-throw) raises analytic_fullrow's failed
   ratio over a plain run of the same seed, and turns `correct` false.
3. Two traced runs of one seed give identical per-call Spark job counts,
   files written and failed sources, and identical spark.jobs_per_call,
   result.files_written and federate.sources_failed.

Exits 0 when all hold. Takes about seven minutes on four cores.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
TRACES = os.path.join(ROOT, ".bench_build", "traces")


def run(workload, seed, seconds, trace=0, inject=None):
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)] + (["--inject", inject] if inject else [])
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited with {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def ratio(result):
    return result["failed"] / result["attempted"]


def traced_counts(seed):
    result = run("tool_session", seed, 5, trace=1)
    with open(os.path.join(TRACES, f"tool_session-seed{seed}.jsonl")) as f:
        per_call = {r["key"]: (r.get("jobs"), r.get("files_written"), r.get("sources_failed"))
                    for r in map(json.loads, f) if r["phase"] == "layers"}
    names = ["spark.jobs_per_call", "result.files_written", "federate.sources_failed"]
    return per_call, {k: result["metrics"][k]["value"] for k in names}


def main():
    failures = []
    for workload, inject, seconds in [("tool_session", "source-fail", 5),
                                      ("analytic_fullrow", "query-throw", 1)]:
        plain, injected = run(workload, 3, seconds), run(workload, 3, seconds, inject=inject)
        print(f"{workload} --inject {inject}: failed ratio {ratio(plain):.3f} -> {ratio(injected):.3f}")
        if not ratio(injected) > ratio(plain):
            failures.append(f"{inject} did not raise {workload}'s failed ratio")
        if not plain["correct"] or injected["correct"]:
            failures.append(f"correct is {plain['correct']} plain, {injected['correct']} with {inject}")
    (calls_a, metrics_a), (calls_b, metrics_b) = traced_counts(4), traced_counts(4)
    print(f"traced tool_session seed 4, twice: {metrics_a} / {metrics_b}")
    if not calls_a or calls_a != calls_b or metrics_a != metrics_b:
        failures.append("two traced runs of one seed disagree on counts")
    for f in failures:
        print(f"FAIL {f}")
    print("selftest", "failed" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
