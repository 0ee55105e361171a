#!/usr/bin/env python3
"""Caller-facing benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: tool_session, tool_export, analytic_fullrow (see README.md).
The first run in a checkout builds the program and the harness with sbt into
target/ and .bench_build/. Each run generates its input tables from the seed,
runs the harness JVM (perfbench.Main), checks every operation's output, prints
a readable report and, as the last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones; the traced run also keeps its per-operation records in
.bench_build/traces/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import workload  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
JVM_TIMEOUT_S = 160
TAIL = 90  # the tail percentile reported

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else [os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs]
        if any(os.path.getmtime(x) > t for x in paths):
            return True
    return False


def build():
    """Compiles the program and the harness with sbt, once per checkout."""
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config="
                        + os.path.expanduser("~/.sbt/repositories")
                        + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], cwd=HERE, env=env,
                          capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.startswith(os.path.join(HERE, "target"))]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(classpath, work, script, args):
    records = os.path.join(work, "records.jsonl")
    for d in ("tmp", "aux"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.aux.root={work}/aux",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              "-cp", classpath, "perfbench.Main",
              "--script", script, "--data", os.path.join(work, "data"), "--work", work,
              "--records", records, "--seconds", str(args.seconds), "--trace", str(args.trace)]
           + (["--inject", args.inject] if args.inject else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"harness exited with {code}")
    with open(records) as f:
        return [json.loads(l) for l in f]


def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else float("nan")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def script_op(script, key):
    """The script operation a record key (w0.3, s12.4, u2.1, t2.1) names."""
    head, i = key.split(".")
    if head[0] == "w":
        return script["warmup"][int(i)]
    return script["sessions"][int(head[1:])][int(i)]


def check_all(records, script, con, work):
    """Checks every operation; returns [(key, name, reason or None)]."""
    out = []
    if script["mode"] == "tools":
        audit = next((r["failures"] for r in records if r["phase"] == "audit"), {})
        for r in records:
            if r["phase"] in ("warmup", "run", "untraced", "trace"):
                op = script_op(script, r["key"])
                out.append((r["key"], r["tool"], check.check_tool(con, op, r, audit)))
    else:
        wrong = {}
        for r in records:
            if r["phase"] == "result":
                reason = r["error"] or check.check_query(
                    con, os.path.join(work, "results", r["query"]), r["oracle"])
                out.append((f"result.{r['query']}", r["query"], reason))
                wrong[r["query"]] = reason
        # A query whose full-row result is wrong is never timed.
        for r in records:
            if r["phase"] in ("run", "untraced", "trace"):
                reason = r["error"] or (wrong.get(r["query"]) and
                                        f"full-row result is wrong: {wrong[r['query']]}")
                out.append((r["key"], r["query"], reason))
    return out


def end_to_end(records, script, ok):
    setup = next(r for r in records if r["phase"] == "setup")["setup_ms"]
    heap = next(r for r in records if r["phase"] == "end")["heap_peak_mb"]
    runs = [r for r in records if r["phase"] == "run" and ok.get(r["key"])]
    named = {}
    if script["mode"] == "tools":
        lat = [r["ms"] for r in runs]
        for cls, keep in [("federated", lambda r: r["tool"] in workload.FEDERATED),
                          ("direct", lambda r: r["tool"] not in workload.FEDERATED),
                          ("export", lambda r: script_op(script, r["key"])["export"])]:
            xs = [r["ms"] for r in runs if keep(r)]
            named[f"{cls}_ms_p50"] = (pct(xs, 50), "ms")
            named[f"{cls}_ms_p{TAIL}"] = (pct(xs, TAIL), "ms")
        samples = len(lat)
    else:
        by_query = {}
        for r in runs:
            by_query.setdefault(r["query"], []).append(r)
        full = [statistics.median(x["construct_ms"] + x["fullrow_exec_ms"] for x in rs)
                for rs in by_query.values()]
        cnt = [statistics.median(x["construct_ms"] + x["count_exec_ms"] for x in rs)
               for rs in by_query.values()]
        named.update(fullrow_total_s=(sum(full) / 1e3, "s"), fullrow_geomean_s=(geomean(full) / 1e3, "s"),
                     count_total_s=(sum(cnt) / 1e3, "s"))
        # every query execution of every pass is one operation
        lat = [r["construct_ms"] + r["fullrow_exec_ms"] for r in runs]
        samples = len(runs)
    metrics = {
        "setup_s": (setup / 1e3, "s"),
        f"op_p{TAIL}_ms": (pct(lat, TAIL), "ms"),
        "op_mean_ms": (mean(lat), "ms"),
        "op_geomean_ms": (geomean(lat), "ms"),
        "heap_peak_mb": (heap, "MB"),
    }
    return metrics, named, samples


LAYERS = [
    # (metric, unit, record field, aggregation, which operations)
    ("filter.compile_ms", "ms", "filter_compile_ms", "mean", "federated"),
    ("sql.guard_ms", "ms", "sql_guard_ms", "mean", "sql"),
    ("query.build_ms", "ms", "query_build_ms", "mean", "direct"),
    ("federate.fanout_build_ms", "ms", "fanout_build_ms", "mean", "federated"),
    ("federate.stats_ms", "ms", "stats_ms", "mean", "federated"),
    ("federate.quota_ms", "ms", "quota_ms", "mean", "federated"),
    ("federate.sources_failed", "count", "sources_failed", "sum", "federated"),
    ("spark.analysis_ms", "ms", "analysis_ms", "mean", "all"),
    ("spark.optimization_ms", "ms", "optimization_ms", "mean", "all"),
    ("spark.planning_ms", "ms", "planning_ms", "mean", "all"),
    ("spark.jobs_per_call", "count", "jobs", "mean", "all"),
    ("spark.tasks_per_call", "count", "tasks", "mean", "all"),
    ("spark.task_ms", "ms", "task_ms", "mean", "all"),
    ("spark.cpu_ms", "ms", "cpu_ms", "mean", "all"),
    ("spark.gc_ms", "ms", "gc_ms", "mean", "all"),
    ("spark.shuffle_read_bytes", "bytes", "shuffle_read_bytes", "mean", "all"),
    ("spark.shuffle_write_bytes", "bytes", "shuffle_write_bytes", "mean", "all"),
    ("spark.spill_bytes", "bytes", "spill_bytes", "mean", "all"),
    ("tables.scan_bytes", "bytes", "scan_bytes", "mean", "all"),
    ("queries.construct_ms", "ms", "construct_ms", "mean", "query"),
    ("queries.count_exec_ms", "ms", "count_exec_ms", "mean", "query"),
    ("queries.fullrow_exec_ms", "ms", "fullrow_exec_ms", "mean", "query"),
    ("result.write_ms", "ms", "write_ms", "mean", "export"),
    ("result.files_written", "count", "files_written", "sum", "all"),
    ("result.bytes_written", "bytes", "bytes_written", "sum", "all"),
    ("caches.storage_peak_bytes", "bytes", "storage_bytes", "max", "all"),
]


def per_layer(records):
    traced = [r for r in records
              if r["phase"] == "layers" or (r["phase"] == "trace" and "query" in r)]
    kinds = {
        "all": lambda r: True,
        "federated": lambda r: r.get("tool") in workload.FEDERATED,
        "sql": lambda r: r.get("tool") == "mofs_sql",
        "direct": lambda r: r.get("tool") in ("bohrium", "openlam", "mofs"),
        "query": lambda r: "query" in r,
        "export": lambda r: "write_ms" in r,
    }
    out = {}
    for name, unit, field, agg, kind in LAYERS:
        xs = [float(r.get(field, 0.0)) for r in traced if kinds[kind](r)]
        value = {"mean": mean, "sum": sum, "max": lambda v: max(v, default=0.0)}[agg](xs)
        out[name] = (value, unit)
    read = sum(r.get("records_read", 0.0) for r in traced)
    returned = sum(r.get("rows_returned", 0) for r in traced)
    out["tables.rows_scanned_per_row_returned"] = (read / max(returned, 1), "ratio")
    over = next(r for r in records if r["phase"] == "overhead")
    out["trace.overhead_ratio"] = (over["traced_ms"] / over["untraced_ms"], "ratio")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True,
                    choices=["tool_session", "tool_export", "analytic_fullrow"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: make one provider unreachable, or one query throw
    ap.add_argument("--inject", choices=["source-fail", "query-throw"])
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds the program's sources")
    classpath = build()

    work = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen.write_all(data, args.seed, tool_views=args.workload != "analytic_fullrow")
        con = check.connect(data)
        if args.workload == "analytic_fullrow":
            script = workload.analytic_script(args.seed)
        else:
            script = workload.tool_script(args.seed, args.workload == "tool_export",
                                          lambda op: check.nonempty(con, op))
        script_path = os.path.join(work, "script.json")
        with open(script_path, "w") as f:
            json.dump(script, f)
        t0 = time.time()
        records = run_jvm(classpath, work, script_path, args)
        jvm_s = time.time() - t0
        results = check_all(records, script, con, work)
        ok = {key: reason is None for key, _, reason in results}
        failures = [(k, n, r) for k, n, r in results if r is not None]
        if args.trace:
            metrics, named, samples = per_layer(records), {}, 0
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            side = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            with open(side, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in records if r["phase"] in ("layers", "trace"))
        else:
            metrics, named, samples = end_to_end(records, script, ok)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"harness {jvm_s:.1f} s  timed samples {samples}")
    print(f"  {'failed_ratio':28s} {len(failures) / max(len(results), 1):12.4f}  "
          f"({len(failures)} of {len(results)} operations)")
    for name, (value, unit) in list(named.items()) + list(metrics.items()):
        print(f"  {name:28s} {value:12.4f} {unit}")
    if args.trace:
        print(f"  per-operation records: {side}")
    for key, name, reason in failures[:40]:
        print(f"  FAILED {key} {name}: {reason}")
    if len(failures) > 40:
        print(f"  ... {len(failures) - 40} more failures")
    if any(math.isnan(v) for v, _ in metrics.values()):
        fail("no operation succeeded, so there is nothing to time")
    # Every attempted operation was checked: a wrong answer, an exception or
    # an unexpected -1 is a failure, counted and named above, never a timing.
    # The run is correct only if no failure but the program's known defect
    # occurred.
    tools = script["mode"] == "tools"
    unknown = [k for k, _, r in failures
               if not check.known_defect(script_op(script, k) if tools else None, r)]
    print(json.dumps({"correct": not unknown, "attempted": len(results), "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
