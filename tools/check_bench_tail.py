#!/usr/bin/env python3
"""Reproduce the round driver's bench-parse step over a captured run.

The driver records only the LAST ~2000 characters of the combined output
of `sbt -batch "runMain graft.Bench"` and then tries json.loads on what
it finds there. Rounds 1-5 all ended with parsed:null for different
reasons (line too long, sbt "[info] " prefix) because the local check
simulated a *model* of the driver instead of its real pipeline. This
script IS the pipeline: feed it the full captured output file, it takes
the last 2000 chars, tries json.loads per line, and exits non-zero
unless exactly the bench JSON object parses.

Usage:
    sbt -batch "runMain graft.Bench" 2>&1 | tee /tmp/bench_out.txt
    python3 tools/check_bench_tail.py /tmp/bench_out.txt
"""
import json
import sys

TAIL_CHARS = 2000

path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_out.txt"
tail = open(path, errors="replace").read()[-TAIL_CHARS:]

parsed = []
for line in tail.splitlines():
    line = line.strip()
    if not line:
        continue
    try:
        obj = json.loads(line)
    except ValueError:
        continue
    if isinstance(obj, dict) and obj.get("metric") == "total":
        parsed.append(obj)

if len(parsed) != 1:
    print(f"FAIL: {len(parsed)} parseable bench JSON lines in the last "
          f"{TAIL_CHARS} chars (need exactly 1). Tail was:")
    print(tail)
    sys.exit(1)

obj = parsed[0]
missing = [k for k in ("metric", "value", "unit", "queries", "failed", "sf") if k not in obj]
if missing:
    print(f"FAIL: bench JSON missing keys {missing}: {obj}")
    sys.exit(1)

# A query that throws is left out of the total and sorted out of the
# shown map, so only this list can turn a broken query into a red gate.
if obj["failed"]:
    print(f"FAIL: queries failed: {obj['failed']}")
    sys.exit(1)

nq = len(obj["queries"])
bad = {k: v for k, v in obj["queries"].items() if not isinstance(v, (int, float)) or v < 0}
if bad:
    print(f"FAIL: non-numeric/failed query timings: {bad}")
    sys.exit(1)

print(f"PASS: driver tail parses. total={obj['value']}{obj['unit']} "
      f"queries={nq} runs={obj.get('runs')} sf={obj['sf']}")
