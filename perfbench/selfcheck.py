#!/usr/bin/env python3
"""Self-check of the benchmark at tiny sizes.

Run from the root of a checkout:

    python3 perfbench/selfcheck.py

Runs every workload of run.py (those of BENCHMARK.json and crawl_frontier,
which is run by hand) once untraced and once traced, at --size tiny, and
asserts that each run ends in a well-formed result line that is correct and
prints every metric BENCHMARK.json names, with its unit: the end-to-end
metrics untraced, the per-layer metrics traced. Then runs crawl_growth once
more with one shuffle partition, which must be correct too (an engine defect
makes it fail; see perfbench/DESIGN.md). Reports every failure and exits 1
if there was one. Takes several minutes (seven JVM runs).
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import WORKLOADS  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    ok = True
    for name in listed + [w for w in WORKLOADS if w not in listed]:
        for trace, specs in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            cmd = bench["command"] + ["--workload", name, "--seed", "1",
                                      "--seconds", "1", "--trace", trace,
                                      "--size", "tiny"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
            label = f"{name} --trace {trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"FAIL {label}: exit code {p.returncode}, no result")
                ok = False
                continue
            result = json.loads(lines[-1])
            problems = []
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(result)}")
            if result.get("correct") is not True:
                problems.append(f"correct={result.get('correct')} failed={result.get('failed')}")
            metrics = result.get("metrics", {})
            for m in specs:
                got = metrics.get(m["name"])
                if got is None:
                    problems.append(f"missing {m['name']}")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{m['name']}: {got}")
            extra = set(metrics) - {m["name"] for m in specs}
            if extra:
                problems.append(f"unlisted metrics {sorted(extra)}")
            print(("FAIL " if problems else "ok   ") + label + "".join("\n  " + x for x in problems))
            ok = ok and not problems
    # the same rounds with spark.sql.shuffle.partitions=1: the pinned
    # RoundMetrics do not depend on the partition count
    cmd = bench["command"] + ["--workload", "crawl_growth", "--seed", "1",
                              "--seconds", "1", "--trace", "0", "--size", "tiny",
                              "--partitions", "1"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    correct = p.returncode == 0 and bool(lines) and json.loads(lines[-1]).get("correct") is True
    print(("ok   " if correct else "FAIL ") + "crawl_growth --partitions 1"
          + ("" if correct else " (RoundMetrics differ from the pins; see DESIGN.md)"))
    ok = ok and correct
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
