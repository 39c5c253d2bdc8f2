#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

For every workload it runs one short untraced and one traced run and
checks that every end-to-end and per-layer metric named in
BENCHMARK.json prints as a finite number with its unit, and that the
run is correct. It then runs `mining_xes` with deliberately wrong
expectations (an XES trace count one too high; every oracle result one
row short) and checks that they are counted as failed.

    python3 perfbench/smoke.py            # from the repository root
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: rc={p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            before = len(problems)
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={r['correct']} "
                                f"failed={r['failed']}/{r['attempted']}")
            for m in spec[group]:
                got = r["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing")
                elif got.get("unit") != m["unit"]:
                    problems.append(f"{w}: {m['name']} unit {got.get('unit')} != {m['unit']}")
                elif not (isinstance(got.get("value"), (int, float))
                          and math.isfinite(got["value"])):
                    problems.append(f"{w}: {m['name']} value {got.get('value')}")
            if len(problems) == before:
                print(f"ok   {w} trace={trace}: {len(r['metrics'])} metrics, "
                      f"{r['attempted']} ops checked", flush=True)
    r = run("mining_xes", 0, "--break-expectation")
    if r["correct"] or r["failed"] < 1:
        problems.append(f"mining_xes: a wrong expectation was not counted "
                        f"(correct={r['correct']}, failed={r['failed']})")
    else:
        print(f"ok   mining_xes: wrong expectations counted, failed "
              f"{r['failed']}/{r['attempted']}", flush=True)
    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
