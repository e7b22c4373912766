#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, one short run (one timed pass;
two when traced) with listeners off and one with them on.

    python3 perfbench/selftest.py [workload ...]

Run it from the root of a checkout. Each run must exit 0, pass the oracle
gate for every op, and print as its last line the result object with every
metric BENCHMARK.json names for that mode, each with its unit. The traced
run must also write a span file with a span for every op.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run_once(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                       capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return [f"exit {p.returncode}: {p.stderr[-1500:]}"], None, None
    return [], json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


def check(workload, trace, spec):
    errors, diag, res = run_once(workload, trace)
    if res is None:
        return errors
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errors.append(f"correct={res['correct']} attempted={res['attempted']} "
                      f"failed={res['failed']}")
    bad = {n: m for n, m in diag["oracle"].items() if m != "ok" and not m.startswith("no oracle")}
    if bad or set(diag["oracle"]) != set(WORKLOADS[workload]["ops"]):
        errors.append(f"oracle {diag['oracle']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {n: m.get("unit") for n, m in res["metrics"].items()}
    if got != want:
        errors.append(f"metrics differ: missing={sorted(set(want) - set(got))} "
                      f"extra={sorted(set(got) - set(want))} "
                      f"units={[n for n in want if n in got and got[n] != want[n]]}")
    if not all(isinstance(m["value"], (int, float)) for m in res["metrics"].values()):
        errors.append("non-numeric metric value")
    if trace:
        with open(diag["spans"]) as f:
            spans = [json.loads(line) for line in f]
        ops = {s["op"] for s in spans if s["name"] == "op"}
        if ops != set(WORKLOADS[workload]["ops"]):
            errors.append(f"span file has op spans for {sorted(ops)}")
    return errors


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    failures = 0
    named = [w["name"] for w in spec["workloads"]]
    if sorted(named) != sorted(WORKLOADS):
        print(f"FAIL BENCHMARK.json names workloads {named}, run.py has {sorted(WORKLOADS)}")
        failures += 1
    for w in sys.argv[1:] or list(WORKLOADS):
        for trace in (0, 1):
            errors = check(w, trace, spec)
            print(f"{'FAIL' if errors else 'ok  '} {w} trace={trace}")
            for e in errors:
                print(f"     {e}")
            failures += bool(errors)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
