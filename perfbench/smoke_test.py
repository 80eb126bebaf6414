#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced. Asserts that each run prints every metric BENCHMARK.json names for
its mode, with that metric's unit, and that no operation failed.

Usage (from the repository root): python3 perfbench/smoke_test.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    wanted = {0: run.declared_metrics("end_to_end"), 1: run.declared_metrics("per_layer")}
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    bad = []
    for wl in workloads:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{wl} trace={trace}"
            problems = []
            if out.returncode != 0:
                problems.append(f"exit {out.returncode}: {out.stderr[-2000:]}")
            else:
                res = json.loads(out.stdout.strip().splitlines()[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                    problems.append(f"failed {res['failed']} of {res['attempted']}")
                if got != wanted[trace]:
                    problems.append(
                        f"metrics/units differ from BENCHMARK.json: "
                        f"missing {sorted(set(wanted[trace]) - set(got))}, "
                        f"extra {sorted(set(got) - set(wanted[trace]))}")
                if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                    problems.append("non-numeric metric value")
            print(f"{'FAIL' if problems else 'ok  '} {tag}", flush=True)
            bad += [f"{tag}: {p}" for p in problems]
    for b in bad:
        print("FAIL", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
