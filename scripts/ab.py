#!/usr/bin/env python3
"""Paired A/B of two revisions on one perfbench workload.

Usage (from the repository root):
    python3 scripts/ab.py --base HEAD~1 --change HEAD --workload ingest_drop \\
        --seeds 201-210 [--seconds 5] [--trace 0] [--work DIR] [--out FILE]

Each revision is exported with `git archive` into its own directory under
--work (kept between invocations, re-exported when the revision's commit
differs) and built once. Then, per seed, `perfbench/run.py` runs once on
each side, one run at a time, the side that runs first alternating from
seed to seed. A working tree with uncommitted changes can be measured as
`--change $(git stash create)` (stage new files first).

Prints, per metric of BENCHMARK.json: each side's median and quartiles,
the change in the median, the number of pairs in which the change was
better, and whether the median gap exceeds the base's interquartile range.
Then the runs' `files_drained` / `rounds` counts, which say how many
operations each run's metrics cover. --out saves every run's record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = ("files_drained", "rounds")


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def seeds(spec):
    """'201-205,301' -> [201, 202, 203, 204, 205, 301]"""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, dest):
    """`git archive` of `rev` into `dest`, unless it already holds it."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    marker = os.path.join(dest, ".ab_rev")
    if os.path.exists(marker) and open(marker).read() == sha:
        return sha
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")
    with open(marker, "w") as fh:
        fh.write(sha)
    return sha


def build(tree):
    """Build the checkout's benchmark once (run.py reuses it per source tree)."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=tree, check=True)


def run_once(tree, args, seed):
    """One perfbench run: its JSON record plus the detail line's counts."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(f"run failed in {tree} (rc={p.returncode}): {p.stderr[-2000:]}")
        return None
    rec = json.loads(lines[-1])
    detail = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] detail "):
            detail = json.loads(line[len("[perfbench] detail "):])
    rec["counts"] = {k: v for k, v in detail.items() if k.rsplit(".", 1)[-1] in COUNTS}
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(q):
    return f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"


def report(runs, kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)[kind]}
    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b and c]
    wrong = sum(1 for side in runs.values() for r in side if not (r and r["correct"]))
    print(f"{len(pairs)} complete pairs; {wrong} runs failed or incorrect")
    if not pairs:
        return
    print(f"{'metric':34} {'base median [q1-q3]':>26} {'change median [q1-q3]':>26}"
          f" {'delta':>8} {'wins':>6}  gap>IQR")
    for name, way in better.items():
        b = [p[0]["metrics"][name]["value"] for p in pairs]
        c = [p[1]["metrics"][name]["value"] for p in pairs]
        if any(v is None for v in b + c):
            continue
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if (y < x if way == "lower" else y > x))
        delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        gap = (bq[1] - cq[1]) if way == "lower" else (cq[1] - bq[1])
        print(f"{name:34} {spread(bq):>26} {spread(cq):>26} {delta:+7.1f}%"
              f" {wins:>2d}/{len(pairs):<3d}  {'yes' if gap > bq[2] - bq[0] else 'no'}")
    for side, recs in runs.items():
        counts = [r["counts"] for r in recs if r]
        keys = sorted({k for c in counts for k in c})
        for k in keys:
            print(f"{side:6} {k}: {[c.get(k) for c in counts]}")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="revision measured as the baseline")
    ap.add_argument("--change", required=True, help="revision measured as the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(), "graft_ab"))
    ap.add_argument("--out", help="write every run's record here as JSON")
    args = ap.parse_args(argv)

    trees = {side: os.path.join(args.work, side) for side in ("base", "change")}
    for side, rev in (("base", args.base), ("change", args.change)):
        log(f"{side}: {rev} = {export(rev, trees[side])[:12]}")
        build(trees[side])

    runs = {"base": [], "change": []}
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            rec = run_once(trees[side], args, seed)
            runs[side].append(rec)
            if rec:
                log(f"seed {seed} {side}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items()
                    if v["value"] is not None and k in ("op_p50_s", "setup_s")))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump({"args": vars(args), "runs": runs}, fh, indent=1)
    report(runs, "per_layer" if args.trace else "end_to_end")


if __name__ == "__main__":
    main()
