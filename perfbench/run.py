#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload ingest_drop --seed 1 --seconds 10 --trace 0

Steps: build the engine and the benchmark driver (once per source tree),
generate the seeded inputs (cached by generator version, seed and size),
run the workload in one JVM at local[N], compare every output against its
oracle, and print one JSON object as the last line of standard output.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Exits non-zero without a result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target", "perfbench-build")

WORKLOADS = ("ingest_drop", "corpus_curate")
# local[N]: one core is left to the driver thread, the JIT and the GC, which
# on a 4-core machine halves the run-to-run spread
CPUS = max(1, min(3, (os.cpu_count() or 2) - 1))

# Input sizes per workload; SMOKE shrinks them for the smoke test. A corpus
# is `copies` × the first `limit` sf0.1 documents (all 5 000 when None).
SIZES = {
    "ingest_drop": {"files": 6, "rows_per_file": 60, "backfill_files": 3},
    "corpus_curate": {"copies": 2, "limit": None},
    "warm": {"copies": 1, "limit": 200},
}
SMOKE = {
    "ingest_drop": {"files": 4, "rows_per_file": 20, "backfill_files": 2},
    "corpus_curate": {"copies": 2, "limit": 300},
    "warm": {"copies": 1, "limit": 100},
}


def jvm_timeout(seconds, trace):
    """Wall-clock limit of the JVM, a guard against a hung run only: set-up
    and the layer probes take up to ~2 min, and each measured pass (three
    when traced) runs `seconds` plus at most one operation (≤ ~30 s)."""
    return 180 + (3 if trace else 1) * (seconds + 60)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_key():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) once per source tree; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    key = source_key()
    cp_file = os.path.join(BUILD, "classpath.txt")
    key_file = os.path.join(BUILD, "source.key")
    if os.path.exists(cp_file) and os.path.exists(key_file) and open(key_file).read() == key:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log("building engine + benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(os.path.join(BUILD, "sbt.log")).read().splitlines()
    cps = [l for l in lines if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        raise SystemExit(f"perfbench: sbt build failed (rc={rc}); see {BUILD}/sbt.log")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(key_file, "w") as fh:
        fh.write(key)
    log(f"build took {time.time() - t0:.1f}s")
    return cps[-1]


# ----------------------------------------------------------------- inputs

def prune(root, keep):
    """Drop the oldest cached inputs beyond `keep` entries."""
    if not os.path.isdir(root):
        return
    entries = sorted((os.path.getmtime(os.path.join(root, e)), e)
                     for e in os.listdir(root) if e != "oracles")
    for _, e in entries[:-keep] if len(entries) > keep else []:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def workbook_inputs(seed, size):
    d = gen.cached_dir(DATA, "workbooks", seed, files=size["files"], rows=size["rows_per_file"])
    if not os.path.exists(os.path.join(d, "predictions.json")):
        shutil.rmtree(d, ignore_errors=True)
        preds = gen.workbooks(d, seed, size["files"], size["rows_per_file"])
        with open(os.path.join(d, "predictions.json"), "w") as fh:
            json.dump(preds, fh)
    return d


def corpus_inputs(seed, size):
    d = gen.cached_dir(DATA, "corpus", seed, copies=size["copies"],
                       limit=size["limit"] or "all")
    p = os.path.join(d, "documents.parquet")
    if not os.path.exists(p):
        digest = gen.corpus(p, seed, size["copies"], size["limit"])
        with open(os.path.join(d, "content.key"), "w") as fh:
            fh.write(digest)
    return d


# ----------------------------------------------------------------- checks

def oracle(con, inputs, sql):
    """The oracle SQL's result over the documents in `inputs`, computed in
    DuckDB once per document content (order aside) and SQL text, then
    cached."""
    import pandas as pd
    with open(os.path.join(inputs, "content.key")) as fh:
        content = fh.read().strip()
    os.makedirs(os.path.join(DATA, "oracles"), exist_ok=True)
    key = content[:16] + "-" + hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(DATA, "oracles", f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.sql(sql).df()
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check_outputs(checks, inputs):
    """Compare each query output with its oracle SQL in DuckDB, using the
    repository's own comparison (scripts/check.py). Returns failures."""
    if not checks:
        return []
    import contextlib
    import duckdb
    from pathlib import Path
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/documents.parquet'")
    failures = []
    for c in checks:
        t0 = time.time()
        try:
            got = check.load_result(Path(c["out"]))
            want = oracle(con, inputs, c["sql"])
            with contextlib.redirect_stdout(sys.stderr):
                ok = check.compare(c["query"], got, want)
        except Exception as e:  # a missing output or an oracle error fails
            log(f"check {c['query']}: {e}")
            ok = False
        log(f"check {c['query']}: {time.time() - t0:.2f}s")
        if not ok:
            failures.append(f"{c['query']}: output differs from oracle")
    con.close()
    return failures


# -------------------------------------------------------------------- run

def java_cmd(classpath, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap with fixed generation sizes keeps the resident-set high
    # water mark a function of the workload rather than of GC ergonomics
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-Dderby.system.home=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main"]
    return cmd


def run(args, sizes):
    classpath = build()
    launch_ms = int(time.time() * 1000)
    wl = args.workload
    conf = {"workload": wl, "trace": str(args.trace), "seconds": str(args.seconds),
            "cpus": str(CPUS), "launch_ms": str(launch_ms),
            "fixtures": os.path.join(ROOT, "fixtures")}
    if wl == "ingest_drop":
        size = sizes[wl]
        conf["inputs"] = workbook_inputs(args.seed, size)
        conf.update({k: str(size[k]) for k in ("rows_per_file", "backfill_files")})
    else:
        import pyarrow.parquet as pq
        conf["inputs"] = corpus_inputs(args.seed, sizes[wl])
        conf["warm_inputs"] = corpus_inputs(args.seed, sizes["warm"])
        conf["docs"] = str(pq.read_metadata(
            os.path.join(conf["inputs"], "documents.parquet")).num_rows)
    if args.trace:
        conf["corpus"] = os.path.join(corpus_inputs(args.seed, sizes["corpus_curate"]),
                                      "documents.parquet")
        conf["workbooks"] = workbook_inputs(args.seed, sizes["ingest_drop"])

    prune(DATA, 24)
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{wl}-s{args.seed}-t{args.trace}-{os.getpid()}")
    conf["work"] = work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_cmd(classpath, work) + [f"{k}={v}" for k, v in conf.items()]
        with open(os.path.join(work, "jvm.log"), "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            limit = jvm_timeout(args.seconds, args.trace)
            try:
                rc = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"perfbench: JVM exceeded {limit:.0f}s")
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
            log(tail)
            raise SystemExit(f"perfbench: JVM failed (rc={rc})")
        res = json.load(open(result_path))
        wrong = check_outputs(res["checks"], conf["inputs"])
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(WORK, "traces", f"{wl}_s{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in res["failures"] + wrong:
        log(f"FAILED {f}")
    units = declared_metrics("per_layer" if args.trace else "end_to_end")
    metrics = {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()}
    log("detail " + json.dumps(res["detail"]))
    failed = min(res["attempted"], res["failed"] + len(wrong))
    return {"correct": failed == 0, "attempted": res["attempted"],
            "failed": failed, "metrics": metrics}


def declared_metrics(kind):
    """{name: unit} of the `kind` metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args(argv)
    out = run(args, SMOKE if args.smoke else SIZES)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
