#!/usr/bin/env python3
"""Benchmark of the graft crawl engine and query surface.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <crawl_bulk|crawl_polite|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark code with sbt (offline)
into perfbench/target; later runs reuse the build while no source changed.
Each run starts one JVM, which times the workload's calls into the engine
and writes every operation it timed; this script checks the outputs, turns
the operations into metrics, keeps the raw record under perfbench/out/runs/
and prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (listeners and the fetcher probe on). See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("crawl_bulk", "crawl_polite", "query_mix")
JVM_TIMEOUT_S = 160

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics  # noqa: E402  (perfbench/metrics.py)

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles engine + benchmark when any source changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh2:
                    return fh2.read()
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True)
    classes = os.path.join(HERE, "target")
    cp = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(classes)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(bdir, exist_ok=True)
    with open(cp_f, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def run_jvm(cp, args, work):
    """Runs one benchmark JVM; returns what it wrote and its log path."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_f, log_f = os.path.join(work, "result.json"), os.path.join(work, "jvm.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *ADD_OPENS, "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", result_f, "--data", DATA,
           "--launch-ns", str(time.time_ns())]
    t0 = time.monotonic()
    with open(log_f, "w") as log:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log_f}")
    if code != 0 or not os.path.exists(result_f):
        with open(log_f) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {code}; log: {log_f}")
    with open(result_f) as fh:
        res = json.load(fh)
    res["jvm_wall_s"] = time.monotonic() - t0
    return res


def check_queries(res):
    """Compares each query's output with its DuckDB oracle (tools/duckcheck.py,
    the engine's own comparison); queries without oracle SQL must return rows.
    Marks the operations of a query that fails as failed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckcheck
    import pandas
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        duckcheck.main(res["data"], res["check_dir"])
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.strip().split(":")[0]
        if word in ("OK", "FAIL"):
            verdict[name] = line if word == "FAIL" else "ok"
    for name in res["queries"]:
        if name not in verdict:
            rows = sum(len(pandas.read_parquet(f)) for f in
                       glob.glob(os.path.join(res["check_dir"], name, "*.parquet")))
            verdict[name] = "ok" if rows > 0 else f"FAIL {name}: {rows} rows"
    for op in res["ops"]:
        v = verdict.get(op["name"], f"FAIL {op['name']}: not checked")
        if v != "ok" and op["ok"]:
            op["ok"], op["error"] = False, v
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    cp = build()
    work = os.path.join(OUT, "work")
    res = run_jvm(cp, args, work)
    if args.workload == "query_mix":
        res["checks"] = check_queries(res)
    m = metrics.per_layer(res) if args.trace else metrics.end_to_end(res)
    ops = res["ops"]
    line = {"correct": all(o["ok"] for o in ops), "attempted": len(ops),
            "failed": sum(not o["ok"] for o in ops), "metrics": m}

    for key in ("data", "check_dir"):
        if key in res:
            res[key] = os.path.relpath(res[key], ROOT)
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(runs, name), "w") as fh:
        json.dump({"args": vars(args), "result": line, "raw": res}, fh)
    shutil.move(os.path.join(work, "jvm.log"), os.path.join(OUT, "last-jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    for o in ops:
        if not o["ok"]:
            print(f"failed: {o['kind']} {o['name']} unit {o['unit']}: {o['error']}", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
