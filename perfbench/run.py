#!/usr/bin/env python3
"""Benchmark harness entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call in a checkout compiles the
repository's main sources together with the harness (perfbench/build.sbt,
sbt offline); later calls reuse the build while the sources are unchanged.
Each call then runs one workload in a fresh JVM (Spark local[nproc]), checks
its outputs, writes its result and, when traced, its span/counter artifact to
perfbench/artifacts/, prints every metric by name and unit, and prints the
benchmark's JSON line last. It exits non-zero when an output check fails.

Workloads: advisor_lookup, corpus_dedup (see BENCHMARK.json and
perfbench/PREDICTIONS.md for what each measures and what should move it).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ARTIFACTS = os.path.join(HERE, "artifacts")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # the whole call must end within 180 s once built

# The end-to-end metrics every workload reports (BENCHMARK.json), and which
# of the workload's own named metrics each one is on that workload.
E2E = {
    "advisor_lookup": {"latency_p50_ms": "lookup_p50_ms", "throughput_per_s": "lookups_per_s"},
    "corpus_dedup": {"latency_p50_ms": "pass_ms", "throughput_per_s": "corpus_docs_per_s"},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == digest:
        return
    log("compiling the repository and the harness (sbt, offline)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "Compile/products"]
    r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    with open(BUILD_STAMP, "w") as f:
        f.write(digest)


def java_cmd(args, work, out):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise SystemExit("SPARK_HOME must name a Spark 4 distribution")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--out", out])


def run_java(cmd, deadline):
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("workload ran past its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_check(res):
    """corpus_dedup: each query's first-pass output against its DuckDB oracle,
    with the comparison tools/check.py makes."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    out_dir, data_dir = res["notes"]["oracle_dir"], res["notes"]["data_dir"]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/documents.parquet/*.parquet'")
    verdicts = {}
    for name, sql in json.load(open(f"{out_dir}/oracle_sql.json")).items():
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        exp = con.sql(sql)
        g_rows, g_cols = check.canon(got.fetchall(), list(got.columns))
        e_rows, e_cols = check.canon(exp.fetchall(), list(exp.columns))
        ok = (g_cols == e_cols and len(g_rows) == len(e_rows) and
              all(check.eq(a, b) for gr, er in zip(g_rows, e_rows) for a, b in zip(gr, er)))
        verdicts[f"oracle_{name}"] = ok
        log(f"oracle {name}: {'match' if ok else 'MISMATCH'} ({len(g_rows)} rows)")
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(E2E))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no repository sources next to perfbench/: run from a checkout")

    build()
    started = time.time()
    os.makedirs(ARTIFACTS, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        code = run_java(java_cmd(args, work, out), started + RUN_LIMIT_S)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"workload failed (exit {code})")
        res = json.load(open(out))
        oracle = oracle_check(res) if args.workload == "corpus_dedup" else {}
        for f in os.listdir(work):  # trace-<part>.json from a traced run
            if f.startswith("trace-") and f.endswith(".json"):
                shutil.copy(os.path.join(work, f),
                            os.path.join(ARTIFACTS, f"{tag}-{f[6:-5]}-spans.json"))
    finally:
        keep = os.path.join(work, "result.json")
        if os.path.exists(keep):
            shutil.copy(keep, os.path.join(ARTIFACTS, f"{tag}-result.json"))
        shutil.rmtree(work, ignore_errors=True)

    checks = {**res["checks"], **oracle}
    attempted = res["attempted"] + len(oracle)
    failed = res["failed"] + sum(not ok for ok in oracle.values())
    named = dict(res["metrics"])
    named.update(res["host"])
    named["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    for k, v in list(named.items()) + list(res["layers"].items()):
        print(f"{args.workload} {k} {v['value']} {v['unit']}")
    for k, ok in checks.items():
        print(f"{args.workload} check {k} {'pass' if ok else 'FAIL'}")

    # a layer the workload does not exercise reports 0 (see PREDICTIONS.md)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        layers = {**res["host"], **res["layers"]}
        metrics = {m["name"]: {"value": layers[m["name"]]["value"] if m["name"] in layers else 0.0,
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        own = {"setup_s": "setup_s", **E2E[args.workload]}
        metrics = {m["name"]: {"value": named[own[m["name"]]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = all(checks.values()) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
