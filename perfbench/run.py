#!/usr/bin/env python3
"""Benchmark of the graft feature store: two workloads, one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the project's main
sources plus the harness in perfbench/ with sbt (offline) and caches the
classpath; later runs start the harness JVM directly.

Workloads (BENCHMARK.json records why each was chosen):
  batch_cold   one registry query per module group (Windows, Upsert,
               Joins, Shedding, Sources, Graph, Classify, Mixture,
               IvfIndex, TextAnalysis, Bpe, Dedup) on the fixed corpus
               in perfbench/data, in a seeded order; one timed pass in
               which every query runs for the first time in the JVM. The
               pass is the unit of work and takes longer than --seconds.
  ralf_stream  seeded Zipf events through MemoryStream -> shed -> sliding
               count window -> mean -> FeatureTableSink.merge, with one
               closed-loop HTTP client point-querying a FeatureServer on
               the sink; micro-batches are offered for --seconds.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). A `detail` JSON line before it carries the workload's
own metrics (error_rate; freshness, ingest rate and point latencies for
the stream; per-query times for the batch) and the host state. See
README.md for the metric definitions.

Exits non-zero without a result when the project sources or the
toolchain are missing.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
ORACLE_CHECK = os.path.join(ROOT, "tools", "oracle_check.py")
# batch_cold's corpus: the project's sf0.01 test tables (README.md)
DATA = os.path.join(HERE, "data")

WORKLOADS = ("batch_cold", "ralf_stream")
# fixed heap (-Xms = -Xmx): GC sizing is the same in every run, which
# keeps the timings steady; retained_mb, not the resident set, reports
# what the program holds
HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

SPEC = os.path.join(ROOT, "BENCHMARK.json")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the project's build.sbt javaOptions)
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


# --------------------------------------------------------------- host state

def other_jvms():
    """Command lines of live sbt / Spark JVMs that are not this run's."""
    found = []
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and any(t in cmd for t in ("sbt", "spark", "graft")):
            found.append(f"{pid}: {cmd[:160]}")
    return found


def host_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "other_jvms": other_jvms()}


# ------------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in (MAIN_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                p = os.path.join(d, name)
                with open(p, "rb") as f:
                    h.update(p.encode() + b"\0" + f.read())
    for p in (os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    lines = [l.strip() for l in p.stdout.splitlines() if "scala-library" in l and os.pathsep in l]
    if not lines:
        die("could not read the classpath from sbt")
    cp = lines[-1]
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# -------------------------------------------------------------- JVM runs

def run_jvm(cp, run_dir, args):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--data", DATA, "--work", os.path.join(run_dir, "work"),
            "--out", out, "--cores", str(os.cpu_count() or 1),
            "--spawn_us", str(time.time_ns() // 1000)]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness JVM ended with {rc}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------ correctness

def oracle_check(out_dir, rows_by_query):
    """tools/oracle_check.py (DuckDB over the same tables) on the dumped
    query outputs, plus a row-count check across passes; returns
    {query: reason} for every mismatch."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    p = subprocess.run([sys.executable, ORACLE_CHECK, out_dir, DATA],
                       capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            bad[name] = why
    if p.returncode not in (0, 1) or f"{len(names) - len(bad)}/{len(names)} matched" not in p.stdout:
        # the checker itself failed: no query counts as checked
        why = f"oracle_check.py exited {p.returncode}: {p.stderr.strip()[-300:]}"
        bad.update({n: why for n in names if n not in bad})
    for name, counts in rows_by_query.items():
        if len(set(counts)) > 1 and name not in bad:
            bad[name] = f"row count varies across passes: {counts}"
    return bad


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(MAIN_SRC, "graft", "SparkEntry.scala")):
        die(f"project sources not found under {os.path.relpath(MAIN_SRC)}; run from a checkout root")
    if not os.path.isfile(ORACLE_CHECK) or not os.path.isdir(DATA):
        die("tools/oracle_check.py or perfbench/data missing; run from a checkout root")
    if not shutil.which("java"):
        die("java not found on PATH")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(WORK, exist_ok=True)
    cp = build(env)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host_before = host_state()
    try:
        res = run_jvm(cp, run_dir, args)
        bad = {}
        t0 = time.time()
        if args.workload == "batch_cold":
            bad = oracle_check(res["out_dir"], res["rows_by_query"])
            for q, why in bad.items():
                log(f"MISMATCH {q}: {why}")
        oracle_s = time.time() - t0
        host_after = host_state()
    finally:
        # keep the JVM log and spans of the latest run, drop the rest
        for src, dst in (("jvm.log", "last-jvm.log"), ("work/spans.jsonl", "last-spans.jsonl")):
            if os.path.exists(os.path.join(run_dir, src)):
                shutil.copy(os.path.join(run_dir, src), os.path.join(WORK, dst))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = int(res["attempted"])
    failed = int(res["failed"])
    if args.workload == "batch_cold":
        runs_per_query = attempted // max(1, len(res["rows_by_query"]))
        failed += runs_per_query * len(bad)
    for msg in res.get("failures", []):
        log(f"FAILED {msg}")

    passes = res["pass_s"]
    ops = res["op_ms"]
    e2e = {"setup_s": res["setup_s"], "pass_s": median(passes), "retained_mb": res["retained_mb"]}
    valid = not host_before["other_jvms"] and not host_after["other_jvms"]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "valid": valid, "host_before": host_before, "host_after": host_after,
        "cores": os.cpu_count(),
        "oracle_s": round(oracle_s, 3), "wall_s": round(time.time() - t_start, 3),
        "samples": {"passes": len(passes), "ops": len(ops)},
        "error_rate": {"value": failed / max(1, attempted), "unit": "ratio"},
    }
    if args.workload == "batch_cold":
        detail["pass_s"] = {"value": e2e["pass_s"], "unit": "s"}
        detail["query_p50_ms"] = {"value": median(ops), "unit": "ms"}
        detail["rows_per_s"] = {"value": sum(res["pass_rows"]) / sum(passes), "unit": "1/s"}
        detail["oracle_mismatches"] = sorted(bad)
        detail["query_ms_p50"] = {q: round(median(v), 1) for q, v in sorted(res["ms_by_query"].items())}
    else:
        reads = res["hits"] + res["misses"] + res["read_errors"]
        detail.update({
            "ingest_rows_per_s": {"value": res["ingest_rows"] / res["ingest_s"], "unit": "1/s"},
            "freshness_p50_ms": {"value": e2e["pass_s"] * 1000, "unit": "ms"},
            "point_p50_ms": {"value": median(ops), "unit": "ms"},
            "point_p90_ms": {"value": quantile(ops, 0.9), "unit": "ms"},
            "point_reads": {"hits": res["hits"], "misses_404": res["misses"],
                            "failures": res["read_errors"], "total": reads},
            "micro_batches": res["batches"],
        })
    detail["setup_s"] = {"value": e2e["setup_s"], "unit": "s"}
    detail["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MiB"}
    if not valid:
        log("run flagged invalid: another sbt/Spark JVM was alive")
    print(json.dumps({"detail": detail}))

    # every declared metric, in BENCHMARK.json's units; a per-layer metric of
    # a layer the workload never calls reads 0
    with open(SPEC) as f:
        spec = json.load(f)
    if args.trace:
        values = {m["name"]: res["layers"].get(m["name"], 0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
