#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run builds the
benchmark (an sbt project that compiles ../src/main with the benchmark's
own sources) into perfbench/target and reuses the build while no source
changes. Inputs are generated from --seed under perfbench/work/, the
workload runs in a fresh JVM there, and the last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The traced run also writes
perfbench/work/spans-<workload>-<seed>.json and prints the tracing
overhead against the last untraced run of the same workload and seed.
The exit code is 0 only when every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
JVM_TIMEOUT_S = 168

# Lines to generate: enough for the workloads' rates (constants in
# IngestWorkload and ReportsWorkload, which refuse to run short).
INGEST_RATE = 2000
INGEST_BURST = 15000
REPORTS_PRELOAD = 12000
REPORTS_BG_RATE = 100


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, to decide on a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: program sources (src/main/scala) not found; "
                         "run from the root of a source checkout")
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def make_inputs(workload, seed, seconds, trace, data):
    """Everything the program receives, from the seed alone."""
    rng = np.random.default_rng(seed)
    start = gen.window_start()
    if trace:
        # the tables the traced run's operator probe reads
        os.makedirs(os.path.join(data, "sf"))
        gen.write_sf_dir(np.random.default_rng(seed), os.path.join(data, "sf"),
                         n_events=5000, n_docs=300, n_vecs=300, start=start)
    n = {"ingest": INGEST_RATE * (seconds + 1) + INGEST_BURST,
         "reports": REPORTS_PRELOAD + REPORTS_BG_RATE * (seconds + 30)}[workload]
    lines = gen.wire_lines(rng, gen.events(rng, n, start))
    with open(os.path.join(data, "lines.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(cp, args, cwd, logfile):
    """Run the workload JVM in its own process group, with its scratch
    space (Spark's local dir, temp files) under `cwd`; kill the group on
    timeout so nothing it started outlives the run."""
    scratch = [f"-Djava.io.tmpdir={cwd}/tmp", f"-Dspark.local.dir={cwd}/spark-local"]
    os.makedirs(os.path.join(cwd, "tmp"))
    with open(logfile, "w") as lf:
        p = subprocess.Popen(["java"] + JVM_OPTS + scratch + ["-cp", cp, "perfbench.Main"] + args,
                             cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def oracle_check(data):
    """Compare the operator results with their DuckDB oracles."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.join(data, "verify"), os.path.join(data, "sf")],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    return p.returncode == 0, [l for l in p.stdout.splitlines() if l.startswith(("FAIL", "=="))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "reports"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    tag = f"{a.workload}-{a.seed}"
    data = os.path.join(WORK, f"{tag}-t{a.trace}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    make_inputs(a.workload, a.seed, a.seconds, a.trace, data)

    result_file = os.path.join(data, "result.json")
    spans_file = os.path.join(WORK, f"spans-{tag}.json")
    t0 = time.time()
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--out", result_file, "--spans", spans_file],
                 cwd=data, logfile=os.path.join(data, "jvm.log"))
    log(f"jvm exit {rc} after {time.time() - t0:.1f} s")
    os.remove(os.path.join(data, "lines.txt"))  # the bulk of a run's files; the seed remakes it
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(data, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: workload run failed")
    with open(result_file) as f:
        res = json.load(f)

    correct = res["correct"]
    checks = list(res["checks"])
    if os.path.isdir(os.path.join(data, "verify")):
        ok, lines = oracle_check(data)
        correct = correct and ok
        checks += lines
    for c in checks:
        log(c)
    log("per-layer: " + json.dumps(res["per_layer"], sort_keys=True))

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = res[section].get(m["name"])
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}

    last_untraced = os.path.join(WORK, f"e2e-{tag}.json")
    if a.trace:
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            over = {k: res["end_to_end"][k] - v for k, v in base.items()
                    if k in res["end_to_end"]}
            print("tracing overhead (traced - untraced): " + json.dumps(over, sort_keys=True))
    else:
        with open(last_untraced, "w") as f:
            json.dump(res["end_to_end"], f)

    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
