#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Everything a run writes stays under
perfbench/: the build under perfbench/target, scratch data (databases, gate
tables, Spark's local dirs) under perfbench/work, removed when the run ends,
and the full result and trace under perfbench/results.

With --trace 0 the result carries the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics, including self time per layer from the
recorded spans (see trace_report.py).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402
import trace_report  # noqa: E402

WORKLOADS = ("serve_read", "serve_ingest", "batch_gates")
DEADLINE_S = 170  # the whole run, build excluded, ends well inside 180 s
BUILD_DEADLINE_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(src):
            inputs += [os.path.join(d, f) for f in fs]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the recorded build matches the sources.
    Returns the benchmark's runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "bench.stamp")
    cp_file = os.path.join(target, "bench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cps = [l.strip() for l in p.stdout.splitlines()
           if "perfbench" in l and "classes" in l and ":" in l
           and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def run_jvm(classpath, args, work, timeout):
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"benchmark JVM exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from a checkout of the repository: engine sources not found", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    t_run = time.time()

    work = os.path.join(HERE, "work", a.workload)
    results = os.path.join(HERE, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_path = os.path.join(results, f"{tag}.json")
    trace_path = os.path.join(results, f"{tag}.trace.jsonl")
    for p in (result_path, trace_path):
        if os.path.exists(p):
            os.remove(p)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", result_path]
    if a.trace:
        args += ["--trace-out", trace_path]
    if a.workload == "batch_gates":
        data = os.path.join(work, "data")
        gen_tables.generate(data, a.seed)
        args += ["--data", data]

    try:
        code = run_jvm(classpath, args, work, DEADLINE_S - (time.time() - t_run))
        if code != 0 or not os.path.exists(result_path):
            fail(f"benchmark JVM failed (exit {code})")
        with open(result_path) as f:
            res = json.load(f)
        correct, attempted, failed = res["correct"], res["attempted"], res["failed"]
        if a.workload == "batch_gates":
            passes, fails = oracle.check(data, os.path.join(work, "gates_out"))
            res["oracle"] = {"passed": [n for n, _ in passes],
                             "failed": [f"{n}: {m}" for n, m in fails]}
            attempted += len(passes) + len(fails)
            failed += len(fails)
            correct = correct and not fails and bool(passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        spans = trace_report.load(trace_path)
        for layer, ms in trace_report.self_ms_per_request(spans).items():
            res["per_layer"][f"self_ms.{layer}"] = {"value": ms, "unit": "ms"}
        wanted, got = spec["per_layer"], res["per_layer"]
        res["not_exercised"] = [m["name"] for m in wanted if m["name"] not in got]
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            res["tracing_overhead"] = trace_report.overhead(result_path, untraced)
    else:
        wanted, got = spec["end_to_end"], res["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            fail(f"workload reported no {', '.join(missing)}")
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {"value": 0.0})["value"]
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    res["total_s"] = time.time() - t_start
    with open(result_path, "w") as f:
        json.dump(res, f, indent=1)
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['note']}", file=sys.stderr)
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
