#!/usr/bin/env python3
"""Benchmark of the audit-file agent and the analytics catalog.

    python3 perfbench/run.py --workload <ship_trickle|ship_backlog|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program
and the JVM harness with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. Inputs are generated
from the seed into `.bench_work/`, the harness drives the program through
its public calls, and this script checks every output and prints one
summary line and, last, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones (LAYERS.md says which end-to-end metric each should
move). `--plant-ship-sleep-ms` and `--plant-lock-sleep-ms` inject a sleep
into the traced run's ship seam or lock checker (see test_planted.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import ship  # noqa: E402

DEADLINE_S = 170  # every run must end well inside 180 s
JVM_MEM = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s"}


def per_layer_units():
    """Every per-layer metric name and its unit, in BENCHMARK.json order."""
    u = {}
    sg = "ingest.SettleGate."
    u.update({sg + "tick_p50_ms": "ms", sg + "tick_p99_ms": "ms", sg + "lockcheck_p50_us": "us",
              sg + "wait_p50_ms": "ms", sg + "busy_frac": "fraction", sg + "self_s": "s"})
    ai = "ingest.AuditIngest."
    for ph in ship.PHASES:
        u[f"{ai}{ph}_p50_ms"] = "ms"
    u.update({ai + "batches": "count", ai + "files_per_batch_p50": "count",
              ai + "queue_wait_p50_ms": "ms", ai + "idle_frac": "fraction", ai + "self_s": "s"})
    u.update({"ingest.AuditModel.envelope_mb_per_s": "MB/s", "ingest.AuditModel.self_s": "s"})
    for e in catalog.ENTRIES:
        u[f"catalog.{e}_s"] = "s"
    u.update({"catalog.fit_s": "s", "catalog.serve_s": "s", "catalog.self_s": "s"})
    for m in catalog.MODULES:
        q = f"queries.{m}."
        u.update({q + "build_s": "s", q + "exec_s": "s", q + "executor_run_s": "s",
                  q + "shuffle_mb": "MB", q + "spill_mb": "MB", q + "gc_ms": "ms",
                  q + "self_s": "s"})
    u.update({"jvm.gc_ms": "ms", "jvm.cpu_s": "s", "jvm.peak_rss_mb": "MB", "host.other_cores": "cores",
              "host.steal_pct": "%", "ship.generator_late_p99_ms": "ms",
              "trace.overhead_pct": "%"})
    return u


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(build_dir, deadline):
    """Compile the program and the harness; return the JVM classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}"]
    if os.path.exists(repo_cfg):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    cmd += ["compile", "export harness/Runtime/fullClasspath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                               stderr=lf, text=True, timeout=max(10, deadline - time.time()))
        except (subprocess.TimeoutExpired, FileNotFoundError) as e:
            fail(f"build did not finish: {e}", 3)
        lf.write(r.stdout)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode}), see {log}", 3)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13" in ln and not ln.startswith("[")]
    if not lines:
        fail(f"build printed no classpath, see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- run --------------------------------------------------------------------

def run_harness(classpath, work, opts, deadline):
    cmd = ["java", f"-Xmx{JVM_MEM}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + [f"{k}={v}" for k, v in opts.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness ran out of time", 4)
    out_file = os.path.join(work, "out.json")
    if code != 0 or not os.path.exists(out_file):
        fail(f"harness failed (exit {code}), see {work}/harness.log", 4)
    with open(out_file) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ship_trickle", "ship_backlog", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-ship-sleep-ms", type=int, default=0)
    ap.add_argument("--plant-lock-sleep-ms", type=int, default=0)
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}", 2)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir, started + 880)

    deadline = time.time() + DEADLINE_S
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "catalog":
        opts = catalog.prepare(work, a.seed)
    else:
        files, opts = ship.prepare(work, a.workload, a.seed, a.seconds)
    opts.update({"workload": a.workload, "work": work, "seconds": a.seconds, "trace": a.trace,
                 "cpus": os.cpu_count() or 4, "plant_ship_ms": a.plant_ship_sleep_ms,
                 "plant_lock_ms": a.plant_lock_sleep_ms,
                 "deadline_ms": int((deadline - 25) * 1000)})
    out = run_harness(classpath, work, opts, deadline)

    if a.workload == "catalog":
        attempted, failures, measured, summary = catalog.evaluate(work, out, a.trace == 1)
    else:
        attempted, failures, measured, summary = ship.evaluate(a.workload, out, files, a.trace == 1)
    shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units() if a.trace else END_TO_END
    metrics = {k: {"value": float(measured.get(k, 0.0)), "unit": u} for k, u in units.items()}
    for f in failures[:20]:
        print(f"FAIL {f}", file=sys.stderr)
    print(summary)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
