#!/usr/bin/env python3
"""Benchmark of the graft engine: the LMS-ERP sync run and the operator suite.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: sync_nightly, operator_suite (see
BENCHMARK.json and perfbench/METHOD.md). The first run builds the engine
and the benchmark from source with sbt (perfbench/build.sbt depends on the
engine's own build); later runs reuse the build while the sources are
unchanged. Everything the run writes stays under .bench_build/ in the
checkout. The last line of standard output is the result JSON object.
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

WORKLOADS = ("sync_nightly", "operator_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed driver heap: after the full collection that follows each unit
# a growable heap shrinks and must grow again in the next unit, which
# made units slower and less steady. The benchmark reports the live heap
# after that collection, which does not depend on the heap's size.
DRIVER_HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (same list as the
# engine's build.sbt).
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root, bench):
    """Every file whose change requires a rebuild."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(bench, "build.sbt"),
             os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    return p.returncode, out


def build(root, bench, out_dir):
    """Compiles engine + benchmark once per source state; returns the classpath."""
    h = hashlib.sha256()
    for f in source_files(root, bench):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state, locks and temp files go under .bench_build too; it
    # only reads its launcher and the dependency cache from the host.
    rc, out = run_group(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={out_dir}/sbt-global",
         f"-Dsbt.ivy.home={out_dir}/ivy2", f"-Djava.io.tmpdir={tmp}",
         f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=bench, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not here; "
             "run from the root of a full checkout")
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, bench, out_dir)

    work = os.path.join(out_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    arts = os.path.join(out_dir, "artifacts")
    os.makedirs(arts, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(work, "result.json")
    artifact = os.path.join(arts, f"{tag}.json")
    cmd = (["java"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--bench-dir", bench, "--work", work,
              "--out", result_file, "--artifact", artifact])
    t0 = time.monotonic()
    with open(os.path.join(arts, f"{tag}.log"), "w") as log:
        rc, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=log, stderr=log)
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(arts, f"{tag}.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark process exited with {rc}")
    with open(result_file) as fh:
        result = json.load(fh)
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} "
          f"wall={time.monotonic() - t0:.1f}s artifact={os.path.relpath(artifact, root)}",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
