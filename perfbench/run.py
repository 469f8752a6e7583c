#!/usr/bin/env python3
"""Layered benchmark of the graft table format and corpus operators.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload plan_heavy --seed 1 --seconds 10 --trace 0

The first call builds the program from the checkout's sources
(`src/main/scala` plus `perfbench/src/main/scala`, with sbt, offline) into
`.bench_build/`; later calls reuse the build while the sources are
unchanged. Each call then starts one JVM running one Spark driver at
`local[4]` with one closed-loop client (`perfbench.Main`), which generates
its inputs from the seed, sets up several times, warms up, measures whole
cycles of operations for `--seconds`, and checks every operation's output.

The last line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`: with `--trace 0` every
`end_to_end` metric of BENCHMARK.json, with `--trace 1` every `per_layer`
metric. The line before it is a diagnostic stamp (nproc, master, loadavg
before and after, -Xmx, seed, per-kind sample counts, failures); the same
stamp, with the planning-replay spans of traced runs, is kept under
`.bench_build/records/`.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# Generated inputs that depend on the build but not on the arguments (the
# fixed corpus), kept from one run to the next and dropped on a rebuild.
CACHE = os.path.join(BUILD, "inputs")
STAMP = os.path.join(BUILD, "build.stamp")
# Class-data-sharing archive of the classes a run loads, dumped by the
# first run after a build and mapped by every later one: it cuts JVM and
# Spark start-up, which is not measured, by several seconds a run.
CDS = os.path.join(BUILD, "cds", "classes.jsa")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as the main build's
# javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the whole group on
    timeout and waits for it, so no process outlives the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    return p.returncode, out


def build():
    want = digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""),
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={BUILD}/sbt-global",
        f"-Djava.io.tmpdir={BUILD}/tmp",
    ]).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed" if code is not None else "build timed out", 3)
    if os.path.exists(CDS):
        os.remove(CDS)
    shutil.rmtree(CACHE, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want + "\n")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    names = expected_metrics(a.trace)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    logs = os.path.join(BUILD, "logs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    os.makedirs(os.path.dirname(CDS), exist_ok=True)
    dump = not os.path.exists(CDS)
    cds = (f"-XX:ArchiveClassesAtExit={CDS}.{os.getpid()}" if dump
           else f"-XX:SharedArchiveFile={CDS}")
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:-UsePerfData", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work-dir", work, "--cache-dir", CACHE,
           "--record-dir", os.path.join(BUILD, "records")]
    log = os.path.join(logs, tag + ".log")
    try:
        with open(log, "w") as lf:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                  stdout=subprocess.PIPE, stderr=lf,
                                  stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if dump and code == 0 and os.path.exists(f"{CDS}.{os.getpid()}"):
        os.replace(f"{CDS}.{os.getpid()}", CDS)
    elif dump and os.path.exists(f"{CDS}.{os.getpid()}"):
        os.remove(f"{CDS}.{os.getpid()}")
    if code is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s; log {log}", 4)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or len(lines) < 2:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run failed with exit code {code}; log {log}", 5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result {lines[-1]}", 6)
    got = sorted(result["metrics"])
    if got != sorted(names):
        fail(f"metrics {got} differ from BENCHMARK.json's {sorted(names)}", 6)
    print(lines[-2])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
