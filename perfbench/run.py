#!/usr/bin/env python3
"""Benchmark of the graft engine: end-to-end and per-layer metrics.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each a closed loop with one client: an op starts when the
previous one has ended, in one JVM at local[nproc]):

  catalog_iterative  g_bfs and d_semdedup_incremental over generated
                     sf0.01-shaped tables; one op is one entry: the call
                     that builds its DataFrame plus a noop write. The seed
                     sets the entry order of every pass.
  etl_upsert         the staffing-roster lifecycle: seeded sheet snapshots
                     loaded through the `sheet` source, merged by the
                     staffing and projects pipelines and upserted through
                     the JDBC sink into an in-memory Derby; one op is one
                     snapshot, and a pass ends with the end-of-semester
                     rollover.

A run sets up three times (the first from process start; setup_s is the
median), makes a first pass in the fresh session, then warm passes sized
to --seconds. Outputs are checked untimed: catalog entries against the
digests in perfbench/expected, the ETL against its generator's model.

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt) into perfbench/target; later runs reuse that build
while the sources are unchanged. Inputs are generated from --seed inside
perfbench/.work, which each run empties again when it ends.

With --trace 0 the last stdout line carries the end-to-end metrics
(setup_s, pass_s, op_p50_s, op_tail_s, rss_peak_mb); with --trace 1 it
carries the per-layer metrics of a traced run, and the span tree
(op > call > SQL execution > job > stage, with self times) is written to
perfbench/.work/traces/<workload>-seed<n>.jsonl. The line before the
last holds the run's context: nproc, /proc/loadavg and a one-core
calibration time at start and end, the set-up and pass times,
first_pass_s, error_rate, the op_tail_s percentile and sample count,
and the first errors.

Extra options for maintaining the benchmark:
  --record FILE   write the catalog digests of this run to FILE
                  (how perfbench/expected/<workload>.json is made)
  --gen-only DIR  only generate the workload's inputs into DIR
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-sources.sha256")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; return
    the runtime classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep sbt's scratch files, locks and sockets inside the checkout
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.sep)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_iterative", "etl_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record")
    ap.add_argument("--gen-only")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE}", 2)
    cp = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        f"-Dperfbench.expected={os.path.join(HERE, 'expected')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", run_dir, "--traces", os.path.join(WORK, "traces")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.gen_only:
        cmd += ["--gen-only", os.path.abspath(a.gen_only)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    if a.gen_only:
        return
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == RESULT_KEYS
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-2000:])
        fail("no result line from the benchmark JVM", 6)
    for l in lines[:-1]:
        print(l)
    print(lines[-1])


if __name__ == "__main__":
    main()
