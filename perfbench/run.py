#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(the engine at the checkout root, the benchmark as its own sbt build in
this directory) and rebuilds whenever a source or build file changes.
Each run starts one JVM that sets up a Spark session, generates the
seeded inputs under `.bench_build/run/`, drives the workload's closed
loop for the given seconds and checks every op's output. With
`--trace 0` the result line carries the end-to-end metrics; with
`--trace 1` the per-layer metrics of a separately traced half of the
loop (see perfbench/README.md).

The last line printed is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it holds the run's
details (inputs, environment, latency summaries, failures).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["etl_batch", "interactive", "llm_curation", "incremental_ingest"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out, err


def source_stamp():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the
    runtime classpath and the JVM flags the build names."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    opts_file = os.path.join(HERE, "target", "java-options.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()

    def built():
        with open(cp_file) as fh, open(opts_file) as oh:
            return fh.read().strip(), oh.read().split()

    if all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return built()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code, _, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                               HERE, BUILD_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
    if code != 0 or not (os.path.exists(cp_file) and os.path.exists(opts_file)):
        fail(f"build failed (exit {code}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return built()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1,
                    help="input seed (default 1; claim checks use the hold-out seed 104729)")
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine's sources")
    if shutil.which("java") is None:
        fail("java not found on PATH")

    classpath, java_opts = build()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *java_opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--dir", os.path.join(run_dir, a.workload)]
    with open(os.path.join(BUILD, "last_run.log"), "w") as err:
        code, out, _ = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or len(lines) < 2:
        fail(f"benchmark JVM exited {code} without a result; see .bench_build/last_run.log")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}")
    bad = [k for k in result["metrics"] if not NAME_RE.match(k)]
    if bad:
        fail(f"invalid metric names {bad}")
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
