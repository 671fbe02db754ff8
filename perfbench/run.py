#!/usr/bin/env python3
"""Seeded benchmark of graft: build the harness from the checkout, run one
workload in one JVM (Spark local[N], N = min(4, cores)) and print its
metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 12 --trace 0

Workloads: etl_sync, stream_ingest (see perfbench/README.md).
With --trace 0 the end-to-end metrics are reported; with --trace 1 the run
measures an untraced phase and then a traced phase of the same length and
reports the per-layer span metrics, tracing overhead and span coverage.
The exit code is 0 only when every graft call succeeded and every output
check passed.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
WORKLOADS = ("etl_sync", "stream_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build: graft's sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory graft's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jar directory at {jars!r}")
    return jars


def build():
    """Compile the harness with graft's sources; reuse the last build when
    no input changed. Returns the runtime classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a "
                 "checkout of the graft repository")
    digest = source_digest()
    try:
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)[:1]):
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building the harness with graft's sources", file=sys.stderr)
    try:
        out = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.stdout.splitlines()
    cp = next((l for l in reversed(lines) if "classes" in l and os.pathsep in l), None)
    if out.returncode != 0 or cp is None:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp.strip()}, f)
    return cp.strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps GC sizing from following load; pages are
    # touched as the heap fills, so peak RSS still sees heap occupancy.
    # Every file the JVM writes stays under .work
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK]
    log_path = os.path.join(
        WORK, "logs", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the harness exited with code {proc.returncode} and no result")
    for l in lines[:-1]:
        if l.startswith("perfbench-run "):
            record = json.loads(l[len("perfbench-run "):])
            print(f"perfbench: {a.workload} seed={a.seed} passes={record['passes']} "
                  f"calib_start={record['calib_start_ratio']} "
                  f"calib_end={record['calib_end_ratio']} "
                  f"other_cpu_frac={(record['load'] or {}).get('other_cpu_frac')} "
                  f"fail_frac={record['fail_frac']} phases={record['phase_s']} "
                  f"pass_s={record['pass_s_samples']}")
            for name, v in record.get("figures", {}).items():
                print(f"perfbench:   {name} = {v['value']} {v['unit']}")
            for f in record.get("failures", []):
                print(f"perfbench: FAILED {f}")
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
