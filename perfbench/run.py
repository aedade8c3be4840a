#!/usr/bin/env python3
"""Build the engine with the benchmark and run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload drain_rounds --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with the
benchmark's (sbt, offline) into .bench_build/; later runs reuse that build
while the sources are unchanged. The benchmark JVM prints a `machine` line
and, as its last line, the result JSON; this script passes them through and
exits with the JVM's code. `--test` runs the benchmark's own test suite.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("drain_rounds", "api_requests")
OUT = os.path.join(".bench_build", "perfbench")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
BUILD_TIMEOUT_S = 700  # build + one run stays within 15 minutes
RUN_TIMEOUT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join("src", "main"), os.path.join("perfbench", "src", "main")]
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    return env


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    """Returns the runtime classpath, compiling when the sources changed."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, f"classpath-{digest.hexdigest()[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        code, out, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd="perfbench", env=sbt_env(),
                                 stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish in {BUILD_TIMEOUT_S}s")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = out.strip().splitlines()[-1].strip()
    if not cp or ".jar" not in cp:
        fail("build printed no classpath")
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    for need in (os.path.join("perfbench", "build.sbt"), os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(need):
            fail(f"run from the root of a graft checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if a.test:
        code, _, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false", "test"],
                               BUILD_TIMEOUT_S + 1800, cwd="perfbench", env=sbt_env())
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")

    cp = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", OUT])
    try:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"workload {a.workload} did not finish in {RUN_TIMEOUT_S}s")
    lines = out.strip().splitlines()
    if code == 0 and (not lines or not lines[-1].startswith("{")):
        fail("benchmark printed no result")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
