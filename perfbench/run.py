#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ocf_export|kafka_roundtrip|query_sweep> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the benchmark
from source with sbt (offline) on first use, caches the classpath under
perfbench/.work/build keyed by a hash of the sources, then runs one JVM
that prints a report and, as its last stdout line, one JSON result.

Extra flags for the benchmark's own tests: --scale tiny (a few-MB
corpus), --inject corrupt-ocf|drop-frame|throw-query (a fault the output
checks must catch), --record <file> (write query fingerprints).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 175        # a run must end within 180 s
FIRST_RUN_LIMIT_S = 890  # ... or 900 s when it builds

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_key():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Classpath of the compiled engine + benchmark, building if needed.
    Returns (classpath, built_now)."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    key = source_key()
    cp_file = os.path.join(out, key + ".classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "sbt.log")
    print("perfbench: building engine and benchmark (log: perfbench/.work/build/sbt.log)",
          file=sys.stderr)
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            start_new_session=True)
        stdout = wait(proc, deadline)
        fh.write(stdout)
    if proc.returncode != 0:
        die(f"build failed (exit {proc.returncode}); see {log}", 1)
    lines = [l for l in stdout.splitlines() if os.path.join("perfbench", "target") in l]
    if not lines:
        die(f"build printed no classpath; see {log}", 1)
    for f in os.listdir(out):
        if f.endswith(".classpath"):
            os.remove(os.path.join(out, f))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip(), True


_child = None


def wait(proc, deadline):
    """Waits for `proc` until the deadline, killing its process group past it."""
    global _child
    _child = proc
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return out or ""
    except subprocess.TimeoutExpired:
        stop(proc)
        die("time limit reached; stopped the benchmark", 3)
    finally:
        _child = None


def stop(proc):
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=grace)
            return
        except subprocess.TimeoutExpired:
            pass


def on_signal(signum, _frame):
    if _child is not None:
        stop(_child)
    sys.exit(128 + signum)


def main():
    start = time.monotonic()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ocf_export", "kafka_roundtrip", "query_sweep"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject", choices=["corrupt-ocf", "drop-frame", "throw-query"])
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {BENCH}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, built = build(start + FIRST_RUN_LIMIT_S)
    deadline = start + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g",
        "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK, "--data", os.path.join(BENCH, "data"),
        "--scale", a.scale]
    if a.inject:
        cmd += ["--inject", a.inject]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    out = wait(proc, deadline)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}", 1)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if not last.startswith('{"correct"'):
        die("benchmark printed no result line", 1)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
