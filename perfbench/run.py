#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source
(once per checkout, again whenever a source file changes), then runs one
workload in a fresh JVM and relays its result line.

    python3 perfbench/run.py --workload txn_steady --seed 1 --seconds 10 --trace 0

The last line of standard output is the result object
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CP_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
WORKLOADS = ("txn_steady", "query_mix")
# one run must end within 180 s; the JVM gets this much after the build
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.exists(CP_FILE) and os.path.getmtime(CP_FILE) >= newest:
        with open(CP_FILE) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    # offline build: dependencies come from the local caches only
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if ".jar" in l and os.pathsep in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join((errors or lines)[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def busy_cores(seconds=1.0):
    """Cores busy (including time stolen by the hypervisor) over an interval."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v) - v[3] - v[4], sum(v)
    b0, t0 = sample()
    time.sleep(seconds)
    b1, t1 = sample()
    return (b1 - b0) / max(1, t1 - t0) * os.cpu_count()


def wait_for_quiet_host(limit_s=10, max_busy=0.5):
    """Start on an idle host: a build or an earlier run can leave work
    behind that would land inside this run's measurement."""
    deadline = time.time() + limit_s
    busy = busy_cores()
    while busy > max_busy and time.time() < deadline:
        busy = busy_cores()
    if busy > max_busy:
        print(f"[perfbench] host still busy ({busy:.2f} cores) after {limit_s}s; "
              "starting anyway", file=sys.stderr)


def jvm_options(work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return opts + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                   "-Dlog4j2.configurationFile="
                   + os.path.join(HERE, "log4j2.properties"),
                   "-Dspark.ui.enabled=false"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the self-test only")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    cp = build()
    # flush file data earlier runs left dirty, so its write-back does not
    # land inside this run's measurement
    os.sync()
    wait_for_quiet_host()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java"] + jvm_options(work) + ["-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    last = None
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timed_out = not timer.is_alive()
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    if proc.returncode != 0 or last is None:
        fail(f"harness exited {proc.returncode} without a result")
    print(last, flush=True)


if __name__ == "__main__":
    main()
