#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload drain-deep --seed 1 --seconds 8 --trace 0

Builds the engine and the harness with sbt (once per state of the sources;
later runs reuse the build), then runs the harness JVM on local[nproc] and
relays its result: the last line on stdout is one JSON object with the keys
correct, attempted, failed and metrics. All build outputs, scratch tables
and traces stay under this checkout. Exits non-zero without a result when
the engine sources are missing or the build or the run fails.
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
OUT = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Returns the harness classpath, building first if the sources changed."""
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.autostart=false",
                         "export perfbench/Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out or "")
        log(f"build failed (exit {rc})")
        return None
    cp = lines[-1]
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def spark_heap():
    """Half of MemTotal in whole GB, clamped to 2..8 (how the repository's
    test command sizes SPARK_DRIVER_MEM)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to {os.path.basename(HERE)}/ (need build.sbt and src/main/scala/graft)")
        return 1
    cp = build()
    if cp is None:
        return 1

    cpus = len(os.sched_getaffinity(0))
    mem = spark_heap()
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark_local"),
               PERFBENCH_WORK_ROOT=work,
               PERFBENCH_TRACE_DIR=os.path.join(OUT, "trace"))
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                            stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if rc != 0 or not lines:
        log(f"harness failed (exit {rc})" if rc is not None else "harness timed out")
        return 1
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        log("harness printed no result line")
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
