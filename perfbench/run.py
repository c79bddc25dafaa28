#!/usr/bin/env python3
"""Run one workload of the CDC engine benchmark.

    python3 perfbench/run.py --workload backfill|serve --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from the checkout's sources on first
use (sbt; the build lands in perfbench/target and is reused while the
sources are unchanged), then runs the benchmark JVM and relays its result.
The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. Exits non-zero, printing no result, when the
engine sources are missing, the build fails, or the run fails or times out.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target", "bench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def java_cmd(classpath, work, args):
    """The benchmark JVM; its temporary files stay in `work`."""
    opens = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
            + opens + ["-cp", classpath, "graft.perfbench.Main"] + args)


def build(stamp):
    """Compile engine + benchmark with sbt and record the runtime classpath."""
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and benchmark (sbt)")
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if code != 0:
        log(f"build failed (exit {code})")
        return False
    lines = [l.strip() for l in out.splitlines()
             if l.strip().startswith(os.sep) and ".jar" in l]
    if not lines:
        log("build printed no classpath")
        return False
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2

    stamp = source_stamp()
    current = os.path.isfile(STAMP) and open(STAMP).read() == stamp
    if not (current and os.path.isfile(CLASSPATH)) and not build(stamp):
        return 1
    with open(CLASSPATH) as fh:
        cp = fh.read()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "run"), "--out", OUT]
    try:
        code, out = run_group(java_cmd(cp, work, args), RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"run failed (exit {code}) without a result")
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    # a run whose outputs failed the correctness gate still reports its
    # result (correct: false), and exits non-zero
    print(lines[-1], flush=True)
    return 0 if code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
