#!/usr/bin/env python3
"""Benchmark launcher: builds the benchmark (and the program it measures)
from the checkout it sits in, then runs one workload in a fresh JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The last line of stdout is the result JSON printed by perfbench.Main.
Build output stays in the sbt target directories of the checkout; each
run's scratch files live under perfbench/work/ and are removed at exit;
detail files (host, seed, per-operation samples, spans) go to
perfbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
RUN_LIMIT_S = 170  # every run must end within 180 s
BUILD_LIMIT_S = 700  # the first run in a checkout, which builds, may take 900 s
BUILT_RUN_LIMIT_S = 890
WORKLOADS = ("backfill", "query_mix")
FIXTURE = "perfbench/fixtures/sf0.01"  # a copy of the repository's sf0.01 test data

JDK17_OPENS = [
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


def fingerprint(root):
    """Hash of every input of the build, so an unchanged checkout skips it."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else []
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt, offline, unless the checkout is unchanged since the
    last build; return the runtime classpath and whether it built."""
    bench = os.path.join(root, "perfbench")
    stamp = os.path.join(bench, "target", "perfbench-classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1], False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=bench, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_LIMIT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp[-1] + "\n")
    return cp[-1], True


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8], like the test tier."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_head(root):
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--mode", choices=("record", "bridge"),
                    help="record: print query_mix_expected.tsv lines; "
                         "bridge: time query_mix under count() and noop")
    ap.add_argument("--fixture", help="query_mix parquet fixture dir "
                                      f"(default {FIXTURE})")
    ap.add_argument("--label", help="fixture label for --mode bridge")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.mode):
        fail("need --workload, --selftest or --mode")

    root = os.getcwd()
    for need in ("build.sbt", "project/build.properties",
                 "src/main/scala/graft/Backfill.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a full checkout: {need} is missing")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cp, built = build(root)
    work = os.path.join(root, "perfbench", "work", f"run-{os.getpid()}")
    out = os.path.join(root, "perfbench", "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    jvm = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dperfbench.gitHead={git_head(root)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    fixture = os.path.abspath(a.fixture or os.path.join(root, FIXTURE))
    args = ["--work", work, "--out", out, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--fixture", fixture]
    if a.selftest:
        args += ["--mode", "selftest"]
    elif a.mode:
        args += ["--mode", a.mode]
        if a.label:
            args += ["--label", a.label]
    else:
        args += ["--workload", a.workload]
    cmd = jvm + ["-cp", cp, "perfbench.Main"] + args
    limit = (BUILT_RUN_LIMIT_S if built else RUN_LIMIT_S) if a.workload else 1800
    # keep Spark's scratch space inside the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def on_term(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        stdout, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - START)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if a.workload:
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(stdout[-4000:])
            fail(f"benchmark exited with {proc.returncode} and no result", 5)
        print(lines[-1])
        return
    print(stdout, end="")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
