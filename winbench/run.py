#!/usr/bin/env python3
"""Window-engine benchmark.

    python3 winbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 winbench/run.py --test

Run from the root of a checkout. The first form builds the program from the
checkout's sources (again only when they change), runs one workload in one
JVM and prints the run record and, as the last line, the result JSON. The
second runs the benchmark's own tests. Build outputs and run data go under
.bench_build/ at the root of the checkout; see README.md in this directory.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "winbench"
WORKLOADS = ("wide_batch", "hot_partitions", "small_requests")
# local[N]: at most 4 cores, so runs on bigger machines stay comparable
CPUS = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"winbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sbt(*tasks, log):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={WORK / 'sbt-global'}", *tasks]
    with open(log, "w") as out:
        try:
            return subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=out,
                                  stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            return -1


def digest():
    """Hash of every input of the build: the program's and the benchmark's sources."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    stamp, classpath = WORK / "build.stamp", BENCH / "target" / "runtime-classpath.txt"
    want = digest()
    if stamp.exists() and classpath.exists() and stamp.read_text() == want:
        return classpath.read_text().strip()
    stamp.unlink(missing_ok=True)
    log = WORK / "build.log"
    if sbt("writeClasspath", log=log) != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed; the full log is {log}", 1)
    stamp.write_text(want)
    return classpath.read_text().strip()


def run(args):
    classpath = build()
    for d in ("data", "spark-local", "tmp", "duckdb-tmp", "warehouse"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    (WORK / "tmp").mkdir()
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir keeps shuffle files in the checkout
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", classpath, "graft.winbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(WORK), "--python", sys.executable,
           "--oracle", str(BENCH / "oracle.py"), "--cpus", str(CPUS)]
    # its own process group, so a timeout also stops the oracle it may be running
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s", 3)
    if code != 0:
        fail(f"the benchmark JVM exited with code {code}", 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    args = p.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "engine.scala").is_file():
        fail(f"no program sources under {ROOT}; run from the root of a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' is not on PATH")
    WORK.mkdir(parents=True, exist_ok=True)
    if args.test:
        log = WORK / "test.log"
        code = sbt("test", log=log)
        sys.stdout.write(log.read_text()[-6000:])
        sys.exit(0 if code == 0 else 1)
    if args.workload is None:
        p.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
