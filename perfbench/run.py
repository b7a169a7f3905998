#!/usr/bin/env python3
"""Build (when stale) and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine and the benchmark are compiled
from source by the benchmark's own sbt build (perfbench/build.sbt), which
depends on the root build. The benchmark then runs in a plain JVM, so no
build-tool output ever reaches stdout: stdout carries the `name value unit`
lines and, last, the one-line JSON result. Spark's log goes to
perfbench/out/<workload>-seed<n>-trace<t>.log.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_INFO = os.path.join(HERE, "target", "run-info.txt")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ann_serve", "dedup_curate")
RUN_LIMIT_S = 170      # one run, once built
BUILD_LIMIT_S = 840    # the first run in a fresh checkout also builds
HEAP = "3g"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    stamp = os.path.getmtime(RUN_INFO) if os.path.exists(RUN_INFO) else -1
    if stamp >= 0 and all(os.path.getmtime(f) <= stamp for f in sources()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRunInfo"]
    try:
        # sbt's output goes to stderr: stdout is the result channel
        done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if done.returncode != 0 or not os.path.exists(RUN_INFO):
        die(f"build failed (sbt exit {done.returncode})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None and not os.path.exists(RUN_INFO):
        die("sbt not found")
    build()

    with open(RUN_INFO) as f:
        lines = [x.strip() for x in f if x.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = [java, f"-Xmx{HEAP}", *jvm_opts, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--out", OUT, "--work", work]
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                die(f"run exceeded {RUN_LIMIT_S}s; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if proc.returncode != 0:
        sys.stdout.write(out)
        with open(log_path) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        die(f"benchmark exited {proc.returncode}; log: {log_path}", proc.returncode)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
