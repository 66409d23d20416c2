#!/usr/bin/env python3
"""Workload benchmark for graft.

    python3 perfbench/run.py --workload bi_read|cdc_to_bi \
        --seed N --seconds S --trace 0|1

Run from the repository root. Compiles graft (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars directory ($SPARK_HOME/jars, else the one beside `spark-submit` on
PATH) into .bench_build/, each once per source hash (a change to the
benchmark does not recompile graft), then runs one workload in one JVM.
Everything the run writes stays under .bench_build/ in the current
directory; the per-run work directory is removed afterwards, and traced
runs leave their span dump there.

The JVM prints report lines (`[metric] ...`, `[layer] ...`) and, last,
one JSON result object, which this script re-prints as the last line of
its own output. The exit code is non-zero when the build or the run
fails, or the run does not finish within the time limit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

RUN_LIMIT_S = 170
BUILD_DIR = ".bench_build"
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found "
             "(set SPARK_HOME)")
    return jars


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                             recursive=True))
    if not files:
        fail(f"no Scala sources under {root}")
    return files


def compile_once(jars, name, srcs, cp, key):
    """Compiles `srcs` into .bench_build/<name>-<hash of key and srcs>
    unless that directory exists; returns it."""
    h = hashlib.sha256(key.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.abspath(os.path.join(BUILD_DIR, f"{name}-{h.hexdigest()[:16]}"))
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join([os.path.join(jars, "*")] + cp),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    os.rename(tmp, out)
    return out


def build(jars):
    """Compiles graft, then the benchmark against it, each once per
    source hash; returns the two class directories."""
    graft = compile_once(jars, "graft", sources("src/main/scala"), [], "")
    bench = compile_once(jars, "bench", sources("perfbench/src"), [graft], graft)
    return graft, bench


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["bi_read", "cdc_to_bi"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=[0, 1])
    args = ap.parse_args()

    jars = spark_jars()
    graft, bench = build(jars)

    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([bench, graft, os.path.join(jars, "*")])
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work])
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
               SPARK_GRAFT_TMP=os.path.join(work, "graft-tmp"))
    env.pop("SPARK_GRAFT_CONF", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for ln in lines:
        if ln.startswith("{"):
            result = ln
        else:
            print(ln)
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode})")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
