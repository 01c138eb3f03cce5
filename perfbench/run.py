#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload lake_index --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It compiles the engine (src/main/scala)
and the harness (perfbench/src) with the Scala compiler among the Spark
jars that build.sbt names, into $CARGO_TARGET_DIR (default .bench_build),
reusing a build whose sources have not changed. It then runs the harness
on one JVM with a fixed heap and Spark in local[nproc] mode, under
.bench_work/, which it removes afterwards. The last line of standard
output is the result JSON; any failure exits non-zero without printing one.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

SCALA = "2.13.17"
HEAP = "2g"
WORKLOADS = ("dataset_build", "lake_index")
BUILD_DEADLINE_S = 800
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars directory the sbt build compiles against."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {root}")
    return files


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out, files, classpath, key, deadline, jars, resources=None):
    """Compile `files` into `out`, with the files under `resources`
    copied beside the classes, unless `out` already holds this `key`."""
    mark = os.path.join(out, ".stamp")
    if os.path.exists(mark) and open(mark).read() == key:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                               for j in ("compiler", "library", "reflect"))
    log(f"compiling {len(files)} files into {out}")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr,
                   timeout=max(1, deadline - time.monotonic()))
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir, deadline):
    engine_src = sources("src/main/scala")
    spark = spark_jars()
    jars = os.path.join(spark, "*")
    bench_src = sources("perfbench/src")
    engine = os.path.join(build_dir, "engine")
    bench = os.path.join(build_dir, "harness")
    resources = "src/main/resources"
    engine_key = stamp(engine_src + sorted(
        f for f in glob.glob(os.path.join(resources, "**"), recursive=True)
        if os.path.isfile(f)), SCALA)
    compile_into(engine, engine_src, jars, engine_key, deadline, spark, resources)
    compile_into(bench, bench_src, os.pathsep.join([engine, jars]),
                 stamp(bench_src, engine_key), deadline, spark)
    return os.pathsep.join([bench, engine, jars])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir, time.monotonic() + BUILD_DEADLINE_S)
    deadline = time.monotonic() + RUN_DEADLINE_S

    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores)])
    log(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"local[{cores}] heap={HEAP}")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("timed out")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(os.path.dirname(work)) and not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"harness exited with {proc.returncode}")
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
