#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

Usage (from the checkout root):

    python3 perfbench/run.py --workload short --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --main graft.Verify <args>...

Needs only ``java``, ``python3`` and the Spark jars directory that the
library's ``build.sbt`` names as ``unmanagedBase`` (or ``$SPARK_JARS``). The library (``src/main``) and the harness
(``perfbench/src/main``) are compiled with the Scala compiler that ships
among those jars, and the classes are cached under ``.bench_build/`` by a
hash of every source file. Every file a build or run writes stays inside
the checkout.

A workload run first makes its input corpus if it is not cached yet, then
starts one JVM running ``perfbench.Main``. That JVM's standard output is
passed through; its last line is the JSON result. The exit code
is non-zero when any query failed, the build failed, or the run overran
its time limit.

``--self-test`` compiles and runs the harness's self-tests
(``perfbench/src/test``). ``--main`` runs any main class on the built
classpath with the benchmark's JVM options, e.g. ``graft.Verify`` to dump
results for ``tools/compare.py``.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_LIMIT_S = 400
RUN_LIMIT_S = 170
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")

# A copy of the JVM options in the library's build.sbt (`javaOptions`):
# Spark 4 on JDK 17 needs the add-opens list when a session is created
# outside spark-submit; UI off, UTC session time zone, and the JVM heap
# `-Xmx${SPARK_DRIVER_MEM:-8g}`. The self-tests fail when the two drift.
ADD_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
)
SYSTEM_PROPS = ("-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC")
DEFAULT_HEAP = "8g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm_options():
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opts + list(SYSTEM_PROPS) + [
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', DEFAULT_HEAP)}"]


def spark_jars():
    d = os.environ.get("SPARK_JARS")
    if d is None:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m is None:
            raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_JARS")
        d = m.group(1)
    jars = {n: glob.glob(os.path.join(d, f"{n}-2.13.*.jar")) for n in SCALA_JARS}
    if not all(jars.values()):
        raise SystemExit(f"perfbench: no Scala 2.13 compiler jars in {d}")
    return d, [sorted(v)[-1] for v in jars.values()]


def tree_files(root):
    """Every regular file under `root`, in a stable order."""
    out = []
    for d, dirs, names in os.walk(root):
        dirs.sort()
        out += [os.path.join(d, n) for n in sorted(names)]
    return out


def digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:20]


def scalac(jars_dir, compiler, out, classpath, sources):
    os.makedirs(out)
    cmd = (["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp_dir()}", "-cp", os.pathsep.join(compiler),
            "scala.tools.nsc.Main", "-nowarn", "-d", out,
            "-classpath", os.pathsep.join(classpath + [os.path.join(jars_dir, "*")])]
           + sources)
    r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed with exit code {r.returncode}")


def build(with_tests=False):
    """Compiles the library, the harness and optionally the self-tests
    unless classes of the same sources are cached; returns the classpath."""
    jars_dir, compiler = spark_jars()
    parts = [("graft", os.path.join(ROOT, "src", "main")),
             ("bench", os.path.join(HERE, "src", "main"))]
    if with_tests:
        parts.append(("test", os.path.join(HERE, "src", "test")))
    classpath, key = [], b"".join(os.path.basename(j).encode() for j in compiler)
    for name, root in parts:
        files = tree_files(root)
        key = digest(files, key).encode()
        out = os.path.join(STATE, "classes", f"{name}-{key.decode()}")
        if not os.path.exists(os.path.join(out, ".done")):
            for old in glob.glob(os.path.join(STATE, "classes", f"{name}-*")):
                shutil.rmtree(old, ignore_errors=True)
            sources = [f for f in files if f.endswith((".scala", ".java"))]
            log(f"compiling {name}: {len(sources)} sources")
            t = time.time()
            scalac(jars_dir, compiler, out, classpath, sources)
            # Resources (service registrations) go next to the classes.
            if os.path.isdir(os.path.join(root, "resources")):
                shutil.copytree(os.path.join(root, "resources"), out, dirs_exist_ok=True)
            open(os.path.join(out, ".done"), "w").close()
            log(f"compiled {name} in {time.time() - t:.1f} s")
        classpath.append(out)
    return classpath + [os.path.join(jars_dir, "*")]


def tmp_dir():
    d = os.path.join(STATE, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def java_command(classpath, work):
    """The JVM command line, keeping every file the JVM writes inside the
    checkout: no hsperfdata file in the system temp directory, and Spark
    scratch, the warehouse and graft's sinks and stream checkpoints under
    the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + jvm_options() + [
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.tmp.dir={tmp}/graft", f"-Dspark.local.dir={tmp}/spark",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.driver.bindAddress=127.0.0.1", "-Dspark.driver.host=127.0.0.1",
        "-cp", os.pathsep.join(classpath)])


def java_env():
    # Spark's driver and block manager listen on the loopback interface:
    # otherwise Spark looks up the host's external address, and fails
    # where the host has no network interface configured.
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle
    # files outside the checkout.
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def run_limited(cmd, cwd, limit_s, capture):
    """Runs a JVM in its own process group, killed with its children when
    it overruns `limit_s` or this script is terminated. Returns the exit
    code and the captured standard output lines."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=java_env(), stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else None,
                            text=True, start_new_session=True)
    killed = []

    def kill():
        killed.append(True)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(*_):
        kill()
        raise SystemExit(143)

    old = signal.signal(signal.SIGTERM, stop)
    timer = threading.Timer(limit_s, kill)
    timer.start()
    try:
        lines = [x.rstrip("\n") for x in proc.stdout] if capture else []
        code = proc.wait()
    finally:
        timer.cancel()
        signal.signal(signal.SIGTERM, old)
        if proc.poll() is None:
            kill()
        proc.wait()
    if killed:
        raise SystemExit(f"perfbench: {cmd[-1]} exceeded {limit_s:.0f} s and was killed")
    return code, lines


def workloads(classpath):
    """The workloads `perfbench.Workloads` declares, as name -> (base
    corpus, replica factor)."""
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(classpath),
                        "perfbench.Workloads"], cwd=ROOT, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=60)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: listing the workloads failed: {r.stderr}")
    return {n: (b, int(f)) for n, b, f in (x.split() for x in r.stdout.splitlines())}


def corpus(classpath, base, factor):
    """The directory of a workload's input corpus: the committed base
    corpus, or `factor` key-offset replicas of it made by
    perfbench.Generate and cached by a hash of the base corpus, the
    generator and the factor."""
    src = os.path.join(HERE, "data", base)
    if factor == 1:
        return src
    generator = os.path.join(HERE, "src", "main", "scala", "perfbench", "Generate.scala")
    key = digest(tree_files(src) + [generator], str(factor).encode())
    out = os.path.join(STATE, "data", f"{base}x{factor}-{key}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(os.path.join(STATE, "data"), ignore_errors=True)
        work = fresh_work("gen")
        log(f"generating the {factor}x replica of {base}")
        t = time.time()
        code, _ = run_limited(java_command(classpath, work) + [
            "perfbench.Generate", src, out, str(factor)], work, BUILD_LIMIT_S, False)
        if code != 0:
            raise SystemExit(f"perfbench: corpus generation failed with exit code {code}")
        open(os.path.join(out, ".done"), "w").close()
        log(f"generated in {time.time() - t:.1f} s")
    return out


def fresh_work(name):
    work = os.path.join(STATE, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--main", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    if not (a.self_test or a.main) and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources next to the benchmark; "
                         "run it from a checkout of the repository")

    classpath = build(with_tests=a.self_test)
    if a.self_test or a.main:
        work = fresh_work("main")
        args = ["perfbench.SelfTest", ROOT] if a.self_test else a.main
        code, _ = run_limited(java_command(classpath, work) + args, ROOT,
                              10 ** 6, False)
        sys.exit(code)

    known = workloads(classpath)
    if a.workload not in known:
        ap.error(f"--workload must be one of {', '.join(sorted(known))}")
    data = corpus(classpath, *known[a.workload])
    work = fresh_work("run")
    launched_ms = int(time.time() * 1000)
    cmd = java_command(classpath, work) + [
        f"-Dperfbench.launchedMs={launched_ms}", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
        "--expected", os.path.join(HERE, "expected.tsv"),
        "--corpus", os.path.basename(data).split("-")[0], "--out", STATE]
    code, lines = run_limited(cmd, work, RUN_LIMIT_S, True)
    result = next((i for i in range(len(lines) - 1, -1, -1)
                   if lines[i].startswith('{"correct"')), None)
    for i, line in enumerate(lines):
        if i != result:
            print(line)
    if result is None:
        raise SystemExit(f"perfbench: the JVM exited with {code} and no result")
    print(lines[result], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
