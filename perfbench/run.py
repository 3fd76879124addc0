#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print its report. The last line of standard output is the result object.

    python3 perfbench/run.py --workload warehouse_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Build outputs and per-run scratch space live
under `.bench_build/` (or `$CARGO_TARGET_DIR`); every run's scratch
directory is deleted when the run ends.
"""
import argparse
import fcntl
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
RUN_TIMEOUT_S = 170
WORKLOADS = ("warehouse_query", "dedup_curate")

# Spark 4 on JDK 17 outside spark-submit: the same module opens build.sbt
# passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars in {jars}")
    return jars


def run_seconds():
    """The run length BENCHMARK.json sets, beside this benchmark's directory."""
    cfg = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    try:
        return float(json.load(open(cfg))["run_seconds"])
    except (OSError, ValueError, KeyError) as e:
        fail(f"no --seconds given and no run_seconds in {cfg}: {e}")


def sources(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def scalac(jars, srcs, classpath, dest):
    """Compile `srcs` into `dest` with the Scala compiler shipped beside Spark."""
    compiler = ":".join(glob.glob(os.path.join(jars, n)) [0] for n in (
        "scala-compiler-2.13.*.jar", "scala-library-2.13.*.jar", "scala-reflect-2.13.*.jar"))
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", classpath] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation failed ({len(srcs)} files)")
    os.replace(tmp, dest)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s", file=sys.stderr)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def build(with_tests=False):
    """Compile the engine (src/main/scala) and the benchmark, once per
    source content; returns the runtime classpath."""
    jars = spark_jars()
    main = os.path.join(ROOT, "src", "main")
    engine = sources(os.path.join(main, "scala"))
    if not engine:
        fail("no engine sources under src/main/scala")
    bench = sources(os.path.join(BENCH, "src"))
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, f"classes-{digest(engine + bench)}")
    path = [classes, os.path.join(main, "resources"), os.path.join(jars, "*")]
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(classes):
            scalac(jars, engine + bench, os.path.join(jars, "*"), classes)
        if with_tests:
            tests = sources(os.path.join(BENCH, "test"))
            tclasses = os.path.join(BUILD, f"tests-{digest(engine + bench + tests)}")
            if not os.path.isdir(tclasses):
                scalac(jars, tests, ":".join(path), tclasses)
            path.insert(0, tclasses)
    return ":".join(path)


def java_cmd(classpath, scratch, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java"] + opens + [
        "-Xmx2g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-cp", classpath, main] + args


def run_jvm(cmd, scratch, timeout):
    """Run the JVM in its own process group; return (exit code, stdout lines)."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured time; defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-result", type=int, default=-1, metavar="OP",
                    help="corrupt the output of operation OP before its check")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if a.seconds is None:
        a.seconds = run_seconds()

    # a terminated run still stops its JVM and deletes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build(with_tests=a.selftest)
    scratch = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classpath, scratch, "perfbench.SelfTest", []),
                                  scratch, RUN_TIMEOUT_S)
            print("\n".join(lines))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(os.cpu_count() or 1),
                "--workdir", scratch,
                "--plant-wrong-result", str(a.plant_wrong_result)]
        code, lines = run_jvm(java_cmd(classpath, scratch, "perfbench.Main", args),
                              scratch, RUN_TIMEOUT_S)
        if code != 0:
            print("\n".join(lines))
            fail(f"benchmark exited with code {code}")
        result = json.loads(lines[-1]) if lines else None
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("\n".join(lines))
            fail("the benchmark printed no result line")
        print("\n".join(lines[:-1]))
        print(json.dumps(result))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
