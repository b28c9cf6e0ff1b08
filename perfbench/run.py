#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result as one JSON line.

    python3 perfbench/run.py --workload etl_jdbc --seed 1 --seconds 8 --trace 0

Run it from the root of a graft checkout. The program is built from that
checkout with its own build.sbt (`sbt compile`), and the benchmark's Scala
sources under perfbench/src are compiled against it with the Scala compiler
jar found on the program's classpath. Both builds happen only when the
content hash of the sources changes (stamps live in .bench_build/); every
run then starts one JVM directly (`java -cp`), with the fixed flags below.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 1 reports the per-layer metrics instead of the end-to-end ones and
writes a JSON report (spans and settings) under .bench_build/reports/.
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

WORKLOADS = ("etl_jdbc", "lake_cdc", "graph_iter")
BUILD_DIR = ".bench_build"
BENCH_SRC = os.path.join("perfbench", "src")
# Fixed JVM and engine settings: the same on every run and every commit.
HEAP = "2g"
SPARK_THREADS = 2
# C1 only, at a tenth of the usual compile thresholds: with C2 the compiler
# threads spent more CPU during the timed passes than the program did
# (lake_cdc: 4-9 CPU-s against 4.5 per pass), so a pass timed the JIT. C1's
# code needs a larger code cache than its default: full, it was swept every
# few lake_cdc passes and all recompiled. A fixed compiler thread count keeps
# the JIT's CPU time countable.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m",
             "-XX:SoftRefLRUPolicyMSPerMB=0", "-XX:TieredStopAtLevel=1",
             "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=240m",
             "-XX:-UseDynamicNumberOfCompilerThreads"]
# The module opens Spark needs on JDK 17 when started outside spark-submit
# (the same list build.sbt passes to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # the JVM is killed past this; a run must end in 180 s


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_files(root):
    """The files the program is built from: its build definition and main sources."""
    out = []
    for name in ("build.sbt", os.path.join("project", "build.properties")):
        if os.path.isfile(os.path.join(root, name)):
            out.append(name)
    proj = os.path.join(root, "project")
    if os.path.isdir(proj):
        out += [os.path.join("project", f) for f in sorted(os.listdir(proj))
                if f.endswith((".sbt", ".scala"))]
    for base in (os.path.join("src", "main"),):
        for dirpath, dirnames, files in os.walk(os.path.join(root, base)):
            dirnames.sort()
            out += [os.path.relpath(os.path.join(dirpath, f), root) for f in sorted(files)]
    return out


def content_hash(root, files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def read_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def build_program(root, tree):
    """`sbt compile` with the checkout's build.sbt; returns its runtime classpath."""
    stamp_path = os.path.join(root, BUILD_DIR, "program.json")
    stamp = read_json(stamp_path)
    if stamp and stamp.get("tree") == tree and stamp.get("root") == root:
        return stamp["classpath"]
    env = dict(os.environ)
    # the build never fetches: dependencies come from the local caches only
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Dsbt.server.autostart=false")
    print("perfbench: building the program (sbt compile)", file=sys.stderr)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt compile failed with code {p.returncode}", 3)
    # `export` prints the classpath as its own unprefixed line
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt printed no runtime classpath", 3)
    classpath = lines[-1].strip()
    print(f"perfbench: program built in {time.time() - t0:.1f} s", file=sys.stderr)
    write_json(stamp_path, {"tree": tree, "root": root, "classpath": classpath})
    return classpath


def build_bench(root, tree, classpath):
    """Compile perfbench/src against the program with scalac; returns the class dir."""
    out = os.path.join(root, BUILD_DIR, "bench-classes")
    srcs = sorted(os.path.join(BENCH_SRC, f) for f in os.listdir(os.path.join(root, BENCH_SRC))
                  if f.endswith(".scala"))
    bench = content_hash(root, srcs)
    stamp_path = os.path.join(root, BUILD_DIR, "bench.json")
    stamp = read_json(stamp_path)
    if stamp and stamp.get("bench") == bench and stamp.get("tree") == tree \
            and stamp.get("root") == root and os.path.isdir(out):
        return out
    entries = classpath.split(os.pathsep)

    def jar(prefix):
        for e in entries:
            name = os.path.basename(e)
            if name.startswith(prefix) and name.endswith(".jar"):
                return e
        fail(f"no {prefix}*.jar on the program's classpath", 3)

    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print("perfbench: compiling the benchmark (scalac)", file=sys.stderr)
    p = subprocess.run(
        ["java", "-Xmx1g", "-cp", compiler_cp, "scala.tools.nsc.Main", "-deprecation",
         "-classpath", classpath, "-d", out] + srcs,
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail("scalac failed on perfbench/src", 3)
    # the tree the classes were compiled against; the JVM refuses any other
    with open(os.path.join(out, "perfbench-tree.txt"), "w") as f:
        f.write(tree)
    write_json(stamp_path, {"bench": bench, "tree": tree, "root": root})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("run from the root of a graft checkout (no build.sbt or src/main here)")
    if not os.path.isdir(os.path.join(root, BENCH_SRC)):
        fail(f"{BENCH_SRC} is missing")
    nproc = os.cpu_count() or 1
    if nproc < SPARK_THREADS:
        fail(f"needs {SPARK_THREADS} cores for its fixed Spark thread count, has {nproc}")

    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    tree = content_hash(root, tree_files(root))
    classpath = build_program(root, tree)
    bench_classes = build_bench(root, tree, classpath)

    work = os.path.join(root, BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = ""
    if a.trace:
        reports = os.path.join(root, BUILD_DIR, "reports")
        os.makedirs(reports, exist_ok=True)
        report = os.path.join(reports, f"{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-cp", bench_classes + os.pathsep + classpath,
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--threads", str(SPARK_THREADS),
              "--tree", tree, "--work", work, "--report", report,
              "--jvm-flags", " ".join(JVM_FLAGS)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)  # Spark prefers it to spark.local.dir
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not end within {RUN_LIMIT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"the benchmark JVM exited with code {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if report:
        print(f"perfbench: trace report in {report}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
