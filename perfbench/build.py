#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into the build directory of the checkout, then
loads both driven workloads once to dump a class-data sharing archive:
every later run maps the classes it holds instead of loading and
verifying them one by one, which shortens JVM and Spark start.

Usage: python3 perfbench/build.py   (from the root of a checkout)

The build directory is $CARGO_TARGET_DIR when set, else `.bench_build`.
A build is skipped when a stamp over every source file, this file, the
compiler jars and the Java version matches the last one. Prints the
classpath of the built program on its last stdout line. Exits 2 when the
checkout holds no graft sources.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TRAIN_LIMIT_S = 300
ROOT = os.getcwd()
SRC_MAIN = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def java_cmd(classpath, work, jvm, args):
    """The command that runs perfbench.Main with `args` in one JVM. A
    fixed, pre-touched heap keeps peak RSS from depending on when GC ran."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties")]
            + jvm + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + args)


def java_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def cds_archive(classpath):
    """The class-data sharing archive of a build, or None if it has none."""
    p = os.path.join(os.path.dirname(classpath.split(os.pathsep)[0]), "cds.jsa")
    return p if os.path.exists(p) else None


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(jars, out, classpath, files):
    compiler = [os.path.join(jars, f"scala-{p}") for p in ("compiler", "library", "reflect")]
    cp = []
    for prefix in compiler:
        hits = sorted(glob.glob(prefix + "-*.jar"))
        if not hits:
            sys.exit(f"perfbench: no {os.path.basename(prefix)} jar beside Spark")
        cp.append(hits[-1])
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: scalac failed ({r.returncode}) for {out}")


def stamp(jars, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(jars.encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True).stderr)
    return h.hexdigest()


def build():
    main_files = sources(SRC_MAIN)
    if not main_files:
        print("perfbench: no graft sources under src/main/scala", file=sys.stderr)
        sys.exit(2)
    bench_files = sources(BENCH_SRC)
    jars = spark_jars()
    base = build_dir()
    out = os.path.join(base, "perfbench-classes")
    spark_cp = os.path.join(jars, "*")
    classpath = os.pathsep.join([os.path.join(out, "graft.jar"), os.path.join(out, "bench.jar"), spark_cp])
    want = stamp(jars, main_files + bench_files + [os.path.abspath(__file__)])
    stamp_file = os.path.join(out, "STAMP")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per build directory
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
            compile_into(jars, spark_cp, out, main_files, bench_files)
            train(classpath, os.path.join(out, "cds.jsa"))
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return classpath


def train(classpath, archive):
    """Load both driven workloads, run one operation of each, and dump the
    classes that took into `archive`. The archive names the jars it came
    from, so this runs on the final classpath. Without an archive the runs
    are only slower to start."""
    work = os.path.join(build_dir(), "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds*=off"],
                   ["--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "0",
                    "--work", work, "--result", os.path.join(work, "result.json"),
                    "--trace-out", os.path.join(work, "trace.jsonl"),
                    "--cores", str(len(os.sched_getaffinity(0)))])
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=java_env(work),
                           timeout=TRAIN_LIMIT_S)
        ok = r.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(archive):
        os.remove(archive)
    if not ok:
        print("perfbench: no class-data sharing archive (training run failed)", file=sys.stderr)


def compile_into(jars, spark_cp, out, main_files, bench_files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, os.path.join(tmp, "graft"), spark_cp, main_files)
    scalac(jars, os.path.join(tmp, "bench"),
           os.pathsep.join([os.path.join(tmp, "graft"), spark_cp]), bench_files)
    # jars, not class directories: the JVM's class-data sharing archive
    # (see train) only holds classes loaded from jars
    for name in ("graft", "bench"):
        jar_dir(os.path.join(tmp, name), os.path.join(tmp, name + ".jar"))
        shutil.rmtree(os.path.join(tmp, name))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def jar_dir(d, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, d))


if __name__ == "__main__":
    print(build())
