#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one jar keyed by a hash of every source
file, with the Scala compiler that ships among the Spark jars. Then records
the JVM's class-data sharing archive for that jar from one small run of
every workload, so that every measured run starts from it.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the path of the jar. The output root is $CARGO_TARGET_DIR, or
.bench_build when it is unset.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

SCALA_VERSION = "2.13.17"
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Jars of the Spark installation: $SPARK_HOME, else the first
    directory on the PATH holding spark-submit with a jars/ beside it."""
    homes = [os.environ.get("SPARK_HOME")] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    sys.exit("build: no Spark jars found (set SPARK_HOME)")


def out_root(root="."):
    return os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build")


def run_child(cmd, timeout, stdout=None):
    """Runs one child process to completion and returns its stdout (when
    piped) and exit code. Kills it and exits on SIGTERM, SIGINT or the
    timeout, after waiting for it to end."""
    proc = subprocess.Popen(cmd, stdout=stdout, stderr=sys.stderr, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit(f"stopped: {os.path.basename(cmd[0])} killed")

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return out, proc.returncode


def java_command(jar, cds_flag, args):
    """The benchmark JVM: pinned heap and collector, JVM logging off stdout,
    temporary files under the build directory."""
    tmp = os.path.abspath(os.path.join(out_root(), "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr", cds_flag, "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar] + spark_jars()), "perfbench.Main"] + args


def sources(root):
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root="."):
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src/main/scala")) for f in files):
        sys.exit("build: no program sources under src/main/scala")
    digest = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    jar = os.path.join(out_root(root), "perfbench-" + digest.hexdigest()[:16] + ".jar")
    if not os.path.isfile(jar):
        compile_jar(files, jar)
    if not os.path.isfile(cds_archive(jar)):
        record_cds(jar)
    return jar


def compile_jar(files, jar):
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        sys.exit("build: scala compiler jars not found among the Spark jars")
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    tmp = jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp] + files
    _, code = run_child(cmd, timeout=600, stdout=sys.stderr)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {code}")
    # a jar, not a class directory: the JVM's class-data sharing archive
    # (record_cds) only covers classes loaded from jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(jar + ".tmp", jar)


def record_cds(jar):
    """Class-data sharing: the archive holds the classes that one small
    traced run of every workload loaded, and takes several seconds of class
    loading off each measured run (NOTES.md, "Run time")."""
    archive = cds_archive(jar)
    work = os.path.abspath(os.path.join(out_root(), "work-cds"))
    _, code = run_child(java_command(jar, "-XX:ArchiveClassesAtExit=" + archive + ".tmp", [
        "--workload", "all", "--seed", "0", "--seconds", "1", "--trace", "1",
        "--scale", "small", "--work", work]), timeout=600, stdout=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(archive + ".tmp"):
        sys.exit(f"build: class-data sharing recording exited with {code}")
    os.rename(archive + ".tmp", archive)


def cds_archive(jar):
    return jar + ".jsa"


if __name__ == "__main__":
    print(build())
