#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the benchmark's
own (perfbench/src) into .bench_build/perfbench.jar with the Scala compiler
that ships in Spark's jars directory, so neither sbt nor a network is needed.
Then runs the benchmark's self-test once with -XX:ArchiveClassesAtExit: the
classes it loads (Spark's, Scala's, the engine's) go into a class-data
archive, .bench_build/perfbench.jsa, that every benchmark JVM maps, so JVM
start and first use do not parse and verify them again. A stamp of every
source's content skips the build when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def jvm_command(main, args, tmp, archive):
    """The command line of a benchmark JVM. `archive` is "dump" to write the
    class-data archive at exit, "use" to map it when the build made one."""
    cmd = [java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive == "dump":
        cmd.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    elif os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"), main] + args


def sources():
    out = []
    for d in SOURCE_DIRS:
        full = os.path.join(ROOT, d)
        if not os.path.isdir(full):
            raise BuildError(f"source directory missing: {d}")
        for base, _, files in os.walk(full):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build if stale. Returns (jar, source digest)."""
    files = sources()
    sha = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == sha:
        return JAR, sha
    jars = os.path.join(spark_jars(), "*")
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(BUILD, exist_ok=True)
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", JAR, "-classpath", jars] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise BuildError(f"compile failed with exit code {res.returncode}")
    dump_archive()
    with open(STAMP, "w") as fh:
        fh.write(sha)
    return JAR, sha


def dump_archive():
    """Write the class-data archive from one self-test run. Without it the
    benchmark still runs, only with slower JVM starts."""
    print("[perfbench] writing the class-data archive", file=sys.stderr)
    work = os.path.join(BUILD, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = subprocess.run(jvm_command("perfbench.SelfTest", [work], work, "dump"),
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=work), timeout=600)
        ok = res.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("[perfbench] no class-data archive: the self-test run failed", file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
