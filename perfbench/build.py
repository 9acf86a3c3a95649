#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own JVM sources into one jar, then records a class-data
archive for it.

The engine is built from source with the compilers the Spark distribution
ships (javac from the JDK, scalac from `$SPARK_HOME/jars`), so the build
needs no dependency resolution and no network. Java compiles first: the
Scala sources read the SIMD kernels' class files (the root build.sbt uses
the same order for the same reason).

The class-data archive (JDK AppCDS) holds the classes a run loads, parsed
and verified once at build time. Recorded by running every workload briefly
in one JVM, it halves JVM and Spark start-up in every run. A JVM that cannot
map the archive starts without it.

A build is skipped when the stamp (a hash of every source file's path and
content) matches the last successful build.

Usage: python3 perfbench/build.py [--force]   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "build.stamp")

ENGINE_JAVA = os.path.join(ROOT, "src", "main", "java")
ENGINE_SCALA = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")

HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else the
    `jars` directory beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def java_command(main_args, work, archive="use"):
    """The benchmark JVM: `archive` is "use" (start from the class-data
    archive) or "record" (write it at exit)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if archive == "use"
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    return (["java", "-XX:-UsePerfData", cds, "-Xshare:auto", f"-Xmx{HEAP}",
             "-Xss8m", "--add-modules", "jdk.incubator.vector",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
             "graft.perfbench.Main"] + main_args)


def sources(top, ext):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(ext))
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(force=False, log=sys.stderr):
    """Builds if the sources changed; returns True when it built."""
    for d in (ENGINE_SCALA, BENCH_SRC):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
    java = sources(ENGINE_JAVA, ".java") if os.path.isdir(ENGINE_JAVA) else []
    scala = sources(ENGINE_SCALA, ".scala") + sources(BENCH_SRC, ".scala")
    res = sources(ENGINE_RESOURCES, "") if os.path.isdir(ENGINE_RESOURCES) else []
    stamp = stamp_of(java + scala + res)
    if not force and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return False
    jars = spark_jars()
    for p in (STAMP, JAR, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    env = dict(os.environ, _JAVA_OPTIONS="-XX:-UsePerfData")
    jar_cp = os.path.join(jars, "*")
    if java:
        _run(["javac", "--add-modules", "jdk.incubator.vector",
              "-encoding", "UTF-8", "-nowarn", "-d", CLASSES, "-cp", jar_cp]
             + java, env, log)
    version = _scala_version(jars)
    compiler_cp = os.pathsep.join(
        os.path.join(jars, f"{n}-{version}.jar")
        for n in ("scala-compiler", "scala-library", "scala-reflect"))
    all_jars = os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(scala))
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp,
          "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
          "-classpath", CLASSES + os.pathsep + all_jars, "@" + args_file],
         env, log)
    for r in res:
        dst = os.path.join(CLASSES, os.path.relpath(r, ENGINE_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    # the archive only accepts jars on the class path
    _run(["jar", "cf", JAR, "-C", CLASSES, "."], env, log)
    record_archive(log)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


def record_archive(log):
    work = os.path.join(OUT, "runs", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_command(["--workload", "all", "--seed", "0", "--seconds", "1",
                        "--trace", "0", "--work", work,
                        "--out", os.path.join(work, "result.json")],
                       work, archive="record")
    try:
        _run(cmd, dict(os.environ), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _scala_version(jars):
    for j in os.listdir(jars):
        if j.startswith("scala-library-") and j.endswith(".jar"):
            return j[len("scala-library-"):-len(".jar")]
    raise BuildError("no scala-library jar in the Spark distribution")


def _run(cmd, env, log):
    p = subprocess.run(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log.write(p.stdout[-8000:])
        raise BuildError(f"{cmd[0]} failed with exit code {p.returncode}")


if __name__ == "__main__":
    try:
        built = build(force="--force" in sys.argv[1:])
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
    print("built" if built else "up to date")
