#!/usr/bin/env python3
"""Build file of the KG-construction benchmark.

Compiles the engine's main sources (``src/main/scala``) together with the
benchmark's own sources (``kgbench/src``) with the Scala compiler that ships
in the Spark distribution, into ``.bench_build/kgbench/kgbench.jar`` of the
checkout. Then one short training run dumps a class-data-sharing archive of
the classes a run loads, which every later run maps instead of loading and
verifying ~10k classes again (7 s of each run's start-up on a 4-core box).
A stamp over every source file's path and bytes makes a rebuild happen only
when a source changed.

    python3 kgbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "kgbench", "src")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "kgbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "kgbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
STAMP = os.path.join(BUILD_DIR, "stamp")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def scala_sources():
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {os.path.relpath(base, ROOT)}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(sources):
    h = hashlib.sha256()
    for p in sources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars):
    """Explicit, sorted jar list: a class-data-sharing archive only maps
    into a JVM whose classpath matches the one it was dumped with."""
    return os.pathsep.join([JAR] + sorted(os.path.join(jars, n) for n in os.listdir(jars)
                                          if n.endswith(".jar")))


def jvm_base(work, archive=True):
    """java with the JDK 17 module opens Spark needs, its temp dir in `work`,
    and the class-data-sharing archive when the build made one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if archive and os.path.exists(ARCHIVE) else []
    return (["java", "-Xms2g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Xlog:cds=off",
             "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.25",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + cds + opens)


def train_archive(cp, log):
    """Dump the class-data-sharing archive from a small kg_build run. A
    failed dump only costs start-up time, so it warns and goes on."""
    work = os.path.join(BUILD_DIR, "train")
    os.makedirs(work, exist_ok=True)
    cmd = (jvm_base(work, archive=False) + [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", cp,
           "kgbench.Bench", "--workload", "kg_build", "--seed", "0", "--seconds", "0",
           "--trace", "0", "--size", "400",
           "--work", work, "--record", os.path.join(work, "record.json"),
           "--result", os.path.join(work, "result.json")])
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        print("[kgbench] no class-data-sharing archive; runs start slower:\n" + r.stderr[-2000:],
              file=log)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def build(log=sys.stderr):
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    sources = scala_sources()
    stamp = stamp_of(sources)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath(jars)
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark distribution ships no Scala compiler")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    print(f"[kgbench] compiling {len(sources)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", JAR, "-C", CLASSES, "."], check=True)
    shutil.rmtree(CLASSES)
    print("[kgbench] dumping the class-data-sharing archive", file=log, flush=True)
    train_archive(classpath(jars), log)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
