#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

    python3 pipebench/build.py        # from the checkout root

1. Compiles the engine (src/main/scala, plus src/main/resources) and the
   benchmark's sources (pipebench/src) into .bench_build/pipebench.jar,
   with the Scala compiler that ships among the engine's jars. The jar
   directory is the one the engine's build.sbt names as
   `unmanagedBase`, so the benchmark compiles against exactly the jars
   the engine builds against.
2. Runs both workloads in smoke mode once, which fails the build early
   if the benchmark is broken and records a class-data archive
   (.bench_build/classes.jsa) that every run then starts from: JVM and
   Spark start-up drops by seconds on every run.

Nothing is rebuilt when the sources, the jar listing and this file are
unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "pipebench.jar")
JSA = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "build.stamp")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the engine's build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir():
    """The engine's unmanaged jar directory, read from its build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s: run from the engine's checkout root" % ROOT)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(top):
    found = []
    for base, _, files in os.walk(top):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java(tmp, main_args, jvm_extra=()):
    """The JVM command line of a benchmark process."""
    # no hsperfdata file outside the checkout; a fixed-size heap, so
    # that early operations do not also pay for growing it
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + list(jvm_extra) +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", JAR + os.pathsep + os.path.join(jar_dir(), "*"), "pipebench.Main"] +
            list(main_args))


def build():
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError("no engine sources at src/main/scala under %s" % ROOT)
    jars = jar_dir()
    files = sources(engine_src) + sources(os.path.join(BENCH, "src"))
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    want = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == want and os.path.isfile(JAR):
        return

    for stale in (STAMP, JAR, JSA):
        if os.path.exists(stale):
            os.remove(stale)
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    jar_glob = os.path.join(jars, "*")
    print("[pipebench] compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                       "-Djava.io.tmpdir=" + OUT, "-cp", jar_glob, "scala.tools.nsc.Main",
                       "-nowarn", "-d", classes, "-classpath", jar_glob, "@" + args_file],
                      stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for top in (classes, resources):
            for base, _, names in os.walk(top):
                for n in names:
                    p = os.path.join(base, n)
                    z.write(p, os.path.relpath(p, top))
    shutil.rmtree(classes)

    print("[pipebench] smoke run, recording the class-data archive", file=sys.stderr)
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    os.rename(JAR + ".tmp", JAR)
    try:
        done = subprocess.run(
            java(os.path.join(train, "tmp"),
                 ["--workload", "news_stream,hourly_dag", "--smoke", "--seed", "1",
                  "--seconds", "1", "--trace", "0", "--work", train],
                 ["-XX:ArchiveClassesAtExit=" + JSA]),
            stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("smoke run timed out")
    finally:
        shutil.rmtree(train, ignore_errors=True)
    results = [l for l in done.stdout.splitlines() if l.startswith("{")]
    if done.returncode != 0 or len(results) != 2 or any('"correct":true' not in l for l in results):
        os.remove(JAR)
        raise BuildError("smoke run failed: %s" % " ".join(results))
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("[pipebench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
