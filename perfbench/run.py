#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 30 --trace 0

The first run compiles the engine sources (src/main/scala) together with
the harness (perfbench/src) with the Scala compiler that ships in Spark's
jar directory, unpacks the corpus and builds the index
`search_batch` reads; later runs start the JVM directly. A stamp over
every source file and the corpus decides whether to rebuild. Everything
a build or a run writes goes to .bench_build/perfbench. The last line of
stdout is the result object.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tarfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "classes")
CORPUS = os.path.join(HERE, "corpus.tar.xz")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: the unmanagedBase the engine's build.sbt
    compiles against, else $SPARK_HOME/jars."""
    found = []
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            found.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        found.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in found:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    sys.exit("perfbench: no Spark jar directory found; set SPARK_HOME")


def scala_sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for p in sorted(list(scala_sources()) + [CORPUS]):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_sources(jars):
    def jar(name):
        found = glob.glob(os.path.join(jars, name + "-2.13.*.jar"))
        if len(found) != 1:
            sys.exit(f"perfbench: expected one {name} 2.13 jar in {jars}, found {len(found)}")
        return found[0]
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args = os.path.join(WORK, "sources.txt")
    with open(args, "w") as f:
        f.write("".join(f'"{p}"\n' for p in sorted(scala_sources())))
    compiler = os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
                        "-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
                        "-usejavacp:false", "-classpath", os.path.join(jars, "*"),
                        "-d", CLASSES, "@" + args],
                       cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")


def unpack_corpus():
    dest = os.path.join(WORK, "corpus")
    shutil.rmtree(dest, ignore_errors=True)
    with tarfile.open(CORPUS, "r:xz") as tar:
        if hasattr(tarfile, "data_filter"):
            tar.extractall(dest, filter="data")
        else:
            tar.extractall(dest)


def build(jars):
    stamp_file = os.path.join(WORK, "build.stamp")
    want = stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    compile_sources(jars)
    unpack_corpus()
    r = subprocess.run(java(jars, ["--prepare", "1"]), cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: preparing the search index failed")
    with open(stamp_file, "w") as f:
        f.write(want)


def java(jars, args):
    return ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dfile.encoding=UTF-8",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main"] + args


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources at src/main/scala/graft; "
                 "run from the root of a full checkout")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    jars = spark_jars()
    build(jars)
    r = subprocess.run(java(jars, sys.argv[1:]), cwd=ROOT)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
