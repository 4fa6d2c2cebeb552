"""Build file of the benchmark package.

Compiles the engine (the repository's ``src/main/scala``) and the
harness (``perfbench/src/main/scala``) with the Scala compiler that ships
in Spark's jar directory, against the same Spark jars the root build
uses, and packs each into a jar. It then makes one training run
(``perfbench.Warm``) that writes a class-data-sharing archive, so each
benchmark JVM maps the engine's and Spark's classes instead of loading
them again. Nothing outside the checkout is written: everything goes
under ``.bench_build/perfbench``. A step reruns only when the SHA-256 of
its inputs changes.

    python3 perfbench/build.py          # build, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
ARCHIVE = os.path.join(OUT, "classes.jsa")

# Heap of every benchmark JVM: explicit, and small enough for a 15 GB
# host (the root build's default SPARK_DRIVER_MEM of 24g is not).
HEAP = "4g"

# The JIT stops at C1. A short run spends much of its CPU in C2
# compiler threads, at moments and with inlining choices that differ
# from run to run; with C1 only, the JIT settles within the warm-up and
# the timed phase measures the engine's work.
JIT = ["-XX:TieredStopAtLevel=1"]

# Spark 4 on JDK 17 outside spark-submit (same list as the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jar directory the root build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: the root build.sbt names none and SPARK_HOME is unset")


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def sha256(files, top, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, top).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(name, digest):
    stamp = os.path.join(OUT, name + ".sha256")
    return os.path.exists(stamp) and open(stamp).read() == digest


def stamp(name, digest):
    with open(os.path.join(OUT, name + ".sha256"), "w") as fh:
        fh.write(digest)


def scalac(srcs, jar, classpath):
    jars = spark_jars()
    tool = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
            if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(tool), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", classpath] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)


def java_cmd(classpath, main, args, tmp, archive_flag=None):
    """The JVM command line every benchmark process uses."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    flags = [archive_flag] if archive_flag else []
    return (["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:ReservedCodeCacheSize=512m"] + JIT +
            ["-Xlog:disable", "-Xlog:all=error:stderr"] + flags +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", classpath, main] + args)


def train_archive(classpath, digest):
    """One training run of perfbench.Warm that dumps the class archive."""
    if os.path.exists(ARCHIVE) and fresh("classes.jsa", digest):
        return
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    work = os.path.join(OUT, "work", f"warm-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        r = subprocess.run(java_cmd(classpath, "perfbench.Warm", [work], tmp,
                                    f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                           env=env, stdout=sys.stderr, stderr=subprocess.DEVNULL, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit("perfbench: class archive training run failed")
    stamp("classes.jsa", digest)


def build_jar(name, top, classpath):
    srcs = sources(top)
    if not srcs:
        raise SystemExit(f"perfbench: no Scala sources under {top}")
    digest = sha256(srcs, top, classpath)
    jar = os.path.join(OUT, name + ".jar")
    if not (os.path.exists(jar) and fresh(name, digest)):
        print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
        scalac(srcs, jar, classpath)
        stamp(name, digest)
    return jar, digest


def build():
    """Returns (runtime classpath, class archive JVM flag, SHA-256 of the engine sources)."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine, engine_sha = build_jar("engine", ENGINE_SRC, jars)
    harness, harness_sha = build_jar("harness", HARNESS_SRC, os.pathsep.join([engine, jars]))
    classpath = os.pathsep.join([harness, engine, jars])
    train_archive(classpath, engine_sha + harness_sha)
    return classpath, f"-XX:SharedArchiveFile={ARCHIVE}", engine_sha


if __name__ == "__main__":
    print(build()[0])
