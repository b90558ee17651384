"""Build file of the benchmark: compiles the engine's sources together with
the benchmark harness into one class directory.

The engine is a Spark 4.1 / Scala 2.13 library. Its Spark jars (which
include the Scala 2.13 compiler) come from `$SPARK_HOME/jars`, or from the
`jars/` directory of the pyspark package of the running Python when
`SPARK_HOME` is unset. Output goes under `<checkout>/.bench_build/`; a
stamp over every source file makes a second build with unchanged sources
a no-op.

    python3 perfbench/build.py          # build, print the class directory
"""

import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")

# Spark on JDK 17 needs these when the session is built outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_jars():
    """The directory of Spark's jars, or BuildError."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark  # only its bundled jars are used
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler-2.13")
                                    for n in os.listdir(c)):
            return c
    raise BuildError("no Spark 4 jars with a Scala 2.13 compiler: set SPARK_HOME")


def sources():
    """Every .scala file the build compiles, sorted; BuildError if the
    engine's sources are missing (a directory holding only the benchmark)."""
    out = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(ENGINE_SRC) for p in out):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(out)


def source_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build(quiet=False):
    """Compile if the sources changed; returns (classes_dir, digest)."""
    paths = sources()
    digest = source_digest(paths)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, digest
    jars = spark_jars()
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(paths) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
           "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=ROOT)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    if not quiet:
        print(r.stdout, end="", file=sys.stderr)
    return classes, digest


def java_command(classes, work, heap="3g"):
    """The JVM prefix that runs a harness main on the built classes, with
    its temporary files under `work` and a fixed heap, so heap growth
    does not vary between runs."""
    jars = spark_jars()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
