#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/harness/src`) with
the Scala compiler that ships in Spark's jar directory. The test sources
(`perfbench/harness/test`) compile into a second directory on request.

    python3 perfbench/build.py [--tests]

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout root. A build is skipped when a stamp of every source file's
content matches the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness", "src")
HARNESS_TEST = os.path.join(HERE, "harness", "test")

# Spark on JDK 17 needs these outside spark-submit (the list in build.sbt,
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` the repository's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory not found: {jars} (set SPARK_HOME)")
    return jars


def java_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources(*dirs):
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    if not out:
        raise BuildError("no sources to compile")
    return sorted(out)


def scalac(srcs, classpath, out_dir, stamp_file, depends=""):
    """Compile `srcs` into `out_dir` unless the stamp says it is current.
    `depends` is the stamp of the classes on `classpath` that were built here,
    so a change to them recompiles `srcs` too."""
    h = hashlib.sha256(depends.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(classpath.encode())
    stamp = h.hexdigest()
    if os.path.isdir(out_dir) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out_dir
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"Scala compiler jars not found in {jars}")
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources into {os.path.relpath(out_dir, ROOT)}",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out_dir


def build(tests=False):
    """Returns the runtime classpath: compiled classes plus Spark's jars."""
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    classes = scalac(sources(PROGRAM_SRC, HARNESS_SRC), jars,
                     os.path.join(bd, "classes"), os.path.join(bd, "classes.stamp"))
    cp = [classes]
    if tests:
        with open(os.path.join(bd, "classes.stamp")) as fh:
            main_stamp = fh.read()
        cp.insert(0, scalac(sources(HARNESS_TEST), os.pathsep.join([classes, jars]),
                            os.path.join(bd, "test-classes"),
                            os.path.join(bd, "test-classes.stamp"), main_stamp))
    return os.pathsep.join(cp + [jars])


if __name__ == "__main__":
    try:
        print(build(tests="--tests" in sys.argv[1:]))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
