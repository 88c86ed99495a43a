"""Compiles graft's sources and the JVM harness into one class directory.

No sbt: the Scala 2.13 compiler ships in Spark's jar directory (the
`unmanagedBase` of the repository's build.sbt) next to every library
graft links against, so one scalac invocation builds both. The output
is reused while a stamp of every source file still matches.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


# build.sbt's JDK 17 module openings for a SparkSession outside
# spark-submit
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


def _sources(root):
    main = os.path.join(root, "src", "main", "scala")
    harness = os.path.join(root, "perfbench", "harness")
    if not os.path.isdir(main):
        raise BuildError(f"no graft sources under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(harness, "*.scala")))
    return files


def _stamp(files, resources):
    h = hashlib.sha256()
    for f in files + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars(root):
    """Spark's jar directory, as build.sbt names it."""
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath(classes, jars):
    return f"{classes}:{jars}/*"


def ensure_built(root, build_dir, log=sys.stderr):
    """Returns (class directory, Spark's jar directory), compiling first
    when sources changed."""
    files = _sources(root)
    jars = spark_jars(root)
    res_root = os.path.join(root, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    stamp = _stamp(files, resources)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars
