"""Build file of the benchmark.

Compiles the engine's main sources together with the benchmark's own Scala
sources (``perfbench/src``) into one class directory with the Scala compiler
that ships among the Spark jars. The output lives under ``$CARGO_TARGET_DIR``
(default ``.bench_build``) and is reused while a stamp over every source file
and the jar list still matches.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = ["src/main/resources"]


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's own
    ``unmanagedBase``."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def out_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(root, base)
    return os.path.join(base, "perfbench")


def _files(root, dirs, suffix):
    out = []
    for d in dirs:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: missing source dir {d}")
        for dp, _, fs in os.walk(top):
            out += [os.path.join(dp, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def build(root):
    """Returns the class directory, compiling first if any input changed."""
    jars = spark_jars(root)
    srcs = _files(root, SOURCES, ".scala")
    res = _files(root, RESOURCES, "")
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    for f in res:
        rel = os.path.relpath(f, os.path.join(root, RESOURCES[0]))
        os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
        shutil.copyfile(f, os.path.join(tmp, rel))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
