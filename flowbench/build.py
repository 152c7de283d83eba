#!/usr/bin/env python3
"""Build the flow benchmark: one scalac pass over the engine's main
sources plus the benchmark's own, against the Spark jars the engine
builds against. Output goes to .bench_build/flowbench/classes under the
checkout root; a content hash of every input skips the pass when
nothing changed.

    python3 flowbench/build.py        # from the checkout root

Spark's jars come from $SPARK_HOME/jars, or else from the
`unmanagedBase` the engine's build.sbt declares. Spark ships the Scala
compiler among those jars, so no other tool is needed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "flowbench")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError("engine sources not found under src/main/scala")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if any input changed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return CLASSES
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("".join(f'"{p}"\n' for p in srcs))
    print(f"[flowbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[flowbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
