#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/harness) into one class directory.

It calls the Scala compiler that ships in the Spark jar directory the
engine's build.sbt declares (`unmanagedBase`), so a build needs neither
sbt nor a network, and writes only under the build directory. A stamp
holding a hash of every source file skips the compile when nothing
changed.

    python3 perfbench/build.py            # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")


class BuildError(Exception):
    pass


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(root, d)


def spark_jars(root):
    """The jar directory declared by the engine's build.sbt."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt under {root}: not an engine checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt declares no readable unmanagedBase jar dir")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), HARNESS):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {base}")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath(root):
    """Classpath of the built engine plus harness, building if stale."""
    bdir = build_dir(root)
    classes = os.path.join(bdir, "classes")
    jars = os.path.join(spark_jars(root), "*")
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(bdir, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return f"{classes}:{jars}"
    os.makedirs(bdir, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    p = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", classes,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"[build] compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return f"{classes}:{jars}"


if __name__ == "__main__":
    try:
        print(classpath(os.getcwd()))
    except BuildError as e:
        sys.exit(f"[build] {e}")
