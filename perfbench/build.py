#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

Usage: python3 perfbench/build.py [<repo root>]

The program (`src/main/scala`, the sources `build.sbt` compiles) and the
harness (`perfbench/harness`) are compiled with the Scala compiler that
ships in the Spark distribution, against its jars: the jar directory
`build.sbt` declares as `unmanagedBase` (or `$SPARK_HOME/jars`). Output
goes under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`), stamped with a hash of the sources, so an unchanged tree
is not recompiled.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jar_dir(root):
    """The Spark jar directory the repo's sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"),
                            recursive=True))


def digest(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def scalac(srcs, out, jars, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def build(root):
    """Returns the runtime classpath; compiles only what changed."""
    prog = sources(root, "src/main/scala")
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    jars = jar_dir(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    harness = sources(HERE, "harness")
    base = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    alljars = os.path.join(jars, "*")
    prog_out = os.path.join(base, "program")
    harness_out = os.path.join(base, "harness")
    for srcs, out, cp in ((prog, prog_out, alljars),
                          (harness, harness_out, f"{prog_out}:{alljars}")):
        stamp = os.path.join(out, ".stamp")
        # the harness stamp covers the program too: it links against it
        key = digest(prog + srcs if out == harness_out else srcs, jars)
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        shutil.rmtree(out, ignore_errors=True)
        scalac(srcs, out, jars, cp)
        with open(stamp, "w") as f:
            f.write(key)
    return f"{harness_out}:{prog_out}:{alljars}"


if __name__ == "__main__":
    try:
        print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
    except BuildError as e:
        sys.exit(str(e))
