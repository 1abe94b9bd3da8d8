#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (graftbench/scala) with the Scala compiler that
ships in Spark's jar directory ($SPARK_HOME/jars), so no build tool and no
dependency resolution is involved.

Output goes to $CARGO_TARGET_DIR (default: .bench_build at the repository
root). A stamp over every source file makes a rebuild happen only when a
source changed.

Usage: python3 graftbench/build.py   (prints the classpath to run with)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft")):
        raise BuildError(f"graft's sources are missing under {program}")
    files = glob.glob(os.path.join(program, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath(classes, jars):
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(jars, "*")])


def build(log=sys.stderr):
    """Compile if needed; return the classpath of the built program."""
    jars = spark_jars()
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    stamp = _stamp(files, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(classes, jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{part}-*.jar"))[0]
                for part in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    print(f"[graftbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(classes, jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
