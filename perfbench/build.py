"""Build file of the benchmark harness.

Compiles the program (`src/main/scala`, plus `src/main/resources`) and the
harness (`perfbench/src`) with the Scala compiler that ships in Spark's
`jars` directory, so neither sbt nor a network is needed. Output goes to
`<build_dir>/classes`, reused while the sources hash the same.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("Spark's jars directory was not found (set SPARK_HOME)")
    return jars


def _files(top, suffix=None):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if suffix is None or f.endswith(suffix)]
    return sorted(out)


def build(build_dir):
    """Returns the classes directory, compiling when the sources changed."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    jars = spark_jars()
    sources = _files(PROGRAM_SRC, ".scala") + _files(HARNESS_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
