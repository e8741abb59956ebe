"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark program (`perfbench/src`) in one scalac run, using the Scala
compiler and Spark jars of the jar directory the project's build.sbt names
(`unmanagedBase`), else of `$SPARK_HOME/jars`. Classes go
to `<build dir>/classes`; a stamp holding a hash of every source file skips
the compile when nothing changed.

Run directly to build: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The project's own jar directory (build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: missing source directory {os.path.relpath(r, ROOT)}")
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def classpath_jars():
    jars = spark_jars()
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def ensure():
    """Compile if any source changed; returns the classes directory."""
    out = os.path.join(build_dir(), "classes")
    srcs = _sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(build_dir(), "classes.stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(classpath_jars())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out


if __name__ == "__main__":
    print(ensure())
