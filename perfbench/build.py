"""Build file of the benchmark.

Compiles the product sources (`src/main/scala`) together with the harness
(`perfbench/scala`) with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME/jars`, default `/opt/spark/jars`), so a build
needs neither sbt nor a dependency cache. Classes land in
`<build dir>/<source hash>/classes`; an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def jars_dir():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(d):
        raise SystemExit(f"no Spark distribution: {d} is missing")
    return d


def jars():
    d = jars_dir()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: src/main/scala/graft")
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return (classes dir, source hash)."""
    files = sources()
    digest = source_hash(files)
    out = os.path.join(build_dir(), digest)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars_dir(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars()), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    open(os.path.join(out, "done"), "w").close()
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
