#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/scala) into one class directory with the
Scala compiler that ships in the Spark distribution's jars, and copies the
engine's resources (the graftlog data-source registration).

The output is keyed by a hash of every input, so an unchanged tree is not
rebuilt. Usage: python3 perfbench/build.py  (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else those of the
    first distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def inputs():
    """(scala sources, (resource dir, files)), failing when the engine's
    sources are absent."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise SystemExit(f"perfbench: engine sources not found at {src}")
    sources = _files(src, ".scala") + _files(os.path.join(HERE, "scala"), ".scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    return sources, res, (_files(res) if os.path.isdir(res) else [])


def stamp(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure():
    """Compile unless the class directory matches the current inputs;
    returns the classpath entries for the harness JVM."""
    jars = spark_jars()
    sources, res, resources = inputs()
    key = stamp(sources + resources, jars)
    stamp_file = os.path.join(OUT, "stamp")
    cp = [CLASSES, os.path.join(jars, "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return cp
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    jar_glob = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", jar_glob, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jar_glob, "@" + args_file]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    ensure()
