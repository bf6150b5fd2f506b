"""Build file of the benchmark: compiles the project's main sources together
with the benchmark harness (`perfbench/harness`) into `.bench_build`.

It drives the Scala compiler that ships with Spark directly, so it needs no
dependency resolution and writes nothing outside the checkout. Builds are
cached by a hash of every input source: an unchanged tree reuses the last
build.

    python3 perfbench/build.py          # prints the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "harness")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the directory the
    project's own build.sbt declares as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"no project sources at {os.path.relpath(MAIN_SRC, ROOT)}")
    out = []
    for top in (MAIN_SRC, HARNESS_SRC):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; returns (classpath, source hash)."""
    srcs = sources()
    digest = source_hash(srcs)
    jars = spark_jars()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(classes, ".source-hash")
    cp = [classes, MAIN_RES, os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return os.pathsep.join(cp), digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return os.pathsep.join(cp), digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
