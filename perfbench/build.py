"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own Scala sources (perfbench/src) into one class
directory, with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py        # from the repository root

The jar directory is the one the root build.sbt names as `unmanagedBase`
(or $SPARK_HOME/jars when that is set). Output goes to $BENCH_BUILD_DIR,
default `.bench_build` in the current directory. A stamp of every source's
path, size and content hash makes a rebuild of unchanged sources a no-op.
"""

import hashlib
import os
import re
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]


def build_dir():
    return os.path.abspath(os.environ.get("BENCH_BUILD_DIR", os.path.join(ROOT, ".bench_build")))


def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME or unmanagedBase in build.sbt)")


def jars():
    d = jars_dir()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs):
    h = hashlib.sha256()
    for p in srcs:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if the sources changed; return (classes dir, stamp)."""
    srcs = sources()
    stamp = stamp_of(srcs)
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read().strip() == stamp:
        return classes, stamp
    all_jars = jars()
    compiler = [j for j in all_jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: scala compiler, library and reflect jars not found among the Spark jars")
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(all_jars), "-d", tmp] + srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file])
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"build: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, stamp


if __name__ == "__main__":
    print(build()[0])
