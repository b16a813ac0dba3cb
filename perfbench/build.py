"""Build file of the benchmark: compiles the program's Scala sources together
with the benchmark's own (perfbench/src) into one class directory, using the
Scala compiler that ships in $SPARK_HOME/jars.

Run from the repository root:  python3 perfbench/build.py
The output goes to .bench_build/classes-<hash of the sources>; an unchanged
tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError("SPARK_HOME must point at a Spark 4 install whose jars/ "
                         "holds the Scala 2.13 compiler")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}/graft; "
                         "run from the root of a graft checkout")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(log=sys.stderr):
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
