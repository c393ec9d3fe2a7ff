"""Build file of the benchmark: compiles the program and the benchmark.

The program is the library under ``src/main/scala`` (its dev-only mains are
left out: the benchmark drives the library through its public API). Both are
compiled in one pass with the Scala compiler that ships in Spark's ``jars``
directory, so a build needs nothing beyond ``$SPARK_HOME`` and a JDK. Classes
land in ``<build dir>/classes-<hash of every source>``; an unchanged tree
reuses them.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
# dev-only mains of the repo: not part of the library the benchmark drives
DEV_MAINS = {"SparkEntry.scala", "Probe.scala", "Profile.scala",
             "Profile19.scala", "Bench.scala", "Verify.scala"}


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        spark_submit = shutil.which("spark-submit")
        if spark_submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    out = []
    for base, keep in ((PROGRAM_SRC, lambda f: f not in DEV_MAINS),
                       (BENCH_SRC, lambda f: True)):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files
                    if f.endswith(".scala") and keep(f)]
    if not any(p.startswith(BENCH_SRC) for p in out):
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    return sorted(out)


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    stamp = os.path.join(out, ".complete")
    if os.path.exists(stamp):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("compilation failed")
    open(stamp, "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
