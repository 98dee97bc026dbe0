"""Build step of the benchmark: compiles the program's sources together with
the benchmark's own Scala code into one class directory.

The program is compiled straight from ``src/main/scala`` with the Scala
compiler that ships in Spark's jar directory, so a fresh checkout needs no
build tool and no network. The result is cached under ``.bench_build`` and
keyed by a hash of every compiled source file: a second run on the same
sources reuses it, any edited source triggers a full rebuild.

Usage: ``python3 perfbench/build.py`` from the root of the repository.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_ROOT, "classes")
STAMP = os.path.join(BUILD_ROOT, "classes.sha256")
SOURCE_ROOTS = ("src/main/scala", "perfbench/src")
RESOURCES = "src/main/resources"


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the one beside
    ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler-") for f in os.listdir(jars)):
        raise BuildError("no Spark jar directory with scala-compiler found; set SPARK_HOME")
    return jars


def sources():
    files = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise BuildError(f"missing source directory {root}: run from the repository root")
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    entries = [CLASSES, RESOURCES, os.path.join(spark_jars(), "*")]
    return os.pathsep.join(os.path.abspath(e) for e in entries)


def build(log=sys.stderr):
    """Compile if the sources changed since the cached build; returns the
    run-time classpath."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    key = digest.hexdigest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == key:
                return classpath()
    jars = os.path.join(spark_jars(), "*")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-deprecation:false", "-d", tmp, "-cp", jars] + files,
        stdout=log, stderr=log)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(key + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
