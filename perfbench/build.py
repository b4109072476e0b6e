#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into one class directory, with the Scala compiler that
ships in Spark's jars directory. Needs no build tool and no network.

    python3 perfbench/build.py        # prints the class directory

Outputs go to .bench_build/perfbench/classes-<hash>, where the hash
covers every source file, the JDK and the Spark jars, so an unchanged
tree is never compiled twice and a changed one is never served stale.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and JAVA_HOME unset")
    return found


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from a checkout of the repository")
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def build_key(files, java, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(subprocess.run([java, "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (java, jars dir, class dir), compiling when needed."""
    java, jars = java_bin(), spark_jars()
    files = sources()
    out = os.path.join(WORK, "classes-" + build_key(files, java, jars))
    if os.path.isfile(os.path.join(out, "_SUCCESS")):
        return java, jars, out
    os.makedirs(WORK, exist_ok=True)
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print("perfbench: compiling %d source files" % len(files), file=log, flush=True)
    cmd = [java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac exited with %d" % r.returncode)
    os.remove(argfile)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return java, jars, out


if __name__ == "__main__":
    try:
        print(build()[2])
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
