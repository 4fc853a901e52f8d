"""Compile the engine (src/main/scala) and the benchmark (perfbench/src)
into one class directory with the Scala compiler that ships in Spark's
jars. The output lives in .bench_build/classes-<hash of the sources>, so
an unchanged tree compiles once.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the install spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
        if not found:
            raise SystemExit(f"perfbench: no Scala sources under {root}; run from the repo root")
        out += found
    return out


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, "scalac-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
