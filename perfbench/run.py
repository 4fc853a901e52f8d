"""Engine benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload serve-batch --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
wipes .bench_build/scratch, runs one Spark JVM and prints, as the last line
of standard output, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero, without that line, if anything fails to build or run; a
result that disagrees with the exact Oracle prints "correct": false and
exits 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["bulk-build", "serve-batch", "serve-single", "ingest-query"]
JVM_TIMEOUT_S = 170
# fixed JVM settings of every run (Spark 4 on JDK 17 needs the opens)
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
             "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    classes = build.build()
    root = os.path.abspath(build.BUILD_DIR)
    scratch = os.path.join(root, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    result = os.path.join(root, "results", "%s-%d-%d.json" % (a.workload, a.seed, a.trace))
    if os.path.exists(result):
        os.remove(result)

    cp = os.pathsep.join([os.path.abspath(classes), os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + scratch, "-cp", cp, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--root", root]
    proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the run exceeded %d s" % JVM_TIMEOUT_S)
    if code not in (0, 1) or not os.path.exists(result):
        sys.exit("perfbench: the run failed (exit %d)" % code)
    with open(result) as f:
        line = json.load(f)["result"]
    sys.stdout.flush()
    print(json.dumps(line))
    sys.exit(code)


if __name__ == "__main__":
    main()
