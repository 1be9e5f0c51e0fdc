"""Feature-store benchmark: one run of one workload.

    python3 fsbench/run.py --workload <serve_last|train_load|ingest_upsert> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark if
their sources changed (see build.py), starts one JVM for the run and
relays its output: a line per metric, then the result as one JSON
object on the last line. Exits non-zero, without a result, when the
build fails or the JVM dies; exits 1 with a result whose "correct" is
false when a check failed.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# Each JVM run must end well inside three minutes.
RUN_TIMEOUT_S = 170

# What spark-submit passes to the JVM on Java 17 (the module opens) plus
# a quiet logger and scratch space kept inside the work directory. The
# throughput collector runs no concurrent GC threads beside the loop: on
# a 4-core box, three runs of one ingest seed spread 10% in throughput
# under G1 and 3% under it, and ran about 8% faster.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_last", "train_load", "ingest_upsert"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()
    # a terminated runner stops the compiler or the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        print("[fsbench] %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.TARGET, "work", "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.fsbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--trace-out", os.path.join(build.TARGET, "traces",
                                        "%s-seed%d.jsonl" % (a.workload, a.seed))]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("[fsbench] run exceeded %d s, killed" % RUN_TIMEOUT_S, file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
