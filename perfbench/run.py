#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout compiles `src/main/scala` together with
`perfbench/src/main/scala` through `perfbench/build.sbt` (about a minute);
later runs reuse the classes while the sources are unchanged. The run's
last stdout line is the result JSON; a per-run detail file is written under
`perfbench/out/results/`. Exits non-zero, printing no result, when the
engine sources are missing, the build fails, the run fails or it overruns.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(OUT, "build.stamp")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
WORKLOADS = ["fit_local", "fit_distributed", "clean_batch", "clean_incremental"]

# JDK 17 module opens Spark needs outside spark-submit, as in the engine's build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    t0 = time.time()
    print("perfbench: compiling engine and benchmark ...", file=sys.stderr)
    rc, _ = run_group(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                      BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr,
                      stdin=subprocess.DEVNULL)
    if rc != 0:
        die("build failed" if rc is not None else "build timed out")
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark installation")
    build()

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(OUT, "results",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
              f"-Dspark.local.dir={os.path.join(OUT, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--out", result])
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                        stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        die(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = out.splitlines()
    if rc != 0 or not lines:
        sys.stderr.write(out)
        die(f"run failed (exit {rc})")
    try:
        json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        die("run printed no result line")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
