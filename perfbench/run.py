#!/usr/bin/env python3
"""Runs one benchmark workload against the engine, from the repo root:

    python3 perfbench/run.py --workload offline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark first (perfbench/build.py), then runs
one Spark JVM at local[4]. Scratch goes under .bench_work/ in the repo
root; run records (sentinels, configuration, corpus sizes, per-operation
timings, spans of a traced run) stay in .bench_work/records/.

The last line of standard output is the result:
    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}
The exit code is 0 only if every check passed. A build or start-up failure
exits non-zero without printing a result.
"""
import argparse
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
# the whole run, build excluded, must end well inside 180 s
RUN_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(main_class, classpath, args, tmp):
    # no hsperfdata file in the system temp dir: write only in the checkout
    cmd = [build.java(), f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join(classpath), main_class, *args]
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    try:
        classes, tests = build.build(tests=a.selftest)
        jars = f"{build.spark_jars()}/*"
    except build.BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        return 2

    tmp = WORK / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.selftest:
            return subprocess.run(jvm("graftbench.StatsTest",
                                      [str(tests), str(classes), jars], [],
                                      tmp)).returncode
        cmd = jvm("graftbench.Main", [str(classes), jars],
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", a.trace,
                   "--work", str(WORK)], tmp)
        # Spark would put shuffle files in these instead of spark.local.dir
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                cwd=ROOT, env=env)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(f"run exceeded {RUN_TIMEOUT_S} s; killed\n")
            return 3
        finally:
            # the JVM removes its run dir itself unless it was killed
            shutil.rmtree(WORK / f"run-{proc.pid}", ignore_errors=True)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = [ln for ln in lines if ln.startswith('{"correct"')]
        for ln in lines:
            if ln not in result:
                print(ln)
        if not result:
            sys.stderr.write(f"no result line (exit {proc.returncode})\n")
            return proc.returncode or 4
        print(result[-1], flush=True)
        return proc.returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
