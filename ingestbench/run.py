#!/usr/bin/env python3
"""Run one workload of the ingest benchmark and print its result.

    python3 ingestbench/run.py --workload backfill|live --seed N \
        --seconds S --trace 0|1 [--scratch-root DIR]

Builds the program first if needed (see build.py), then runs the
benchmark in a fresh JVM on Spark local[nproc] with the repository's
default session. Lakes, checkpoints and Spark's scratch space live under
the scratch root, in a directory made fresh for the run and removed after
it. The last line of standard output is the JSON result; the lines before
it record the environment, the sample counts and any errors.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# JVM flags the repository's sbt `run` uses (build.sbt), minus the heap,
# which is smaller here: the benchmark's lakes are megabytes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scratch-root", default=os.path.join(build.HERE, "work"))
    a = ap.parse_args()

    classes = build.build()
    scratch = os.path.abspath(a.scratch_root)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(scratch, "spark"))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "ingestbench.IngestBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scratch-root", scratch]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"ingestbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        raise SystemExit(f"ingestbench: run failed (exit {proc.returncode})")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
