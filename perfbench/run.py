#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

Usage (from the repo root):
  python3 perfbench/run.py --workload ingest_single|reports \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM on local[min(nproc, 4)]. Every run gets its own
directory under .bench_runs/ (Spark warehouse, Spark local dir, temp dir,
ingest corpus and stores); it is deleted afterwards, except the spans and
layer table of a traced run. The last stdout line is the result JSON; see
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest_single", "reports")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def args():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if not 0 <= a.seed < 2 ** 63:
        p.error("--seed must be in [0, 2^63)")
    if not 1 <= a.seconds <= 60:
        p.error("--seconds must be in [1, 60]")
    return a


def run_timeout(a):
    """Seconds the JVM may take: set-up plus the measured segment, which a
    traced run spends twice. At --seconds 10 this stays under 180 s."""
    return 150 + (2 if a.trace else 1) * a.seconds


def main():
    a = args()
    if shutil.which("java") is None:
        sys.exit("java is not on PATH")
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    run_dir = ROOT / ".bench_runs" / f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("warehouse", "spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True)
    cores = min(os.cpu_count() or 1, 4)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
           # a fixed locale, so that the program's own number formatting
           # reads the same on every host
           + ["-Duser.language=en", "-Dspark.ui.enabled=false",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              f"-Dspark.local.dir={run_dir / 'spark-local'}",
              f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              "-cp", cp, "perfbench.Main", "run", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), str(run_dir), str(ROOT), str(cores)])
    # the engine's SPARK_GRAFT_* knobs would change what is measured; the
    # benchmark always runs the engine at its defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=run_timeout(a))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"{a.workload}: the benchmark JVM did not finish within {run_timeout(a)}s")
    finally:
        for d in ("warehouse", "spark-local", "tmp", "corpus"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
        for d in run_dir.glob("stores-*"):
            shutil.rmtree(d, ignore_errors=True)
        if not a.trace:
            shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.exit(f"{a.workload}: the benchmark JVM exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{a.workload}: malformed result line: {lines[-1]}")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
