#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main Scala sources and
the benchmark's own sources (perfbench/src) into one class directory.

Usage: python3 perfbench/build.py        (prints the class directory)

The Scala compiler and every library come from Spark's jar directory
($SPARK_HOME/jars, or the one next to spark-submit on PATH), so the build
needs no dependency resolution and leaves the root build untouched.
Output goes to .bench_build/classes-<hash> at the repo root, keyed on the
hash of every source file: an unchanged tree reuses its classes, a changed
one compiles afresh.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first Spark
    installation whose bin/spark-submit is on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((home / "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler-") for j in jars):
            return jars
    raise BuildError("no Spark installation with a Scala compiler: set SPARK_HOME "
                     "or put Spark's bin directory on PATH")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((HERE / "src").rglob("*.scala"))
    if not main:
        raise BuildError(f"no Scala sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not own:
        raise BuildError(f"no benchmark sources under {HERE / 'src'}")
    return main + own


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    out = ROOT / ".bench_build" / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
