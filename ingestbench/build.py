#!/usr/bin/env python3
"""Build file of the ingest benchmark.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own sources (ingestbench/src) with the Scala compiler that
ships in the Spark distribution's jars directory, so neither sbt nor a
dependency download is needed. Output goes to ingestbench/build/<hash>/,
keyed by the content of every source file, so a changed program is rebuilt
and an unchanged one is reused.

    python3 ingestbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("ingestbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"ingestbench: no jars directory under {home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    main = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main:
        raise SystemExit("ingestbench: no program sources under src/main/scala")
    sources = main + scala_sources(os.path.join(HERE, "src"))
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(HERE, "build", digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    classpath = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    print(f"ingestbench: compiling {len(sources)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("ingestbench: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, "BUILT"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
