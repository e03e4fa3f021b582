#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine sources of the checkout (src/main/scala, plus
src/main/resources) together with the benchmark's own Scala
(perfbench/src) into .bench_build/classes, using the Scala compiler
that ships in the Spark distribution's jars directory: $SPARK_HOME/jars,
else the jars/ beside the first `spark-submit` on PATH that has one.
No dependency is resolved or downloaded.  A stamp of every source's
path and content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def spark_jars():
    submits = (Path(d) / "spark-submit" for d in os.environ.get("PATH", "").split(os.pathsep) if d)
    homes = [os.environ.get("SPARK_HOME")] + [p.resolve().parent.parent for p in submits if p.is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise BuildError("no Spark distribution: set SPARK_HOME to a directory with jars/")


def classpath(classes):
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


def _sources():
    if not (ENGINE_SRC / "graft").is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    srcs = sorted(p for d in (ENGINE_SRC, BENCH_SRC) for p in d.rglob("*.scala"))
    res = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    return srcs, res


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs, res = _sources()
    jars = spark_jars()
    stamp = _stamp(srcs + res + [Path(__file__)])
    classes = OUT / "classes"
    if (classes / "STAMP").is_file() and (classes / "STAMP").read_text() == stamp:
        return classes
    compiler = sorted(jars.glob("scala-compiler-*.jar")) + sorted(jars.glob("scala-library-*.jar")) \
        + sorted(jars.glob("scala-reflect-*.jar"))
    if len(compiler) < 3:
        raise BuildError(f"no Scala compiler jars in {jars}")
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar"))),
           "-d", str(tmp), f"@{argfile}"]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = tmp / p.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
