#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src, perfbench/test) into .bench_build/perfbench/classes
with the Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars,
or the unmanagedBase directory build.sbt names). The output is
reused while no source file changes (a content hash is kept next to it).

    python3 perfbench/build.py        # build, print the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: no Spark jar directory found")
    return Path(m.group(1))


class BuildError(Exception):
    pass


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    bench = sorted((BENCH / "src").rglob("*.scala")) + sorted((BENCH / "test").rglob("*.scala"))
    return engine + bench


def jars():
    d = spark_jars()
    found = sorted(d.glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in found):
        raise BuildError(f"no Spark/Scala jars with a scala-compiler in {d}")
    return found


def classpath(classes):
    return os.pathsep.join([str(classes)] + [str(j) for j in jars()])


def build():
    """Returns the classes directory and the source hash, compiling first if
    any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, stamp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(str(j) for j in jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars())] + [str(f) for f in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        sys.exit(1)
