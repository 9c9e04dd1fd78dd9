#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine (src/main/scala) and the benchmark program
(perfbench/src) with the Scala compiler that ships among the Spark jars
the repository's sbt build already uses (its `unmanagedBase`, or
$SPARK_HOME/jars). No dependency resolution and no network: each of the
two class trees is rebuilt only when a hash of its sources changes.

Usage: python3 perfbench/build.py      (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:20]


def compile_tree(name, srcs, classpath, compiler_cp, key):
    out = BUILD / name
    stamp = out / ".stamp"
    if stamp.is_file() and stamp.read_text() == key:
        return out
    tmp = BUILD / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", str(tmp)]
    cmd += [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError(f"compiling {name} failed")
    (tmp / ".stamp").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build():
    """Compile what changed; return the classpath to run perfbench.Main."""
    main_src = sources(ROOT / "src" / "main" / "scala")
    bench_src = sources(ROOT / "perfbench" / "src")
    if not main_src or not bench_src:
        raise BuildError("engine or benchmark sources not found")
    jars = jar_dir()
    spark_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    compiler_cp = os.pathsep.join(str(next(jars.glob(f"{n}-2*.jar"), "")) for n in SCALA_JARS)
    main_key = digest(main_src, compiler_cp)
    main = compile_tree("main", main_src, spark_cp, compiler_cp, main_key)
    bench_cp = os.pathsep.join([str(main), spark_cp])
    bench = compile_tree("bench", bench_src, bench_cp, compiler_cp, digest(bench_src, main_key))
    return os.pathsep.join([str(bench), str(main), spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
