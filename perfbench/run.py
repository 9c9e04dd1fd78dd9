#!/usr/bin/env python3
"""Engine benchmark: one seeded workload, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest|series_read|ann_serve|query_heavy>
        --seed <n> --seconds <s> --trace <0|1> [--trace-out <file>]

Builds the engine and perfbench.Main from source when they changed (see
build.py), runs perfbench.Main in its own JVM with every scratch file
under a fresh directory in .bench_build/, removes that directory, and
passes its output through. The last stdout line is the JSON result; the
exit code is non-zero when an output was wrong or the run could not
happen.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def timeout_s(seconds):
    """Set-ups, warmup and checks take at most about 110 s next to the timed phase."""
    return 110 + 3 * seconds


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)

# Spark on JDK 17 outside spark-submit needs the module opens the
# repository's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--trace-out", help="write the traced run's spans here (JSON lines)")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))

    build.BUILD.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=build.BUILD))
    (work / "tmp").mkdir()
    # A fixed heap with a fixed young generation: a run lives under a
    # minute, and adaptive heap sizing kept shifting latencies under the
    # timer for all of it.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    if a.trace_out:
        cmd += ["--trace-out", str(Path(a.trace_out).resolve())]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s(a.seconds))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {timeout_s(a.seconds):.0f} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode not in (0, 1) or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"perfbench.Main exited with {proc.returncode} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
