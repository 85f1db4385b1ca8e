#!/usr/bin/env python3
"""Run one benchmark workload of the Spark BM25 engine.

    python3 perfbench/run.py --workload <query_batch|query_interactive>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source on first use (see
build.py). The first run of a workload in a build makes its corpus and
oracle answers in a JVM of its own and caches them, so that every measured
run starts alike. The workload then runs in one JVM with its own local Spark
session. Every file it writes stays under .bench_work/ and .bench_build/
in the checkout. The last line of standard output is the JSON result;
the JVM's log goes to .bench_work/<workload>.log.
"""
import argparse
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORK = build.ROOT / ".bench_work"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ["query_batch", "query_interactive"]
# The JVM sees half the vCPUs it may run on, so Spark's task threads
# (local[n] with n = the JVM's processor count), the JIT and the GC leave
# room for the driver thread; a fixed heap keeps heap resizing out of the
# timings.
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)


def java_cmd(classes, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-XX:ActiveProcessorCount={CPUS}", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={WORK / 'tmp'}"] + opens +
            ["-cp", build.classpath(classes), main] + args)


def run(cmd, log_path, deadline, echo=True):
    """Runs cmd in its own process group; stdout passes through (with echo,
    else it goes to log_path too), stderr goes to log_path. The group is
    killed at the time.monotonic() deadline or when this script is
    interrupted, and waited for in every case."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True)

        def stop(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        signal.signal(signal.SIGINT, lambda *a: (stop(), sys.exit(130)))
        timer = threading.Timer(max(0.0, deadline - time.monotonic()), stop)
        timer.start()
        try:
            for line in p.stdout:
                if echo:
                    sys.stdout.write(line.decode("utf-8", "replace"))
                    sys.stdout.flush()
                else:
                    log.write(line)
            return p.wait()
        finally:
            timer.cancel()
            stop()
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true", help="run the checker's own tests")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    try:
        classes, stamp = build.build()
    except build.BuildError as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        return 3
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if a.selftest:
        cmd = java_cmd(classes, "perfbench.CheckSelfTest", [])
        log = WORK / "selftest.log"
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(WORK), "--build", stamp[:16]]
        ready = WORK / "cache" / f"{stamp[:16]}-{a.workload}.ready"
        if not ready.is_file():
            log = WORK / f"{a.workload}-prepare.log"
            code = run(java_cmd(classes, "perfbench.Main", args + ["--prepare", "1"]), log, deadline,
                       echo=False)
            if code != 0:
                tail = log.read_bytes()[-4000:].decode("utf-8", "replace")
                print(f"perfbench: preparing inputs failed, exit {code}; end of {log}:\n{tail}", file=sys.stderr)
                return code
            ready.write_text("")
        cmd = java_cmd(classes, "perfbench.Main", args)
        log = WORK / f"{a.workload}.log"
    code = run(cmd, log, deadline)
    if code != 0:
        tail = log.read_bytes()[-4000:].decode("utf-8", "replace")
        print(f"perfbench: exit {code}; end of {log}:\n{tail}", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
