#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

Builds the program and the harness (perfbench/build.py), starts one JVM
with a heap sized from MemTotal, and runs perfbench.Harness in it. The
harness prints a report and, as its last stdout line, the result JSON.
Everything the run writes goes under .bench_build/perfbench/ in the
checkout. Exit code: 0 when every output checked out, non-zero otherwise.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ["etl_load", "portfolio_reports", "corpus_curation"]
# A run must end within 180 s; leave room for the launcher itself.
JVM_TIMEOUT_S = 170
RUN_DIR = os.path.join(ROOT, ".bench_build", "perfbench", "run")

# Spark on JDK 17 needs these when it is not started by spark-submit
# (the same list build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """A quarter of MemTotal, between 1 and 4 GiB: the corpus is small and
    the machine's memory is shared, so the 16g build.sbt default is not
    used (it cannot start on a 15 GB host)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def java_command(main, args):
    classes = build.build()
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(os.path.dirname(build.spark_jars()[0]), "*")])
    return (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, timeout_s=JVM_TIMEOUT_S):
    """Runs the JVM, relays its stdout, and returns its exit code."""
    env = dict(os.environ)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its temporary
    # files inside the run directory.
    env["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: JVM exceeded {timeout_s}s and was stopped", file=sys.stderr)
        return 3
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corpus", default=os.path.join(BENCH, "corpus", "sf0.01"),
                    help="parquet corpus directory (default: the bundled sf0.01)")
    ap.add_argument("--dump", help="write each operation's result here as parquet "
                    "(used by oracle_check.py to produce expected.json)")
    a = ap.parse_args()

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corpus", os.path.abspath(a.corpus),
            "--expected", os.path.join(BENCH, "expected.json"),
            "--work", RUN_DIR,
            "--trace-dir", os.path.join(ROOT, ".bench_build", "perfbench", "trace")]
    if a.dump:
        args += ["--dump", os.path.abspath(a.dump)]
    try:
        rc = run_jvm(java_command("perfbench.Harness", args))
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
