#!/usr/bin/env python3
"""The benchmark's own tests: builds the harness and runs the
fault-injection test (perfbench.FaultInjectionTest) in one JVM.

    python3 perfbench/test.py
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

if __name__ == "__main__":
    shutil.rmtree(run.RUN_DIR, ignore_errors=True)
    try:
        rc = run.run_jvm(run.java_command("perfbench.FaultInjectionTest", [run.RUN_DIR]))
    finally:
        shutil.rmtree(run.RUN_DIR, ignore_errors=True)
    sys.exit(rc)
