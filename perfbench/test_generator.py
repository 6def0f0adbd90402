#!/usr/bin/env python3
"""Test of the benchmark's seeded input generators.

    python3 perfbench/test_generator.py

Builds the benchmark (perfbench/build.py) and runs perfbench.GenCheck: the
same seed must give byte-identical inputs, a different seed different ones,
and the generated feed must keep the recipe its truth record states (time
order, every 5th row duplicated, ~1 % truncated lines, zero-sum transfer
lists). Exits non-zero if any property fails.
"""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

if __name__ == "__main__":
    cp = ":".join(build.build())
    sys.exit(subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", cp, "perfbench.GenCheck"]).returncode)
