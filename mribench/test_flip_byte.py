#!/usr/bin/env python3
"""Test of the benchmark's output check: one flipped value byte must fail it.

Builds a small store through the engine, checks it clean, flips one byte
inside one stored .npy value, and requires the point-lookup check to fail
on exactly that record and the scan digest to fail.

Usage (from the repository root): python3 mribench/test_flip_byte.py
"""
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = Path.cwd()
    classes, _ = build.build(root)
    work = run.fresh_work(root, "selftest")
    try:
        p = subprocess.run(run.java_cmd(root, classes, work, ["--workload", "selftest", "--cpus", "2"]),
                           cwd=root, capture_output=True, text=True, timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("[selftest]")]
    print("\n".join(lines))
    if p.returncode != 0 or not lines:
        print(p.stderr[-3000:], file=sys.stderr)
        print("FAIL: the flipped byte was not caught")
        sys.exit(1)
    print("PASS: the flipped byte fails the check")


if __name__ == "__main__":
    main()
