#!/usr/bin/env python3
"""Reproduces the engine faults the benchmark works around (README, Faults).

    python3 perfbench/faults.py

Builds like run.py, then runs perfbench.Faults on a small fleet in a
scratch directory under perfbench/.work, which it deletes afterwards.
"""
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.build()
    os.makedirs(run.WORK, exist_ok=True)
    d = tempfile.mkdtemp(prefix="faults-", dir=run.WORK)
    try:
        r = subprocess.run(
            ["java", f"-Djava.io.tmpdir={d}"]
            + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Faults", d],
            stdin=subprocess.DEVNULL, timeout=600)
        sys.exit(r.returncode)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
