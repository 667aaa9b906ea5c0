"""Self-test of the benchmark's failure paths.

    python3 perfbench/selftest.py

1. A deliberately corrupted expected value (``--corrupt-oracle``) must make
   the command report ``"correct": false`` and exit non-zero.
2. In a directory holding only ``BENCHMARK.json`` and ``perfbench/`` (no
   program to measure) the command must exit non-zero without printing a
   result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rle_algebra",
         "--seed", "1", "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def main() -> int:
    ok = True
    p = bench(ROOT, "--corrupt-oracle")
    last = p.stdout.strip().splitlines()[-1:] or ["{}"]
    result = json.loads(last[0]) if last[0].startswith("{") else {}
    if p.returncode == 0 or result.get("correct") is not False:
        print(f"FAIL: corrupted oracle accepted (exit {p.returncode}, {last[0]})")
        ok = False
    else:
        print(f"ok: corrupted oracle rejected (exit {p.returncode}, "
              f"failed={result.get('failed')})")
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"correct"' in p.stdout:
        print(f"FAIL: bare directory run exited {p.returncode}")
        ok = False
    else:
        print(f"ok: bare directory run exited {p.returncode} without a result")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
