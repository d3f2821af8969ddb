"""Self-test: the benchmark's checks are live and it runs from anywhere.

    python3 benchmark/selftest.py

1. A run with one expected digest corrupted must report ``correct: false``
   and a lower ``ok_ratio``.
2. A run started from a temporary working directory (the package reachable
   only through the checkout, Python workers included) must pass.
3. A copy holding only ``BENCHMARK.json`` and ``benchmark/`` must exit
   non-zero without printing a result.

Writes ``evidence/selftest.json``. Scratch goes under ``.bench_work/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work", "selftest")


def _run(args: list[str], cwd: str, script: str = os.path.join(HERE, "run.py")) -> dict:
    proc = subprocess.run(
        [sys.executable, script, *args], cwd=cwd, capture_output=True, text=True, timeout=200
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        result = json.loads(lines[-1])
    return {"exit": proc.returncode, "stdout_lines": len(lines), "result": result}


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    report: dict = {}

    with open(os.path.join(HERE, "digests.json")) as f:
        digests = json.load(f)
    victim = sorted(digests)[0]
    digests[victim] = digests[victim][:-4] + "0000"
    bad = os.path.join(WORK, "digests-corrupt.json")
    with open(bad, "w") as f:
        json.dump(digests, f)
    r = _run(["--workload", "curation", "--seed", "1", "--seconds", "5",
              "--digests", bad], cwd=ROOT)
    ok_ratio = r["result"]["metrics"]["ok_ratio"]["value"] if r["result"] else None
    report["corrupt_digest"] = {
        "corrupted": victim, "exit": r["exit"], "correct": (r["result"] or {}).get("correct"),
        "ok_ratio": ok_ratio,
        "pass": r["exit"] == 0 and r["result"]["correct"] is False and ok_ratio < 1.0,
    }

    cwd = os.path.join(WORK, "elsewhere")
    os.makedirs(cwd)
    r = _run(["--workload", "pipeline", "--seed", "1", "--seconds", "5"], cwd=cwd)
    ok_ratio = r["result"]["metrics"]["ok_ratio"]["value"] if r["result"] else None
    report["foreign_cwd"] = {
        "exit": r["exit"], "correct": (r["result"] or {}).get("correct"), "ok_ratio": ok_ratio,
        "pass": r["exit"] == 0 and r["result"]["correct"] is True and ok_ratio == 1.0,
    }

    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "benchmark"),
                    ignore=shutil.ignore_patterns("__pycache__", "evidence"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = _run(["--workload", "curation", "--seed", "1", "--seconds", "5"], cwd=bare,
             script=os.path.join(bare, "benchmark", "run.py"))
    report["bare_copy"] = {
        "exit": r["exit"], "stdout_lines": r["stdout_lines"],
        "pass": r["exit"] != 0 and r["stdout_lines"] == 0,
    }

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "evidence"), exist_ok=True)
    with open(os.path.join(HERE, "evidence", "selftest.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps(report, indent=1))
    return 0 if all(v["pass"] for v in report.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
