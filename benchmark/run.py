#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload curation --seed 1 --seconds 20 --trace 0

Runs one workload in a fresh child process (its own session, so every
process it leaves behind -- the JVM, the Python worker daemon, agent
subprocesses -- can be found and stopped), relays its stderr, and prints
the child's drift line and result JSON. The result is the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``.

Must be started from the root of a checkout that contains ``nexgap_spark``;
anywhere else it exits 2 without a result. All scratch files go under
``.bench_work/`` in that checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import meter  # noqa: E402

WORKLOADS = ("curation", "pipeline")
CHILD_TIMEOUT_S = 160.0


def _stop_session(sid: int, grace_s: float = 10.0) -> None:
    """SIGTERM then SIGKILL every process in the child's session, and wait
    until none is left."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = meter.session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--digests", default=None,
        help="expected-digest file (default: benchmark/digests.json)",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nexgap_spark", "__init__.py")):
        print(f"benchmark: no nexgap_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # Python workers import nexgap_spark from the checkout, never from the
    # driver's sys.path alone.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A 4g heap keeps every plan as at the 24g default: the broadcast
    # threshold is the same at any heap >= 4g.
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    # Both JVMs (the spark-submit launcher and the driver): temp files in
    # the work dir, and no hsperfdata file under /tmp.
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONHASHSEED"] = "0"
    result_path = os.path.join(work, f"result-{os.getpid()}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", result_path,
    ]
    if args.digests:
        cmd += ["--digests", os.path.abspath(args.digests)]
    # cwd inside the work dir: stray writes (spark-warehouse, derby.log)
    # stay out of the tree, and the package is found only via PYTHONPATH.
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.DEVNULL, start_new_session=True
    )
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark: worker exceeded {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
        rc = -1
    finally:
        _stop_session(child.pid)
        if child.poll() is None:
            child.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)
    if rc != 0 or not os.path.exists(result_path):
        print(f"benchmark: worker failed (exit {rc})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        out = json.load(f)
    os.remove(result_path)
    print("drift " + json.dumps(out["drift"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
