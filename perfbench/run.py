"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run starts ``worker.py`` in a fresh
process, waits for it and for every process it left behind, and prints the
result as one JSON line, last on stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The full run record
(every iteration's time, host, corpus) is kept in ``perfbench/.runs/``.
``--plant-wrong-digest`` perturbs the expected digest, so every iteration
must be reported as failed (see selftest.py).
"""

from __future__ import annotations

import argparse
import ctypes
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

from proctree import tree_pids  # noqa: E402
from workloads import WEIGHTS, WORKLOADS  # noqa: E402

# a run must end within 180 s; leave room to stop stragglers
WORKER_TIMEOUT_S = 165
PR_SET_CHILD_SUBREAPER = 36


def stop_descendants(timeout_s: float = 10.0) -> None:
    """Terminate and reap every process left below this one. As child
    subreaper, this process inherits orphans, so it can wait for them."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        while True:  # reap what has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--plant-wrong-digest", action="store_true")
    args = ap.parse_args()

    for need in ("table_recognition_spark", WEIGHTS):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "root of a checkout of the repository", file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(
        runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    if os.path.exists(out):
        os.remove(out)

    # every file the run writes stays inside the checkout
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out,
    ]
    if args.plant_wrong_digest:
        cmd.append("--plant-wrong-digest")

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # the worker's own output goes to stderr, so the result line is last
    # on stdout
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s",
              file=sys.stderr)
        rc = -1
    finally:
        stop_descendants()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1

    with open(out) as f:
        record = json.load(f)
    host, c = record["host"], record["corpus"]
    timed = [round(r["s"], 3) for r in record["iterations"]]
    print(f"{args.workload} seed={args.seed} cores={host['cores']} "
          f"mem={host['mem_gb']}GB driver={record['driver_mem_gb']}g "
          f"pyspark={host['pyspark']} docs={c['n_docs']} media={c['n_media']}")
    print(f"iterations (s): {timed}")
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
