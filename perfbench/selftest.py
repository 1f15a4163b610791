"""Self-test of the correctness check: plant a wrong expected digest and
require every iteration to be reported as failed.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits 0 when the check fires.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", "kernel_heavy", "--seed", "1", "--seconds", "1",
           "--trace", "0", "--plant-wrong-digest"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps(result))
    fired = (
        result["correct"] is False
        and result["attempted"] >= 1
        and result["failed"] == result["attempted"]
    )
    print("selftest:", "check fires" if fired else "CHECK DID NOT FIRE")
    return 0 if fired else 1


if __name__ == "__main__":
    sys.exit(main())
