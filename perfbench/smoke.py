"""Smoke check: every workload end to end at a tiny size, untraced and traced.

Usage (from the repository root): ``python3 perfbench/smoke.py``

Runs each workload twice (``--trace 0`` and ``--trace 1``) through
``run.main`` with tiny inputs and checks that the result line is well
formed, correct, and carries every metric BENCHMARK.json names. Exits 1
on the first failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = run.main(["--workload", workload, "--seed", "1", "--seconds", "4",
                               "--trace", str(trace)], tiny=True)
            lines = buf.getvalue().strip().splitlines()
            res = json.loads(lines[-1]) if rc == 0 and lines else {}
            want = {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}
            ok = (
                set(res) == {"correct", "attempted", "failed", "metrics"}
                and res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
                and set(res["metrics"]) == want
            )
            print(f"{workload} trace={trace}: {'ok' if ok else 'FAILED'} {lines[-1] if lines else rc}")
            if not ok:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
