"""Negative controls: plant one fault per workload at the small size and
show that the workload's check fires, the run exits non-zero and the
operation is counted as failed. A clean small run of each workload is the
positive control.

    python3 perfbench/controls.py [--seed N]

Exits 0 only if every control behaves as intended.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# fault -> (workload, text the failing check must report)
FAULTS = {
    "skip_neardup": ("curate", "near-dup pairs kept both docs"),
    "drop_merge": ("store", "!= folded op log"),
    "double_append": ("stream", "appended more than once"),
    "swap_model": ("ml", "reloaded model disagrees"),
}


def run(workload, plant, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0",
           "--plant", plant, "--tiny"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=200)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    context = (json.loads(lines[-2].split(": ", 1)[1])
               if len(lines) >= 2 and lines[-2].startswith("perfbench context: ")
               else {})
    return p.returncode, result, context


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for fault, (workload, expect) in FAULTS.items():
        rc, result, ctx = run(workload, fault, args.seed)
        failures = ctx.get("failures", [])
        fired = any(expect in f for f in failures)
        good = (rc != 0 and result is not None and not result["correct"]
                and result["failed"] >= 1 and fired)
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} fault={fault} workload={workload} "
              f"exit={rc} failed={result and result['failed']} "
              f"checks={failures}")
    for workload in ("curate", "store", "stream", "ml"):
        rc, result, ctx = run(workload, "none", args.seed)
        good = rc == 0 and result is not None and result["correct"]
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} clean workload={workload} exit={rc} "
              f"checks={ctx.get('failures', [])}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
