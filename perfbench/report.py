#!/usr/bin/env python3
"""Run every workload once and print each end-to-end metric by name and
unit; with ``--trace`` also run each traced and print the per-layer
metrics and the tracing overhead (traced minus untraced ``op_p50_s``).
Exits non-zero if any run fails its checks or prints no result.

    python3 perfbench/report.py --seed 1 --seconds 20 [--trace]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from run import WORKLOADS

HERE = Path(__file__).resolve().parent


def run(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-4000:])
        return None
    result = json.loads(lines[-1])
    result["exit"] = p.returncode
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    ok = True
    for w in args.workload or WORKLOADS:
        modes = (0, 1) if args.trace else (0,)
        results = {m: run(w, args.seed, args.seconds, m) for m in modes}
        for mode, res in results.items():
            if res is None or res["exit"] != 0 or not res["correct"]:
                ok = False
                print(f"{w}\tFAILED\t{res and (res['failed'], res['attempted'])}")
                continue
            print(f"{w}\tattempted\t{res['attempted']}\tfailed\t{res['failed']}")
            for name, m in res["metrics"].items():
                print(f"{w}\t{name}\t{m['value']:.6g}\t{m['unit']}")
        if args.trace and all(results.values()):
            over = (results[1]["metrics"]["trace.op_p50_s"]["value"]
                    - results[0]["metrics"]["op_p50_s"]["value"])
            print(f"{w}\ttrace.overhead_s\t{over:.6g}\ts")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
