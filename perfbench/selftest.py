#!/usr/bin/env python3
"""Self-tests for the benchmark. Each workload runs three times with
``--ops 2 --trace 1`` from a working directory that is not the repo
root (so Python workers must find ``goetl_spark`` through PYTHONPATH):
seed A, seed A again, seed B. Asserts:

- every run passes its checks (cwd independence);
- every run's written row count equals the count its check expects,
  and is not 0 (full materialization, no ``.count()`` shortcut);
- the same seed gives the same input digest and the same exact counts
  (``spark.jobs``, rows written, ``sinks.files_written``), and another
  seed gives other inputs;
- the metric names printed match ``BENCHMARK.json``.

    python3 perfbench/selftest.py [--workload NAME]
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

from run import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, seed: int, trace: int, cwd: Path) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "60", "--ops", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{workload} seed {seed}: exit {p.returncode}\n" \
        + p.stderr[-3000:]
    return json.loads(lines[-1]), json.loads(lines[-2].removeprefix("# run "))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_names = {m["name"] for m in spec["end_to_end"]}
    layer_names = {m["name"] for m in spec["per_layer"]}
    cwd = ROOT / ".bench_work" / "selftest-cwd"
    cwd.mkdir(parents=True, exist_ok=True)
    try:
        for w in args.workload or WORKLOADS:
            a, ra = run(w, 7, 1, cwd)
            b, rb = run(w, 7, 1, cwd)
            c, rc = run(w, 8, 1, cwd)
            plain, _ = run(w, 7, 0, cwd)
            for res, rec in ((a, ra), (b, rb), (c, rc)):
                assert res["correct"] and res["failed"] == 0, (w, rec["failures"])
                assert rec["rows_written"] == rec["rows_expected"] > 0, \
                    (w, rec["rows_written"], rec["rows_expected"])
            assert ra["input_digest"] == rb["input_digest"] != rc["input_digest"], w
            for key in ("rows_written", "files_written"):
                assert ra[key] == rb[key], (w, key, ra[key], rb[key])
            for key in ("spark.jobs", "sinks.files_written"):
                assert a["metrics"][key] == b["metrics"][key], \
                    (w, key, a["metrics"][key], b["metrics"][key])
            assert set(a["metrics"]) == layer_names, (w, set(a["metrics"]) ^ layer_names)
            assert set(plain["metrics"]) == e2e_names, (w, set(plain["metrics"]) ^ e2e_names)
            print(f"{w}: ok (digest {ra['input_digest']}, spark.jobs/op "
                  f"{a['metrics']['spark.jobs']['value']:.2f}, rows {ra['rows_written']})")
    finally:
        shutil.rmtree(cwd, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
