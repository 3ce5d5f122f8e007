#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload warehouse_etl --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it (``# run {...}``) records machine state, the input digest and exact
counts. The exit code is non-zero when any operation fails its check
or the library is missing.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("warehouse_etl", "corpus_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=None,
                    help="stop after this many operations instead of --seconds")
    args = ap.parse_args()

    if not (ROOT / "goetl_spark" / "__init__.py").is_file():
        print(f"goetl_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import corpus, warehouse
    from perfbench.common import Run

    module = {"warehouse_etl": warehouse, "corpus_ingest": corpus}[args.workload]
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.ops)
    try:
        e2e, layers = module.run(r)
    except BaseException:
        r.close()
        raise
    return r.finish(e2e, layers)


if __name__ == "__main__":
    sys.exit(main())
