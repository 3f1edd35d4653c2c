"""Benchmark entry point.

    python3 sketchbench/run.py --workload core_digest --seed 1 --seconds 10 --trace 0

Runs one workload closed-loop (one client, one job at a time) for
`--seconds`, checks the outputs after the clock, and prints one JSON
object as the last line of standard output: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.  Progress goes to
standard error.  Run from the root of a checkout that holds the
`tdigest_spark` package; without it the run exits with code 2 and prints
no result.

Extra options, used by `selftest.py`: `--size tiny` shrinks every input,
and `--corrupt digest|oracle` breaks a merged sketch or the exact oracle
before the checks, which must then report failures.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, STATE_DIR, emit, log  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("core_digest", "lang_quantiles", "host_sketches")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", choices=("digest", "oracle"), default=None)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tdigest_spark", "core.py")):
        log(f"run.py: no tdigest_spark package under {ROOT}; "
            "run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(STATE_DIR, exist_ok=True)
    args.trace_path = os.path.join(
        STATE_DIR, f"trace-{args.workload}-{args.seed}.json"
    )
    if args.workload == "core_digest":
        import w_core as mod
    else:
        import w_spark as mod
    ck, e2e, layer = mod.run(args)
    if args.trace:
        metrics = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    emit(ck.correct, max(ck.attempted, 1), ck.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
