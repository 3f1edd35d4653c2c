"""Self-test of the benchmark at tiny size (about ten minutes on 4 cores).

    python3 sketchbench/selftest.py [workload ...]

For every workload it checks that:
- the untraced and the traced run print exactly the metric names and
  units that `BENCHMARK.json` lists, with every check passing, on two
  seeds;
- a corrupted digest and a corrupted oracle each make the run report
  failed checks, which proves the checks are live.

It also checks that the benchmark refuses to run, printing no result, in
a directory holding only `BENCHMARK.json` and the benchmark itself.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, STATE_DIR  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402

RUN = os.path.join(HERE, "run.py")


def run(cwd: str, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "sketchbench", "run.py"),
         "--seconds", "1", "--size", "tiny", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    expect(declared[0] == END_TO_END, "BENCHMARK.json end_to_end == metrics.END_TO_END")
    expect(declared[1] == PER_LAYER, "BENCHMARK.json per_layer == metrics.PER_LAYER")
    expect({w["name"] for w in bench["workloads"]} == set(WORKLOADS),
           "BENCHMARK.json workloads == run.WORKLOADS")

    for w in sys.argv[1:] or WORKLOADS:
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            code, res = run(ROOT, "--workload", w, "--seed", str(seed), "--trace", str(trace))
            expect(code == 0 and res is not None, f"{w} seed={seed} trace={trace}: result line")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == declared[trace], f"{w} trace={trace}: metric names and units")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} seed={seed} trace={trace}: every check passes "
                   f"({res['attempted']} attempted)")
        for corrupt in ("digest", "oracle"):
            code, res = run(ROOT, "--workload", w, "--seed", "1", "--trace", "0",
                            "--corrupt", corrupt)
            expect(code == 0 and res is not None and not res["correct"] and res["failed"] > 0,
                   f"{w}: a corrupted {corrupt} is reported "
                   f"({res and res['failed']} failed)")

    bare = os.path.join(STATE_DIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "sketchbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res = run(bare, "--workload", WORKLOADS[0], "--seed", "1", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the program: non-zero exit, no result")


if __name__ == "__main__":
    main()
