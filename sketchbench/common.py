"""Shared plumbing: thread pinning, the reference kernel, iteration timing,
peak RSS and the result line.

Import this module before NumPy anywhere in the benchmark: it pins the
native thread pools to one thread, so a timing never depends on how many
BLAS/OpenMP/Arrow threads happened to spin up.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

for _var in (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
):
    os.environ[_var] = "1"

import numpy as np  # noqa: E402  (after the thread pinning above)

#: checkout root (the parent of this directory); the program is imported
#: from here and every file the benchmark writes lives under STATE_DIR
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".sketchbench")

#: nominal reference-kernel time.  Throughputs are rescaled to a host on
#: which the kernel takes exactly this long (see Iterations.rows_per_s).
REF_NOMINAL_MS = 15.0

_REF_DATA = np.random.default_rng(0x5EED).random(200_000)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def ref_kernel_ms() -> float:
    """A fixed ~15 ms probe of host speed: one NumPy sort plus a pure
    Python loop, the two kinds of work every workload does.  Run next to
    each timed iteration, it tracks the slow and fast windows of a shared
    host that last longer than one iteration."""
    t0 = time.perf_counter()
    np.sort(_REF_DATA)
    s = 0
    for i in range(150_000):
        s += i & 7
    return (time.perf_counter() - t0) * 1e3


class Iterations:
    """Closed-loop timing: run `fn` back to back for `seconds` (at least
    `min_iters` times), with a reference probe of host speed, `ref` (ms),
    run before the first iteration and after every iteration.  `settle`,
    if given, runs untimed before each probe, so that work an iteration
    leaves behind (garbage collection, asynchronous clean-up) has ended
    before the probe starts and cannot slow it."""

    def __init__(self, ref=ref_kernel_ms, nominal_ms: float = REF_NOMINAL_MS,
                 settle=None) -> None:
        self.ref = ref
        self.nominal_ms = nominal_ms
        self.settle = settle
        self.rows: list[int] = []
        self.wall: list[float] = []
        self.ref_ms: list[float] = [self.probe()]

    def probe(self) -> float:
        if self.settle is not None:
            self.settle()
        return self.ref()

    def run(self, fn, seconds: float, min_iters: int = 3, before=None, after=None) -> None:
        """`before` and `after`, if given, run untimed around each
        iteration, e.g. to read what it left in a status store."""
        start = time.perf_counter()
        n = 0
        while True:
            if before is not None:
                before()
            t0 = time.perf_counter()
            rows = fn()
            self.wall.append(time.perf_counter() - t0)
            if after is not None:
                after()
            self.rows.append(int(rows))
            self.ref_ms.append(self.probe())
            n += 1
            if n >= min_iters and time.perf_counter() - start >= seconds:
                return

    def rows_per_s(self) -> float:
        """Median throughput of the iterations, rescaled to a host whose
        reference probe takes the nominal time: median(rows / wall) *
        median(ref) / nominal.  The probe slows down with the host, so
        slow windows that outlast a whole run cancel out."""
        return self.raw_rows_per_s() * self.median_ref_ms() / self.nominal_ms

    def rescale_s(self, seconds: float) -> float:
        """A time measured in this run (the Spark cold start), rescaled
        like rows_per_s to a host whose probe takes the nominal time:
        seconds * nominal / median(ref).  A cold start is mostly JIT and
        class loading, and swung 13 to 20 s with the host's load."""
        return seconds * self.nominal_ms / self.median_ref_ms()

    def raw_rows_per_s(self) -> float:
        """Median throughput of the iterations, not rescaled."""
        return statistics.median(r / w for r, w in zip(self.rows, self.wall))

    def summary(self) -> str:
        """One log line: walls, probes, and the raw and rescaled figures,
        so that a comparison of two runs can tell whether the probe moved
        with the program."""
        return (f"{len(self.wall)} iterations, walls {[round(x, 3) for x in self.wall]}, "
                f"probe ms {[round(x, 2) for x in self.ref_ms]}; raw rows/s "
                f"{self.raw_rows_per_s():.6g}, probe median {self.median_ref_ms():.5g} ms, "
                f"rescaled rows/s {self.rows_per_s():.6g}")

    def median_wall(self) -> float:
        return statistics.median(self.wall)

    def median_ref_ms(self) -> float:
        return statistics.median(self.ref_ms)


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _peak_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(workers: bool) -> None:
    """Restart the peak-RSS count of this process (or of its Spark Python
    workers) here, so the peak covers the timed work, not set-up."""
    pids = [p for p in _descendants() if _is_python_worker(p)] if workers else ["self"]
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(workers: bool) -> float:
    """Peak RSS (VmHWM) since reset_peak_rss: of this process, or of the
    largest Spark Python worker descended from it (0 if none is alive)."""
    if not workers:
        return _peak_kb("self") / 1024.0
    return max((_peak_kb(p) for p in _descendants() if _is_python_worker(p)),
               default=0) / 1024.0


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result line: the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
