"""Workload `core_digest`: the NumPy core alone, no Spark, one thread.

One iteration feeds a seeded mix of values into many partial digests in
10k batches, serializes every partial, deserializes and merges them with
`core.merge_all`, then answers scalar `quantile`/`cdf` probes and one
`cdf_batch`.  `core` and `scale` do all the work.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time
from statistics import NormalDist

import numpy as np

from checks import Checks, rank_distance
from common import ROOT, Iterations, log, peak_rss_mb, reset_peak_rss
from metrics import Spans

DELTA = 100.0
BATCH = 10_000
#: (partials, values per partial, cdf_batch probes)
SIZES = {"full": (16, 125_000, 100_000), "tiny": (4, 5_000, 2_000)}
QS = np.unique(np.concatenate([np.linspace(0.0, 1.0, 201), [1e-4, 1e-3, 0.999, 0.9999]]))


def make_values(seed: int, n: int) -> np.ndarray:
    """One third lognormal page lengths (whole characters, so repeats), one
    third heavy ties on the integers 0..99, one third log-uniform over
    1e-6..1e12; interleaved by a seeded shuffle.

    Each third is a stratified sample (one uniform draw per equal-width
    stratum, through the inverse CDF), so seeds differ in the values and
    their order but not in how well they cover each distribution: less
    of the run-to-run spread of rank_err_* is sampling luck."""
    rng = np.random.default_rng([seed, 1])
    k = n // 3

    def strata(m: int) -> np.ndarray:
        return (np.arange(m) + rng.random(m)) / m

    normal = NormalDist(6.6, 0.9)
    lengths = np.clip(np.floor(np.exp([normal.inv_cdf(u) for u in strata(k)])), 80, 60_000)
    ties = np.floor(100.0 * strata(k))
    wide = 10.0 ** (-6.0 + 18.0 * strata(n - 2 * k))
    vals = np.concatenate([lengths, ties, wide])
    rng.shuffle(vals)
    return vals


#: the reference import that rescales set-up: NumPy and pandas, which the
#: package's import pays too but no change to the program can move, and
#: its nominal time (about its median on a 4-core host)
REF_IMPORT = "import numpy, pandas"
REF_IMPORT_NOMINAL_S = 0.7


def _import_s(stmt: str) -> float:
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-c", stmt], cwd=ROOT, check=True)
    return time.perf_counter() - t0


def import_setup_s(repeats: int = 5) -> tuple[float, float]:
    """Import of the core in a fresh interpreter, `repeats` times, each
    paired with the reference import run right after it.  Returns (the
    median of core / reference x the reference's nominal time, the median
    raw core import).  The pair shares the host's state, so host load,
    which moved the raw median by up to 30% between sets of runs,
    cancels."""
    ratios, raw = [], []
    for _ in range(repeats):
        core = _import_s("import tdigest_spark.core")
        ratios.append(core / _import_s(REF_IMPORT))
        raw.append(core)
    return statistics.median(ratios) * REF_IMPORT_NOMINAL_S, statistics.median(raw)


class CoreDigest:
    def __init__(self, args) -> None:
        from tdigest_spark.core import MergingDigest, merge_all

        self.MergingDigest = MergingDigest
        self.merge_all = merge_all
        self.parts, self.per_part, n_probe = SIZES[args.size]
        self.vals = make_values(args.seed, self.parts * self.per_part)
        rng = np.random.default_rng([args.seed, 2])
        self.xs = rng.choice(self.vals, 200)
        self.probes = rng.choice(self.vals, n_probe)
        self.spans: Spans | None = None
        #: merged bytes of every iteration; all outputs of the last one
        self.merged_bytes: list[bytes] = []
        self.last: tuple = ()

    def _span(self, name: str):
        from contextlib import nullcontext

        return self.spans.span(name) if self.spans else nullcontext()

    def iteration(self) -> int:
        md, m = self.MergingDigest, self.per_part
        with self._span("add"):
            digests = []
            for p in range(self.parts):
                d = md(DELTA)
                chunk = self.vals[p * m:(p + 1) * m]
                for lo in range(0, m, BATCH):
                    d.add(chunk[lo:lo + BATCH])
                digests.append(d)
        with self._span("to_bytes"):
            blobs = [d.to_bytes() for d in digests]
        with self._span("from_bytes"):
            back = [md.from_bytes(b) for b in blobs]
        with self._span("merge_all"):
            merged = self.merge_all(back)
            merged_bytes = merged.to_bytes()
        qv = []
        for q in QS:
            with self._span("quantile"):
                qv.append(merged.quantile(float(q)))
        cv = []
        for x in self.xs:
            with self._span("cdf"):
                cv.append(merged.cdf(float(x)))
        with self._span("cdf_batch"):
            cb = merged.cdf_batch(self.probes)
        self.merged_bytes.append(merged_bytes)
        self.last = (blobs, merged, qv, cv, cb)
        return self.vals.size

    def check(self, corrupt: str | None) -> Checks:
        ck = Checks()
        exact = np.sort(self.vals)
        if corrupt == "oracle":
            exact = np.sort(exact + 1.0)
        m = self.per_part
        for b in self.merged_bytes:
            ck.check(b == self.merged_bytes[0], "merged bytes differ across iterations")
        blobs, merged, qv, cv, cb = self.last
        if corrupt == "digest":
            merged = self.MergingDigest.from_bytes(self.merged_bytes[-1])
            merged.add(np.full(50, exact[-1] * 2.0))
        # every partial is an output too: its contract and rank error
        # against its own slice
        for p, b in enumerate(blobs):
            part = self.MergingDigest.from_bytes(b)
            sl = np.sort(self.vals[p * m:(p + 1) * m])
            if corrupt == "oracle":
                sl = sl + 1.0
            ck.digest(part, sl, f"partial {p}")
            ck.rank(rank_distance(sl, part.quantiles(QS), QS),
                    rank_distance(sl, sl[::10], part.cdf_batch(sl[::10])))
        ck.digest(merged, exact, "merged")
        ck.rank(rank_distance(exact, qv, QS), rank_distance(exact, self.xs, cv),
                rank_distance(exact, self.probes, cb))
        return ck


def run(args):
    setup_s, raw_s = import_setup_s(5 if args.size == "full" else 2)
    log(f"setup: median import {raw_s:.3f}s raw, {setup_s:.3f}s rescaled")
    w = CoreDigest(args)
    w.iteration()  # warm-up: caches, lazy imports, scratch buffers
    w.merged_bytes.clear()
    reset_peak_rss(workers=False)
    it = Iterations()
    layer: dict[str, float] = {}
    if args.trace:
        # untraced then traced iterations: the difference is the overhead
        it.run(w.iteration, args.seconds / 2)
        traced = Iterations()
        w.spans = Spans()

        def traced_iteration():
            w.spans.iteration += 1
            return w.iteration()

        traced.run(traced_iteration, args.seconds / 2)
        sp = w.spans
        per_iter = len(traced.wall)
        n_parts = w.parts * per_iter
        q_us = np.array(sp.durations("quantile")) * 1e6
        merged, merged_bytes = w.last[1], w.merged_bytes[-1]
        layer.update({
            "core.add_ns_per_sample": sum(sp.durations("add")) * 1e9 / (w.vals.size * per_iter),
            "core.to_bytes_us": sum(sp.durations("to_bytes")) * 1e6 / n_parts,
            "core.from_bytes_us": sum(sp.durations("from_bytes")) * 1e6 / n_parts,
            "core.merge_all_ms": statistics.median(sp.durations("merge_all")) * 1e3,
            "core.quantile_us": float(np.median(q_us)),
            "core.quantile_us_p99": float(np.percentile(q_us, 99)),
            "core.cdf_us": float(np.median(sp.durations("cdf"))) * 1e6,
            "core.cdf_batch_ns_per_probe": statistics.median(sp.durations("cdf_batch")) * 1e9 / w.probes.size,
            "core.centroids": float(len(merged)),
            "core.digest_bytes": float(len(merged_bytes)),
            "trace.overhead_frac": traced.median_wall() / it.median_wall() - 1.0,
            "host.ref_ms": statistics.median(it.ref_ms + traced.ref_ms),
        })
        sp.write(args.trace_path)
    else:
        it.run(w.iteration, args.seconds)
        log(f"core_digest: {it.summary()}")
    peak_rss = peak_rss_mb(workers=False)
    ck = w.check(args.corrupt)
    partial_mb = sum(len(b) for b in w.last[0]) / 1e6
    err_max, err_rms = ck.rank_err()
    e2e = {
        "rows_per_s": it.rows_per_s(),
        "rank_err_max": err_max,
        "rank_err_rms": err_rms,
        "partial_mb": partial_mb,
        "peak_rss_mb": peak_rss,
        "setup_s": setup_s,
    }
    layer.setdefault("host.ref_ms", it.median_ref_ms())
    return ck, e2e, layer
