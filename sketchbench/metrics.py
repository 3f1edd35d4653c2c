"""Every metric the benchmark prints, with its unit.

`BENCHMARK.json` lists the same names and units; the self-test checks
that both modes print exactly these.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: untraced runs (--trace 0)
END_TO_END = {
    "rows_per_s": "1/s",
    "rank_err_max": "fraction",
    "rank_err_rms": "fraction",
    "partial_mb": "MB",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: traced runs (--trace 1); a layer a workload does not run reads 0
PER_LAYER = {
    "scan.s": "s",
    "scan.input_mb": "MB",
    "scan.tasks": "count",
    "channel.s": "s",
    "channel.rows_per_s": "1/s",
    "python.data_sent_mb": "MB",
    "python.boot_s": "s",
    "python.total_s": "s",
    "build.s": "s",
    "build.core_s": "s",
    "build.grouping_s": "s",
    "build.partials": "count",
    "build.task_skew": "ratio",
    "merge.s": "s",
    "merge.groups": "count",
    "merge.shuffle_mb": "MB",
    "query.s": "s",
    "query.rows": "count",
    "enrich.s": "s",
    "enrich.broadcast_kb": "KB",
    "kll.build_s": "s",
    "kll.merge_s": "s",
    "kll.partial_mb": "MB",
    "kll.rank_err_max": "fraction",
    "hist.s": "s",
    "hist.partial_mb": "MB",
    "core.add_ns_per_sample": "ns",
    "core.to_bytes_us": "us",
    "core.from_bytes_us": "us",
    "core.merge_all_ms": "ms",
    "core.quantile_us": "us",
    "core.quantile_us_p99": "us",
    "core.cdf_us": "us",
    "core.cdf_batch_ns_per_probe": "ns",
    "core.centroids": "count",
    "core.digest_bytes": "bytes",
    "setup.spark_s": "s",
    "setup.first_udf_s": "s",
    "setup.corpus_s": "s",
    "host.ref_ms": "ms",
    "trace.overhead_frac": "fraction",
}


class Spans:
    """In-memory spans: name, start, end, parent and iteration.  Written
    out once, when the run ends."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.iteration = 0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.records.append(
                {"name": name, "start": t0, "end": t1, "parent": parent,
                 "iteration": self.iteration}
            )

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)
