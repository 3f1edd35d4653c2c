"""The two Spark workloads over the cached page corpus.

- `lang_quantiles`: per-language digests of text length
  (`build_partials_grouped` -> `merge_partials` -> `quantiles_of`); its
  traced run also times the read path, `percentile_enrich`.
- `host_sketches`: per-site-family t-digest, `kll.kll_by` and
  `histogram_ops.histogram_by` over a smaller corpus of the same shape,
  in several files, so that every large family has several partials
  and each sketch's merge does real work.

Every iteration builds its DataFrames afresh (re-running a frame would
reuse its shuffle output) and releases the operators' cached blocks and
broadcasts afterwards.  The traced run materialises each rung of a ladder
on its own (scan, identity channel, build, merge, query, ...), because
Spark fuses scan, channel and build into one stage: a fused layer's self
time is the difference between neighbouring rungs.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import corpus
import spark_env
from checks import Checks, rank_distance
from common import Iterations, log, peak_rss_mb, reset_peak_rss
from metrics import Spans

DELTA = 100.0
KLL_K = 200
HIST_RANGE = (1.0, 1e5)
HIST_EPS = 0.1
#: Arrow batch rows (spark.sql.execution.arrow.maxRecordsPerBatch)
BATCH = 10_000
#: quantile probes per group: a dense grid, so a sketch's worst error is
#: found by the probes rather than missed between them
QS = sorted({*np.linspace(0.0, 1.0, 101).round(2).tolist(), 0.001, 0.999})
#: size -> (pages, files) of the lang_quantiles corpus
CORPUS = {"full": (120_000, 8), "tiny": (4_000, 4)}
#: size -> (pages, files) of the host_sketches corpus: its cost is per
#: group, so few pages keep an iteration at a few seconds, and several
#: files (one task each) give each family several partials to merge
HOST_CORPUS = {"full": (16_000, 4), "tiny": (2_000, 2)}


def compressed(d, sorted_vals: np.ndarray) -> bool:
    """True if the t-digest merged distinct values, i.e. holds fewer
    centroids than its group has distinct values.  Only such digests enter
    rank_err_*: one that keeps every distinct value as its own centroid is
    exact, and the many small groups of host_sketches would otherwise
    dilute the mean towards 0."""
    return len(d) < np.unique(sorted_vals).size


def _median(runs: list[dict], rung: str, key: str = "s") -> float:
    return statistics.median(r[rung][key] for r in runs)


def _canon(rows) -> list[tuple]:
    """Rows as comparable tuples: binary and array cells as bytes/tuples."""
    return sorted(
        tuple(bytes(c) if isinstance(c, (bytes, bytearray)) else
              tuple(c) if isinstance(c, list) else c for c in r)
        for r in rows
    )


class SparkWorkload:
    key = "lang"

    def __init__(self, spark, files: list[str]) -> None:
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.files = files
        self.status = spark_env.Status(spark)
        self.spans: Spans | None = None
        self.outputs: list = []
        self.layer: dict[str, float] = {}
        #: (group, partition id, partial digest bytes) of the last build
        self.partials: list[tuple] = []
        self.frames = corpus.read_values(files, self.key)
        self.pages = sum(len(f) for f in self.frames)
        self.exact = corpus.exact_by_group(self.frames, self.key)

    # ------------------------------------------------------------ helpers

    def frame(self):
        F = self.F
        df = self.spark.read.parquet(*self.files)
        key = (
            F.regexp_replace(F.split("url", "/").getItem(2), "-[0-9]+[.]", ".")
            if self.key == "host" else F.col("lang")
        )
        return df.select(key.alias(self.key), F.length("text").cast("double").alias("len"))

    def release(self) -> None:
        from tdigest_spark.operators.dedup import release_cached
        from tdigest_spark.operators.digest import release_broadcasts

        release_cached()
        release_broadcasts()

    def local_df(self, rows, schema: str):
        cols = [c.split()[0] for c in schema.split(", ")]
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    def digests_df(self, rows):
        return self.local_df(rows, f"{self.key} string, digest binary, n_rows long")

    def partials_df(self):
        from tdigest_spark.operators.digest import build_partials_grouped

        return build_partials_grouped(self.frame(), "len", by=[self.key], delta=DELTA)

    def build_merge(self):
        from tdigest_spark.operators.digest import merge_partials

        return merge_partials(self.partials_df(), by=[self.key])

    def query(self, rows):
        from tdigest_spark.operators.digest import quantiles_of

        return quantiles_of(self.digests_df(rows), QS, by=[self.key]).collect()

    # ---------------------------------------------------------- the ladder

    def rung(self, name: str, fn):
        """Run one rung of the ladder as its own span, its status-store
        counts attached to the span; returns (result, counts with the
        rung's wall time as "s")."""
        with self.spans.span(name):
            self.status.mark()
            res = fn()
            st = self.status.read()
        span = self.spans.records[-1]
        span["counts"] = {k: v for k, v in st.items() if k != "stages"}
        st["s"] = span["end"] - span["start"]
        return res, st

    def digest_rungs(self) -> dict:
        """Scan alone; scan plus an identity mapInArrow; the partial
        build; the merge of the checkpointed partials; quantiles of the
        merged digests."""
        runs: dict = {}
        _, runs["scan"] = self.rung("scan", lambda: spark_env.noop_sink(self.frame()))

        def identity(batches):  # nested: pickled by value for the workers
            yield from batches

        def channel():
            df = self.frame()
            spark_env.noop_sink(df.mapInArrow(identity, df.schema))

        _, runs["channel"] = self.rung("channel", channel)
        parts, runs["build"] = self.rung(
            "build", lambda: self.partials_df().localCheckpoint(eager=True))
        from tdigest_spark.operators.digest import merge_partials

        merged, runs["merge"] = self.rung(
            "merge", lambda: merge_partials(parts, by=[self.key]).localCheckpoint(eager=True))
        rows = [tuple(r) for r in merged.collect()]
        qrows, runs["query"] = self.rung("query", lambda: self.query(rows))
        runs["query_rows"] = len(qrows)
        self.partials = [(r[self.key], r["__td_salt"], bytes(r["digest"]))
                         for r in parts.collect()]
        runs["rows"] = rows
        return runs

    def record_digest_layers(self, runs: list[dict]) -> None:
        scan = _median(runs, "scan")
        chan = _median(runs, "channel") - scan
        build = _median(runs, "build") - _median(runs, "channel")
        # the build's self time, split: its core calls replayed in the
        # client, spread over the task slots the build ran on
        slots = max(1, min(runs[-1]["build"]["widest_tasks"], spark_env.cores()))
        core_s = self.replay_s / slots
        last = runs[-1]
        self.layer.update({
            "scan.s": scan,
            "scan.input_mb": last["scan"]["files_read_b"] / 1e6,
            "scan.tasks": float(last["scan"]["widest_tasks"]),
            "channel.s": chan,
            "channel.rows_per_s": self.pages / chan if chan > 0 else 0.0,
            "python.data_sent_mb": last["channel"]["python.data_sent_b"] / 1e6,
            "python.boot_s": last["channel"]["python.boot_s"],
            "python.total_s": last["channel"]["python.total_s"],
            "build.s": build,
            "build.core_s": core_s,
            "build.grouping_s": build - core_s,
            "build.partials": float(len(self.partials)),
            "build.task_skew": last["build"]["task_skew"],
            "merge.s": _median(runs, "merge"),
            "merge.groups": float(len(self.exact)),
            "merge.shuffle_mb": last["merge"]["shuffle_write_b"] / 1e6,
            "query.s": _median(runs, "query"),
            "query.rows": float(last["query_rows"]),
            "core.add_ns_per_sample": self.replay_s * 1e9 / self.pages,
        })

    # ------------------------------------------------- client-side replays

    def replay_build(self) -> list[tuple]:
        """Replay the build's core calls in the client over the same
        per-file values and Arrow batch boundaries.  Sets replay_s (time in
        the core) and returns the (group, digest bytes) it built."""
        from tdigest_spark.core import MergingDigest

        core_s = 0.0
        out = []
        for fr in self.frames:
            keys = fr[self.key].to_numpy()
            vals = fr["len"].to_numpy()
            ds: dict = {}
            for lo in range(0, len(fr), BATCH):
                sub = pd.Series(keys[lo:lo + BATCH])
                v = vals[lo:lo + BATCH]
                for g, idx in sub.groupby(sub, sort=False).indices.items():
                    t0 = time.perf_counter()
                    d = ds.get(g)
                    if d is None:
                        d = ds[g] = MergingDigest(DELTA)
                    d.add(v[idx])
                    core_s += time.perf_counter() - t0
            t0 = time.perf_counter()
            out.extend((g, d.to_bytes()) for g, d in ds.items())
            core_s += time.perf_counter() - t0
        self.replay_s = core_s
        return out

    def core_probe(self) -> None:
        """Time the core's own calls on this workload's digests in the
        client: serde, merge_all of each group's partials, scalar and
        batch queries; and the digests' sizes."""
        from tdigest_spark.core import MergingDigest, merge_all

        rows = self.outputs[-1][0]
        blobs = [bytes(r[1]) for r in rows]
        t0 = time.perf_counter()
        ds = [MergingDigest.from_bytes(b) for b in blobs]
        from_us = (time.perf_counter() - t0) * 1e6 / len(blobs)
        t0 = time.perf_counter()
        for d in ds:
            d.to_bytes()
        to_us = (time.perf_counter() - t0) * 1e6 / len(blobs)
        by_group: dict = {}
        for g, pid, b in sorted(self.partials):
            by_group.setdefault(g, []).append(MergingDigest.from_bytes(b))
        t0 = time.perf_counter()
        for parts in by_group.values():
            merge_all(parts)
        merge_ms = (time.perf_counter() - t0) * 1e3
        q_us, c_us = [], []
        probes = 0
        batch_s = 0.0
        for r, d in zip(rows, ds):
            for q in QS:
                t0 = time.perf_counter()
                d.quantile(q)
                q_us.append((time.perf_counter() - t0) * 1e6)
            ex = self.exact[r[0]]
            for x in ex[:: max(1, ex.size // 20)]:
                t0 = time.perf_counter()
                d.cdf(float(x))
                c_us.append((time.perf_counter() - t0) * 1e6)
            t0 = time.perf_counter()
            d.cdf_batch(ex)
            batch_s += time.perf_counter() - t0
            probes += ex.size
        self.layer.update({
            "core.from_bytes_us": from_us,
            "core.to_bytes_us": to_us,
            "core.merge_all_ms": merge_ms,
            "core.quantile_us": float(np.median(q_us)),
            "core.quantile_us_p99": float(np.percentile(q_us, 99)),
            "core.cdf_us": float(np.median(c_us)),
            "core.cdf_batch_ns_per_probe": batch_s * 1e9 / probes,
            "core.centroids": float(sum(len(d) for d in ds)),
            "core.digest_bytes": float(sum(len(b) for b in blobs)),
        })

    # -------------------------------------------------------------- checks

    def exact_for(self, corrupt) -> dict:
        if corrupt == "oracle":
            return {g: v + 1.0 for g, v in self.exact.items()}
        return self.exact

    def check_digests(self, ck: Checks, rows, qrows, corrupt) -> None:
        """Contract of every merged group digest, its row count, and the
        rank distance of every quantile estimate."""
        from tdigest_spark.core import MergingDigest

        exact = self.exact_for(corrupt)
        ck.check({r[0] for r in rows} == set(exact),
                 f"groups: {len(rows)} merged vs {len(exact)} exact")
        quantiles = {(r[0], r["q"]): r["quantile"] for r in qrows}
        for i, (g, blob, n_rows) in enumerate(sorted(rows)):
            ex = exact.get(g)
            if ex is None:
                continue
            d = MergingDigest.from_bytes(bytes(blob))
            if corrupt == "digest" and i == 0:
                d.add(np.array([ex[-1] + 1.0]))
            ck.digest(d, ex, f"{self.key}={g}")
            ck.check(n_rows == ex.size, f"{g}: n_rows {n_rows} != {ex.size}")
            est = np.array([quantiles[(g, q)] for q in QS])
            ck.check(est[0] == ex[0] and est[-1] == ex[-1],
                     f"{g}: quantiles_of q=0/1 are not the exact min/max")
            ck.check(bool(np.all(np.diff(est) >= 0)), f"{g}: quantiles_of decrease")
            if compressed(d, ex):
                ck.rank(rank_distance(ex, est, QS))

    def check_partials(self, ck: Checks, rows) -> None:
        """The distributed merge equals core.merge_all of the same
        partials, in partition order.  Untraced runs build the partials
        once more for this, after the clock."""
        from tdigest_spark.core import MergingDigest, merge_all

        if not self.partials:
            self.partials = [(r[self.key], r["__td_salt"], bytes(r["digest"]))
                             for r in self.partials_df().collect()]
            self.release()
        merged = {r[0]: bytes(r[1]) for r in rows}
        by_group: dict = {}
        for g, pid, b in sorted(self.partials):
            by_group.setdefault(g, []).append(MergingDigest.from_bytes(b))
        for g, parts in by_group.items():
            ck.check(merge_all(parts).to_bytes() == merged.get(g),
                     f"{g}: merge_partials != core.merge_all of its partials")

    def check_replay(self, ck: Checks, replayed: list[tuple]) -> None:
        """The client replay built exactly the partials Spark built, so
        build.core_s times the same core calls."""
        ck.check(sorted(replayed) == sorted((g, b) for g, _, b in self.partials),
                 "client replay of the build differs from Spark's partials")


# ------------------------------------------------------------ lang_quantiles


class LangQuantiles(SparkWorkload):
    """Timed: build -> merge -> quantiles.  The traced run adds the read
    path as one more rung: `percentile_enrich` of every page against the
    digests just built, into a count sink."""

    #: the digest rows the traced run enriched against; empty untraced
    enrich_rows: tuple = ()

    def enriched(self, rows):
        from tdigest_spark.operators.digest import percentile_enrich

        frozen = self.local_df([(r[0], r[1]) for r in rows], "lang string, digest binary")
        return percentile_enrich(self.frame(), "len", by=["lang"], digests=frozen)

    def iteration(self) -> int:
        rows = [tuple(r) for r in self.build_merge().collect()]
        qrows = self.query(rows)
        self.release()
        self.outputs.append((rows, qrows))
        return self.pages

    def traced_iteration(self) -> dict:
        self.spans.iteration += 1
        with self.spans.span("iteration"):
            runs = self.digest_rungs()
            _, runs["enrich"] = self.rung(
                "enrich", lambda: self.enriched(runs["rows"]).count())
        self.release()
        self.enrich_rows = runs["rows"]
        return runs

    def check(self, ck: Checks, corrupt) -> None:
        first = _canon(self.outputs[0][0])
        for rows, _ in self.outputs:
            ck.check(_canon(rows) == first, "merged bytes differ across iterations")
        rows, qrows = self.outputs[-1]
        self.check_digests(ck, rows, qrows, corrupt)
        self.check_partials(ck, rows)
        if self.enrich_rows:
            self.check_enrich(ck, self.enrich_rows, corrupt)

    def check_enrich(self, ck: Checks, rows, corrupt) -> None:
        """Every page's percentile, against the exact ranks and against
        the core's own cdf_batch on the same digest."""
        from tdigest_spark.core import MergingDigest

        out = self.enriched(rows).toPandas()
        self.release()
        p = out["percentile"].to_numpy(dtype=np.float64, na_value=np.nan)
        ck.check(len(out) == self.pages, "enriched row count")
        ck.check(bool(np.all((p >= 0) & (p <= 1))), "percentile outside [0, 1] or NULL")
        exact = self.exact_for(corrupt)
        digests = {r[0]: MergingDigest.from_bytes(bytes(r[1])) for r in rows}
        for g, idx in out.groupby("lang").indices.items():
            x = out["len"].to_numpy()[idx]
            want = digests[g].cdf_batch(x)
            if corrupt == "digest":
                want = want * 0.5
                corrupt = None
            ck.check(np.array_equal(p[idx], want),
                     f"{g}: enriched percentile != core cdf_batch")
            if compressed(digests[g], exact[g]):
                ck.rank(rank_distance(exact[g], x, p[idx]))

    def per_layer(self, runs: list[dict]) -> None:
        self.record_digest_layers(runs)
        self.layer.update({
            "enrich.s": _median(runs, "enrich") - _median(runs, "channel"),
            "enrich.broadcast_kb": sum(len(r[1]) for r in self.enrich_rows) / 1e3,
        })


# ------------------------------------------------------------- host_sketches


class HostSketches(SparkWorkload):
    key = "host"

    def kll(self):
        from tdigest_spark.kll import kll_by

        return kll_by(self.frame(), "len", by=["host"], k=KLL_K)

    def hist(self):
        from tdigest_spark.operators.histogram_ops import histogram_by

        return histogram_by(self.frame(), "len", *HIST_RANGE, by=["host"], epsilon=HIST_EPS)

    def iteration(self) -> int:
        rows = [tuple(r) for r in self.build_merge().collect()]
        qrows = self.query(rows)
        krows = self.kll().collect()
        hrows = self.hist().collect()
        self.release()
        self.outputs.append((rows, qrows, krows, hrows))
        return self.pages

    def traced_iteration(self) -> dict:
        self.spans.iteration += 1
        with self.spans.span("iteration"):
            runs = self.digest_rungs()
            _, runs["kll"] = self.rung("kll", lambda: self.kll().collect())
            _, runs["hist"] = self.rung("hist", lambda: self.hist().collect())
        self.release()
        return runs

    def check(self, ck: Checks, corrupt) -> None:
        from tdigest_spark.histogram import LogHistogram
        from tdigest_spark.kll import KLL

        first = [_canon(x) for x in self.outputs[0][::2]]
        for out in self.outputs:
            ck.check([_canon(x) for x in out[::2]] == first,
                     "digest, kll or histogram rows differ across iterations")
            ck.check(_canon(out[3]) == _canon(self.outputs[0][3]),
                     "histogram rows differ across iterations")
        rows, qrows, krows, hrows = self.outputs[-1]
        self.check_digests(ck, rows, qrows, corrupt)
        self.check_partials(ck, rows)
        exact = self.exact_for(corrupt)
        kll_ok = len(krows) == len(exact)
        for r in krows:
            sk = KLL.from_bytes(bytes(r["kll"]))
            ex = exact[r["host"]]
            kll_ok &= sk.stored_weight == ex.size == r["n_rows"]
            est = np.array([sk.quantile(q) for q in QS])
            kll_ok &= bool(np.all(np.diff(est) >= 0))
            if len(sk) < ex.size:  # only sketches that compacted
                ck.rank(rank_distance(ex, est, QS), kind="kll")
        ck.check(kll_ok, "kll weights, counts or monotone quantiles")
        # the exact histogram of every group, from the core's LogHistogram
        h = LogHistogram(*HIST_RANGE, epsilon=HIST_EPS)
        hist_ok = len(hrows) == len(exact)
        for r in hrows:
            ex = exact[r["host"]]
            want = np.bincount(h.bucket(ex), minlength=h.counts.size)
            hist_ok &= np.array_equal(np.asarray(r["counts"]), want)
            hist_ok &= r["n_rows"] == ex.size
        ck.check(hist_ok, "histogram counts differ from the exact histogram")

    def per_layer(self, runs: list[dict]) -> None:
        self.record_digest_layers(runs)
        self.layer.update({
            # kll_by runs as one job: its first stage builds, the rest merge
            "kll.build_s": statistics.median(r["kll"]["stages"][0]["wall_s"] for r in runs),
            "kll.merge_s": statistics.median(
                sum(s["wall_s"] for s in r["kll"]["stages"][1:]) for r in runs),
            "kll.partial_mb": runs[-1]["kll"]["shuffle_write_b"] / 1e6,
            "hist.s": _median(runs, "hist"),
            "hist.partial_mb": runs[-1]["hist"]["shuffle_write_b"] / 1e6,
        })


WORKLOADS = {"lang_quantiles": LangQuantiles, "host_sketches": HostSketches}


def run(args):
    # the session first, so that setup_s includes the package import
    spark, setup = spark_env.start(spark_env.cores())
    ck = Checks()
    try:
        sizes = HOST_CORPUS if args.workload == "host_sketches" else CORPUS
        pages, n_files = sizes[args.size]
        path, corpus_s = corpus.ensure_corpus(args.seed, pages, n_files)
        files = corpus.corpus_files(path)
        corpus.prewarm(files)
        w = WORKLOADS[args.workload](spark, files)
        # warm-up: codegen, JIT and worker imports.  After one warm-up
        # iteration the first timed one was still 10-35% slower than the
        # rest; after two, at most about 15%, which the median absorbs
        for _ in range(2):
            w.iteration()
        w.outputs.clear()
        ref = spark_env.reference_job(spark, spark_env.cores())
        # sketch bytes that leave the build: the shuffle of each untraced
        # iteration, read from the status store outside its timing
        shuffle_b: list[int] = []

        def read_shuffle():
            shuffle_b.append(w.status.read()["shuffle_write_b"])

        def settle():
            spark_env.settle(spark)

        reset_peak_rss(workers=True)
        it = Iterations(ref, spark_env.REF_NOMINAL_MS, settle)
        if args.trace:
            it.run(w.iteration, args.seconds / 3, min_iters=2,
                   before=w.status.mark, after=read_shuffle)
            w.spans = Spans()
            runs: list[dict] = []
            traced = Iterations(ref, spark_env.REF_NOMINAL_MS, settle)

            def traced_iteration():
                runs.append(w.traced_iteration())
                return w.pages

            traced.run(traced_iteration, args.seconds * 2 / 3, min_iters=2)
            w.check_replay(ck, w.replay_build())
            w.per_layer(runs)
            w.core_probe()
            w.layer["trace.overhead_frac"] = traced.median_wall() / it.median_wall() - 1.0
            w.spans.write(args.trace_path)
        else:
            it.run(w.iteration, args.seconds, before=w.status.mark, after=read_shuffle)
            log(f"{args.workload}: {it.summary()}")
        peak_rss = peak_rss_mb(workers=True)
        partial_mb = statistics.median(shuffle_b) / 1e6
        w.check(ck, args.corrupt)
    finally:
        spark_env.shutdown(spark)
    err_max, err_rms = ck.rank_err()
    e2e = {
        "rows_per_s": it.rows_per_s(),
        "rank_err_max": err_max,
        "rank_err_rms": err_rms,
        "partial_mb": partial_mb,
        "peak_rss_mb": peak_rss,
        "setup_s": it.rescale_s(setup["setup_s"]),
    }
    layer = w.layer
    layer.update({k: v for k, v in setup.items() if k != "setup_s"})
    layer["setup.corpus_s"] = corpus_s
    layer["kll.rank_err_max"] = ck.rank_err("kll")[0]
    layer["host.ref_ms"] = it.median_ref_ms()
    return ck, e2e, layer
