"""Spark session for the benchmark, its set-up timing, and a reader of
Spark's status stores (stages, tasks and per-operator SQL metrics).

The session is configured for steady timings: local[N] with N <= nproc,
a fixed 2 GB JVM heap with G1, one task per corpus file, no UI, and
every scratch file under the checkout.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

import pandas as pd

from common import STATE_DIR, log

#: bytes per file split and per opened file: far above any corpus file,
#: so every file is exactly one task and no two files share one
_SPLIT_BYTES = str(1 << 30)


def _session_conf(tmp: str) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-XX:+UseG1GC -Xms2g -Djava.io.tmpdir={tmp}",
        "spark.sql.files.maxPartitionBytes": _SPLIT_BYTES,
        "spark.sql.files.openCostInBytes": _SPLIT_BYTES,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(STATE_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(STATE_DIR, "warehouse"),
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
    }
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        conf[f"spark.executorEnv.{var}"] = "1"
    return conf


def _first_udf_job(spark, cores: int) -> None:
    """One pandas-UDF job across every core: forks the Python workers and
    imports the core in each of them."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def first(v: pd.Series) -> pd.Series:
        from tdigest_spark.core import MergingDigest

        d = MergingDigest(100)
        d.add(v.to_numpy(dtype="float64"))
        return pd.Series([d.quantile(0.5)] * len(v))

    spark.range(cores * 100).repartition(cores).select(
        F.sum(first(F.col("id").cast("double")))
    ).collect()


def _launch(cores: int, tmp: str):
    """One cold start: launch a JVM, start the session in it and run the
    first pandas-UDF job.  Returns (spark, session s, first job s)."""
    from tdigest_spark.plans import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{cores}]", app_name="sketchbench",
        shuffle_partitions=cores, extra_conf=_session_conf(tmp),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _first_udf_job(spark, cores)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop the session and the JVM under it (and with it the Python
    workers it forked), and wait until the JVM has exited, so that the
    next session starts cold."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def start(cores: int):
    """Cold-start the session the workload runs on: import the package,
    launch the JVM, start the session and run the first pandas-UDF job.

    Returns (spark, setup) where setup holds setup_s (the whole cold
    start), setup.spark_s (JVM launch and session start) and
    setup.first_udf_s (the first job)."""
    tmp = os.path.join(STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE_DIR, "spark-local")
    t0 = time.perf_counter()
    import pyspark  # noqa: F401
    from tdigest_spark.operators import digest, histogram_ops  # noqa: F401
    from tdigest_spark import kll  # noqa: F401

    import_s = time.perf_counter() - t0
    spark, spark_s, udf_s = _launch(cores, tmp)
    log(f"setup: import {import_s:.2f}s, cold session {spark_s:.2f}s, first udf {udf_s:.2f}s")
    return spark, {
        "setup_s": import_s + spark_s + udf_s,
        "setup.spark_s": spark_s,
        "setup.first_udf_s": udf_s,
    }


def settle(spark, pause_s: float = 0.2) -> None:
    """Let an iteration's aftermath end before the reference job: collect
    Python garbage (releasing the JVM objects it holds), run a full JVM
    GC (which hands unreferenced shuffles, broadcasts and cached blocks to
    Spark's cleaner), then pause while the cleaner works."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(pause_s)


#: nominal time of the reference job on 4 cores (see reference_job)
REF_NOMINAL_MS = 250.0


def reference_job(spark, cores: int):
    """A fixed JVM-only job (no Python, no program code) to run next to each
    timed iteration: it slows down with whatever slows the JVM and the
    cores, and a change to the program cannot move it.  Returns a
    callable timing one run in ms, run four times first for the JIT (after
    two, the next run was still the slowest of a run's probes)."""
    def run_ms() -> float:
        t0 = time.perf_counter()
        spark.range(0, 10_000_000, 1, cores).selectExpr(
            "sum(crc32(cast(id as string)))").collect()
        return (time.perf_counter() - t0) * 1e3

    for _ in range(4):
        run_ms()
    return run_ms


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


# ------------------------------------------------------------ status stores

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric: bytes for sizes, seconds for
    timings.  Formats: '12.3 MiB' or 'total (min, med, max ...)\\n12.3 MiB
    (...)'."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.split()
    try:
        return float(parts[0].replace(",", "")) * _UNITS.get(parts[1], 1.0)
    except (IndexError, ValueError):
        return 0.0


class Status:
    """Reads what Spark recorded for the jobs run since `mark()`.  Jobs run
    one at a time, so every stage and SQL execution newer than the mark
    belongs to the work in between."""

    PY_METRICS = {
        "data sent to Python workers": "python.data_sent_b",
        "time to start Python workers": "python.boot_s",
        "time to initialize Python workers": "python.boot_s",
        "time to run Python workers": "python.total_s",
        "size of files read": "files_read_b",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_mark = -1
        self._exec_mark = -1

    def _stages(self):
        empty = self._jvm.java.util.Collections.emptyList()
        dbl0 = self._gw.new_array(self._jvm.double, 0)
        seq = self.store.stageList(empty, False, False, dbl0, empty)
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        seq = self.sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._stage_mark = max((s.stageId() for s in self._stages()), default=-1)
        self._exec_mark = max(
            (e.executionId() for e in self._executions()), default=-1
        )

    def read(self) -> dict:
        """Totals over completed stages and SQL executions since the mark:
        tasks, input/shuffle/spill bytes, the max/median task time of the
        stage with the most tasks, and the scan and Python worker SQL
        metrics."""
        out = {"tasks": 0, "input_b": 0, "shuffle_write_b": 0,
               "shuffle_read_b": 0, "spill_b": 0, "task_skew": 0.0,
               "widest_tasks": 0, "stages": []}
        widest = None
        for s in sorted(self._stages(), key=lambda s: s.stageId()):
            if s.stageId() <= self._stage_mark or str(s.status()) != "COMPLETE":
                continue
            out["tasks"] += s.numTasks()
            out["input_b"] += s.inputBytes()
            out["shuffle_write_b"] += s.shuffleWriteBytes()
            out["shuffle_read_b"] += s.shuffleReadBytes()
            out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            wall = (
                (done.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and done.isDefined() else 0.0
            )
            out["stages"].append({"id": s.stageId(), "tasks": s.numTasks(),
                                  "wall_s": wall,
                                  "shuffle_write_b": s.shuffleWriteBytes()})
            if widest is None or s.numTasks() >= widest.numTasks():
                widest = s
        if widest is not None:
            out["widest_tasks"] = widest.numTasks()
            tl = self.store.taskList(widest.stageId(), widest.attemptId(), 100000)
            durs = sorted(
                tl.apply(i).duration().get()
                for i in range(tl.size()) if tl.apply(i).duration().isDefined()
            )
            if durs:
                out["task_skew"] = durs[-1] / max(statistics.median(durs), 1e-9)
        for key in self.PY_METRICS.values():
            out[key] = 0.0
        for e in self._executions():
            if e.executionId() <= self._exec_mark:
                continue
            values = self.sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                key = self.PY_METRICS.get(m.name())
                if key is None or not values.contains(m.accumulatorId()):
                    continue
                out[key] += _metric_total(values.apply(m.accumulatorId()))
        return out


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()
