"""Run context shared by the workloads: the work directory, the Spark
session, timed calls into the layers (with spans and job counts when
tracing), and the attempted/failed ledger."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

from measure import JobCounter, Tracer, peak_rss_mb

FAILED = object()


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_bytes(path: str, name_filter=None) -> int:
    """Bytes of the regular files under ``path`` (optionally only files
    somewhere below a directory named ``name_filter``)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        if name_filter and name_filter not in dirpath.split(os.sep):
            continue
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class WorkDir:
    """A private directory inside the checkout for everything a run
    writes (Spark local dirs, JVM and Python temp files, indexes), removed
    on exit together with the contract's ``.indexes`` memo if the run
    created it."""

    def __init__(self, root: str):
        self.path = os.path.join(root, ".perfbench_work", f"run{os.getpid()}")
        self._memo = os.path.join(root, ".indexes")
        self._memo_existed = os.path.exists(self._memo)

    def __enter__(self):
        os.makedirs(os.path.join(self.path, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        if not self._memo_existed:
            shutil.rmtree(self._memo, ignore_errors=True)
        return False

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)


def start_spark(root: str, work: WorkDir):
    """``local[<cores>]`` session whose Python workers import the package
    from ``root`` and whose scratch files stay in ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    cores = host_cores()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed heap size (-Xms = driver memory) instead of adaptive
        # growth keeps the JVM's resident peak from swinging between runs;
        # no perf-data file, which the JVM would write to /tmp
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -Xms2g -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work.sub('tmp')}")
        .config("spark.local.dir", work.sub("spark-local"))
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: force it
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """One benchmark run: timed calls, spans, job counts and the ledger of
    attempted and failed operations."""

    def __init__(self, spark, work: WorkDir, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = host_cores()
        self.tracer = Tracer(trace)
        self.jobs = JobCounter(spark.sparkContext, trace)
        self.attempted = 0
        self._failed: set[int] = set()
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.report: list[tuple[str, float, str, int | None]] = []
        self.jvm_pid = int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    # -- set-up
    def stage(self, stage_fn, reps: int = 3):
        """Generate and write the run's inputs ``reps`` times (``stage_fn``
        takes the repetition number). Returns the last staging and the
        median time of one."""
        times = []
        for rep in range(reps):
            t0 = time.perf_counter()
            staged = stage_fn(self, rep)
            times.append(time.perf_counter() - t0)
        return staged, statistics.median(times)

    # -- ledger
    @property
    def failed(self) -> int:
        return len(self._failed)

    def wrong(self, op_id: int, what: str) -> None:
        self._failed.add(op_id)
        if len(self.errors) < 20:
            self.errors.append(what)

    # -- timed call into a layer
    def call(self, name: str, fn, *args, spark_jobs: bool = True, **kwargs):
        """Run ``fn`` as one operation. Returns ``(op_id, result, seconds,
        jobs)``; ``result`` is ``FAILED`` when it raised. Calls that run no
        Spark job (``spark_jobs=False``: the coordinator-local readers)
        skip the job accounting."""
        self.attempted += 1
        op_id = self.attempted
        jobs_ctx = self.jobs.group(name) if spark_jobs else nullcontext({})
        with jobs_ctx as jobs, \
                self.tracer.span(name, op=op_id) as span:
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc(file=sys.stderr)
                self.wrong(op_id, f"{name}: {type(exc).__name__}: {exc}")
                out = FAILED
            dt = time.perf_counter() - t0
            if span is not None:
                span["timed_s"] = dt
        return op_id, out, dt, jobs

    def phase(self, name: str):
        """A harness span grouping the calls of one phase."""
        return self.tracer.span(f"harness.{name}", op=0)

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(["self", self.jvm_pid])

    # -- output
    def headline(self, name: str, value: float, unit: str,
                 n: int | None = None) -> None:
        """A workload-specific figure for the printed report."""
        self.report.append((name, value, unit, n))
