"""Session, timing, environment and tracing plumbing shared by the
benchmark's workloads.

The tracer is outside-in: a span is a Spark job group set around one
public call made from the benchmark's own code.  Job and stage figures
are read after the span has closed, from ``statusTracker`` and the
status store, so the span's wall time excludes the bookkeeping.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; (0, 0) with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    s = sorted(xs)
    return float(s[n - 11]), 100.0 * (n - 10) / n


BUILD_DIR = ".perfbench_build"
WORK_DIR = ".perfbench_work"


def class_archive(root: str) -> str:
    """The JVM class-data archive built once per checkout (see run.py).
    The JVM checks an archive against the class path, which holds the
    Spark version's jars and a directory inside the checkout, so the name
    carries both: a new pyspark or a moved checkout builds a new one."""
    import pyspark

    where = hashlib.sha1(os.path.abspath(root).encode()).hexdigest()[:10]
    return os.path.join(root, BUILD_DIR, f"spark-{pyspark.__version__}-{where}.jsa")


def work_dir(root: str) -> str:
    """This process's scratch directory (one per process, so that two runs
    in one checkout cannot delete each other's files)."""
    return os.path.join(root, WORK_DIR, f"run-{os.getpid()}")


def remove_work(root: str) -> None:
    shutil.rmtree(work_dir(root), ignore_errors=True)
    try:
        os.rmdir(os.path.join(root, WORK_DIR))
    except OSError:
        pass  # another run's directory is still there


def prepare_env(root: str) -> None:
    """Empty the work directory and point every scratch location of the
    driver, the JVM and Spark into it.  Spark reads its configuration from
    an empty directory, so runs depend on no host ``spark-defaults.conf``
    (and the class-data archive, which the JVM refuses when a non-empty
    directory is on the class path, stays usable)."""
    work = work_dir(root)
    shutil.rmtree(work, ignore_errors=True)
    for var, path in (("TMPDIR", os.path.join(work, "tmp")),
                      ("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local")),
                      ("SPARK_CONF_DIR", os.path.join(root, BUILD_DIR, "conf"))):
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path


def build_session(work: str, cores: int, java_opts: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "1g")
        # -Xms = -Xmx: the heap does not grow with G1's sizing decisions,
        # so peak RSS repeats from run to run
        .config("spark.driver.extraJavaOptions", f"-Xms1g -Djava.io.tmpdir={tmp} {java_opts}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def trivial_job_ms(spark, cores: int, reps: int = 5) -> float:
    """Median wall time of a one-task-per-core job that does no work."""
    def job():
        noop(spark.range(0, cores, 1, cores))

    job()
    times = []
    for _ in range(reps):
        t = time.monotonic()
        job()
        times.append((time.monotonic() - t) * 1000.0)
    return median(times)


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class SpanStats:
    name: str
    wall_s: float
    start_ms: float
    end_ms: float
    parent: str | None
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    driver_gap_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def stage_stats(spark, job_ids, start_ms: float, end_ms: float) -> dict:
    """Aggregate the stages of ``job_ids``: counts, task time, bytes, and
    the part of [start_ms, end_ms] no stage was active in."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=len(job_ids), stages=0, task_s=0.0,
               input_records=0, shuffle_write_bytes=0, spill_bytes=0)
    intervals = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            data = store.lastStageAttempt(sid)
            sub, done = data.submissionTime(), data.completionTime()
            if not sub.isDefined():
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["task_s"] += data.executorRunTime() / 1000.0
            out["input_records"] += data.inputRecords()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            lo = max(start_ms, sub.get().getTime())
            hi = min(end_ms, done.get().getTime() if done.isDefined() else end_ms)
            if hi > lo:
                intervals.append((lo, hi))
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    out["driver_gap_s"] = max(0.0, (end_ms - start_ms) - busy) / 1000.0
    return out


class Tracer:
    """Spans around public calls, kept in memory and written at the end.

    A disabled tracer still times its spans (so traced and untraced units
    share one code path) but sets no job group and reads no stage data.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[SpanStats] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, parent: str | None = None, traced: bool = True):
        sc = self.spark.sparkContext
        traced = traced and self.enabled
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        rec = SpanStats(name=name, wall_s=0.0, start_ms=0.0, end_ms=0.0, parent=parent)
        if traced:
            sc.setJobGroup(group, name)
        rec.start_ms = time.time() * 1000.0
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec.wall_s = time.monotonic() - t0
            rec.end_ms = time.time() * 1000.0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                ids = sc.statusTracker().getJobIdsForGroup(group)
                for k, v in stage_stats(self.spark, ids, rec.start_ms, rec.end_ms).items():
                    setattr(rec, k, v)
                self.spans.append(rec)

    def named(self, name: str) -> list[SpanStats]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@dataclass
class Run:
    """Book-keeping of one benchmark run: units attempted and failed,
    per-operation timings, setup rounds, and the environment record."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    java_opts: str
    cores: int = field(default_factory=nproc)
    attempted: int = 0
    failed: int = 0
    max_owned: int = 0
    setup_rounds: list[float] = field(default_factory=list)
    times: dict = field(default_factory=dict)
    env: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    spark: object = None
    tracer: Tracer | None = None

    @property
    def work(self) -> str:
        return work_dir(self.root)

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        return path

    def start_session(self) -> None:
        self.spark = build_session(self.work, self.cores, self.java_opts)
        self.tracer = Tracer(self.spark, self.trace)

    def unit(self, op: str, fn, timed: bool = True):
        """Run one unit ``fn() -> (seconds, check_errors)``; count it, and
        record its time under ``op`` when it passed and ``timed``."""
        from mvrepair import cache

        self.attempted += 1
        try:
            secs, errors = fn()
            self.max_owned = max(self.max_owned, cache.owned_count())
            if cache.owned_count() != 0:
                errors = list(errors) + [f"cache.owned_count() == {cache.owned_count()} after unit"]
                cache.release_all()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            secs, errors = None, ["raised"]
        if errors:
            self.failed += 1
            print(f"[{self.workload}] {op} unit failed: {errors[:5]}", file=sys.stderr)
            return None
        if timed:
            self.times.setdefault(op, []).append(secs)
        return secs

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm) + vm_hwm_mb("self")

    def stop(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, sc._gateway.proc
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None
