"""Measurement plumbing shared by the workloads: the Spark session the
benchmark runs on, the span tracer, the process-tree PSS sampler and the
latency statistics."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

CPUS = "2"  # Spark runs at local[2], passed explicitly
JOB_END_WAIT_S = 5.0  # longest wait for the status store to record a job's end
PSS_PERIOD_S = 0.5  # memory sampling period


def start_spark(work: str):
    """The repo's tuned session at ``local[2]``, with every scratch
    directory (Spark local dirs, JVM and Python temp files) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp whatever the
    # temp directory, and this applies to the spark-submit launcher too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # a fixed-size heap: how far the heap grows no longer depends on
        # GC timing, which moved the JVM's peak PSS between 1.0 and 1.5 GB
        # from run to run
        f"--driver-java-options '-Xms2g -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ))
    from proteofav_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it
    (the JVM exits when its stdin closes; it has stopped the Python
    workers by then)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of ``values``."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, int]:
    """The latency at the highest whole percentile with at least ten
    samples above it, and that percentile. Below twenty samples that
    percentile would lie under the median, so the maximum is returned
    (percentile 100)."""
    n = len(values)
    p = (100 * (n - 10)) // n
    if p < 50:
        return max(values), 100
    return percentile(values, p), p


def median(values: list[float]) -> float:
    return statistics.median(values)


# --------------------------------------------------------------------------
# tracing: one Spark job group per span, counts read from the status store
# --------------------------------------------------------------------------

class Tracer:
    """Records spans (name, op, start, end) in memory and the Spark work
    each span caused. Every span runs under its own job group; when the
    span ends its jobs are looked up in ``statusStore()`` and their stages'
    task counts, executor run time, GC time and shuffle bytes summed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._n = 0

    @contextmanager
    def span(self, name: str, op: str):
        t = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "op": op}
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["ms"] = (rec["end"] - rec["start"]) * 1000
            t = time.perf_counter()
            rec.update(self._counts(group))
            self.sc.setJobGroup("perfbench-idle", "between spans")
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t

    def _counts(self, group: str) -> dict:
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "tasks": 0, "run_ms": 0, "gc_ms": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for jid in jobs:
            job = self._finished_job(jid)
            sids = job.stageIds()
            for i in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(i))
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def _finished_job(self, jid: int):
        # the status listener runs behind the job's completion: wait until
        # it has recorded the job's end so the stage counts are final
        deadline = time.perf_counter() + JOB_END_WAIT_S
        while True:
            job = self.store.job(jid)
            if str(job.status()) != "RUNNING" or time.perf_counter() > deadline:
                return job
            time.sleep(0.01)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# --------------------------------------------------------------------------
# memory: proportional set size of the benchmark's process tree
# --------------------------------------------------------------------------

def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(int(d))[1])
            except (OSError, IndexError):
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ")
    except OSError:
        return "other"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python_workers"
    return "other"


class PssSampler:
    """Samples the PSS of this process and all its descendants (the
    spark-submit JVM and its Python workers) every ``PSS_PERIOD_S``
    seconds in a background thread. ``peak_mb`` is the largest sampled
    total; the per-kind split gives each kind's own peak."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        root = os.getpid()
        by_kind: dict[str, int] = {}
        for pid in process_tree(root):
            kind = "benchmark" if pid == root else _kind(pid)
            by_kind[kind] = by_kind.get(kind, 0) + _pss_kb(pid)
        self.peak_kb = max(self.peak_kb, sum(by_kind.values()))
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)

    def _loop(self) -> None:
        while not self._stop.wait(PSS_PERIOD_S):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
