"""Worker-side helpers shared by the workloads.

Everything here wraps the program from outside: timers around calls into
its public functions, Spark's own job-group and status-store bookkeeping
(``SparkContext.setJobGroup`` plus ``AppStatusStore.lastStageAttempt``,
which answer with ``spark.ui.enabled=false``), directory snapshots of a
store root, and ``/proc`` reads for memory. Nothing is patched into the
package.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
from contextlib import contextmanager

# Fixed TTL clock for every read and maintenance call: entries written with
# EXPIRED_AT are dead and entries with LIVE_TTL_AT alive under this clock
# and under the wall clock alike, so no result depends on when a run starts.
NOW = 2_000_000_000
EXPIRED_AT = 1_000_000_000
LIVE_TTL_AT = 4_000_000_000


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    i = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[i])


def median(values) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------------ digests
def row_digest(key: str, value: bytes | None) -> int:
    """Order-insensitive per-row hash; the same formula is evaluated in
    Spark (``spark_digest``) and in Python over the model."""
    h = hashlib.md5(key.encode("utf-8") + b"\x00" + (value or b"")).hexdigest()
    return int(h[:15], 16)


def model_digest(live: dict) -> tuple[int, int]:
    return len(live), sum(row_digest(k, v) for k, v in live.items()) % (1 << 61)


def spark_digest(df) -> tuple[int, int]:
    """(count, summed row_digest mod 2^61) of a key/value frame, computed
    executor-side; only two numbers reach the driver."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("key").cast("binary"), F.lit(b"\x00"), F.col("value"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0) % (1 << 61)


# ------------------------------------------------------------- spark meter
class SparkMeter:
    """Per-job-group executor accounting from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self._n = 0

    def total_jobs(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextmanager
    def group(self, prefix: str):
        """Run the body under a fresh job group; yields the group id."""
        self._n += 1
        gid = f"{prefix}#{self._n}"
        self.sc.setJobGroup(gid, prefix)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def harvest(self, gid: str) -> dict:
        """Jobs, tasks, executor run/CPU seconds and shuffle MB of one job
        group. Read right after the group's calls: the status store keeps
        a bounded number of jobs."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0}
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += int(st.numTasks())
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
        return out


def add_into(acc: dict, rec: dict) -> dict:
    for k, v in rec.items():
        acc[k] = acc.get(k, 0) + v
    return acc


# ------------------------------------------------------------------ memory
def _children(pid: int) -> list:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_hwm_mb(exclude: set) -> float:
    """Summed peak resident set of this process and its direct children
    (the JVM), without the JVM's short-lived Python workers, whose count
    depends on task scheduling."""
    pids = [os.getpid()] + [p for p in _children(os.getpid()) if p not in exclude]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


class RssSampler:
    """Peak of the driver (this Python process and its JVM), sampled every
    0.25 s. Processes listed in ``exclude`` (the load generator) do not
    count."""

    def __init__(self):
        self.exclude: set = set()
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.25)

    def sample(self) -> float:
        self.peak = max(self.peak, driver_hwm_mb(self.exclude))
        return self.peak

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.sample()


# ------------------------------------------------------------- store disk
def dir_files(root: str) -> dict:
    """{path: (size, mtime_ns)} of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: str) -> int:
    return sum(size for size, _ in dir_files(root).values())


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files that are new or were rewritten between two
    ``dir_files`` snapshots (a rewritten file counts whole)."""
    return sum(st[0] for p, st in after.items() if before.get(p) != st)


def live_segment_bytes(store) -> int:
    """On-disk bytes of the segments the current manifest references."""
    return sum(dir_bytes(s.path) for s in store.manifest.state.segments)


class Tracer:
    """Per-layer accumulator for the traced run: calls are timed around
    the program's public functions, each under its own Spark job group."""

    def __init__(self, meter: SparkMeter | None):
        self.meter = meter
        self.m: dict = {}

    def add(self, name: str, v: float) -> None:
        self.m[name] = self.m.get(name, 0) + v

    def put(self, name: str, v) -> None:
        self.m[name] = v

    def call(self, layer: str, phase: str, fn, *args, **kw):
        """Time ``fn`` as one call of ``layer``; its Spark work lands in
        ``spark.<phase>.*``. Returns (result, seconds in ``fn``)."""
        with self.meter.group(phase) as gid:
            t0 = time.perf_counter()
            out = fn(*args, **kw)
            dt = time.perf_counter() - t0
        rec = self.meter.harvest(gid)
        self.add(f"{layer}.busy_s", dt)
        self.add(f"{layer}.calls", 1)
        self.add(f"{layer}.jobs", rec["jobs"])
        for k in ("jobs", "tasks", "exec_cpu_s", "shuffle_mb"):
            self.add(f"spark.{phase}.{k}", rec[k])
        return out, dt
