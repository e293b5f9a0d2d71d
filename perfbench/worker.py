"""One benchmark run in a fresh process (started by ``run.py``).

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE SF WORKDIR

Writes ``WORKDIR/result.json``: the end-to-end metrics, the per-layer
metrics when traced, and the attempted/failed operation counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from harness import RssSampler, SparkMeter, Tracer, dir_files, written_bytes  # noqa: E402

# Scale factor of the generated tables: sf0.01 gives a 15k-key store
# (orders) and the analytics inputs at the size the DuckDB oracle checks.
# Both workloads are dominated by per-job fixed cost at this size, as
# they are at sf0.1, and fifty runs fit in under an hour on four cores.
DEFAULT_SF = 0.01


def cpu_ticks() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Context:
    def __init__(self, workload, seed, seconds, trace, sf, work):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.sf = sf if sf > 0 else DEFAULT_SF
        self.data = os.path.join(work, "data")
        self.metrics: dict = {}
        self.attempted = self.failed = 0
        self.setup_s = None
        self.last_s = 0.0  # seconds inside the last ``timed`` call
        self.written: dict = {}  # store root -> bytes of files written
        self.rss = RssSampler()
        self.spark = self.meter = self.tracer = None
        self.cores = len(os.sched_getaffinity(0))

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", flush=True)

    def ok(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def setup_step(self, name, fn, *a, **k):
        self.log(name)
        t0 = time.perf_counter()
        out = fn(*a, **k)
        if self.tracer:
            self.tracer.put(name, time.perf_counter() - t0)
        return out

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        self.log("set-up done")

    def timed(self, layer, phase, fn, *a, root=None, **k):
        """Call ``fn`` as one call of ``layer``; ``last_s`` gets the time
        spent inside it. With ``root``, the files it writes under that
        store root (snapshots taken outside the timed region) are added
        to ``written[root]``."""
        self.log(layer)
        before = dir_files(root) if root else None
        if self.tracer:
            out, self.last_s = self.tracer.call(layer, phase, fn, *a, **k)
        else:
            t0 = time.perf_counter()
            out = fn(*a, **k)
            self.last_s = time.perf_counter() - t0
        if root:
            self.written[root] = self.written.get(root, 0) + written_bytes(before, dir_files(root))
        return out


def warm_up(spark, data: str) -> None:
    """One join + aggregate over the generated tables, so JVM class
    loading and code generation are paid in set-up, not by the first
    measured call."""
    o = spark.read.parquet(f"{data}/orders.parquet")
    c = spark.read.parquet(f"{data}/customer.parquet")
    o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").count().collect()


def stop_jvm() -> None:
    """Close the py4j gateway and wait for its JVM to exit. Left to exit
    on its own after this process, the JVM is reparented and ``run.py``
    waits about two seconds for it to be reaped."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    proc.wait(timeout=60)


def main(argv) -> int:
    workload, seed, seconds, trace, sf, work = argv
    ctx = Context(workload, int(seed), int(seconds), trace == "1", float(sf), work)
    ticks0 = cpu_ticks()
    # kv_store reads orders only; the suite's oracle views need all ten
    tables = ("orders",) if workload == "kv_store" else datagen.TABLES
    datagen.write(ctx.data, ctx.seed, ctx.sf, tables)

    t0 = time.perf_counter()
    from octopusdb_spark.session import get_spark

    ctx.spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    ctx.meter = SparkMeter(ctx.spark)
    ctx.tracer = Tracer(ctx.meter) if ctx.trace else None
    if ctx.tracer:
        ctx.tracer.put("session.start_s", start_s)
    if workload == "analytics_suite":  # kv_store warms up on its first ingest
        ctx.setup_step("session.warmup_s", warm_up, ctx.spark, ctx.data)

    if workload == "kv_store":
        from kv import kv_store as run
    else:
        from suite import analytics_suite as run
    run(ctx)

    m = ctx.metrics
    m["setup_s"] = ctx.setup_s
    m["peak_rss_mb"] = ctx.rss.stop()
    m["correct_op_ratio"] = (ctx.attempted - ctx.failed) / max(1, ctx.attempted)
    layer = {}
    if ctx.tracer:
        layer = dict(ctx.tracer.m)
        calls = layer.get("store.set_batch.calls", 0)
        layer["store.set_batch.jobs_per_call"] = layer.get("store.set_batch.jobs", 0) / max(1, calls)
    ctx.log("session stop")
    ctx.spark.stop()
    stop_jvm()
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    context = {"host_steal_share": d[7] / max(1, sum(d)), "wall_s": time.perf_counter() - T_START}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(
            {"attempted": ctx.attempted, "failed": ctx.failed, "end_to_end": m,
             "per_layer": layer, "context": context},
            f,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
