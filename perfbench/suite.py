"""The ``analytics_suite`` workload: registry rows in a fixed order in a
fresh process, each verified against its DuckDB oracle after the timed
region, with a small KV round over the same ``events`` mapping the KV rows
use (direct store calls, no service) run in slices between the rows."""

from __future__ import annotations

import bisect
import decimal
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

from datagen import TABLES
from harness import NOW, median, pct
from kv import Model, apply, digest_passes, finish_store
from metrics import SUITE_ROWS

WRITES = 2  # set_batch calls per slice (one slice after each row but the first)
READS = 15  # pinned direct reads per slice, one READ_MIX cycle
READ_MIX = ("get", "get", "mget", "get", "get", "scan", "get",
            "get", "mget", "get", "get", "scan", "get", "mget", "get")  # 10/3/2


def _norm(v):
    """Type-tagged canonical cell: Decimal('12'), 12 and 12.0 differ."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("dt", v.isoformat())
    return (type(v).__name__, str(v))


def canonical(cols: list, rows: list) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)


def oracle_check(data: str, results: dict) -> int:
    """Count of rows whose result differs from the DuckDB oracle."""
    import duckdb

    from octopusdb_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for name, (cols, rows) in results.items():
        tbl = con.execute(ORACLE_SQL[name]).arrow()
        dcols = tbl.schema.names
        drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]
        if sorted(cols) != sorted(dcols) or canonical(cols, rows) != canonical(dcols, drows):
            print(f"oracle mismatch: {name}", flush=True)
            bad += 1
    con.close()
    return bad


def analytics_suite(ctx):
    """The four rows in order; the KV store is built after the first and
    a slice of the KV round follows each of the others, so the KV
    readings are sampled across the run rather than in one window that a
    burst of host load can cover."""
    from octopusdb_spark.queries import REGISTRY

    ctx.end_setup()
    m, tr = ctx.metrics, ctx.tracer
    results, wall, cpu = {}, 0.0, 0.0
    kv = None
    try:
        for i, name in enumerate(SUITE_ROWS):
            with ctx.meter.group(f"q.{name}") as gid:
                t0 = time.perf_counter()
                df = REGISTRY[name](ctx.spark, ctx.data)
                rows = [tuple(r) for r in df.collect()]
                dt = time.perf_counter() - t0
            rec = ctx.meter.harvest(gid)
            results[name] = (df.columns, rows)
            wall += dt
            cpu += rec["exec_cpu_s"]
            if tr:
                p = f"q.{name}"
                tr.put(f"{p}.wall_s", dt)
                for k in ("jobs", "tasks", "exec_cpu_s", "shuffle_mb"):
                    tr.put(f"{p}.{k}", rec[k])
                tr.put(f"{p}.sched_s", max(0.0, dt - rec["exec_run_s"] / ctx.meter.cores))
            if i == 0:
                kv = SuiteKV(ctx)
            else:
                kv.slice()
    finally:
        if kv is not None:
            kv.unpin()
    m["suite_s"], m["suite_cpu_s"] = wall, cpu
    ctx.ok(len(results), oracle_check(ctx.data, results))
    kv.finish()


def events_model(data: str) -> Model:
    """The KV rows' mapping of ``events`` (newest event per user wins;
    'error' is a tombstone, 'view' expired, 'click' a live TTL)."""
    ev = pq.read_table(os.path.join(data, "events.parquet")).to_pydict()
    model = Model()
    for u, et, props in zip(ev["user_id"], ev["event_type"], ev["props"]):
        k = f"u{u:04d}"
        if et == "error":
            model.delete(k)
        else:
            exp = {"view": 1_000_000, "click": 3_000_000_000}.get(et, 0)
            model.put(k, props.encode(), exp)
    return model


class SuiteKV:
    """The KV round: the events mapping ingested in two halves (each
    sorted by version, so sequence order is event order), then pinned
    direct reads and writes in slices, checked against the model."""

    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from octopusdb_spark.kv import KVStore
        from octopusdb_spark.queries.kv_semantics import kv_entries

        self.ctx = ctx
        root = os.path.join(ctx.work, "events-store")
        self.store = ctx.timed("store.open", "ingest", KVStore, ctx.spark, root, root=root)
        self.model = events_model(ctx.data)
        src = kv_entries(ctx.spark, ctx.data)
        cut = F.lit(_half_event_id(ctx.data))
        rates = []
        for half in (src.filter(F.col("version") < cut), src.filter(F.col("version") >= cut)):
            rows = ctx.timed("store.ingest_df", "ingest", self.store.ingest_df,
                             half.orderBy("version"), expires_col="expires_at", root=root)
            rates.append(rows / ctx.last_s)
            if ctx.tracer:
                ctx.tracer.add("store.ingest_df.rows", rows)
        ctx.metrics["ingest_rows_per_s"] = median(rates)
        self.rng = np.random.default_rng(ctx.seed + 4)
        self.keys = sorted(self.model.s)
        self.n_ops = self.bad = self.n_reads = 0
        self.read_s = 0.0
        self.lat = {"get": [], "mget": [], "scan": [], "write": [], "beside": [], "maint": []}
        self.jobs = 0
        self.pin = self.store.pin(now=NOW)
        self.pin.__enter__()
        self._get_checked(self.keys[0])  # builds the pin: not a timed read

    def unpin(self) -> None:
        if self.pin is not None:
            self.pin.__exit__(None, None, None)
            self.pin = None

    def _get_checked(self, k: str) -> float:
        """One direct ``get`` checked against the model; its latency (ms)."""
        t0 = time.perf_counter()
        e = self.store.get(k, now=NOW)
        ms = (time.perf_counter() - t0) * 1e3
        self.n_ops += 1
        self.bad += int((None if e is None else (e.value, e.expires_at)) != self.model.value(k))
        return ms

    def slice(self) -> None:
        """WRITES ``set_batch`` calls, each followed by a read-your-write
        ``get`` (the commit invalidated the pin, so that ``get`` rebuilds
        it), a full ``compact``, one untimed ``get`` that rebuilds the pin,
        then READS direct reads in the READ_MIX cycle."""
        from octopusdb_spark.kv import Entry

        ctx, store, model, keys, rng, lat = (self.ctx, self.store, self.model, self.keys,
                                             self.rng, self.lat)
        for _ in range(WRITES):
            b = len(lat["write"])
            ks = [keys[i] for i in rng.choice(len(keys), min(16, len(keys)), replace=False)]
            batch = [Entry(k, None) if j % 10 == 0 else Entry(k, f"b{b}.{j}".encode())
                     for j, k in enumerate(ks)]
            ctx.timed("store.set_batch", "writes", store.set_batch, batch, root=store.root)
            lat["write"].append(ctx.last_s * 1e3)
            apply(model, batch)
            lat["beside"].append(self._get_checked(ks[1 + b % 8]))
        ctx.timed("store.compact", "maintenance", store.compact, now=NOW, root=store.root)
        lat["maint"].append(ctx.last_s)
        self._get_checked(keys[0])

        live = model.live()
        order = sorted(live)
        jobs0 = ctx.meter.total_jobs()
        t_all = time.perf_counter()
        for i in range(READS):
            k = keys[int(rng.integers(len(keys)))]
            kind = READ_MIX[i % len(READ_MIX)]
            if kind == "get":
                lat["get"].append(self._get_checked(k))
                continue
            t0 = time.perf_counter()
            if kind == "scan":
                lim = int(rng.integers(1, 101))
                got = [(r["key"], bytes(r["value"]))
                       for r in store.scan(start=k, now=NOW).limit(lim).collect()]
                j = bisect.bisect_left(order, k)
                want = [(x, live[x][0]) for x in order[j : j + lim]]
            else:
                ks = [keys[j] for j in rng.choice(len(keys), 16)]
                got = {k2: e.value for k2, e in store.mget(ks, now=NOW).items()}
                want = {k2: live[k2][0] for k2 in ks if k2 in live}
            lat[kind].append((time.perf_counter() - t0) * 1e3)
            self.n_ops += 1
            self.bad += int(got != want)
        self.read_s += time.perf_counter() - t_all
        self.jobs += ctx.meter.total_jobs() - jobs0
        self.n_reads += READS

    def finish(self) -> None:
        ctx, m, lat = self.ctx, self.ctx.metrics, self.lat
        ctx.ok(self.n_ops, self.bad)
        for op in ("get", "mget", "scan"):
            m[f"{op}_p50_ms"] = median(lat[op])
        m["get_p90_ms"] = pct(lat["get"], 90)
        m["read_ops_per_s"] = self.n_reads / self.read_s
        m["write_p50_ms"] = median(lat["write"])
        m["maintenance_s"] = median(lat["maint"])
        m["get_beside_writes_ms"] = median(lat["beside"])
        if ctx.tracer:
            ctx.tracer.put("store.jobs_per_read", self.jobs / self.n_reads)
        digest_passes(ctx, self.store, self.model, 1)
        finish_store(ctx, self.store, self.model, [])


def _half_event_id(data: str) -> int:
    """The event id splitting ``events`` in two halves (ids are 0..n-1)."""
    return pq.ParquetFile(os.path.join(data, "events.parquet")).metadata.num_rows // 2
