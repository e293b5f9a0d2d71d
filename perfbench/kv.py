"""The ``kv_store`` workload: serve, then write and maintain, one store.

It keeps a Python model of the store (every write the workload makes is
applied to it in order), derives the correct reply of every read from the
model, and lets the load generator (a separate process speaking to
``KVService`` through ``KVClient``) check each reply by digest.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import loadgen
from harness import (
    EXPIRED_AT,
    LIVE_TTL_AT,
    NOW,
    add_into,
    live_segment_bytes,
    median,
    model_digest,
    pct,
    spark_digest,
)

HERE = os.path.dirname(os.path.abspath(__file__))
WRITE_BATCHES = 3
DIGEST_PASSES = 2  # kv_store's analytics passes after serving and again after maintenance
SERVE_CLIENTS = 2  # with local[nproc - 1], more clients measure queueing on the cores


# -------------------------------------------------------------------- model
class Model:
    """Expected store contents: key -> [base value, expires_at, operands].
    Mirrors the store's documented semantics: a full write or tombstone
    shadows older operands, operands fold onto a live base (append
    operator, ',' joined), a range tombstone kills base and operands."""

    def __init__(self):
        self.s: dict = {}
        self.user_bytes = 0

    def _count(self, key, value):
        self.user_bytes += len(key) + len(value or b"")

    def put(self, key, value, exp=0):
        self._count(key, value)
        self.s[key] = [value, exp, []]

    def delete(self, key):
        self._count(key, None)
        self.s[key] = [None, 0, []]

    def merge(self, key, op):
        self._count(key, op)
        self.s.setdefault(key, [None, 0, []])[2].append(op)

    def delete_range(self, lo, hi):
        for k in self.s:
            if lo <= k < hi:
                self.s[k] = [None, 0, []]

    def value(self, key):
        """(value, expires_at) visible at NOW, or None."""
        rec = self.s.get(key)
        if rec is None:
            return None
        base, exp, ops = rec
        alive = base is not None and (exp == 0 or exp > NOW)
        if ops:
            return b",".join(([base] if alive else []) + ops), (exp if alive else 0)
        return (base, exp) if alive else None

    def live(self) -> dict:
        out = {}
        for k in self.s:
            v = self.value(k)
            if v is not None:
                out[k] = v
        return out


def live_bytes(live: dict) -> int:
    return sum(len(k) + len(v) for k, (v, _) in live.items())


# ------------------------------------------------------------- read plans
class Zipf:
    """Zipf(1.0) over ``keys`` with ranks shuffled by the seed."""

    def __init__(self, rng, keys: list):
        self.keys = [keys[i] for i in rng.permutation(len(keys))]
        self.cdf = np.cumsum(1.0 / np.arange(1, len(keys) + 1))

    def draw(self, rng, n: int) -> list:
        idx = np.searchsorted(self.cdf, rng.random(n) * self.cdf[-1])
        return [self.keys[min(i, len(self.keys) - 1)] for i in idx]


# 80% get, 10% mget, 10% scan
SERVE_MIX = ("get", "get", "mget", "get", "get", "get", "get", "scan", "get", "get")


def read_plan(rng, model: Model, keys: list, n: int, absent: float,
              mix: tuple = SERVE_MIX) -> list:
    """``n`` requests cycling through ``mix`` (get, mget of 16 keys, scan
    of <=100 rows), keys Zipf over ``keys`` plus a share ``absent`` of
    never-written keys; each request carries the digest of its correct
    reply. A fixed cycle rather than a random draw keeps every run's mix
    the same, so the latencies do not depend on how many scans a short
    run happened to draw."""
    live = model.live()
    order = sorted(live)
    z = Zipf(rng, keys)

    def pick(m):
        out = z.draw(rng, m)
        miss = rng.random(m) < absent
        return [f"{k}~{rng.integers(1_000_000)}" if x else k for k, x in zip(out, miss)]

    def got(k):
        v = live.get(k)
        return None if v is None else {"value": v[0], "expires_at": v[1]}

    reqs = []
    for i in range(n):
        op = mix[i % len(mix)]
        if op == "get":
            k = pick(1)[0]
            reqs.append({"op": "get", "key": k, "want": loadgen.digest("get", got(k))})
        elif op == "mget":
            ks = pick(16)
            want = {k: got(k) for k in ks if got(k) is not None}
            reqs.append({"op": "mget", "keys": ks, "want": loadgen.digest("mget", want)})
        else:
            start, limit = pick(1)[0], int(rng.integers(1, 101))
            i = bisect.bisect_left(order, start)
            rows = [{"key": k, "value": live[k][0]} for k in order[i : i + limit]]
            reqs.append(
                {"op": "scan", "start": start, "limit": limit,
                 "want": loadgen.digest("scan", rows)}
            )
    return reqs


# ------------------------------------------------------ service + clients
class _Local(threading.local):
    store_s = 0.0
    rebuilt = False


class TimedStore:
    """Handed to ``KVService`` in traced runs: forwards everything to the
    store and times the read calls per serving thread."""

    def __init__(self, store, tl: _Local):
        self._store, self._tl = store, tl

    def __getattr__(self, name):
        return getattr(self._store, name)

    def _timed(self, fn, *a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            self._tl.store_s += time.perf_counter() - t0

    def get(self, *a, **k):
        return self._timed(self._store.get, *a, **k)

    def mget(self, *a, **k):
        return self._timed(self._store.mget, *a, **k)

    def scan(self, *a, **k):
        return self._timed(self._store.scan, *a, **k)


def start_service(ctx, store):
    """Start ``KVService`` over ``store`` at the fixed clock. Traced runs
    wrap the store in ``TimedStore`` and log (op, service s, store s, pin
    rebuilt, ok) per request."""
    from octopusdb_spark.service import KVService

    if not ctx.trace:
        svc = KVService(store, now=NOW)
        svc.start()
        return svc, None
    tl, log = _Local(), []
    orig_cache_view = store.cache_view

    def cache_view(now=None):  # the pin rebuild; instance attr shadows the method
        tl.rebuilt = True
        return orig_cache_view(now=now)

    store.cache_view = cache_view

    class TimedService(KVService):
        def _dispatch(self, line):
            tl.store_s, tl.rebuilt = 0.0, False
            t0 = time.perf_counter()
            reply = super()._dispatch(line)
            log.append(
                (json.loads(line).get("op"), time.perf_counter() - t0, tl.store_s,
                 tl.rebuilt, bool(reply.get("ok")))
            )
            return reply

    svc = TimedService(TimedStore(store, tl), now=NOW)
    svc.start()
    return svc, log


def service_layer(log: list, tr) -> None:
    """Per-layer service numbers from the traced request log."""
    gets = [(s, st) for op, s, st, _, _ in log if op == "get"]
    tr.put("service.requests", len(log))
    tr.put("service.errors", sum(1 for *_, ok in log if not ok))
    tr.put("service.self_ms_p50", median([(s - st) * 1e3 for s, st in gets]) if gets else 0.0)
    tr.put("service.store_ms_p50", median([st * 1e3 for _, st in gets]) if gets else 0.0)


def launch_loadgen(ctx, plan: dict, tag: str):
    path = os.path.join(ctx.work, f"{tag}-plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    out = os.path.join(ctx.work, f"{tag}-out.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), path, out],
        stdout=subprocess.DEVNULL,
    )
    ctx.rss.exclude.add(proc.pid)
    return proc, out


def finish_loadgen(proc, out: str, timeout: float) -> dict:
    try:
        proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def read_metrics(res: dict, m: dict) -> tuple[int, int]:
    """Latency metrics from a load-generator result; returns
    (attempted, failed)."""
    rows = res["results"]
    by = {op: [ms for o, ms, _ in rows if o == op] for op in ("get", "mget", "scan")}
    for op, lat in by.items():
        if not lat:
            raise RuntimeError(f"no {op} request completed")
        m[f"{op}_p50_ms"] = median(lat)
    m["get_p90_ms"] = pct(by["get"], 90)
    m["read_ops_per_s"] = len(rows) / res["wall_s"]
    return len(rows), sum(1 for *_, ok in rows if not ok)


# ------------------------------------------------------------------ kv_store
def _order_values(orders: pa.Table, rng, run: int) -> tuple[list, list]:
    d = orders.to_pydict()
    keys = [f"o{k:08d}" for k in d["o_orderkey"]]
    big = rng.random(len(keys)) < 0.10
    vals = []
    for i, k in enumerate(keys):
        v = (
            f"{d['o_custkey'][i]}|{d['o_totalprice'][i]:.2f}|{d['o_orderstatus'][i]}|"
            f"{d['o_orderpriority'][i]}|{d['o_orderdate'][i]:%Y-%m-%d}|r{run}"
        ).encode()
        if big[i]:
            v = (v + b"#") * (1100 // len(v) + 1 + i % 3)
        vals.append(v)
    return keys, vals


def _revalue(rng, key: str, gen: int) -> bytes:
    v = f"{key}|gen{gen}|{rng.integers(1 << 30)}".encode()
    return v * 60 if rng.random() < 0.1 else v


def build_store(ctx):
    """Build the served store from ``orders``: a small warm-up run and
    three overlapping ingested runs, compacted into a base; one delta with 5% tombstones and 5%
    expired TTLs; a range tombstone; a second delta with updates (some
    inside the range), live TTLs and inserts."""
    from octopusdb_spark.kv import Entry, KVStore

    rng = np.random.default_rng(ctx.seed + 1)
    orders = pq.read_table(os.path.join(ctx.data, "orders.parquet"))
    n = orders.num_rows
    model, stages = Model(), []
    runs = ((0, n // 8), (0, n // 2), (n // 4, 3 * n // 4), (n // 2, n))
    for run, (a, b) in enumerate(runs):
        keys, vals = _order_values(orders.slice(a, b - a), rng, run)
        path = os.path.join(ctx.work, f"run{run}.parquet")
        pq.write_table(pa.table({"key": keys, "value": pa.array(vals, pa.binary())}), path)
        stages.append(path)
        for k, v in zip(keys, vals):
            model.put(k, v)
    keys = sorted(model.s)
    root = os.path.join(ctx.work, "store")
    # one level above L0: every seed's maintenance is the same work (an L0
    # merge, the fold, GC) instead of a seed-dependent cascade of levels
    store = ctx.timed("store.open", "ingest", KVStore, ctx.spark, root, merge_op="append",
                      base_level_bytes=1 << 30, root=root)
    m, tr = ctx.metrics, ctx.tracer
    # a small first run pays the JVM's warm-up (class loading, code
    # generation): it is timed as session.warmup_s; the rate is the median
    # of the three overlapping runs that follow
    rows = ctx.setup_step("session.warmup_s", ctx.timed, "store.ingest_df", "ingest",
                          store.ingest_df, ctx.spark.read.parquet(stages[0]), root=root)
    rates = []
    for path in stages[1:]:
        r = ctx.timed("store.ingest_df", "ingest", store.ingest_df,
                      ctx.spark.read.parquet(path), root=root)
        rates.append(r / ctx.last_s)
        rows += r
    m["ingest_rows_per_s"] = median(rates)
    if tr:
        tr.add("store.ingest_df.rows", rows)
    ctx.ok(1, int(rows != sum(b - a for a, b in runs)))
    ctx.timed("store.compact", "maintenance", store.compact, now=NOW, root=root)

    perm = [keys[i] for i in rng.permutation(n)]
    f = lambda a, b: perm[int(a * n) : int(b * n)]  # noqa: E731
    d1 = (
        [Entry(k, None) for k in f(0, 0.05)]
        + [Entry(k, _revalue(rng, k, 1), expires_at=EXPIRED_AT) for k in f(0.05, 0.10)]
        + [Entry(k, _revalue(rng, k, 1)) for k in f(0.10, 0.12)]
    )
    lo = int(rng.integers(0, n - n // 200 - 1))
    rt = (keys[lo], keys[lo + n // 200])
    d2 = (
        [Entry(k, _revalue(rng, k, 2)) for k in f(0.12, 0.14)]
        + [Entry(k, _revalue(rng, k, 2)) for k in keys[lo : lo + n // 200 : 5]]
        + [Entry(k, _revalue(rng, k, 2), expires_at=LIVE_TTL_AT) for k in f(0.14, 0.15)]
        + [Entry(f"o{n + j:08d}", _revalue(rng, "new", 2)) for j in range(n // 200)]
    )
    d2 = list({e.key: e for e in d2}.values())  # one write per key per batch
    for batch in (d1, rt, d2):
        if batch is rt:
            ctx.timed("store.delete_range", "writes", store.delete_range, *rt, root=root)
            model.delete_range(*rt)
            continue
        ctx.timed("store.set_batch", "writes", store.set_batch, batch, root=root)
        apply(model, batch)
    return store, model, keys + [f"o{n + j:08d}" for j in range(n // 200)]


def apply(model: Model, batch: list) -> None:
    for e in batch:
        if e.value is None:
            model.delete(e.key)
        else:
            model.put(e.key, e.value, e.expires_at)


def kv_store(ctx):
    """Serve the built store to SERVE_CLIENTS closed-loop clients, digest
    it, write and maintain it beside one reader, then digest it again."""
    store, model, written = ctx.setup_step("store.build_s", build_store, ctx)
    m, tr = ctx.metrics, ctx.tracer
    svc, log = start_service(ctx, store)
    rng = np.random.default_rng(ctx.seed + 2)
    n = len(written)
    try:
        serve = {
            "host": svc.address[0], "port": svc.address[1], "clients": SERVE_CLIENTS,
            "seconds": ctx.seconds,
            "requests": read_plan(rng, model, written, 2000, absent=0.05),
        }
        # warm the pin (the cached live view) and run every kind of request
        # once before timing: set-up cost
        warm = [next(r for r in serve["requests"] if r["op"] == op)
                for op in ("get", "mget", "scan")]
        ctx.setup_step("store.pin_warm_s", _warm, svc, warm)
        ctx.end_setup()

        ctx.log("serve phase")
        if log is not None:
            log.clear()
        jobs0 = ctx.meter.total_jobs()
        proc, out = launch_loadgen(ctx, serve, "serve")
        res = finish_loadgen(proc, out, ctx.seconds + 150)
        ctx.ok(*read_metrics(res, m))
        if tr:
            tr.put("store.jobs_per_read",
                   (ctx.meter.total_jobs() - jobs0) / max(1, len(res["results"])))
            service_layer(log, tr)
            log.clear()
        digests = digest_passes(ctx, store, model, DIGEST_PASSES)

        # one client gets keys the writes never touch, until maintenance
        # ends: its latencies include the stalls behind commits and pin
        # rebuilds
        ctx.log("write phase")
        stop_file = os.path.join(ctx.work, "reader.stop")
        reader = {**serve, "clients": 1, "seconds": None, "stop_file": stop_file,
                  "requests": read_plan(rng, model, written[int(0.6 * n):], 500, absent=0.05,
                                        mix=("get",))}
        proc, out = launch_loadgen(ctx, reader, "reader")
        try:
            _write_loop(ctx, store, model, written[: int(0.4 * n)], rng)
            _maintain(ctx, store)
        finally:
            open(stop_file, "w").close()
        res = finish_loadgen(proc, out, 150)
    finally:
        svc.stop()
    rows = res["results"]
    ctx.ok(len(rows), sum(1 for *_, ok in rows if not ok))
    gets = [ms for _, ms, _ in rows]
    m["get_beside_writes_ms"] = sum(gets) / len(gets)
    if tr:
        tr.put("reader.get_p50_ms", median(gets))
        tr.put("reader.get_p90_ms", pct(gets, 90))
        tr.put("store.pin_rebuilds", sum(1 for _, _, _, r, _ in log if r))
        tr.put("store.pin_rebuild_s", sum(st for _, _, st, r, _ in log if r))
    digests += digest_passes(ctx, store, model, DIGEST_PASSES)
    finish_store(ctx, store, model, digests)


def _warm(svc, reqs):
    from octopusdb_spark.service import KVClient

    with KVClient(*svc.address) as c:
        for r in reqs:
            loadgen.send(c, r)


def digest_passes(ctx, store, model: Model, passes: int) -> list:
    """Digest the whole live view in Spark ``passes`` times and compare
    each digest with the model (count + order-insensitive hash); returns
    (wall s, Spark record) per pass. In ``kv_store`` the digest is the
    analytics pass that ``suite_s``/``suite_cpu_s`` time."""
    want = model_digest({k: v for k, (v, _) in model.live().items()})
    out = []
    for _ in range(passes):
        with ctx.meter.group("suite") as gid:
            t0 = time.perf_counter()
            got = spark_digest(store.view(now=NOW))
            wall = time.perf_counter() - t0
        out.append((wall, ctx.meter.harvest(gid)))
        ctx.ok(1, int(got != want))
    return out


def finish_store(ctx, store, model: Model, digests: list) -> None:
    """``suite_s``/``suite_cpu_s`` from ``digests`` (median pass, when
    there are any), then the disk-amplification readings."""
    m, tr = ctx.metrics, ctx.tracer
    live = model.live()
    if digests:
        walls = sorted(w for w, _ in digests)
        m["suite_s"] = median(walls)
        m["suite_cpu_s"] = median([r["exec_cpu_s"] for _, r in digests])
    disk, lb = live_segment_bytes(store), live_bytes(live)
    m["write_amp"] = ctx.written[store.root] / model.user_bytes
    m["space_amp"] = disk / lb
    if tr:
        tr.put("store.bytes_written", ctx.written[store.root])
        tr.put("store.user_bytes", model.user_bytes)
        tr.put("store.disk_bytes", disk)
        tr.put("store.live_bytes", lb)
        n = tr.m.pop("manifest.segments_per_get.n", 0)
        s = tr.m.pop("manifest.segments_per_get.sum", 0.0)
        tr.put("manifest.segments_per_get", s / n if n else segments_per_get(
            store, sorted(live)[:: max(1, len(live) // 200)]))
        if digests:
            mid = next(r for w, r in digests if w == walls[(len(walls) - 1) // 2])
            add_into(tr.m, {f"spark.suite.{k}": v for k, v in mid.items() if k != "exec_run_s"})
    store.close()


def segments_per_get(store, sample: list) -> float:
    return sum(len(store.manifest.prune_for_key(k)) for k in sample) / max(1, len(sample))


def _write_loop(ctx, store, model: Model, wkeys: list, rng) -> None:
    """Closed loop of WRITE_BATCHES 64-entry ``set_batch`` calls (a fixed
    count, so the maintenance that follows has the same work whatever the
    write speed): 6 tombstones, 3 TTL entries (two already expired), 4
    inserts of fresh keys, the rest puts; 8 ``merge_batch`` operands after
    the first batch, one ``delete_range`` after the second.
    After each batch an ``mget`` checks read-your-write."""
    from octopusdb_spark.kv import Entry

    m, tr, root = ctx.metrics, ctx.tracer, store.root
    v0 = store.manifest.state.version
    lat = []
    for b in range(WRITE_BATCHES):
        ks = [wkeys[i] for i in rng.choice(len(wkeys), 64, replace=False)]
        ks[-4:] = [f"k{b:04d}{j}" for j in range(4)]
        batch = [Entry(k, None) for k in ks[:6]]
        batch += [
            Entry(k, _revalue(rng, k, b), expires_at=EXPIRED_AT if j % 2 == 0 else LIVE_TTL_AT)
            for j, k in enumerate(ks[6:9])
        ]
        batch += [Entry(k, _revalue(rng, k, b)) for k in ks[9:]]
        ctx.timed("store.set_batch", "writes", store.set_batch, batch, root=root)
        lat.append(ctx.last_s * 1e3)
        apply(model, batch)
        if b == 0:
            ops = [(k, f"m{b}.{j}".encode()) for j, k in enumerate(ks[20:28])]
            ctx.timed("store.merge_batch", "writes", store.merge_batch, ops, root=root)
            for k, op in ops:
                model.merge(k, op)
        if b == 1:
            i = int(rng.integers(0, len(wkeys) - 200))
            lo, hi = wkeys[i], wkeys[i + len(wkeys) // 200]
            ctx.timed("store.delete_range", "writes", store.delete_range, lo, hi, root=root)
            model.delete_range(lo, hi)
        # read-your-write through the store's pinned view: the commit
        # invalidated it, so this read rebuilds the pin the reader shares
        got = store.mget([ks[9], ks[0], ks[20]], now=NOW)
        for k in (ks[9], ks[0], ks[20]):
            e = got.get(k)
            ctx.ok(1, int((None if e is None else (e.value, e.expires_at)) != model.value(k)))
        if tr:
            tr.add("manifest.segments_per_get.sum", segments_per_get(store, ks[:8]))
            tr.add("manifest.segments_per_get.n", 1)
    m["write_p50_ms"] = median(lat)
    if tr:
        tr.put("manifest.commits", store.manifest.state.version - v0)


def _maintain(ctx, store) -> None:
    """auto_compact, fold_merges and gc_values until no level scores >= 1
    (one pass: the base level is sized so L0 merges into one level).
    ``maintenance_s`` is the time inside these calls and the score checks."""
    m, tr, root = ctx.metrics, ctx.tracer, store.root
    busy = 0.0
    for _ in range(3):
        r = ctx.timed("store.compact", "maintenance", store.auto_compact, now=NOW, root=root)
        busy += ctx.last_s
        if tr:
            tr.add("store.compact.rounds", r)
        ctx.timed("store.fold_merges", "maintenance", store.fold_merges, now=NOW, root=root)
        busy += ctx.last_s
        # any garbage makes a value segment a candidate, so every seed's GC
        # has work; at the default 0.5 whether one crosses depends on the seed
        ctx.timed("store.gc_values", "maintenance", store.gc_values, discard_ratio=0.01,
                  now=NOW, root=root)
        busy += ctx.last_s
        t0 = time.perf_counter()
        stable = all(sc < 1.0 for _, sc in store.compaction_priorities())
        busy += time.perf_counter() - t0
        if stable:
            break
    m["maintenance_s"] = busy
