"""Closed-loop load generator for the KV service (its own process).

    python3 perfbench/loadgen.py PLAN.json OUT.json

The plan holds the service address, the client count, a time limit or a
stop file, and a request list where every request carries the digest of
its correct reply (computed from the workload's model). Each client
thread owns one ``KVClient`` connection and sends its next request only
after the previous reply arrived, walking the list from its own offset.
OUT.json gets one ``[op, latency_ms, ok]`` triple per completed request
plus the measured wall time.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time


def canon(op: str, reply) -> str:
    """Canonical text of a reply; the workloads hash the same form of
    their expected answers."""
    if op == "get":
        body = None if reply is None else [reply["value"].hex(), reply["expires_at"]]
    elif op == "mget":
        body = sorted([k, e["value"].hex()] for k, e in reply.items())
    else:
        body = [[r["key"], r["value"].hex()] for r in reply]
    return json.dumps(body, separators=(",", ":"))


def digest(op: str, reply) -> str:
    return hashlib.sha1(canon(op, reply).encode()).hexdigest()


def send(client, req: dict):
    op = req["op"]
    if op == "get":
        return client.get(req["key"])
    if op == "mget":
        return client.mget(req["keys"])
    return client.scan(start=req["start"], limit=req["limit"])


def _client_class():
    """``KVClient`` loaded from its file: it is standard-library only, and
    importing it through the package would pull in PySpark."""
    import importlib.util

    path = os.path.join(os.getcwd(), "octopusdb_spark", "service", "client.py")
    spec = importlib.util.spec_from_file_location("kv_client", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.KVClient


def main(plan_path: str, out_path: str) -> int:
    KVClient = _client_class()

    with open(plan_path) as f:
        plan = json.load(f)
    reqs = plan["requests"]
    n = plan["clients"]
    deadline_s = plan.get("seconds")
    stop_file = plan.get("stop_file")
    results: list = [[] for _ in range(n)]
    clients = [KVClient(plan["host"], plan["port"], timeout=120.0) for _ in range(n)]
    start = threading.Barrier(n + 1)

    def done(t0: float) -> bool:
        if deadline_s is not None:
            return time.perf_counter() - t0 >= deadline_s
        return os.path.exists(stop_file)

    def worker(i: int):
        out = results[i]
        # offset by i as well, so clients walking a cyclic mix are out of phase
        j = (i * len(reqs)) // n + i
        start.wait()
        t0 = time.perf_counter()
        while not done(t0):
            req = reqs[j % len(reqs)]
            j += 1
            s = time.perf_counter()
            try:
                ok = digest(req["op"], send(clients[i], req)) == req["want"]
            except Exception:
                ok = False
            out.append([req["op"], (time.perf_counter() - s) * 1e3, ok])

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    start.wait()
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    for c in clients:
        c.close()
    with open(out_path, "w") as f:
        json.dump({"wall_s": wall, "results": [r for rs in results for r in rs]}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
