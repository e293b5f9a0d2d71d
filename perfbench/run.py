"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload kv_store --seed 1 --seconds 5 --trace 0

Workloads: kv_store, analytics_suite (see README.md).
The run happens in a fresh worker process (its own session, so every
process it starts -- the Spark JVM, its Python workers, the load
generator -- is stopped and waited for before this exits). The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics, or with ``--trace 1`` the
per-layer ones (the traced run also leaves its full record, end-to-end
numbers included, in ``.perfbench/trace-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("kv_store", "analytics_suite")
TIMEOUT_S = 170


def _session_pids(sid: int) -> list:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(d))
    return pids


def _stop_session(sid: int) -> None:
    """Kill what is left of the worker's session and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.2)


def worker_env(work: str, root: str) -> dict:
    """Environment of a benchmark process: everything under ``work``."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) - 1)),
        SPARK_GRAFT_DRIVER_MEM="3g",  # the -Xms in conf/spark-defaults.conf
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_CONF_DIR=os.path.join(HERE, "conf"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.0,
                    help="scale factor of the generated tables (0 = the workload's default)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "octopusdb_spark", "__init__.py")):
        print("run from the repository root: octopusdb_spark/ not found", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    log_path = os.path.join(work, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
                 str(args.seed), str(args.seconds), str(args.trace), str(args.sf), work],
                cwd=root, env=worker_env(work, root), stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            _stop_session(proc.pid)
            if code is None:
                proc.wait()
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"context: {json.dumps(res['context'])}", file=sys.stderr)
    if args.trace:
        names = [(n, u) for n, u, _, _ in PER_LAYER]
        source = res["per_layer"]
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {"workload": args.workload, "seed": args.seed, "per_layer": source,
                 "end_to_end": res["end_to_end"],
                 "targets": {n: t for n, _, _, t in PER_LAYER}},
                f, indent=1, sort_keys=True,
            )
    else:
        names = [(n, u) for n, u, _, _ in END_TO_END]
        source = res["end_to_end"]
        missing = [n for n, _ in names if n not in source]
        if missing:
            print(f"metrics not measured: {missing}", file=sys.stderr)
            return 1
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
