"""Record a baseline of every (metric, workload) pair.

    python3 perfbench/baseline.py [--seeds 1,2,...,10] [--out FILE]

Run from the repository root. Measures the ``tools/calibration`` pair
(``median``, ``shuffle_median``) once, as context for reading the numbers
on this machine, not as a metric; then runs every workload once per seed
(untraced) and once traced on the first seed. Writes, per workload and
metric, the median, quartiles and spread (interquartile range over the
median, the figure the bounds in BENCHMARK.json are checked against), the
traced run's per-layer record, and the tracing overhead: the traced run's
end-to-end values minus the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END  # noqa: E402
from run import WORKLOADS, worker_env  # noqa: E402

CALIBRATE = (
    "import json; from tools.calibration import calibration; "
    "from octopusdb_spark.session import get_spark; "
    "s = get_spark('calibration'); c = calibration(s); s.stop(); "
    "print(json.dumps({k: c[k] for k in ('median', 'shuffle_median')}))"
)


def calibrate(root: str) -> dict:
    work = os.path.join(root, ".perfbench", f"calibration-{os.getpid()}")
    try:
        p = subprocess.run([sys.executable, "-c", CALIBRATE], cwd=root, env=worker_env(work, root),
                           capture_output=True, text=True, check=True)
        return json.loads(p.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: {p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    print(workload, seed, trace, f"{res['wall_s']:.1f}s", "correct" if res["correct"] else
          "INCORRECT", flush=True)
    return res


def summary(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    root = os.getcwd()
    seeds = [int(s) for s in args.seeds.split(",")]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out = {"cores": len(os.sched_getaffinity(0)), "seconds": seconds, "seeds": seeds,
           "calibration": calibrate(root), "workloads": {}}
    print("calibration", out["calibration"], flush=True)
    for w in WORKLOADS:
        runs = [bench(root, w, s, seconds, 0) for s in seeds]
        per = {n: summary([r["metrics"][n]["value"] for r in runs]) for n, *_ in END_TO_END}
        traced = bench(root, w, seeds[0], seconds, 1)
        with open(os.path.join(root, ".perfbench", f"trace-{w}-{seeds[0]}.json")) as f:
            rec = json.load(f)
        out["workloads"][w] = {
            "end_to_end": per,
            "failed": sum(r["failed"] for r in runs),
            "run_wall_s": summary([r["wall_s"] for r in runs]),
            "per_layer": rec["per_layer"],
            "tracing_overhead": {
                n: rec["end_to_end"][n] - per[n]["median"] for n, *_ in END_TO_END
            },
            "traced_run_wall_s": traced["wall_s"],
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for w, rec in out["workloads"].items():
        for n, s in rec["end_to_end"].items():
            print(f"{w:16s} {n:20s} median={s['median']:.4g} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
