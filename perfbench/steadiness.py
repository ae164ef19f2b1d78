"""Steadiness check: run every workload of BENCHMARK.json on several
seeds and report each end-to-end metric's spread, the distance between
its first and third quartile as a share of its median.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/records/steadiness_a.json

Runs are sequential; each is ``perfbench/run.py`` in a child process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            last = json.loads(proc.stdout.strip().splitlines()[-1])
            saved = os.path.join(ROOT, ".bench_work", "results",
                                 f"{wl}_seed{seed}_s{bench['run_seconds']:g}.json")
            with open(saved) as fh:
                record = json.load(fh)
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall,
                         "host_steal_s": record["host_steal_s"],
                         "op_seconds": [
                             o.get("seconds", o.get("trigger_s")) for o in record["ops"]
                         ],
                         "correct": last["correct"], "attempted": last["attempted"],
                         "failed": last["failed"],
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()}})
            print(f"{wl} seed {seed}: {wall:.1f} s "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()),
                  flush=True)
        stats = {
            m: dict(spread([r["metrics"][m] for r in runs]), bound=bounds[m],
                    within_third_of_bound=None)
            for m in bounds
        }
        for m, st in stats.items():
            st["within_third_of_bound"] = st["spread"] < bounds[m] / 3
        out["workloads"][wl] = {"runs": runs, "spread": stats}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    for wl, rec in out["workloads"].items():
        for m, st in rec["spread"].items():
            print(f"{wl} {m}: median {st['median']:.4g} spread {st['spread']:.3f} "
                  f"(bound {st['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
