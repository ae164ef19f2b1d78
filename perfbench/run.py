"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_daily --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the program only sees the generated files. With ``--trace 0`` the run
reports the end-to-end metrics; with ``--trace 1`` it makes a traced
run in a session with Spark's event log on and reports the per-layer
metrics. The full traced-run report, with self times, counts, the
layer -> end-to-end map and the tracing overhead against the plain run
of the same seed saved in the checkout (make one first with
``--trace 0``), and the spans are written to ``.bench_work/reports/``.

Each metric is printed on its own line with its unit, then the output
check results; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402

#: repetitions of the program-side state creation inside ``setup_s``
SETUP_REPS = 3

WORKLOADS = ("crawl_daily", "stream_admission", "corpus_prep")


def _workload(name: str, seed: int, run_dir: str):
    if name == "crawl_daily":
        from perfbench.crawl_daily import CrawlDaily as cls
    elif name == "stream_admission":
        from perfbench.stream_admission import StreamAdmission as cls
    else:
        from perfbench.corpus_prep import CorpusPrep as cls
    return cls(seed, run_dir)


def run_once(name: str, seed: int, seconds: float, run_dir: str,
             traced: bool) -> dict:
    """One plain or traced run in a fresh session; returns its record."""
    from perfbench.trace import Tracer, find_event_log, read_jobs

    C.fresh_dir(run_dir)
    clock = time.perf_counter()
    phases: dict[str, float] = {}

    def lap(phase: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[phase] = now - clock
        clock = now

    wl = _workload(name, seed, run_dir)   # input generation: not timed
    lap("generate")
    tracer = Tracer(run_id=f"{name}-{seed}-{'traced' if traced else 'plain'}",
                    enabled=traced)
    ops = C.OpLog()
    steal0 = C.steal_s()
    event_dir = os.path.join(run_dir, "eventlog") if traced else None
    with C.RssSampler() as rss:
        with tracer.span("session.start"):
            spark, start_s = C.timed_session_start(run_dir, event_dir)
        lap("session")
        try:
            setup_times = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.span("setup", rep=rep):
                    wl.setup(spark, rep)
                setup_times.append(time.perf_counter() - t0)
            lap("setup")
            with tracer.span("warmup"):
                wl.warmup(spark, tracer)
            lap("warmup")
            with tracer.span("measure"):
                wl.measure(spark, seconds, tracer, decompose=traced)
            lap("measure")
            with tracer.span("check"):
                wl.check(spark, ops)
            lap("check")
        finally:
            spark.stop()
    lap("stop")
    e2e = {
        "setup_s": (start_s + phases["warmup"] + C.median(setup_times), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    e2e.update(wl.metrics())
    record = {
        "workload": name, "seed": seed, "traced": traced,
        "session_start_s": start_s, "setup_reps_s": setup_times,
        "phases_s": phases,
        "host_steal_s": C.steal_s() - steal0,
        "rss_mb_at_peak": {k: v / 2**20 for k, v in rss.at_peak.items()},
        "attempted": ops.attempted, "failed": ops.failed,
        "failures": ops.failures, "end_to_end": e2e,
        "ops": wl.op_records(),
    }
    if traced:
        jobs = read_jobs(find_event_log(event_dir))
        record["per_layer"] = wl.layer_metrics(tracer, jobs)
        record["layer_map"] = wl.layer_map()
        record["spans"] = _span_summary(tracer)
        record["jobs_total"] = len(jobs)
        tracer.write(os.path.join(_reports(), f"spans_{name}_seed{seed}.jsonl"))
    return record


def _reports() -> str:
    path = os.path.join(C.WORK, "reports")
    os.makedirs(path, exist_ok=True)
    return path


def _span_summary(tracer) -> dict:
    """Per span name: count, total and self seconds."""
    out: dict[str, dict] = {}
    for sp in tracer.spans:
        agg = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += sp.duration
        agg["self_s"] += tracer.self_time(sp)
    return out


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit of one section of BENCHMARK.json."""
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _plain_record(args, work: str) -> dict | None:
    """The plain run of this workload and seed: in this process for
    ``--trace 0``. A traced run compares with one from another process
    (a JVM reused across sessions runs warmer): the latest one saved in
    the checkout, or None. It does not make one, which would double the
    traced run's length."""
    saved = os.path.join(
        C.WORK, "results", f"{args.workload}_seed{args.seed}_s{args.seconds:g}.json"
    )
    if not args.trace:
        record = run_once(args.workload, args.seed, args.seconds,
                          os.path.join(work, "plain"), traced=False)
        os.makedirs(os.path.dirname(saved), exist_ok=True)
        with open(saved + ".tmp", "w") as fh:
            json.dump(record, fh)
        os.replace(saved + ".tmp", saved)
        return record
    if not os.path.exists(saved):
        return None
    with open(saved) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        C.check_checkout()
    except C.MissingProgram as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(C.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    C.prepare_environment(work)
    try:
        plain = _plain_record(args, work)
        runs = [plain] if plain else []
        if args.trace:
            traced = run_once(args.workload, args.seed, args.seconds,
                              os.path.join(work, "traced"), traced=True)
            traced["tracing_overhead"] = {
                k: traced["end_to_end"][k][0] - v[0]
                for k, v in plain["end_to_end"].items()
            } if plain else {}
            runs.append(traced)
            path = os.path.join(_reports(), f"trace_{args.workload}_seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"plain": plain, "traced": traced}, fh, indent=1)
            print(f"traced-run report: {os.path.relpath(path, C.ROOT)}")
    finally:
        C.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for run in runs:
        label = "traced" if run["traced"] else "plain"
        for op in run["ops"]:
            print(f"{args.workload} {label} op {json.dumps(op)}")
        print(f"{args.workload} {label} phases_s "
              + json.dumps({k: round(v, 2) for k, v in run["phases_s"].items()})
              + f" host_steal_s {run['host_steal_s']:.2f}")
        for k, (v, unit) in run["end_to_end"].items():
            print(f"{args.workload} {label} {k} = {v:.6g} {unit}")
    if args.trace:
        for k, (v, unit) in traced["per_layer"].items():
            print(f"{args.workload} per-layer {k} = {v:.6g} {unit}")
        for k, v in traced["tracing_overhead"].items():
            print(f"{args.workload} tracing overhead {k} = {v:+.6g}")
        if not plain:
            print(f"{args.workload} tracing overhead: no plain run of seed "
                  f"{args.seed} saved; run --trace 0 first")
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for reason in (f for r in runs for f in r["failures"]):
        print(f"output check FAILED: {reason}")
    print(f"output checks: {attempted - failed}/{attempted} ops passed")

    if args.trace:
        layer = traced["per_layer"]
        # a layer this workload does not exercise reads 0
        metrics = {
            name: {"value": layer.get(name, (0.0,))[0], "unit": unit}
            for name, unit in _units("per_layer").items()
        }
    else:
        metrics = {
            name: {"value": plain["end_to_end"][name][0], "unit": unit}
            for name, unit in _units("end_to_end").items()
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
