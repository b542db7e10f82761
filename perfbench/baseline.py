#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/baseline.py --runs 10 --seconds 12 [--trace 0|1] \\
        [--workload optree --workload spatial] [--first-seed 1] [--out FILE]

Each run is ``perfbench/run.py`` in a child process, one after another (never
two at once: they would share the cores).  For every workload and metric the
summary holds the median, the quartiles of ``statistics.quantiles(n=4)`` and
the spread (quartile distance over the median), plus every run's value.  With
``--out`` it is written as JSON; the table goes to stdout either way.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-4000:]}")
    return json.loads(lines[-1]), wall


def describe(workload: str, seconds: int) -> dict:
    """Corpus size and op mix of one run of ``workload``."""
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import run
    import streams as S

    spec = run.WORKLOADS[workload]
    out = {"corpus_docs": S.CORPUS_DOCS,
           "timed_ops": max(4, round(seconds * spec["rate"])),
           "warmup_ops": spec["warmup"],
           "tables": [f"{g}-{r}" + ("+hcqr" if h else "") for g, r, h in spec["tables"]]}
    if workload == "optree":
        out["mix"] = (f"CQR and HCQR alternate; every {S.HIT_EVERY}th op a result-cache "
                      f"hit; fresh trees walk the templates {list(S.TEMPLATES)} "
                      f"(HCQR from slot {S.HCQR_OFFSET}, no xor); pool "
                      f"{S.POOL_TREES} trees, Zipf s={S.ZIPF_S}")
    else:
        out["mix"] = (f"{S.REGIONS_PER_KNN} region singles (s2-10) then one kNN batch "
                      f"of {S.KNN_BATCH} (h3-6, k in {list(S.KNN_KS)}); rectangles of "
                      f"half-size {list(S.RECT_HALF_DEG)} deg and shifted fixture "
                      f"polygons, none repeated")
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "values": values}
    if len(values) >= 2:
        q1, _q2, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else 0.0)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", choices=("optree", "spatial"))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    workloads = args.workload or ["optree", "spatial"]
    report = {"host": {"nproc": len(os.sched_getaffinity(0)), "cpu": _cpu_model(),
                       "date": time.strftime("%Y-%m-%d")},
              "seconds": args.seconds, "trace": args.trace,
              "inputs": {wl: describe(wl, args.seconds) for wl in workloads},
              "workloads": {}}
    for wl in workloads:
        per: dict[str, list[float]] = {}
        walls, bad = [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, wall = run_once(wl, seed, args.seconds, args.trace)
            walls.append(wall)
            bad += res["failed"] + (not res["correct"])
            for k, v in res["metrics"].items():
                per.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        report["workloads"][wl] = {
            "runs": args.runs, "not_correct": bad,
            "run_wall_s": summarise(walls),
            "metrics": {k: summarise(v) for k, v in per.items()}}
        for k, s in report["workloads"][wl]["metrics"].items():
            print(f"  {wl:8s} {k:36s} median {s['median']:12.4f}  "
                  f"spread {s.get('spread', 0.0):.3f}")
        print(f"  {wl:8s} run wall median {statistics.median(walls):.1f}s", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
