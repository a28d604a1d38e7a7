#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes a baseline artifact:

    python3 perfbench/baseline.py OUT.json [--seeds 1-10] [--trace-seeds 1-2]

Every workload of BENCHMARK.json runs untraced once per seed and traced
once per trace seed. For each metric the artifact holds every value, the
median, the quartiles and the quartile spread as a share of the median
(the statistic the benchmark's bounds are read against), plus the host
facts that explain drift between hosts.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="1-2")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    result = {"run_seconds": bench["run_seconds"], "workloads": {}}
    calib, heap = [], []
    for w in names:
        runs = {}
        for trace, sds in ((0, seeds(a.seeds)), (1, seeds(a.trace_seeds) if a.trace_seeds else [])):
            for s in sds:
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                     "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
                    cwd=ROOT, capture_output=True, text=True)
                wall = time.time() - t0
                if p.returncode != 0:
                    sys.exit(f"{w} seed {s} trace {trace} failed:\n{p.stderr[-3000:]}")
                last = json.loads(p.stdout.strip().splitlines()[-1])
                art = json.loads((ROOT / ".bench_build" / "results" /
                                  f"{w}-s{s}-t{trace}.json").read_text())
                calib.append(art["jvm_result"]["calib"])
                heap.append(art["jvm_result"]["max_heap_mb"])
                r = runs.setdefault(trace, {"seeds": [], "wall_s": [], "correct": [],
                                            "failed_ratio": [], "metrics": {}, "inputs": []})
                r["seeds"].append(s)
                r["wall_s"].append(round(wall, 1))
                r["correct"].append(last["correct"])
                r["failed_ratio"].append(last["failed"] / last["attempted"])
                r["inputs"].append(art["inputs"])
                for k, v in last["metrics"].items():
                    r["metrics"].setdefault(k, {"unit": v["unit"], "values": []})["values"].append(
                        v["value"])
                print(f"{w} seed {s} trace {trace}: {wall:.0f} s", flush=True)
        out = {}
        for trace, r in runs.items():
            r["metrics"] = {k: dict(summary(v["values"]), unit=v["unit"])
                            for k, v in r["metrics"].items()}
            out["traced" if trace else "untraced"] = r
        result["workloads"][w] = out
    mem_kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal"))
    result["host"] = {
        "nproc": os.cpu_count(), "mem_total_gb": round(mem_kb / 2**20, 1),
        "jvm_max_heap_mb": statistics.median(heap),
        "calib_s": statistics.median(calib), "calib_s_values": calib,
        "machine": platform.machine(), "python": platform.python_version()}
    Path(a.out).write_text(json.dumps(result, indent=1) + "\n")


if __name__ == "__main__":
    main()
