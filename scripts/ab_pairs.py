#!/usr/bin/env python3
"""A/B a change against its parent with the repo benchmark, in pairs.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W[,W2...] \
        --seeds 101-110 [--seconds 6] [--trace 0|1] [--out ab.json]

PARENT_DIR and CHANGE_DIR are two checkouts (e.g. the parent made with
`git archive <commit> | tar -x -C DIR`). For each seed it runs
`python3 perfbench/run.py --workload W --seed S --seconds X --trace T`
once in each checkout, one run at a time, alternating which side runs
first (the first pair runs the parent first). Each run's metrics are
read from the JSON object on the last line of its stdout.

With a comma list of workloads, each seed runs its pair of every
workload back to back, so a claimed workload and its control share the
host's conditions; progress lines then name the workload, and there is
one table per workload (and `--out` holds a list of the per-workload
objects a single workload writes).

For every metric it prints each side's median and quartiles, the
parent's interquartile range, the change's relative difference, how many
of all the pairs run the change won (ties count for neither side) and
whether a gain claim holds: the change wins at least nine tenths of the
pairs run, the medians differ, in the better direction, by more than the
parent's interquartile range, and the change failed no more operations
than the parent. A change run that errored or failed operations counts
as a lost pair; medians and quartiles are taken over each side's clean
runs. Metrics that BENCHMARK.json bounds also show whether the change's
median is worse than the parent's by more than the bound; where the
parent's interquartile range, relative to its median, is wider than the
bound, the bound reads `unresolved` unless every change run beats every
parent run.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(spec):
    """'101-110' or '3,5,9' (or a mix) -> list of ints, in order."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"error": f"exit {r.returncode}: {r.stderr.strip()[-400:]}"}
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return {"error": f"no result line: {lines[-1][:200]}"}
    return {"failed": res["failed"], "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if not xs:
        return (float("nan"),) * 3
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def metric_specs(bench):
    """name -> (better, bound or None), from BENCHMARK.json."""
    return {m["name"]: (m["better"], m.get("bound"))
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def summarize(name, better, bound, pairs, more_failures):
    """`pairs`: (parent value, change value) for every pair run, None for
    a side whose run errored, failed operations or lacks the metric.
    `more_failures`: the change failed more operations than the parent."""
    par = [p for p, _ in pairs if p is not None]
    chg = [c for _, c in pairs if c is not None]
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    iqr = pq3 - pq1
    sign = -1.0 if better == "lower" else 1.0
    # a change run without a value loses its pair; a parent run without
    # one leaves the pair won by neither side
    wins = sum(1 for p, c in pairs
               if p is not None and c is not None and sign * (c - p) > 0)
    gain = sign * (cmed - pmed)
    claim = wins >= 0.9 * len(pairs) and gain > iqr and not more_failures
    rel = (cmed - pmed) / pmed if pmed else float("nan")
    row = {"metric": name, "better": better, "pairs": len(pairs),
           "parent": {"median": pmed, "q1": pq1, "q3": pq3, "runs": par},
           "change": {"median": cmed, "q1": cq1, "q3": cq3, "runs": chg},
           "parent_iqr": iqr, "relative": rel, "change_wins": wins,
           "claim_holds": claim}
    if bound is not None:
        separated = bool(par) and len(chg) == len(pairs) and all(
            sign * (c - p) > 0 for c in chg for p in par)
        if not par or not chg:
            verdict = "unresolved"
        elif separated:
            verdict = "ok"
        elif not pmed or iqr / abs(pmed) > bound:
            verdict = "unresolved"
        else:
            verdict = "WORSE" if -sign * rel > bound else "ok"
        row["bound"] = bound
        row["bound_verdict"] = verdict
    return row


def print_table(summary):
    def side(x):
        return f"{x['median']:.4g} [{x['q1']:.4g}, {x['q3']:.4g}]"
    head = ("metric", "parent median [q1, q3]", "change median [q1, q3]",
            "parent IQR", "relative", "wins", "claim", "bound")
    rows = []
    for s in summary:
        bound = ("" if "bound" not in s else
                 f"{s['bound_verdict']} ({s['bound']:g})")
        rows.append((s["metric"], side(s["parent"]), side(s["change"]),
                     f"{s['parent_iqr']:.4g}", f"{100 * s['relative']:+.1f}%",
                     f"{s['change_wins']}/{s['pairs']}",
                     "yes" if s["claim_holds"] else "no", bound))
    widths = [max(len(r[i]) for r in [head] + rows) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True,
                    help="a workload, or a comma list run seed by seed back to back")
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 3,5,9")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write every run and the summary here as JSON")
    a = ap.parse_args()

    sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    for side, d in sides.items():
        if not (d / "perfbench" / "run.py").exists():
            sys.exit(f"ab_pairs: {side} checkout {d} has no perfbench/run.py")
    specs = metric_specs(json.loads((sides["change"] / "BENCHMARK.json").read_text()))
    workloads = a.workload.split(",")

    runs = {w: [] for w in workloads}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            label = f"{w} " if len(workloads) > 1 else ""
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], w, seed, a.seconds, a.trace)
                res = pair[side]
                status = res.get("error") or (
                    f"failed {res['failed']}/{res['attempted']}" + "".join(
                        f" {k}={v:.4g}" for k, v in res["metrics"].items()
                        if k in ("job_s", "cold_job_s", "setup_s", "records_per_s")))
                print(f"{label}seed {seed} {side:6s} {status}", flush=True)
            runs[w].append(pair)

    out = [report(w, runs[w], specs, a, sides) for w in workloads]
    if a.out:
        Path(a.out).write_text(json.dumps(out[0] if len(out) == 1 else out, indent=1) + "\n")


def report(workload, runs, specs, a, sides):
    """Prints one workload's summary and table; returns what `--out` holds for it."""
    def clean(res):
        return "metrics" in res and res["failed"] == 0

    def failures(side):
        # an errored run counts as one failure, whatever it attempted
        return sum(r[side].get("failed", 1) for r in runs)

    par_failed, chg_failed = failures("parent"), failures("change")
    seen = [r[side]["metrics"] for r in runs for side in ("parent", "change")
            if clean(r[side])]
    names = [n for n in specs if any(n in m for m in seen)]

    def value(res, n):
        return res["metrics"].get(n) if clean(res) else None

    summary = [summarize(n, *specs[n],
                         [(value(r["parent"], n), value(r["change"], n)) for r in runs],
                         chg_failed > par_failed)
               for n in names]

    unclean = {side: sum(1 for r in runs if not clean(r[side]))
               for side in ("parent", "change")}
    print(f"\n{workload}: {len(runs)} pairs; runs errored or with failed operations:"
          f" parent {unclean['parent']}, change {unclean['change']};"
          f" failed operations (an errored run counts one): parent {par_failed},"
          f" change {chg_failed}")
    print_table(summary)
    return {"workload": workload, "seconds": a.seconds, "trace": a.trace,
            "parent": str(sides["parent"]), "change": str(sides["change"]),
            "runs": runs, "summary": summary}


if __name__ == "__main__":
    main()
