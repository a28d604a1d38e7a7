#!/usr/bin/env python3
"""Self-test of the benchmark, at toy input sizes:

    python3 perfbench/selftest.py

For every workload, untraced and traced, it checks that the run exits 0,
that its last stdout line is the result object, and that it prints every
metric BENCHMARK.json names (end-to-end untraced, per-layer traced) with
its unit. It corrupts outputs the checks have just passed and asserts
that the checks count each corruption as a failure. Last, it checks the
read-amplification measure (perfbench.ReadCheck) on a deployed read,
which must give 3.0, and on a cached read, which must give 1.0.
"""
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, trace, seed=1):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, last
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = last["metrics"]
    assert set(got) == {m["name"] for m in want}, set(got) ^ {m["name"] for m in want}
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"] and isinstance(v["value"], float), (m, v)
    if not trace:
        assert all(v["value"] > 0 for v in got.values()), got
        for name in ("job_s", "cold_job_s", "setup_s", "records_per_s", "peak_heap_mb"):
            assert f"{workload} {name} = " in p.stdout, name
        assert f"{workload} failed_ratio = 0 " in p.stdout
    tag = f"{workload}-s{seed}-t{trace}-toy"
    return json.loads((ROOT / ".bench_build" / "results" / f"{tag}.json").read_text()), \
        ROOT / ".bench_build" / "work" / tag


def corrupt_etl(artifact, work):
    res, props = artifact["jvm_result"], artifact["inputs"]
    inputs = work / "inputs"
    assert checks.check_etl(res, props, inputs)[0] == 0
    # one changed cell in the landed CSV
    bad_csv = work / "corrupt.csv"
    lines = Path(res["landed_csv"]).read_text(encoding="utf-8").splitlines(keepends=True)
    cells = lines[1].split(",")
    cells[0] = str(int(cells[0]) + 1)
    lines[1] = ",".join(cells)
    bad_csv.write_text("".join(lines), encoding="utf-8")
    n_bad, _ = checks.csv_mismatches(bad_csv, inputs)
    assert n_bad == 2, n_bad  # one row unexpected, one missing
    failed, _ = checks.check_etl(dict(res, landed_csv=str(bad_csv)), props, inputs)
    assert failed == len(res["ops"]), failed
    # a wrong expected unmatched count
    failed, _ = checks.check_etl(res, dict(props, unmatched_rows=props["unmatched_rows"] + 1),
                                 inputs)
    assert failed == len(res["ops"]), failed


def read_amplification():
    """Runs perfbench.ReadCheck on a toy primary."""
    work = bench.BUILD / "work" / "readcheck"
    gen.generate("etl_bulk_toy", 1, str(work / "inputs"))
    deadline = time.time() + bench.DEADLINE_S
    res = bench.run_jvm(bench.build(deadline), "perfbench.ReadCheck", work, work / "out",
                        ["--primary", str(work / "inputs" / "primary.json")], deadline)
    assert abs(res["deployed"] - 3.0) < 0.01, res
    assert abs(res["cached"] - 1.0) < 0.01, res


def main():
    artifacts = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            artifacts[(w, trace)] = run(w, trace)
            print(f"ok: {w} trace={trace} prints every metric", flush=True)
    for w in WORKLOADS:
        corrupt_etl(*artifacts[(w, 0)])
    print("ok: corrupted ETL outputs count as failures")
    read_amplification()
    print("ok: read amplification is 3.0 for the deployed read, 1.0 for a cached one")
    print("selftest passed")


if __name__ == "__main__":
    main()
