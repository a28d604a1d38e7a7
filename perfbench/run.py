#!/usr/bin/env python3
"""The repo benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

It builds the engine and the benchmark harness from source (once per
checkout, into .bench_build/), generates the workload's inputs from the
seed, runs the workload in a fresh JVM through the engine's public entry
points, checks every output against a reference computed outside the
engine (DuckDB), and prints each metric by name with its unit. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, from a run in which the
benchmark's own listeners and spans are on. Artifacts (input properties,
every measured number, the trace) land in .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# every run of one invocation stays inside this budget, so the process
# exits well within the 180 s limit even when the engine hangs
DEADLINE_S = 170.0
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# A traced run also measures the registry modules: a fixed selection of
# SparkEntry rows, one per operator module, over the committed seed-42
# sf0.001 fixture tables.
REGISTRY_FIXTURES = HERE / "fixtures" / "sf0.001"
REGISTRY_ROWS = json.loads((HERE / "registry_rows.json").read_text())

WORKLOADS = ["etl_bulk", "etl_enrich"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", HERE / "src", HERE / "project"):
        for p in sorted(base.rglob("*")):
            if p.is_file():
                st = p.stat()
                h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    h.update((HERE / "build.sbt").read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + harness with the benchmark's own sbt build once
    per checkout; returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = log.read_text(errors="replace").splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(cps[-1] + "\n")
    stamp.write_text(fp)
    return cps[-1]


def run_jvm(cp, main_class, work, out, args, deadline):
    """Runs `main_class` in a fresh JVM with `--out out` and `args`;
    returns the result.json it writes there."""
    if out.exists():
        shutil.rmtree(out)
    jvm_cwd = work / "jvm"
    for d in ("tmp", "spark-local"):
        (jvm_cwd / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jvm_cwd / 'tmp'}",
           f"-Dspark.local.dir={jvm_cwd / 'spark-local'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class, "--out", str(out)] + args
    log = out.parent / f"{out.name}.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=jvm_cwd, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{main_class} exceeded the time budget; see {log}")
    res = out / "result.json"
    if r.returncode != 0 or not res.exists():
        fail(f"{main_class} failed (exit {r.returncode}); see {log}")
    return json.loads(res.read_text())


def run_etl(cp, shape, seed, work, seconds, trace, deadline):
    inputs = work / "inputs"
    props = gen.generate(shape, seed, str(inputs))
    res = run_jvm(cp, "perfbench.Main", work, work / "out",
                  ["--inputs", str(inputs), "--seconds", str(seconds), "--trace", str(trace),
                   "--cpus", str(min(4, os.cpu_count() or 1)),
                   "--rows", ",".join(REGISTRY_ROWS),
                   "--fixtures", str(REGISTRY_FIXTURES.resolve()),
                   "--launch-ms", str(int(time.time() * 1000))],
                  deadline)
    failed, notes = checks.check_etl(res, props, inputs)
    return props, res, len(res["ops"]), failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy input sizes (self-test only)")
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    for need in (ROOT / "src" / "main" / "scala" / "graft" / "Pipeline.scala",
                 HERE / "build.sbt", REGISTRY_FIXTURES / "orders.parquet"):
        if not need.exists():
            fail(f"missing {need.relative_to(ROOT)}: run from the root of a full checkout")
    # the first run in a checkout builds, and may take up to 900 s
    built_before = (BUILD / "classpath.txt").exists()
    cp = build(t_start + 840.0)
    if not built_before:
        deadline = min(t_start + 890.0, time.time() + DEADLINE_S)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-toy' if a.toy else ''}"
    work = BUILD / "work" / tag
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)

    shape = f"{a.workload}_toy" if a.toy else a.workload
    props, res, attempted, failed, notes = run_etl(
        cp, shape, a.seed, work, a.seconds, a.trace, deadline)
    records = props["primary_rows"]

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = checks.pick(dict(res, records_per_s=records / res["job_s"]), bench["end_to_end"])
    metrics = checks.pick(res, bench["per_layer"]) if a.trace else e2e

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "toy": a.toy, "inputs": props,
        "end_to_end": e2e, "failed_ratio": failed / attempted,
        "attempted": attempted, "failed": failed, "check_notes": notes,
        "jvm_result": res, "metrics": metrics,
        "trace_files": [str((work / "out" / f).relative_to(ROOT))
                        for f in ("trace.json", "registry/trace.json")] if a.trace else [],
    }
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(artifact, indent=1) + "\n")

    for k, v in e2e.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    # printed and stored, but not a BENCHMARK.json metric: its spread
    # between runs is wider than any bound the benchmark may set
    print(f"{a.workload} peak_heap_mb = {res['peak_heap_mb']:.6g} MB")
    print(f"{a.workload} failed_ratio = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} operations)")
    for n in notes:
        print(f"{a.workload} check: {n}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
