#!/usr/bin/env python3
"""Layered benchmark for graft: one workload, one seed, one run.

    python3 layerbench/run.py --workload etl_dag --seed 7 --seconds 15 --trace 0

Run from the root of a graft checkout. The script

1. builds `layerbench/` (graft's main sources plus the measuring harness)
   with sbt, once per source change;
2. writes the seed's inputs: the base tables with their rows permuted
   (`gen.py`);
3. runs the workload's gates in one JVM at local[<half the CPUs>], one
   client in a closed loop: two warm-up passes, then a fixed number of
   measured passes that fill about `--seconds` (`graftbench.Runner`);
4. checks each gate's persisted result against its DuckDB oracle by
   running `tools/compare.py` on them, outside the timed windows;
5. prints every metric by name with its unit, then one JSON line: the
   end-to-end metrics with `--trace 0`, the per-layer metrics with
   `--trace 1`. The full record goes to `layerbench/.work/artifacts/`.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen  # beside this file

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
RUNNER_LIMIT_S = 130  # the JVM's share of a run's 180 s; inputs and the check take the rest
CHECK_LIMIT_S = 30
PASS_S = 5  # seconds per measured pass, roughly (a warm pass takes 5-9 s); --seconds 15 gives three

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "gate_geomean_s": "s",
             "cpu_core_s": "core-s", "peak_rss_mb": "MB"}
# Layer counters: summed over a pass's gates; ratios and peaks are not.
LAYER_UNITS = {
    "queries.build_ms": "ms", "queries.action_ms": "ms",
    "queries.driver_other_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.n_qe": "count",
    "operators.job_ms": "ms", "operators.n_jobs": "count",
    "operators.n_stages": "count", "operators.stages_skipped": "count",
    "operators.n_tasks": "count", "operators.tasks_failed": "count",
    "operators.task_ms": "ms", "operators.task_cpu_ms": "ms",
    "operators.gc_ms": "ms", "operators.core_util": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.fetch_wait_ms": "ms",
    "operators.spill_bytes": "bytes", "operators.cached_peak_bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.output_bytes": "bytes",
    "sources.output_records": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.commit_ms": "ms",
}
RUN_UNITS = {"trace.wall_s": "s", "box.calibration_ms": "ms", "box.steal_s": "s",
             "box.load1_before": "load", "box.load1_after": "load"}


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def require_checkout():
    """The benchmark measures the graft sources beside it; without them
    there is nothing to build, so it stops before printing any result."""
    need = ["src/main/scala/graft/SparkEntry.scala", "tools/compare.py"]
    missing = [p for p in need if not (ROOT / p).is_file()]
    if missing:
        fail("not inside a graft checkout; missing " + ", ".join(missing))


def build():
    """Compile layerbench/ and return the runtime classpath. The result is
    cached under a hash of every input of the build."""
    h = hashlib.sha256()
    inputs = [p for base in (ROOT / "src" / "main", BENCH / "src" / "main")
              for p in sorted(base.rglob("*")) if p.is_file()]
    inputs += [BENCH / "build.sbt", BENCH / "project" / "build.properties",
               BENCH / "jvm.opts"]
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    cache = WORK / "build.json"
    if cache.is_file():
        cached = json.loads(cache.read_text())
        if cached["stamp"] == stamp:
            return cached["classpath"]
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, capture_output=True, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if proc.returncode or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1]


def keep_only(parent, name):
    """The seeded inputs keep the current seed only, so the work directory
    stays small across many seeds."""
    if parent.is_dir():
        for d in parent.iterdir():
            if d.name != name:
                shutil.rmtree(d, ignore_errors=True)


def run_jvm(classpath, data, out, gates, passes, trace, cores):
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    tmp.mkdir(parents=True)
    out.mkdir(parents=True)
    # graft reads tuning knobs from SPARK_GRAFT_*; the benchmark pins them
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    opts = [l.strip() for l in (BENCH / "jvm.opts").read_text().splitlines() if l.strip()]
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "graftbench.Runner", "--data", str(data), "--out", str(out),
           "--gates", ",".join(gates), "--passes", str(passes),
           "--trace", str(trace), "--cores", str(cores)]
    with open(out / "runner.log", "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                  timeout=RUNNER_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"runner exceeded the run's time limit; log in {out / 'runner.log'}")
    if proc.returncode or not (out / "run.json").is_file():
        sys.stderr.write((out / "runner.log").read_text()[-4000:])
        fail("runner failed")
    return json.loads((out / "run.json").read_text())


def check(rec, out, data):
    """Failed gate calls: every call that threw, plus each gate whose last
    persisted result `tools/compare.py` fails against its oracle. Returns
    (attempted, {gate: [why, ...]})."""
    failures = {}
    for p in rec["passes"]:
        for c in p["gates"]:
            if c["error"]:
                failures.setdefault(c["gate"], []).append(c["error"])
    proc = subprocess.run([sys.executable, str(ROOT / "tools" / "compare.py"), str(data), str(out)],
                          capture_output=True, text=True, timeout=CHECK_LIMIT_S)
    verdicts = {name: (verdict, why) for verdict, name, why in
                re.findall(r"^(PASS|FAIL) (\S+?):? (.*)$", proc.stdout, re.M)}
    gates = [g["gate"] for g in rec["passes"][-1]["gates"]]
    if proc.returncode not in (0, 1) or set(verdicts) != set(gates):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("the oracle check did not give a verdict for every gate")
    last_error = {g["gate"] for g in rec["passes"][-1]["gates"] if g["error"]}
    for gate, (verdict, why) in verdicts.items():
        if verdict == "FAIL" and gate not in last_error:  # a throw is counted once
            failures.setdefault(gate, []).append("oracle: " + why)
    attempted = sum(len(p["gates"]) for p in rec["passes"])
    return attempted, failures


def gate_best(passes, key):
    """Each gate's least value over the passes: load from other tenants of
    the box only ever inflates a window, so the minimum is the steadiest
    estimate of the program's own cost (graft.Bench's best-of-N). Every run
    has the same number of passes, so the minimum is taken over as many
    samples in a slow run as in a fast one."""
    gates = [g["gate"] for g in passes[0]["gates"]]
    return {g: min(p["gates"][i][key] for p in passes) for i, g in enumerate(gates)}


def end_to_end(rec, traced=False):
    """One pass at its best: each gate's least window and CPU time over the
    measured passes."""
    measured = [p for p in rec["passes"] if not p["warmup"] and p["traced"] == traced]
    wall = gate_best(measured, "wall_ms")
    cpu = gate_best(measured, "cpu_ms")
    return {
        "setup_s": rec["setup_s"],
        "wall_s": sum(wall.values()) / 1e3,
        "gate_geomean_s": math.exp(statistics.fmean(
            math.log(max(v, 1e-3) / 1e3) for v in wall.values())),
        "cpu_core_s": sum(cpu.values()) / 1e3,
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def pass_layers(p, cores):
    """Per-layer metrics of one traced pass, summed over its gates."""
    rows = [g["layers"] for g in p["gates"]]
    m = {k: sum(r[k] for r in rows) for k in LAYER_UNITS}
    m["operators.cached_peak_bytes"] = max(r["operators.cached_peak_bytes"] for r in rows)
    job_ms = m["operators.job_ms"]
    m["operators.core_util"] = m["operators.task_ms"] / (job_ms * cores) if job_ms else 0.0
    return m


def per_layer(rec):
    """Median over the traced passes of each pass's per-layer metrics, the
    traced pass wall (to set against the untraced run's `wall_s`), and the
    box record."""
    cores = rec["box"]["cores"]
    per_pass = [pass_layers(p, cores) for p in rec["passes"] if p["traced"]]
    m = {k: statistics.median(x[k] for x in per_pass) for k in LAYER_UNITS}
    m["trace.wall_s"] = end_to_end(rec, traced=True)["wall_s"]
    box = rec["box"]
    m["box.calibration_ms"] = (box["calibration_ms_before"] + box["calibration_ms_after"]) / 2
    m["box.steal_s"] = box["steal_s"]
    m["box.load1_before"] = float(box["loadavg_before"].split()[0])
    m["box.load1_after"] = float(box["loadavg_after"].split()[0])
    return m


def gate_rows(rec):
    """Every gate's row from each traced pass, for the traced artifact."""
    return [dict(pass_no=p["pass"], **g) for p in rec["passes"] if p["traced"]
            for g in p["gates"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    require_checkout()
    spec = json.loads((BENCH / "workloads.json").read_text())["workloads"]
    if args.workload not in spec:
        fail(f"unknown workload {args.workload}; one of {', '.join(spec)}")
    gates = spec[args.workload]["gates"]
    # A pass count fixed by --seconds, never one that depends on how fast
    # this run happens to go.
    passes = max(2, round(args.seconds / PASS_S))
    clock = [time.monotonic()]

    def lap():
        clock.append(time.monotonic())
        return round(clock[-1] - clock[-2], 3)

    classpath = build()
    phases = {"build_s": lap()}
    data = WORK / "data" / f"seed-{args.seed}"
    keep_only(data.parent, data.name)
    gen.generate(args.seed, data)
    phases["inputs_s"] = lap()
    # Spark gets half the CPUs: the JIT and GC threads and the driver keep
    # the rest, so a window does not wait on a vCPU the host has lent out.
    # In a five-seed comparison on a shared 4-vCPU box this cut the
    # quartile spread of wall_s from 26% to 8% at the same wall time
    # (sf0.01 gives two cores enough work, not four).
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    out = WORK / "run"
    rec = run_jvm(classpath, data, out, gates, passes, args.trace, cores)
    phases["runner_s"] = lap()
    attempted, failures = check(rec, out, data)
    phases["check_s"] = lap()
    n_failed = sum(len(v) for v in failures.values())

    e2e = end_to_end(rec, traced=bool(args.trace))
    e2e_units = dict(E2E_UNITS, failed_frac="ratio")
    e2e["failed_frac"] = n_failed / attempted
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"passes {len(rec['passes'])}  gates {len(gates)}  "
          f"calibration {rec['box']['calibration_ms_before']:.1f}/"
          f"{rec['box']['calibration_ms_after']:.1f} ms  "
          f"load {rec['box']['loadavg_before']} -> {rec['box']['loadavg_after']}")
    for k, v in e2e.items():
        print(f"  {k:16s} {v:12.4f} {e2e_units[k]}")
    for gate, why in sorted(failures.items()):
        print(f"  FAILED {gate}: {why[0]}" + (f" (+{len(why) - 1} more)" if len(why) > 1 else ""))
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "gates": gates, "passes": len(rec["passes"]), "box": rec["box"],
                "phases_s": phases, "attempted": attempted,
                "pass_wall_s": [sum(g["wall_ms"] for g in p["gates"]) / 1e3
                                for p in rec["passes"]],
                "failed_gates": failures, "end_to_end": e2e}
    art_dir = WORK / "artifacts"
    art_dir.mkdir(parents=True, exist_ok=True)
    if args.trace:
        layers = per_layer(rec)
        units = dict(LAYER_UNITS, **RUN_UNITS)
        for k, v in layers.items():
            print(f"  {k:34s} {v:16.3f} {units[k]}")
        artifact.update(per_layer=layers, gate_rows=gate_rows(rec), spans=rec["spans"])
        untraced = art_dir / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.is_file():
            wall = json.loads(untraced.read_text())["end_to_end"]["wall_s"]
            artifact["tracing_overhead_s"] = layers["trace.wall_s"] - wall
            print(f"  tracing overhead on wall_s: {artifact['tracing_overhead_s']:+.3f} s "
                  f"against the untraced run of this seed")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    (art_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(artifact, indent=1))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
