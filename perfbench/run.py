#!/usr/bin/env python3
"""feastspark benchmark: one workload, one seed, one closed-loop client.

Usage (from the checkout root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark (perfbench/build.py), generates the
seeded inputs and computes the reference output with DuckDB, runs the JVM side (perfbench.Main) and prints, as its last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
holds the input record and the annotations (set-up parts, job times,
quartiles, sample count, tail percentile, host steal, GC). A traced run also writes its spans to
.perfbench_work/traces/. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

import build
import gen
import stats

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def units(section):
    """Metric name -> unit, from the benchmark definition at the checkout root."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def jvm_command(classes, work, args, input_dir, ref_dir, out_file, cores):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC"] + build.java_flags(work / "tmp") + opens +
            ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.Main",
             "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(cores), "--work", str(work), "--input", str(input_dir),
             "--reference", str(ref_dir), "--out", str(out_file)])


def generate(args, work, cores):
    """Generate the inputs (timed, part of set-up) and the reference
    output (untimed). Returns (input dir, generation seconds, input record)."""
    import duckdb
    t0 = time.monotonic()
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    con.execute(f"SET temp_directory = '{work / 'duckdb'}'")
    gen.build_tables(con, args.workload, args.seed)
    input_dir = work / "input"
    record = gen.write_inputs(con, args.workload, str(input_dir))
    gen_s = time.monotonic() - t0
    gen.write_reference(con, args.workload, str(work / "reference"))
    con.close()
    return input_dir, gen_s, record


def end_to_end(result, jobs, gen_s, record):
    walls = [j["wall_s"] for j in jobs]
    q1, p50, q3 = stats.quartiles(walls)
    tail, tail_pct = stats.tail(walls)
    failed = sum(1 for j in jobs if not j["ok"])
    metrics = {
        "setup_s": gen_s + result["setup_jvm_s"],
        "job_s_p50": p50,
        "job_s_tail": tail,
        "turns_per_s": record["turns"] * len(jobs) / sum(walls),
        "job_ok_ratio": 1.0 - failed / len(jobs),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    notes = {"setup_gen_s": gen_s, "setup_jvm_s": result["setup_jvm_s"],
             "warmup_job_s": result["warmup_job_s"], "job_s": walls, "job_s_q1": q1, "job_s_q3": q3,
             "samples": len(walls), "tail_percentile": tail_pct,
             "failed_ratio": failed / len(jobs)}
    return metrics, notes


def per_layer(result, jobs):
    traced = [j for j in jobs if j["traced"]]
    untraced = [j for j in jobs if not j["traced"]]
    if not traced or not untraced:
        raise SystemExit("perfbench: the traced run needs both untraced and traced jobs")
    ok = [j for j in traced if j["layers"]]
    metrics = {}
    for name in units("per_layer"):
        if name in ("host.steal_frac", "jvm.gc_s", "jvm.peak_heap_mb", "trace.overhead_s"):
            continue
        metrics[name] = stats.median([j["layers"][name] for j in ok]) if ok else 0.0
    metrics["host.steal_frac"] = stats.median([j["steal_frac"] for j in jobs])
    metrics["jvm.gc_s"] = stats.median([j["gc_s"] for j in jobs])
    metrics["jvm.peak_heap_mb"] = result["peak_heap_mb"]
    metrics["trace.overhead_s"] = (stats.median([j["wall_s"] for j in traced]) -
                                   stats.median([j["wall_s"] for j in untraced]))
    return metrics


def write_trace(args, jobs, record, metrics):
    spans = []
    for j in jobs:
        selfs = stats.self_times(j["spans"])
        spans += [dict(s, self_s=selfs[s["id"]]) for s in j["spans"]]
    out = WORK_ROOT / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({"workload": args.workload, "seed": args.seed, "input": record,
                                "layers": metrics, "spans": spans}, indent=1))
    return path


def main():
    # on SIGTERM unwind normally, so the JVM child is killed and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    cores = os.cpu_count() or 1
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        input_dir, gen_s, record = generate(args, work, cores)
        out_file = work / "result.json"
        log = work / "jvm.log"
        with open(log, "w") as lf:
            r = subprocess.run(jvm_command(classes, work, args, input_dir, work / "reference", out_file, cores),
                               stdout=lf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S, cwd=work,
                               env={k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"})
        if r.returncode != 0 or not out_file.exists():
            sys.stderr.write(log.read_text()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
        result = json.loads(out_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    jobs = result["jobs"]
    for j in jobs:
        j["problem"] = (j["error"] or (f"{j['leaks']} rows leak a feature from after event_ts" if j["leaks"]
                        else None) or (f"checksum {j['checksum']} != reference {result['reference']}"
                                       if j["checksum"] != result["reference"] else None))
        j["ok"] = j["problem"] is None
        j["steal_frac"] = stats.steal_frac(j["stat_before"], j["stat_after"])
    failed = sum(1 for j in jobs if not j["ok"])
    if args.trace:
        metrics = per_layer(result, jobs)
        section = "per_layer"
        notes = {"trace_file": str(write_trace(args, jobs, record, metrics).relative_to(ROOT))}
    else:
        metrics, notes = end_to_end(result, jobs, gen_s, record)
        section = "end_to_end"
        notes["host.steal_frac_p50"] = stats.median([j["steal_frac"] for j in jobs])
        notes["jvm.gc_s_p50"] = stats.median([j["gc_s"] for j in jobs])
    errors = sorted({j["problem"] for j in jobs if not j["ok"]})
    print(json.dumps({"input": record, "annotations": notes, "errors": errors[:5]}))
    unit = units(section)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
