#!/usr/bin/env python3
"""graft end-to-end benchmark: one workload, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload cli_files --seed 1 --seconds 20 --trace 0

Builds graft and the JVM harness from source on first use (into
.bench_build/perfbench), makes the workload's inputs from the seed,
starts the engine twice to take set-up time, runs one untimed warm-up
pass whose results are compared with DuckDB, then the passes --seconds
buys, in a closed loop. Prints a run record (one JSON line) and, last,
the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of the traced passes plus the tracing overhead.
See perfbench/README.md.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import build, gen, jvm, oracle, stats, trace, workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
# engine starts per run: one probe process plus the measuring one. A
# full measurement is budgeted at 4 + 22 x workloads runs in 3420 s,
# which pays for no more: each start costs ~6 s of a ~55 s run.
SETUP_SAMPLES = 2
# a time-boxed run must end within 180 s, set-up samples included
DEADLINE_S = 170

END_TO_END = [
    ("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
    ("ops_per_s", "1/s"), ("flagship_rows_per_s", "rows/s"), ("heap_peak_mb", "MB"),
]


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_results(workload, result, work_dir, input_dir, bdir):
    """Marks each measured op record `correct` and returns {key: why not}.

    Every warm-up result is compared with DuckDB: rendered cli output,
    and the parquet rows of a registry query. Measured cli ops are
    compared too (each distinct output once); a measured registry query
    is correct when it ran and its warm-up result matched.
    """
    results = os.path.join(work_dir, "results")
    failures = {}
    verdicts = {}
    if workload == "cli_files":
        cli = oracle.CliOracle(input_dir)

        def verdict(o):
            f = o["result"]
            if f not in verdicts:
                _, _, fmt, describe, twin = workloads.CLI_BY_KEY[o["key"]]
                with open(os.path.join(results, f)) as fh:
                    verdicts[f] = cli.check(fh.read(), fmt, twin, describe)
            return verdicts[f]
    else:
        sf = oracle.SfOracle(DATA_DIR, os.path.join(bdir, "oracle-cache"))

        def verdict(o):
            if o["pass"] >= 0:
                return failures.get(o["key"])
            sql = result["oracle_sql"].get(o["key"])
            return sf.check(os.path.join(results, o["result"]), sql) if sql else "no oracle SQL"

    for o in result["warmup_ops"] + result["ops"]:
        why = o.get("error", "failed") if not o["ok"] else verdict(o)
        o["correct"] = why is None
        if why is not None:
            failures.setdefault(o["key"], why)
    for o in result["ops"]:
        o["correct"] = o["correct"] and o["key"] not in failures
    return failures


def latencies(ops):
    return [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]


def end_to_end(workload, result, setups):
    ops = result["ops"]
    lat = latencies(ops)
    tail_p, tail_v, beyond = stats.tail(lat)
    _, flag_key, flag_rows, _ = workloads.WORKLOADS[workload]
    rows = flag_rows or gen.LINEITEM_ROWS
    flag_lat = latencies([o for o in ops if o["key"] == flag_key])
    metrics = {
        "setup_s": statistics.median(setups),
        "latency_p50_s": stats.percentile(lat, 50),
        "latency_tail_s": tail_v,
        "ops_per_s": sum(o["correct"] for o in ops) / result["timed_s"],
        "flagship_rows_per_s": rows / statistics.median(flag_lat),
        "heap_peak_mb": result["heap_peak_mb"],
    }
    tail_info = {"percentile": tail_p, "samples": len(lat), "samples_beyond": beyond}
    return metrics, tail_info


def per_layer(workload, result, ready, cpus):
    means, by_key = trace.rollup(result, cpus)
    metrics = dict(means)
    metrics["engine.session_s"] = ready["session_s"]
    metrics["engine.warmup_s"] = result["warmup_s"]
    # tracing overhead: traced passes against the untraced passes that
    # surround them, as the share by which tracing worsens each metric
    traced = [o for o in result["ops"] if o["traced"]]
    untraced = [o for o in result["ops"] if not o["traced"]]
    flagship = workloads.WORKLOADS[workload][1]

    def rate(ops):
        return sum(o["correct"] for o in ops) / sum(latencies(ops))

    lt, lu = latencies(traced), latencies(untraced)
    metrics["trace.overhead_latency_p50"] = stats.percentile(lt, 50) / stats.percentile(lu, 50) - 1
    metrics["trace.overhead_latency_tail"] = stats.tail(lt)[1] / stats.tail(lu)[1] - 1
    metrics["trace.overhead_ops_per_s"] = rate(untraced) / rate(traced) - 1 if rate(traced) else 0.0
    metrics["trace.overhead_flagship_rows_per_s"] = (
        statistics.median(latencies([o for o in traced if o["key"] == flagship]))
        / statistics.median(latencies([o for o in untraced if o["key"] == flagship])) - 1)
    return metrics, by_key


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = os.cpu_count() or 1
    load_before = os.getloadavg()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    if not os.path.isfile(os.path.join(DATA_DIR, "lineitem.parquet")):
        raise SystemExit(f"[perfbench] missing sf0.1 tables under {DATA_DIR}")
    try:
        t = time.perf_counter()
        classes, jars = build.ensure_built(ROOT, bdir)
        build_s = time.perf_counter() - t
    except build.BuildError as e:
        raise SystemExit(f"[perfbench] build failed: {e}")

    input_dir, gen_s, inputs = None, 0.0, None
    if args.workload == "cli_files":
        input_dir, gen_s = gen.ensure_inputs(os.path.join(bdir, "inputs"), args.seed)
        inputs = gen.describe(input_dir)

    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_path = os.path.join(work + ".log")
    spec = {"cpus": cpus, "data_dir": DATA_DIR, "cli_dir": input_dir or "",
            "trace": bool(args.trace),
            "passes": workloads.passes(args.workload, args.seed,
                                       1 + workloads.measured_passes(args.workload, args.seconds,
                                                                     args.trace))}
    deadline = time.time() + (DEADLINE_S if args.workload in workloads.TIME_BOXED else 3600)
    try:
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            s, _ = jvm.launch(classes, jars, dict(spec, mode="setup", passes=[]),
                              os.path.join(work, f"setup{i}"), log_path,
                              deadline - time.time(), until_ready=True)
            setups.append(s)
        t = time.perf_counter()
        s, ready = jvm.launch(classes, jars, dict(spec, mode="run"), work, log_path,
                              deadline - time.time())
        main_s = time.perf_counter() - t
        setups.append(s)
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        t = time.perf_counter()
        failures = check_results(args.workload, result, work, input_dir, bdir)
        check_s = time.perf_counter() - t
    except RuntimeError as e:
        raise SystemExit(f"[perfbench] {e}")

    ops = result["ops"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus, "master": f"local[{cpus}]", "jvm": ready["jvm"], "spark": ready["spark"],
        "python": platform.python_version(), "commit": git_commit(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "build_s": build_s, "gen_s": gen_s, "inputs": inputs,
        "setup_samples_s": setups, "session_s": ready["session_s"], "warmup_s": result["warmup_s"],
        "main_process_s": main_s, "check_s": check_s,
        "passes": result["passes"], "timed_s": result["timed_s"],
        "ops_attempted": len(ops), "ops_failed": sum(not o["correct"] for o in ops),
        "failures": failures,
    }
    if args.trace:
        metrics, by_key = per_layer(args.workload, result, ready, cpus)
        units = {n: u for n, u, _ in trace.METRICS}
        record["per_query"] = by_key
        trace_dir = os.path.join(bdir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        dump = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(dump, "w") as fh:
            json.dump({"ops": ops, "spans": result["spans"]}, fh)
        record["span_dump"] = os.path.relpath(dump, ROOT)
    else:
        metrics, record["latency_tail"] = end_to_end(args.workload, result, setups)
        units = dict(END_TO_END)
    shutil.rmtree(work, ignore_errors=True)
    os.remove(log_path)
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["ops_failed"] == 0,
        "attempted": record["ops_attempted"],
        "failed": record["ops_failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
