#!/usr/bin/env python3
"""Benchmark of the CDC lake engine. From the repository root:

    python3 perfbench/run.py --workload mor_ingest_read --seed 1 --seconds 15 --trace 0

Runs one workload (see perfbench/README.md) in this process on
`local[<cores>]`, checks the engine's answers against independent oracles,
and prints a report line and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` wraps every layer's
public entry points in spans and reports the per-layer metrics instead,
writes the spans to `.perfbench_work/spans-<workload>-s<seed>.json` and,
when an untraced run of the same workload and seed is on record, the
tracing overhead. Exits 1 on any correctness mismatch or failed operation,
2 when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "bbc_news_etl_pipeline_spark"

WORKLOADS = ("mor_ingest_read", "corpus_refresh")
CHECKS = ("lake_state", "cross_mode", "read_changes", "read_key",
          "corpus_clusters", "corpus_retained")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "mix_ops_per_s": "1/s"}

#: the workload-specific metrics of the report line: name -> (unit, op kind,
#: percentile); kind None is the applied-events rate
NAMED = {
    "mor_ingest_read": {
        "events_per_s": ("events/s", None, None),
        "epoch_p50_s": ("s", "epoch", 50),
        "changes_p50_s": ("s", "changes", 50),
        "lookup_p50_ms": ("ms", "lookup", 50),
        "lookup_p90_ms": ("ms", "lookup", 90),
        "scan_s": ("s", "scan", 50),
        "compact_s": ("s", "compact", 50),
    },
    "corpus_refresh": {
        "refresh_s": ("s", "refresh", 50),
        "refresh_small_s": ("s", "refresh_small", 50),
        "recut_s": ("s", "recut", 50),
    },
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentile(xs: list[float], p: float) -> tuple[float, int]:
    """The median, or the nearest-rank percentile above it, and the number
    of samples beyond it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return (statistics.median(s) if p == 50 else s[rank - 1]), len(s) - rank


def source_sha() -> str:
    """sha1 over the engine package's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, ENGINE)
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def start_session(n: int, scratch: str):
    from bbc_news_etl_pipeline_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    return build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            # keep the JVM's temp files in the checkout and write no perf data
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the traced run reads every job, stage, task and SQL execution
            # back from the status stores; both modes keep the same conf
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def priced(run) -> dict[str, float]:
    """Each op kind's time in the run, priced at its median latency."""
    return {k: len(xs) * median(xs) for k, xs in run.samples.items()}


def e2e(run, session_s: float) -> dict[str, float]:
    """The end-to-end metrics. `mix_ops_per_s` prices each op kind at its
    median, so one slow sample moves it no more than it moves a median."""
    n_ops = sum(len(xs) for xs in run.samples.values())
    op_s = sum(priced(run).values())
    return {
        "setup_s": session_s + run.warmup_s + median(run.setup_reps),
        "op_p50_s": median([x for k in run.principal for x in run.samples[k]]),
        "mix_ops_per_s": n_ops / op_s if op_s else 0.0,
    }


def named(workload: str, run) -> dict:
    out = {}
    for name, (unit, kind, p) in NAMED[workload].items():
        if kind is None:
            xs = run.samples["epoch"]
            out[name] = {"value": run.work["events"] / sum(xs) if xs else 0.0,
                         "unit": unit, "n": len(xs)}
            continue
        xs = run.samples[kind]
        if not xs:
            out[name] = {"value": None, "unit": unit, "n": 0}
            continue
        v, beyond = percentile(xs, p)
        out[name] = {"value": v * (1000.0 if unit == "ms" else 1.0), "unit": unit,
                     "n": len(xs), "beyond": beyond}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test sizes")
    ap.add_argument("--perturb", default=None, choices=(*CHECKS, "all"),
                    help="perturb the oracle of this check (or 'all'); the run must fail")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE} not found in {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from perfbench import layers, trace
        from perfbench.workloads import WORKLOADS as RUNNERS
        from perfbench.workloads import Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    n = cores()
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cores": n,
        "master": f"local[{n}]", "pyspark": pyspark.__version__,
        "git_sha": git_sha(), "engine_src_sha1": source_sha(),
    }
    t0 = time.time()
    spark = start_session(n, scratch)
    t1 = time.time()
    tracer = trace.NullTracer()
    if args.trace:
        tracer = trace.Tracer(spark)
        tracer.record("session.start", t0, t1)
        tracer.install()
    ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
              size=args.size, work=WORK, scratch=scratch, perturb=args.perturb)
    run = None
    try:
        run = RUNNERS[args.workload](ctx)
    except Exception:
        traceback.print_exc()  # an operation raised: no result is printed
    try:
        if run is None:
            return 1
        ends = e2e(run, t1 - t0)
        attempted = sum(run.attempted.values())
        failed = sum(run.failed.values())
        correct = all(run.checks.values()) and failed == 0
        report = {
            **meta,
            "ops": {k: {"attempted": run.attempted[k], "failed": run.failed[k]}
                    for k in run.attempted},
            "checks": run.checks,
            "setup_reps_s": run.setup_reps,
            "warmup_s": run.warmup_s,
            "samples_s": {k: [round(x, 4) for x in xs] for k, xs in run.samples.items()},
            # how much a change in each kind's median moves mix_ops_per_s
            "mix_time_share": {k: v / sum(priced(run).values())
                               for k, v in priced(run).items()},
            "session_start_s": t1 - t0,
            "work": run.work,
            "end_to_end": ends,
            "named": named(args.workload, run),
        }
        if args.trace:
            facts = tracer.collect_spark()
            metrics = {k: {"value": float(v), "unit": layers.UNITS[k]}
                       for k, v in layers.layer_metrics(tracer, facts, run).items()}
            untraced = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["end_to_end"]
                report["tracing_overhead"] = {
                    k: {"traced": v, "untraced": base[k], "diff": v - base[k],
                        "diff_frac": (v - base[k]) / base[k] if base[k] else None}
                    for k, v in ends.items()
                }
            span_file = os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json")
            tracer.dump(span_file, {"meta": meta, "report": report})
            report["span_file"] = os.path.relpath(span_file, ROOT)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in ends.items()}
        with open(os.path.join(
            WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"
        ), "w") as f:
            json.dump(report, f, indent=1)
        print("perfbench report: " + json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
