#!/usr/bin/env python3
"""vlake benchmark: one workload per run, one closed-loop client, in one
process at local[<cpus>].

    python3 perfbench/run.py --workload lake_serve --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it holds the
workload's own named metrics. Traced runs also write their spans to
``perfbench/out/``. Everything else lives in a scratch directory inside
the checkout that is removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
WORKLOADS = ("lake_serve", "pipeline_mix")

# every workload reports every metric; see perfbench/README.md for what
# "call" and "work" are on each
END_TO_END = {"setup_s": "s", "call_s": "s", "work_s": "s"}
PER_LAYER = {
    "traced_call_s": "s",
    "call_construct_s": "s",
    "call_exec_s": "s",
    "call_load_s": "s",
    "call_jobs": "count",
    "call_stages": "count",
    "call_tasks": "count",
    "call_construct_jobs": "count",
    "call_construct_tasks": "count",
    "work_construct_s": "s",
    "work_exec_s": "s",
    "work_jobs": "count",
    "work_tasks": "count",
    # kernels, measured alike in every traced run
    "lsh.route_us": "us",
    **{
        f"codec.{c}.{op}_ms_per_doc": "ms"
        for c in ("gif", "jpeg", "vp8l", "flac")
        for op in ("encode", "decode")
    },
    # store layer; 0 on a workload that does not call the operation
    "store.shards_probed_per_query": "count",
    "store.rows_scanned_per_result": "count",
    "store.files_total": "count",
    "store.files_per_shard_max": "count",
    "store.jobs_per_ingest": "count",
    # the write phase of lake_serve
    "store.files_written_per_append": "count",
    "store.jobs_per_append": "count",
    "store.jobs_per_upsert": "count",
    "store.jobs_per_delete": "count",
    "store.shards_rewritten_per_upsert": "count",
    "store.shards_rewritten_per_delete": "count",
    "store.files_total_before_compact": "count",
    "store.files_per_shard_max_before_compact": "count",
    "store.files_total_after_compact": "count",
    "store.files_per_shard_max_after_compact": "count",
    "store.jobs_per_compact": "count",
}


def start_spark(work: str):
    """Start the engine's session with its scratch space inside ``work``
    and the checkout importable by Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    from vector_lake_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def run_workload(args, work: str) -> tuple[dict, dict]:
    from perfbench import common, kernels, pipeline, serve
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = start_spark(work)
    print(f"perfbench: session started in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    try:
        ctx = common.Ctx(
            spark=spark,
            tracer=Tracer(spark.sparkContext, bool(args.trace)),
            work=work,
            seed=args.seed,
            seconds=args.seconds,
        )
        # kernels first, before a traced workload wraps engine functions
        kernel_metrics = kernels.measure(ctx) if args.trace else {}
        workload = {"lake_serve": serve, "pipeline_mix": pipeline}
        result = workload[args.workload].run(ctx)
        if args.trace:
            result["layer"].update(kernel_metrics)
            out = os.path.join(ROOT, "perfbench", "out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.write(f"{out}/spans-{args.workload}-seed{args.seed}.json")
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: session stopped in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    for what in ctx.failures:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
    if args.trace:
        wanted, got = PER_LAYER, result["layer"]
        # counts of a layer the workload never calls are 0; times must
        # all be measured
        got = {n: got.get(n, 0) if u == "count" else got[n] for n, u in wanted.items()}
    else:
        wanted, got = END_TO_END, result["e2e"]
    metrics = {n: {"value": float(got[n]), "unit": u} for n, u in wanted.items()}
    # the workload's own figures that are not among the result's metrics
    detail = dict(result["detail"])
    detail["failed_ratio"] = (len(ctx.failures) / max(ctx.attempted, 1), "ratio")
    named = {n: {"value": float(v), "unit": u} for n, (v, u) in detail.items()}
    summary = {
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": metrics,
    }
    return summary, {"workload": args.workload, "seed": args.seed, "named_metrics": named}


def run_all(args) -> int:
    """Run every workload in its own process, one after the other."""
    merged = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        named, summary = json.loads(lines[-2]), json.loads(lines[-1])
        merged[name] = {**summary, "named_metrics": named["named_metrics"]}
        print(json.dumps({name: merged[name]}))
    print(json.dumps({
        "correct": all(m["correct"] for m in merged.values()),
        "attempted": sum(m["attempted"] for m in merged.values()),
        "failed": sum(m["failed"] for m in merged.values()),
        "metrics": {
            f"{w}.{n}": v for w, m in merged.items() for n, v in m["metrics"].items()
        },
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_lake_spark", "store.py")):
        print("perfbench: the vector_lake_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    # on SIGTERM, unwind through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    try:
        summary, named = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(named))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
