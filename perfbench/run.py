"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 12 --trace 0

Runs one workload of the library in this checkout on ``local[nproc]``,
checks its outputs against DuckDB/numpy references built from the same
seeded inputs, and prints one JSON line last: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``).  ``--out FILE`` also writes the full record (spans,
counters, versions, input digest); an existing file is never
overwritten.  Everything the run writes lives under
``.bench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time
import uuid

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"stream_live": "w_stream", "algebra_batch": "w_algebra",
             "curation_batch": "w_curation"}


class Ctx:
    """What a workload gets: the session, the tracer, its constants."""

    def __init__(self, spark, tracer, cfg, seed, seconds, work, cpus):
        self.spark, self.tracer, self.cfg = spark, tracer, cfg
        self.seed, self.seconds, self.work, self.cpus = seed, seconds, work, cpus


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="record file; must not exist")
    return ap.parse_args(argv)


def warm_session(spark, cpus: int) -> float:
    """First action plus a Python-worker round trip on every core."""
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()

    def ident(it):
        yield from it

    spark.range(cpus * 8).repartition(cpus).mapInPandas(ident, "id long").collect()
    return time.perf_counter() - t


def start_session(cpus: int, t0: float):
    """Session plus warm-up; returns (spark, start_s, warmup_s) where
    start_s runs from ``t0`` to a live session."""
    from tubes_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    start_s = time.perf_counter() - t0
    return spark, start_s, warm_session(spark, cpus)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it (it exits when its stdin
    closes, taking the Python workers with it), and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def versions(spark) -> dict:
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "nproc": os.cpu_count()}


def finite(name: str, v, positive: bool = False) -> float:
    v = float(v)
    if not math.isfinite(v) or (positive and v <= 0):
        raise ValueError(f"metric {name} has no valid value: {v}")
    return v


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    out_path = os.path.abspath(args.out) if args.out else None
    if out_path and os.path.exists(out_path):
        raise SystemExit(f"record {out_path} exists; refusing to overwrite it")
    if out_path and not os.path.isdir(os.path.dirname(out_path)):
        raise SystemExit(f"no directory for record {out_path}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)[args.workload]
    cpus = len(os.sched_getaffinity(0))  # nproc

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's local files, the JVM's temp files and the worker
    # package zip inside the checkout (the JVM's perf-data file would go
    # to /tmp, so it is switched off)
    os.environ.update(TMPDIR=tmp, TUBES_SPARK_LOCAL_DIR=os.path.join(work, "spark-local"),
                      JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    try:
        try:
            importlib.import_module("tubes_spark")
        except ImportError as exc:
            print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
            return 2
        os.chdir(work)
        return _run(args, bench, cfg, cpus, work, out_path)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(args, bench, cfg, cpus, work, out_path) -> int:
    from common import RssSampler, Tracer

    mod = importlib.import_module(WORKLOADS[args.workload])
    spark, start_s, warmup_s = start_session(cpus, T_START)
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(spark, bool(args.trace), run_id)
    ctx = Ctx(spark, tracer, cfg, args.seed, args.seconds, os.path.join(work, "w"), cpus)
    os.makedirs(ctx.work)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "run_id": run_id, "cpus": cpus, **versions(spark)}
    # memory is a per-layer metric: sample it only when tracing
    rss = RssSampler(spark.sparkContext._gateway.proc.pid) if args.trace else None
    try:
        with rss or contextlib.nullcontext():
            res = mod.run(ctx)
        spark.stop()
        if args.trace:
            # single-thread baseline: one pass at local[1]; not a metric
            spark, _, _ = start_session(1, time.perf_counter())
            ctx1 = Ctx(spark, Tracer(spark, False, run_id), cfg, args.seed, args.seconds,
                       os.path.join(work, "w1"), 1)
            os.makedirs(ctx1.work)
            record["local1"] = mod.baseline(ctx1)
    finally:
        stop_jvm(spark)

    metrics = {"setup_s": start_s + warmup_s, **res["metrics"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        layers = {"session.start_s": start_s, "session.warmup_s": warmup_s,
                  "mem.peak_rss_mb": rss.peak / 2**20,
                  "trace.collect_s": tracer.collect_s, **res["layers"]}
        names = [m["name"] for m in bench["per_layer"]]
        out = {n: finite(n, layers.get(n, 0.0)) for n in names}
        record.update(spans=tracer.spans, self_times=tracer.self_times(), layers=layers,
                      peak_rss_jvm_mb=rss.peak_jvm / 2**20)
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        missing = [n for n in names if n not in metrics]
        if missing:
            raise RuntimeError(f"workload produced no value for {missing}")
        out = {n: finite(n, metrics[n], positive=True) for n in names}
    record.update(input_digest=res["detail"]["input_digest"], metrics=metrics,
                  setup_parts={"start_s": start_s, "warmup_s": warmup_s},
                  detail=res["detail"], attempted=res["attempted"], failed=res["failed"],
                  wall_total_s=time.perf_counter() - T_START)
    line = {"correct": res["failed"] == 0 and res["attempted"] > 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in out.items()}}
    if out_path:
        with open(out_path, "x") as fh:
            json.dump(record, fh, indent=1, allow_nan=False, default=float)
    print(json.dumps(line, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
