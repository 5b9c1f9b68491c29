#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest} \\
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout.  Builds the workload's inputs from the
seed, sets up a Spark session and the workload, warms it up, then runs
whole rounds of the workload's operations in a closed loop with one client
and checks every output against an independent computation.  The number of
rounds is ``--seconds`` divided by the workload's nominal round length
(``ROUND_S``, measured with a 2-core session), rounded up: a fixed amount of
work, so that two builds compared on one machine time the same operations.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans go to ``.perfbench/trace-<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("search", "ingest")

END_TO_END = {"setup_s": "s", "p50_ms": "ms", "items_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "collections.write_s": "s",
    "functions.register_s": "s",
    "bench.warmup_s": "s",
    "bench.gen_s": "s",
    "operators.build_ms": "ms",
    "sql_dialect.resolve_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.scan_tasks": "count",
    "engine.rows_scored_per_result": "ratio",
    "engine.jvm_cpu_util": "ratio",
    "engine.jvm_peak_rss_mb": "MB",
    "shape.topk_p50_ms": "ms",
    "shape.filtered_p50_ms": "ms",
    "shape.sql_p50_ms": "ms",
    "shape.batch_p50_ms": "ms",
    "shape.hybrid_p50_ms": "ms",
    "shape.scan_p50_ms": "ms",
    "shape.fetch_p50_ms": "ms",
    "sources.ds_plan_ms": "ms",
    "sources.ds_read_ms": "ms",
    "sources.request_ms": "ms",
    "sources.fetch_ms": "ms",
    "sources.decode_ms": "ms",
    "sources.to_df_ms": "ms",
    "fake_server.serve_ms": "ms",
    "sources.pushdown_ratio": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.bookkeeping_ms": "ms",
    "streaming.batch_growth": "ratio",
    "streaming.store_rows": "count",
    "streaming.store_files": "count",
    "streaming.survivors": "count",
    "bench.trace_overhead": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workload_class(name: str):
    if name == "search":
        from search import Search

        return Search
    from ingest import Ingest

    return Ingest


def run(args) -> dict:
    from common import WORK, JvmMeter, RunDirs, Tracer, median, now, pin_environment, spark_conf

    dirs = RunDirs(args.workload, args.seed)
    pin_environment(dirs)
    tracer = Tracer()
    tracer.on = bool(args.trace)
    spark = wl = None
    try:
        from qdrant_datafusion_spark.session import get_spark

        cls = workload_class(args.workload)
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(dirs))

        t = now()
        wl = cls(args.seed, spark, tracer, dirs)  # input generation only
        gen_s = now() - t

        wl.setup()
        t = now()
        with tracer.span("bench.warmup"):
            tracer.on = False  # warm-up requests leave no spans
            wl.warmup()
            tracer.on = bool(args.trace)
        warmup_s = now() - t

        # the amount of timed work follows --seconds, never the clock: both
        # sides of a comparison time the same operations however fast they
        # run; a traced run mixes untraced and traced rounds, so that it can
        # report its own overhead, in the order U T T U U T T U ... so that
        # rounds getting faster as the JVM warms favour neither side
        rounds = max(2 if args.trace else 1, math.ceil(args.seconds / cls.ROUND_S))
        meter = JvmMeter(spark)
        ops: list[tuple] = []  # (round, traced, kind, latency s, items, ok, trace s, wall s)
        begin = now()
        setup_s = begin - T_START - gen_s
        meter.start()
        for r in range(rounds):
            traced = bool(args.trace) and r % 4 in (1, 2)
            tracer.on = traced
            for op in wl.round(traced):
                ops.append((r, traced, *op))
        meter.stop()

        failed = sum(1 for o in ops if not o[5])
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
        if not args.trace:
            lat = [o[3] for o in ops]
            result["metrics"] = {
                "setup_s": setup_s,
                "p50_ms": median(lat) * 1e3,
                "items_per_s": sum(o[4] for o in ops) / sum(o[7] for o in ops),
            }
        else:
            plain = [o for o in ops if not o[1]]
            traced_ops = [o for o in ops if o[1]]
            per_round = lambda xs, f: sum(f(o) for o in xs) / len({o[0] for o in xs})  # noqa: E731
            layers = {
                "session.start_s": tracer.total("session.start"),
                "bench.warmup_s": warmup_s,
                "bench.gen_s": gen_s,
                "engine.jvm_cpu_util": meter.util(),
                "engine.jvm_peak_rss_mb": meter.peak_rss_mb(),
                "bench.trace_overhead": per_round(traced_ops, lambda o: o[7] + o[6])
                / per_round(plain, lambda o: o[7]),
            }
            layers.update(wl.layers(traced_ops))
            result["metrics"] = layers
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        units = PER_LAYER if args.trace else END_TO_END
        result["metrics"] = {
            name: {"value": float(result["metrics"].get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        }
        return result
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            from common import stop_spark

            stop_spark(spark)
        dirs.remove()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import qdrant_datafusion_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    stdout = sys.stdout
    sys.stdout = sys.stderr  # only the result line goes to standard output
    try:
        result = run(args)
    finally:
        sys.stdout = stdout
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
