"""Stream-pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload enrich_backlog --seed 1 --seconds 10 --trace 0

Workloads: enrich_backlog, enrich_open_loop, cdc_merge (see
perfbench/README.md). The command pins the machine itself (local[k]
with k <= cores, an explicit JVM heap, PYTHONPATH for Spark's Python
workers, Spark scratch under .perfbench_work/, removed at the end),
prints one settings line, and as its LAST stdout line one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A traced
run also writes its spans to .perfbench_out/. Exits non-zero, printing
no result, if the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("enrich_backlog", "enrich_open_loop", "cdc_merge")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="local[k] size for reference runs (default: min(4, available cores))",
    )
    ap.add_argument(
        "--cdc-tier", choices=("mor", "cow"), default="mor",
        help="cdc_merge sink for the COW-vs-MOR reference figure (default mor)",
    )
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    import host

    k = min(args.cores or host.cores(), len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    settings = host.pin(ROOT, HERE, work, k)

    try:
        with host.PeakRss() as rss:
            result, trace_extra, tracer = _run(args, settings, work, rss)
        trace_extra["pss_kb_at_peak"] = rss.at_peak
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"settings": settings, "workload": args.workload, "seed": args.seed}))
    if tracer.enabled:
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(path, trace_extra)
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
    print(json.dumps(result))
    return 0


def _run(args, settings: dict, work: str, rss):
    # the package and pyspark are imported only after pin() set the
    # environment the JVM and its workers inherit
    from labs_stream_processing_examples_scala_spark.session import get_spark
    from labs_stream_processing_examples_scala_spark.sources import queue_source as QS
    from labs_stream_processing_examples_scala_spark.streaming import cdc_ingest as CI

    import host
    import workloads as W
    from tracing import PolledQueueSource, Tracer

    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            master=settings["master"],
            shuffle_partitions=settings["shuffle_partitions"],
            extra_conf=settings["spark_conf"],
        )
        QS.register(spark)
        spark.dataSource.register(PolledQueueSource)
    start_s = time.perf_counter() - t
    try:
        tracer.listen(spark)
        ctx = W.Ctx(spark, work, args.seed, args.seconds, tracer)
        if args.workload == "cdc_merge":
            tier = CI.MorCdcSink if args.cdc_tier == "mor" else CI.CdcMergeSink
            out = W.cdc_merge(ctx, tier)
        else:
            out = W.WORKLOADS[args.workload](ctx)
        rss.sample()
        tracer.unlisten(spark)
    finally:
        host.stop_spark(spark)

    e2e = {
        "setup_s": start_s + out.gen_s + out.warmup_s,
        **out.e2e,
        "peak_rss_mb": rss.peak_mb,
    }
    if out.problems:
        print(json.dumps({"check_failures": out.problems}), file=sys.stderr)
    if tracer.enabled:
        layers = {name: 0 for name in W.LAYER_UNITS}
        layers.update(out.layers)
        layers.update({
            "session.start_s": start_s,
            "session.gen_s": out.gen_s,
            "session.warmup_s": out.warmup_s,
        })
        metrics = {n: {"value": layers[n], "unit": u} for n, u in W.LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in W.E2E_UNITS.items()}
    result = {
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    trace_extra = {
        "settings": settings,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        # end-to-end figures measured under tracing: their difference
        # from an untraced run is the tracing overhead
        "e2e_traced": e2e,
        "layers": metrics,
        "problems": out.problems,
    }
    return result, trace_extra, tracer


if __name__ == "__main__":
    sys.exit(main())
