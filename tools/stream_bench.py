"""Streaming throughput measurement — the reference's actual use case
end-to-end (round-12 verdict task #6), BOTH feeds:

- file-fed: bounded events file stream → 3 enrichments + errors-as-data
  → main/DLQ parquet sinks with checkpointing (the original leg).
- fqueue-fed: the same events executor-published into the broker-shaped
  fqueue (sources/queue_source.py), then broker stream → the same
  enrichment pipeline → the same sinks. This is the reference topology
  (RabbitMQ source → enrich → ack/dlq, reference README.md:7) at
  as-fast-as-storage-allows pacing instead of the demo 1 msg/s.

The reference's own source rates are demo pacing (1 msg/s Rx, 0.5 msg/s
Akka — BASELINE.md); this measures what the same semantic pipeline
sustains under Structured Streaming.

Both legs are fed the SAME synthesized message set (default 2M rows —
the queue_bench scale; the sf0.1 events table's 100k rows made the
wall ~80% query-start and sink-commit overhead, not throughput), so
the two rows/sec are comparable to each other and to the queue-bench
consume legs.

Usage: python tools/stream_bench.py [sf_dir] [n_rows]
Prints ONE JSON line with both legs' rows/sec and the four calibration
probes (py/np/mt at start+end, per-job scheduler latency) so a
contaminated window is detectable from the artifact — copy it to
STREAM_r{N}.json for the round record.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark import get_spark
from labs_stream_processing_examples_scala_spark.streaming.pipeline import StreamingEnrichmentPipeline


def _run_leg(spark, work: str, tag: str, msgs) -> dict:
    pipe = StreamingEnrichmentPipeline(
        output_path=f"{work}/{tag}/out",
        dlq_path=f"{work}/{tag}/dlq",
        checkpoint_path=f"{work}/{tag}/ckpt",
        chaos=True,  # the honest pipeline: error split + DLQ live
    )
    # processAllAvailable, NOT availableNow: the fqueue reader budgets
    # latestOffset to rows_per_batch, and the availableNow wrapper
    # captures only that first budgeted offset — a 2M-row queue would
    # silently measure 500k rows (caught on the tool's first 2M run)
    t0 = time.perf_counter()
    q = pipe.start(msgs)
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")
    n_main = pipe.output(spark).count()
    n_dlq = pipe.dlq(spark).count()
    total = n_main + n_dlq
    return {
        "rows_per_sec": round(total / wall, 1),
        "rows_main": n_main,
        "rows_dlq": n_dlq,
        "wall_sec": round(wall, 2),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    import bench as benchmod

    from labs_stream_processing_examples_scala_spark.functions.transforms import (
        synth_payload,
    )
    from labs_stream_processing_examples_scala_spark.streaming.sources import (
        file_stream,
    )

    calib_start = benchmod._calibrate()
    spark = get_spark(app_name="stream-bench")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    record: dict = {}
    try:
        start_job_ms = benchmod._job_probe_ms(spark)

        # ONE synthesized message set feeds both legs — ids shaped like
        # the reference's Data(id) with the same payload synthesis the
        # events-table stream uses (events_message_stream)
        src = f"{work}/msgs"
        base = spark.range(n_rows).select(
            F.col("id"), synth_payload("id").alias("value")
        )
        base.repartition(32).write.parquet(src)
        schema = spark.read.parquet(src).schema
        # warm lap: JVM/codegen/python workers + the streaming engine's
        # per-query start cost (symmetric with queue_bench's legs)
        _run_leg(spark, work, "file_warm", file_stream(spark, src, schema=schema))
        file_fed = _run_leg(
            spark, work, "file", file_stream(spark, src, schema=schema)
        )

        # fqueue-fed: executor-publish the SAME message frame into the
        # broker (queue_sink — one segment per partition, Arrow
        # crossing), then consume it through the partition-planning
        # stream reader into the identical pipeline
        from labs_stream_processing_examples_scala_spark.sources import (
            queue_source as QS,
        )

        QS.register(spark)
        qdir = f"{work}/q"
        os.makedirs(qdir)
        batch_msgs = base.repartition(32).select(
            F.col("id").cast("string").alias("key"), F.col("value")
        )
        QS.queue_sink(qdir)(batch_msgs, 0)

        def queue_msgs(rows_per_batch: int | None = None):
            # rows_per_batch per queue_bench's r13 sweep (250k →
            # ~310-330k rows/s, 500k → ~466-582k, 1M → ~520-628k,
            # 2M → ~540-715k): each micro-batch pays a fixed DSv2
            # planning + sink-txn cost, so the budget should cover the
            # backlog — the defended leg uses the sweep argmax (2M,
            # Kafka's maxOffsetsPerTrigger tuned to backlog), and a 1M
            # multi-batch leg is recorded alongside so the micro-batch
            # overhead stays visible in the artifact.
            # rows_per_partition stays 65536: an r13 A/B (noop consume,
            # same session) measured 65k spans at 2.0-2.5 s vs 3.1 s
            # for 32k/16k — each DSv2 Python read task carries a fixed
            # cost, so halving the span to fill all 32 cores LOSES to
            # 16 well-fed tasks at this payload size
            # the budget covers the backlog unless a multi-batch form is
            # explicitly requested (the 2M hardcode predated the
            # parameterized n_rows — at 20M it silently measured 10
            # micro-batch fixed costs instead of throughput)
            if rows_per_batch is None:
                rows_per_batch = n_rows
            # span size: 65536 is the paired-A/B argmax at the 2M
            # protocol (16 well-fed tasks beat 32/61 starved ones);
            # ≥4M backlogs fill all cores either way, and the r14
            # paired 20M sweeps favored 262144 (fewer DSv2 python
            # tasks, each still one wave)
            rpp = 65_536 if n_rows <= 4_000_000 else 262_144
            return (
                spark.readStream.format("fqueue")
                .option("path", qdir)
                .option("rows_per_batch", rows_per_batch)
                .option("rows_per_partition", rpp)
                # the pipeline consumes only the payload: declare it so
                # the (seg, pos) broker-offset columns never cross the
                # Arrow bridge (DSv2 python sources get no planner
                # column pruning — the option is the engine's stand-in)
                .option("columns", "key,value")
                .load()
                .select(F.col("key").cast("long").alias("id"), F.col("value"))
            )

        _run_leg(spark, work, "queue_warm", queue_msgs())
        fqueue_fed = _run_leg(spark, work, "queue", queue_msgs())
        fqueue_fed_1m = _run_leg(spark, work, "queue_1m", queue_msgs(1_000_000))

        end_job_ms = benchmod._job_probe_ms(spark)
        calib_end = benchmod._calibrate()
        record = {
            "metric": "stream_pipeline_rows_per_sec",
            "unit": "rows/sec",
            # warm legs (file_warm/queue_warm) added r12: timed legs are
            # steady-state, not cold-start-inclusive (r12 ADVICE)
            "methodology": "warm-lap-r12",
            "n_rows": n_rows,
            "file_fed": file_fed,
            "fqueue_fed": fqueue_fed,  # sweep-argmax batch budget (2M)
            "fqueue_fed_rpb1m": fqueue_fed_1m,  # multi-batch form
            "sf_dir": sf_dir,
            "calibration": {
                "start_py_ms": calib_start["calib_py_ms"],
                "start_np_ms": calib_start["calib_np_ms"],
                "start_mt_ms": calib_start["calib_mt_ms"],
                "end_py_ms": calib_end["calib_py_ms"],
                "end_np_ms": calib_end["calib_np_ms"],
                "end_mt_ms": calib_end["calib_mt_ms"],
                "start_job_ms": start_job_ms,
                "end_job_ms": end_job_ms,
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 — cleanup must not eat the record
            print(f"bench cleanup failed (record intact): {e}", file=sys.stderr)
    print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
