"""The three workloads. Each makes its inputs from the seed, runs one
streaming query whose first micro-batch is the warm-up lap, measures
the batches after it, and checks every output against ``expected``.

- ``enrich_backlog``: closed-loop drain of a pre-published fqueue
  backlog through ``StreamingEnrichmentPipeline(chaos=True)`` with a
  100k-row budget, so per-row work dominates.
- ``enrich_open_loop``: one generator thread publishes small segments on
  a fixed schedule into the same pipeline at the reader's default
  budget, so per-batch fixed cost dominates.
- ``cdc_merge``: CDC batch files of upserts and deletes over a
  partitioned SCD2 table, streamed through
  ``cdc_ingest.run_cdc_ingest(..., sink_cls=MorCdcSink)`` and read back
  with ``mor_table.read_mor``.

The ack point of a message or change row is the mtime of the
checkpoint's ``commits/<batch>`` file of the first batch whose end
offset covers it: the engine's processing ACK, after which a crash no
longer replays it.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators import merge as MG
from labs_stream_processing_examples_scala_spark.operators import mor_table as MT
from labs_stream_processing_examples_scala_spark.plans.enrichment import enrichment_with_errors
from labs_stream_processing_examples_scala_spark.sources import queue_source as QS
from labs_stream_processing_examples_scala_spark.streaming import cdc_ingest as CI
from labs_stream_processing_examples_scala_spark.streaming.pipeline import StreamingEnrichmentPipeline
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write

import expected as X
import host
from tracing import PolledQueueSource, Tracer, current_group, group_jobs, read_poll_log

# --- input make-up -------------------------------------------------------

#: message ids are distinct 10-digit numbers, so every payload
#: ("Input Data: <id>") is 22 characters
ID_RANGE = range(10**9, 2 * 10**9)
BACKLOG_ROWS_PER_BATCH = 100_000  # the reader's budget; batch 0 warms up
BACKLOG_MSGS_PER_SECOND = 30_000  # measured backlog per --seconds
BACKLOG_SEGMENT = 10_000
OPEN_PERIOD_S = 1.0  # one segment a second ...
OPEN_SEGMENT = 100  # ... of 100 messages: 100 msg/s; one priming segment first
CDC_KEYS = 20_000
CDC_PARTITIONS = 8  # part = "p<key % 8>"
CDC_CHANGES = 1_000  # distinct keys per batch file; file 0 warms up
CDC_SECONDS_PER_BATCH = 3  # one measured batch file per 3 --seconds
CDC_NEW_KEYS = 0.05  # share of keys drawn from beyond the initial key space
CDC_DELETES = 0.2  # share of changes that are deletes
CDC_EPOCH = "1999-01-01"
READ_REPS = 5
QUEUE_GROUP = "perfbench"

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "ack_p50_ms": "ms",
    "table_mb": "MB",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.gen_s": "s",
    "session.warmup_s": "s",
    "queue_source.publish_ms_p50": "ms",
    "queue_source.bytes_per_msg": "B",
    "queue_source.scan_msgs_per_s": "msg/s",
    "enrichment.project_msgs_per_s": "msg/s",
    "pipeline.batches": "count",
    "pipeline.input_rows_per_batch_p50": "rows",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.trigger_ms_p90": "ms",
    "pipeline.latest_offset_ms_p50": "ms",
    "pipeline.query_planning_ms_p50": "ms",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms",
    "pipeline.query_start_ms": "ms",
    "pipeline.empty_triggers": "count",
    "pipeline.jobs_per_batch": "count",
    "sinks.main_write_ms_p50": "ms",
    "sinks.dlq_write_ms_p50": "ms",
    "sinks.write_calls_per_batch": "count",
    "sinks.bytes_per_msg": "B",
    "sinks.read_s": "s",
    "cdc_ingest.merge_ms_p50": "ms",
    "cdc_ingest.merge_ms_first": "ms",
    "cdc_ingest.merge_ms_last": "ms",
    "cdc_ingest.jobs_per_batch": "count",
    "cdc_ingest.replay_skips": "count",
    "mor_table.data_files": "count",
    "mor_table.vector_rows": "count",
    "mor_table.read_s": "s",
    "mor_table.read_jobs": "count",
    "gen.late_ms_p99": "ms",
    "gen.max_unacked_msgs": "count",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: Tracer
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    attempted: int
    failed: int
    problems: list[str]
    gen_s: float
    warmup_s: float
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)


# --- shared helpers ------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (the value itself, not an interpolation)."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.999999) - 1))]


def weighted_quantile(groups: list[tuple[float, int]], q: float) -> float:
    """Quantile of values that occur ``count`` times each."""
    total = sum(c for _, c in groups)
    acc = 0
    for v, c in sorted(groups):
        acc += c
        if acc >= q * total:
            return v
    raise ValueError("no samples")


def commits(ckpt: str) -> list[tuple[int, float, dict, float]]:
    """(batch id, commit wall time, end offset of the source, seconds
    the batch was busy) for every committed micro-batch, in batch order.
    A batch is busy from its offset-log write (planned) to its commit."""
    out = []
    for f in os.listdir(os.path.join(ckpt, "commits")):
        if not f.isdigit():
            continue
        t = os.stat(os.path.join(ckpt, "commits", f)).st_mtime_ns / 1e9
        offsets = os.path.join(ckpt, "offsets", f)
        planned = os.stat(offsets).st_mtime_ns / 1e9
        with open(offsets, encoding="utf-8") as fh:
            # v1 header, batch metadata, then the single source's offset
            end = json.loads(fh.read().splitlines()[2])
        out.append((int(f), t, end, t - planned))
    return sorted(out)


def busy_rate(batches, rows: dict[int, int]) -> float:
    """Median over the measured batches (all but batch 0) of rows
    committed per second the batch was busy."""
    return statistics.median(rows[b] / busy for b, _, _, busy in batches if b > 0)


def ack_groups(segments: list[tuple[int, int, float]], batches) -> list[tuple]:
    """Map each message (segment, row) to the first committed batch whose
    end offset lies beyond it. ``segments`` are (seg, rows, due time) in
    queue order. Returns [(due, ack time, count, batch id)]; messages no
    batch covers are left out."""
    ends = [((int(o["seg"]), int(o["row"])), t, b) for b, t, o, _ in batches]
    p, out = 0, []
    for seg, n, due in segments:
        row = 0
        while row < n:
            while p < len(ends) and ends[p][0] <= (seg, row):
                p += 1
            if p == len(ends):
                break
            (end_seg, end_row), t, b = ends[p]
            upto = n if end_seg > seg else end_row
            out.append((due, t, upto - row, b))
            row = upto
    return out


def _rows_by_batch(acks) -> dict[int, int]:
    rows: dict[int, int] = {}
    for _, _, c, b in acks:
        rows[b] = rows.get(b, 0) + c
    return rows


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_back(ctx: Ctx, name: str, *frames) -> tuple[float, float]:
    """Median seconds of READ_REPS reads of ``frames`` (callables that
    build the DataFrames) through the noop sink, and the jobs one read
    runs."""
    sc = ctx.spark.sparkContext
    group = f"perfbench-{name}"
    sc.setJobGroup(group, name)
    times = []
    try:
        for _ in range(READ_REPS):
            with ctx.tracer.span(name):
                times.append(timed(lambda: [noop(f()) for f in frames]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return statistics.median(times), group_jobs(ctx.spark, group) / READ_REPS


def progress_layers(ctx: Ctx, run_id: str, n_batches: int, t_query: float) -> dict[str, float]:
    """Per-batch legs from StreamingQueryProgress.durationMs of the
    measured batches (batch 0 is the warm-up lap), the query's start-up
    to its first trigger, and the job count of its job group."""
    rows = ctx.tracer.wait_progress(run_id, n_batches)
    measured = [p for p in rows if p["batchId"] > 0]
    if not measured:
        return {}

    def leg(name: str, q: float = 0.5) -> float:
        return quantile([p["durationMs"].get(name, 0) for p in measured], q)

    first = datetime.datetime.fromisoformat(rows[0]["timestamp"]).timestamp()
    return {
        "pipeline.batches": len(measured),
        "pipeline.input_rows_per_batch_p50": quantile([p["numInputRows"] for p in measured], 0.5),
        "pipeline.trigger_ms_p50": leg("triggerExecution"),
        "pipeline.trigger_ms_p90": leg("triggerExecution", 0.9),
        "pipeline.latest_offset_ms_p50": leg("latestOffset"),
        "pipeline.query_planning_ms_p50": leg("queryPlanning"),
        "pipeline.add_batch_ms_p50": leg("addBatch"),
        "pipeline.wal_commit_ms_p50": leg("walCommit"),
        "pipeline.commit_offsets_ms_p50": leg("commitOffsets"),
        "pipeline.query_start_ms": (first - t_query) * 1e3,
        "pipeline.jobs_per_batch": group_jobs(ctx.spark, run_id) / len(rows),
    }


# --- enrichment pipeline -------------------------------------------------


class Enrichment:
    """One StreamingEnrichmentPipeline over one fqueue directory."""

    def __init__(self, ctx: Ctx, tag: str):
        self.ctx = ctx
        self.queue = ctx.path(tag, "queue")
        self.out = ctx.path(tag, "out")
        self.dlq = ctx.path(tag, "dlq")
        self.ckpt = ctx.path(tag, "ckpt")
        self.poll_log = ctx.path(tag, "polls.log")
        self.pipe = StreamingEnrichmentPipeline(self.out, self.dlq, self.ckpt, chaos=True)
        self.segments: list[tuple[int, int, float | None]] = []
        self.ids: list[int] = []

    def publish(self, ids: list[int], due: float | None = None) -> None:
        with self.ctx.tracer.span("queue_source.publish", rows=len(ids)):
            seg = QS.publish(self.queue, ((str(i), X.payload(i)) for i in ids))
        self.segments.append((seg, len(ids), due))
        self.ids.extend(ids)

    def _on_write(self, df, path: str, batch_id: int) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        group = current_group(spark)
        j0 = group_jobs(spark, group)
        leg = "sinks.dlq_write" if path == self.dlq else "sinks.main_write"
        with tracer.span(leg, batch=batch_id) as attrs:
            idempotent_write(df, path, batch_id)
            attrs["jobs"] = group_jobs(spark, group) - j0

    def start(self, rows_per_batch: int | None = None):
        reader = self.ctx.spark.readStream.option("path", self.queue)
        if self.ctx.tracer.enabled:
            reader = reader.format(PolledQueueSource.name()).option("poll_log", self.poll_log)
        else:
            reader = reader.format("fqueue")
        if rows_per_batch is not None:
            reader = reader.option("rows_per_batch", rows_per_batch)
        msgs = reader.load().select(F.col("key").cast("long").alias("id"), "value")
        sink_kwargs = {"on_write": self._on_write} if self.ctx.tracer.enabled else {}
        return self.pipe.start(msgs, **sink_kwargs)

    def check(self) -> tuple[int, list[str]]:
        failed, problems = X.check_enrichment(self.ids, self.out, self.dlq)
        # the checkpoint, not the broker-side group offset written by
        # QueueStreamReader.commit (which may lag), is the ack point
        acked = QS.sync_group_offset(self.queue, QUEUE_GROUP, self.ckpt)
        seg, n, _ = self.segments[-1]
        if acked is None or (int(acked["seg"]), int(acked["row"])) != (seg, n):
            problems.append(f"checkpoint covers {acked}, queue ends at seg {seg} row {n}")
        return failed, problems

    def finish(self, gen_s: float, t_query: float, warmed: float, e2e: dict) -> Outcome:
        """Check the outputs and add the size metric. ``warmed`` is the
        commit time of batch 0, the warm-up lap."""
        failed, problems = self.check()
        e2e["table_mb"] = host.du_bytes(self.out, self.dlq) / 2**20
        return Outcome(len(self.ids), failed, problems, gen_s, warmed - t_query, e2e)

    def layers(self, run_id: str, t_query: float) -> dict[str, float]:
        tracer = self.ctx.tracer
        n_batches = len(commits(self.ckpt))
        out = progress_layers(self.ctx, run_id, n_batches, t_query)
        seg_bytes = sum(
            os.path.getsize(os.path.join(self.queue, f))
            for f in os.listdir(self.queue)
            if f.startswith("seg-")
        )
        main_ms = tracer.durations_ms("sinks.main_write")
        dlq_ms = tracer.durations_ms("sinks.dlq_write")
        polls = read_poll_log(self.poll_log)
        spark = self.ctx.spark
        read_s, _ = read_back(
            self.ctx, "sinks.read", lambda: self.pipe.output(spark), lambda: self.pipe.dlq(spark)
        )
        out.update({
            "queue_source.publish_ms_p50": quantile(tracer.durations_ms("queue_source.publish"), 0.5),
            "queue_source.bytes_per_msg": seg_bytes / len(self.ids),
            "pipeline.empty_triggers": sum(1 for _, empty in polls if empty),
            "sinks.main_write_ms_p50": quantile(main_ms, 0.5),
            "sinks.dlq_write_ms_p50": quantile(dlq_ms, 0.5),
            "sinks.write_calls_per_batch": (len(main_ms) + len(dlq_ms)) / (n_batches - 1),
            "sinks.bytes_per_msg": host.du_bytes(self.out, self.dlq) / len(self.ids),
            "sinks.read_s": read_s,
        })
        return out


def enrich_backlog(ctx: Ctx) -> Outcome:
    measured = BACKLOG_MSGS_PER_SECOND * ctx.seconds
    t = time.perf_counter()
    run = Enrichment(ctx, "backlog")
    ids = ctx.rng.sample(ID_RANGE, BACKLOG_ROWS_PER_BATCH + measured)
    for k in range(0, len(ids), BACKLOG_SEGMENT):
        run.publish(ids[k : k + BACKLOG_SEGMENT])
    gen_s = time.perf_counter() - t

    t_query = time.time()
    q = run.start(BACKLOG_ROWS_PER_BATCH)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"enrichment query failed: {q.exception()}")
    batches = commits(run.ckpt)
    # batch 0 (the first budget's worth of rows) is the warm-up lap; the
    # rest of the backlog waits from its commit on
    t0 = batches[0][1]
    acks = ack_groups(run.segments, batches)
    e2e = {
        "ops_per_s": busy_rate(batches, _rows_by_batch(acks)),
        "ack_p50_ms": weighted_quantile([(a - t0, c) for _, a, c, b in acks if b > 0], 0.5) * 1e3,
    }
    out = run.finish(gen_s, t_query, t0, e2e)
    if ctx.tracer.enabled:
        out.layers = run.layers(str(q.runId), t_query)
        out.layers.update(_scan_and_project(ctx, run.queue, len(ids)))
    return out


def _scan_and_project(ctx: Ctx, queue: str, n: int) -> dict[str, float]:
    """Traced only: a batch fqueue read of the backlog into noop, and the
    enrichment projection over a cached copy of it into noop."""
    spark, tracer = ctx.spark, ctx.tracer
    raw = spark.read.format("fqueue").option("path", queue).load()
    with tracer.span("queue_source.scan", rows=n):
        scan_s = timed(lambda: noop(raw))
    base = raw.select(F.col("key").cast("long").alias("id"), "value").cache()
    try:
        base.count()
        with tracer.span("enrichment.project", rows=n):
            project_s = timed(lambda: noop(enrichment_with_errors(base, chaos=True)))
    finally:
        base.unpersist()
    return {
        "queue_source.scan_msgs_per_s": n / scan_s,
        "enrichment.project_msgs_per_s": n / project_s,
    }


def enrich_open_loop(ctx: Ctx) -> Outcome:
    n_seg = round(ctx.seconds / OPEN_PERIOD_S)
    t = time.perf_counter()
    run = Enrichment(ctx, "open")
    ids = ctx.rng.sample(ID_RANGE, (n_seg + 1) * OPEN_SEGMENT)
    priming, *schedule = (ids[k : k + OPEN_SEGMENT] for k in range(0, len(ids), OPEN_SEGMENT))
    gen_s = time.perf_counter() - t

    # the priming segment is batch 0, the warm-up lap; the schedule
    # starts once it is committed
    run.publish(priming)
    t_query = time.time()
    q = run.start()
    done: list[float] = []
    failure: list[BaseException] = []

    def generate() -> None:
        try:
            t0 = time.time() + OPEN_PERIOD_S
            for k, seg_ids in enumerate(schedule):
                due = t0 + k * OPEN_PERIOD_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                run.publish(seg_ids, due)
                done.append(time.time())
        except BaseException as e:  # noqa: BLE001 - re-raised by the main thread
            failure.append(e)

    try:
        _wait_for(os.path.join(run.ckpt, "commits", "0"), q)
        gen = threading.Thread(target=generate, name="open-loop-generator")
        gen.start()
        gen.join()
        if failure:
            raise failure[0]
        q.processAllAvailable()
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"enrichment query failed: {q.exception()}")

    batches = commits(run.ckpt)
    acks = ack_groups(run.segments, batches)
    groups = [(d, a, c) for d, a, c, b in acks if b > 0]
    e2e = {
        "ops_per_s": busy_rate(batches, _rows_by_batch(acks)),
        "ack_p50_ms": weighted_quantile([(a - d, c) for d, a, c in groups], 0.5) * 1e3,
    }
    out = run.finish(gen_s, t_query, batches[0][1], e2e)
    if ctx.tracer.enabled:
        out.layers = run.layers(str(q.runId), t_query)
        timed_segments = run.segments[1:]
        late = [(t - d) * 1e3 for t, (_, _, d) in zip(done, timed_segments)]
        events = [(t, c) for t, (_, c, _) in zip(done, timed_segments)]
        events += [(a, -c) for _, a, c in groups]
        backlog = peak = 0
        for _, c in sorted(events, key=lambda e: (e[0], -e[1])):
            backlog += c
            peak = max(peak, backlog)
        out.layers.update({"gen.late_ms_p99": quantile(late, 0.99), "gen.max_unacked_msgs": peak})
    return out


def _wait_for(path: str, q, timeout: float = 120.0) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if q.exception() is not None or not q.isActive:
            raise RuntimeError(f"enrichment query stopped: {q.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"{path} did not appear within {timeout}s")
        time.sleep(0.01)


# --- CDC merge -----------------------------------------------------------


class Cdc:
    """One SCD2 target, its CDC source directory, and the replayable
    description of both."""

    def __init__(self, ctx: Ctx, tag: str, keys: int, parts: int):
        self.ctx = ctx
        self.src = ctx.path(tag, "src")
        self.target = ctx.path(tag, "target")
        os.makedirs(self.src)
        self.keys = keys
        self.initial = [
            (k, f"name-{k}", f"p{k % parts}", round(ctx.rng.uniform(0, 1e6), 2))
            for k in range(keys)
        ]
        self.batches: list[list[tuple]] = []

    def write_target(self) -> None:
        df = self.ctx.spark.createDataFrame(
            self.initial, "key long, name string, part string, val double"
        )
        MG.scd2_init(df, epoch_open=CDC_EPOCH).write.partitionBy("part").parquet(self.target)

    def add_batch(self, changes: int) -> None:
        rng = self.ctx.rng
        pool = range(self.keys + int(self.keys * CDC_NEW_KEYS))
        rows = [
            (k, None, "d") if rng.random() < CDC_DELETES else (k, round(rng.uniform(0, 1e6), 2), "u")
            for k in rng.sample(pool, changes)
        ]
        i = len(self.batches)
        path = os.path.join(self.src, f"b{i:06d}.parquet")
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {"key": pa.array(cols[0], pa.int64()),
                 "new_value": pa.array(cols[1], pa.float64()),
                 "op": pa.array(cols[2], pa.string())}
            ),
            path,
        )
        # the file source orders by modification time: file i is batch i
        ts = 1_700_000_000 + i * 10
        os.utime(path, (ts, ts))
        self.batches.append(rows)

    @staticmethod
    def date(batch_id: int) -> str:
        return (datetime.date(2000, 1, 1) + datetime.timedelta(days=batch_id)).isoformat()

    def ingest(self, sink_cls) -> CI.CdcMergeSink:
        return CI.run_cdc_ingest(
            self.ctx.spark, self.src, self.target, "key", "val", "part",
            change_date_fn=self.date, sink_cls=sink_cls,
        )

    def check(self, sink) -> tuple[int, list[str]]:
        want = X.scd2_replay(
            self.initial, self.batches, [self.date(b) for b in range(len(self.batches))], CDC_EPOCH
        )
        got = [tuple(r) for r in sink.view(self.ctx.spark).select(*X.SCD2_COLS).collect()]
        return X.check_scd2(want, got, self.batches)


def timed_sink(ctx: Ctx, base: type) -> type:
    """A subclass of ``base`` whose process_batch records a span with the
    batch id, the jobs it ran and whether the txn id made it a replay
    skip."""
    spark, tracer = ctx.spark, ctx.tracer

    class TimedSink(base):
        def process_batch(self, batch, batch_id: int) -> None:
            last = self.last_batch_id()
            group = current_group(spark)
            j0 = group_jobs(spark, group)
            with tracer.span("cdc_ingest.process_batch", batch=batch_id, group=group) as a:
                super().process_batch(batch, batch_id)
                a["skipped"] = last is not None and batch_id <= last
                a["jobs"] = group_jobs(spark, group) - j0

    return TimedSink


def cdc_merge(ctx: Ctx, sink_cls: type = CI.MorCdcSink) -> Outcome:
    t = time.perf_counter()
    run = Cdc(ctx, "cdc", CDC_KEYS, CDC_PARTITIONS)
    run.write_target()
    # file 0 is batch 0, the warm-up lap
    for _ in range(1 + max(2, ctx.seconds // CDC_SECONDS_PER_BATCH)):
        run.add_batch(CDC_CHANGES)
    gen_s = time.perf_counter() - t

    cls = timed_sink(ctx, sink_cls) if ctx.tracer.enabled else sink_cls
    t_query = time.time()
    sink = run.ingest(cls)
    batches = commits(run.target + ".ckpt")
    problems = []
    if len(batches) != len(run.batches):
        problems.append(f"{len(batches)} micro-batches committed for {len(run.batches)} files")
    t0 = batches[0][1]
    groups = [(a - t0, len(rows)) for (_, a, _, _), rows in zip(batches[1:], run.batches[1:])]
    e2e = {
        "ops_per_s": busy_rate(batches, dict(enumerate(map(len, run.batches)))),
        "ack_p50_ms": weighted_quantile(groups, 0.5) * 1e3,
    }
    failed, more = run.check(sink)
    problems += more
    e2e["table_mb"] = host.du_bytes(run.target) / 2**20
    changes = sum(len(b) for b in run.batches)
    out = Outcome(changes, failed, problems, gen_s, t0 - t_query, e2e)
    if ctx.tracer.enabled:
        out.layers = _cdc_layers(ctx, run, sink, t_query)
    return out


def _cdc_layers(ctx: Ctx, run: Cdc, sink, t_query: float) -> dict[str, float]:
    spark, tracer = ctx.spark, ctx.tracer
    spans = tracer.measured("cdc_ingest.process_batch")
    merge_ms = [s["end_ms"] - s["start_ms"] for s in spans if not s["skipped"]]
    out = progress_layers(ctx, spans[0]["group"], len(run.batches), t_query)
    read_s, read_jobs = read_back(ctx, "mor_table.read", lambda: sink.view(spark))
    stats = MT.mor_stats(spark, run.target)
    out.update({
        "cdc_ingest.merge_ms_p50": quantile(merge_ms, 0.5),
        "cdc_ingest.merge_ms_first": merge_ms[0],
        "cdc_ingest.merge_ms_last": merge_ms[-1],
        "cdc_ingest.jobs_per_batch": quantile([s["jobs"] for s in spans], 0.5),
        "cdc_ingest.replay_skips": sum(1 for s in spans if s["skipped"]),
        "mor_table.data_files": stats["data_files"],
        "mor_table.vector_rows": stats["vector_rows"],
        "mor_table.read_s": read_s,
        "mor_table.read_jobs": read_jobs,
    })
    return out


WORKLOADS = {
    "enrich_backlog": enrich_backlog,
    "enrich_open_loop": enrich_open_loop,
    "cdc_merge": cdc_merge,
}
