"""Streaming reliability scenarios — SURVEY §5.2.

Ports of the reference's test suite (AkkaPipelineActorsTest.scala:58-121:
happy path, retry-then-succeed with timing lower bound, unrecoverable
never retried, output routing) plus the R5 negative requirement
(README.md:53 — a data error must not kill the query) and the S3/K5
ack/nack checkpoint semantics (README.md:13-14).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.plans.enrichment import enrichment_pipeline, enrichment_with_errors
from labs_stream_processing_examples_scala_spark.session import invalidate
from labs_stream_processing_examples_scala_spark.streaming.pipeline import StreamingEnrichmentPipeline
from labs_stream_processing_examples_scala_spark.streaming.retry import RetryExhausted, with_retry
from labs_stream_processing_examples_scala_spark.streaming.sinks import RecordSink, idempotent_write
from labs_stream_processing_examples_scala_spark.streaming.sources import events_message_stream
from tests.conftest import SF_SMOKE


def _bounded_messages(spark):
    return events_message_stream(spark, SF_SMOKE)


def _batch_messages(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    return ev.select(
        F.col("event_id").alias("id"),
        F.concat(F.lit("Input Data: "), F.col("event_id").cast("string")).alias("value"),
    )


def _pipeline(tmp_path, chaos: bool) -> StreamingEnrichmentPipeline:
    return StreamingEnrichmentPipeline(
        output_path=str(tmp_path / "out"),
        dlq_path=str(tmp_path / "dlq"),
        checkpoint_path=str(tmp_path / "ckpt"),
        chaos=chaos,
    )


def test_happy_path_stream_equals_batch(spark, tmp_path):
    """Test 1 (happy path) + stream≡batch: streaming output content ==
    batch enrichment of the same input."""
    pipe = _pipeline(tmp_path, chaos=False)
    pipe.run_bounded(_bounded_messages(spark))
    got = pipe.output(spark).drop("err").orderBy("id").collect()
    want = (
        enrichment_with_errors(_batch_messages(spark), chaos=False)
        .drop("err")
        .orderBy("id")
        .collect()
    )
    assert got == want
    assert pipe.dlq(spark).count() == 0


def test_errors_routed_to_dlq_and_query_survives(spark, tmp_path):
    """Tests 3+4 routing + R5 negative: poison rows land (once) in the
    DLQ with classification, clean rows in the output, and the query
    completes despite 20% failures."""
    pipe = _pipeline(tmp_path, chaos=True)
    pipe.run_bounded(_bounded_messages(spark))
    out = pipe.output(spark)
    dlq = pipe.dlq(spark)
    n = _batch_messages(spark).count()
    assert out.count() == n * 4 // 5
    assert dlq.count() == n // 5
    # routing: no failed id in the main output, no clean id in the DLQ
    assert out.filter(F.col("id") % 5 == 0).count() == 0
    assert dlq.filter(F.col("id") % 5 != 0).count() == 0
    # unrecoverable vs temporary classification preserved in DLQ record
    assert dlq.filter((F.col("id") % 10 == 0) & (F.col("err_cls") != "IOException")).count() == 0
    # DLQ'd exactly once (idempotent write, no duplicate delivery)
    assert dlq.groupBy("id").count().filter("count > 1").count() == 0


def test_ack_no_reprocessing_after_success(spark, tmp_path):
    """S3/K5 ack direction: a committed batch is never reprocessed —
    restarting the query over the same checkpoint adds nothing."""
    pipe = _pipeline(tmp_path, chaos=False)
    pipe.run_bounded(_bounded_messages(spark))
    first = pipe.output(spark).count()
    pipe.run_bounded(_bounded_messages(spark))  # same checkpoint, no new files
    assert pipe.output(spark).count() == first


def test_nack_replay_after_sink_failure(spark, tmp_path):
    """S3/K5 nack direction: if the sink fails before the batch commits,
    a restart replays the batch (at-least-once) and the idempotent write
    keeps output exactly-once-ish."""
    marker = tmp_path / "fail_once"
    marker.write_text("arm")

    def flaky_write(df, path, batch_id):
        if marker.exists():
            marker.unlink()
            raise ValueError("permanent-looking sink crash before commit")
        idempotent_write(df, path, batch_id)

    pipe = _pipeline(tmp_path, chaos=False)
    q = pipe.start(_bounded_messages(spark), trigger_once=True, on_write=flaky_write)
    with pytest.raises(Exception, match="sink crash"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    # restart from the same checkpoint: batch replays, data arrives
    pipe.run_bounded(_bounded_messages(spark))
    assert pipe.output(spark).count() == _batch_messages(spark).count()
    # no duplicates despite redelivery
    assert pipe.output(spark).groupBy("id").count().filter("count > 1").count() == 0


def test_retry_then_succeed_with_timing(spark):
    """Test 2 port (AkkaPipelineActorsTest.scala:72-88): two temporary
    failures then success; asserts the result arrives and not before
    2 × retry interval."""
    attempts = {"n": 0}
    backoff = 0.05

    def flaky():
        attempts["n"] += 1
        if attempts["n"] <= 2:
            raise IOError("temporary")
        return "done"

    t0 = time.monotonic()
    assert with_retry(flaky, times=5, backoff=backoff) == "done"
    elapsed = time.monotonic() - t0
    assert attempts["n"] == 3
    assert elapsed >= 2 * backoff  # the reference's within(2*retryTime) lower bound


def test_unrecoverable_never_retried(spark):
    """Test 3 port (AkkaPipelineActorsTest.scala:90-105): permanent
    failure propagates immediately, exactly one attempt."""
    attempts = {"n": 0}

    def broken():
        attempts["n"] += 1
        raise ValueError("unrecoverable")

    with pytest.raises(ValueError):
        with_retry(broken, times=5, backoff=0.01)
    assert attempts["n"] == 1


def test_retry_exhaustion(spark):
    """R3 bound: temporary failures exhaust into RetryExhausted."""
    with pytest.raises(RetryExhausted) as e:

        def always(): raise TimeoutError("slow")

        with_retry(always, times=3, backoff=0.0)
    assert e.value.attempts == 3


def test_retry_timeout_bounds_attempt_latency(spark):
    """R6 — a blocking attempt is cut off at the deadline (real
    enforcement, not a post-hoc elapsed check) and, being temporary,
    exhausts into RetryExhausted; a fast success is returned as-is."""
    t0 = time.monotonic()
    with pytest.raises(RetryExhausted) as e:
        with_retry(lambda: time.sleep(5) or "late", times=2, backoff=0.0, timeout=0.2)
    assert isinstance(e.value.last, TimeoutError)
    assert time.monotonic() - t0 < 4  # 2 attempts × 0.2s deadline ≪ 2 × 5s sleep
    assert with_retry(lambda: "fast", times=2, backoff=0.0, timeout=5.0) == "fast"


def test_record_sink_lifecycle(spark):
    """K2 — open/process/close contract (OutputWriter actor parity)."""
    seen = []

    class Sink(RecordSink):
        def save(self, row):
            seen.append(row)

    s = Sink()
    with pytest.raises(RuntimeError):
        s.process("too early")
    assert s.open(0, 0)
    s.process("a")
    s.close(None)
    assert not s.connected and seen == ["a"]


def test_rate_source_shape(spark):
    """S1/S2 — the rate source minting Data(id, 'Input Data: $id')."""
    from labs_stream_processing_examples_scala_spark.streaming.sources import rate_messages

    df = rate_messages(spark, rows_per_second=10)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["id", "value", "ts"]
    q = (
        enrichment_pipeline(df.select("id", "value"))
        .writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and spark.sql("SELECT * FROM rate_smoke").count() == 0:
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM rate_smoke WHERE id = 0").collect()
        assert rows and rows[0].value == "Input Data: 0"
        assert rows[0].extra1 == "0 :ataD tupnI"
    finally:
        q.stop()


def test_kill_and_restart_recovers_exactly(spark, tmp_path):
    """R-contract end-to-end (tools/recovery_bench.py, VERDICT r2 #8):
    a multi-batch run is hard-stopped mid-stream (most source files
    unprocessed), restarted from the same checkpoint, and must drain to
    EXACTLY the batch-oracle rows — zero lost, zero duplicated."""
    from tools.recovery_bench import run

    rec = run(spark, SF_SMOKE, n_files=4, work=str(tmp_path / "rec"))
    assert rec["lost_rows"] == 0, rec
    assert rec["duplicate_main_ids"] == 0, rec
    assert rec["main_rows"] == rec["expected_main"], rec
    assert rec["dlq_rows"] == rec["expected_dlq"], rec
    # the kill happened mid-stream: something was left to replay
    assert rec["rows_replayed_or_new"] > 0, rec


def _first_offset_fqueue_pipeline(spark, tmp_path):
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = str(tmp_path / "q")
    Q.publish(qdir, [(str(i), f"Input Data: {i}") for i in range(50)])
    Q.register(spark)
    pipe = _pipeline(tmp_path, chaos=False)

    def run():
        msgs = (
            spark.readStream.format("fqueue")
            .option("path", qdir)
            .load()
            .select(F.col("key").cast("long").alias("id"), F.col("value"))
        )
        q = pipe.start(msgs, trigger_once=True)
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        assert pipe.output(spark).count() == 50

    return pipe.checkpoint_path, run


def _first_offset_cdc_ingest(spark, tmp_path):
    from labs_stream_processing_examples_scala_spark.operators import merge as MG
    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import (
        run_cdc_ingest,
        write_cdc_batch_file,
    )

    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    os.makedirs(src)
    cust = spark.createDataFrame(
        [(1, "a", "s1", 10.0), (2, "b", "s2", 20.0)],
        "c_custkey long, c_name string, c_mktsegment string, c_acctbal double",
    )
    MG.scd2_init(cust).write.partitionBy("c_mktsegment").parquet(target)
    write_cdc_batch_file(
        spark.createDataFrame([(1, 15.0, "u")], "c_custkey long, new_value double, op string"),
        src, 0,
    )

    def run():
        sink = run_cdc_ingest(
            spark, src, target, "c_custkey", "c_acctbal", "c_mktsegment", timeout=120
        )
        assert sink.last_batch_id() == 0
        assert sink.view(spark).filter("c_custkey = 1").count() == 2

    return target + ".ckpt", run


def _first_offset_incremental_dedup(spark, tmp_path):
    from labs_stream_processing_examples_scala_spark.streaming.incremental_dedup import (
        run_incremental,
    )

    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    spark.createDataFrame(
        [(1, "one two three four five"), (2, "one two three four five")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)

    def run():
        assert run_incremental(spark, src, work, timeout=120).pairs(spark).count() == 1

    return os.path.join(work, "ckpt"), run


@pytest.mark.parametrize(
    "entry",
    [
        pytest.param(_first_offset_fqueue_pipeline, id="fqueue_pipeline"),
        pytest.param(_first_offset_cdc_ingest, id="cdc_ingest"),
        pytest.param(_first_offset_incremental_dedup, id="incremental_dedup"),
    ],
)
def test_restart_after_kill_during_first_offset_write(spark, tmp_path, entry):
    """A query stopped while writing its first offset-log entry leaves
    only a hidden temp file in offsets/ (seen under tools/chaos_fuzz.py
    kills). Spark 4.1 refuses to start batch 0 on a non-empty
    checkpoint, so every streaming entry point must clear that aborted
    write on restart and then deliver every message."""
    ckpt, run = entry(spark, tmp_path)
    offsets = os.path.join(ckpt, "offsets")
    os.makedirs(offsets)
    with open(os.path.join(offsets, ".0.6f1c2a7e-0000-4000-8000-000000000000.tmp"), "w") as f:
        f.write("v1\n")
    run()
    assert "0" in os.listdir(offsets)


def test_incremental_dedup_equals_batch_and_replays_idempotently(spark, tmp_path):
    """Incremental LSH dedup (streaming/incremental_dedup.py): the
    union of per-batch pair discoveries equals the batch operator's
    output exactly, and replaying a batch (foreachBatch redelivery)
    changes nothing (per-batchId idempotent index + pairs sinks)."""
    from labs_stream_processing_examples_scala_spark.operators.dedup import lsh_candidate_pairs
    from labs_stream_processing_examples_scala_spark.streaming.incremental_dedup import (
        IncrementalLshDedup,
        run_incremental,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    src = str(tmp_path / "src")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.withColumn("split", F.pmod(F.col("doc_id"), F.lit(3))).repartitionByRange(
        3, "split"
    ).drop("split").write.parquet(src)

    proc = run_incremental(spark, src, str(tmp_path / "work"))
    got = {(r.doc_a, r.doc_b): round(r.jaccard, 6) for r in proc.pairs(spark).collect()}
    want = {
        (r.doc_a, r.doc_b): round(r.jaccard, 6)
        for r in lsh_candidate_pairs(spark, SF_SMOKE).collect()
    }
    assert got == want

    # redeliver batch 0's exact docs with its original batch_id
    # (foreachBatch redelivery): the replay joins against the index AS
    # OF batch 0 (empty) and overwrites the same _batch_id dirs → no-op
    b0_ids = [
        r.doc_id
        for r in spark.read.option("basePath", proc.arrays_dir)
        .parquet(proc.arrays_dir + "/_batch_id=0")
        .select("doc_id")
        .collect()
    ]
    replay = docs.filter(F.col("doc_id").isin(b0_ids))
    proc.process_batch(replay, 0)
    again = {(r.doc_a, r.doc_b): round(r.jaccard, 6) for r in proc.pairs(spark).collect()}
    assert again == want


def test_tick_datasource_batch_and_stream(spark):
    """S1/S2 as a Spark 4 Python DataSource (sources/tick_source.py):
    batch read yields exactly n reference-shaped ticks; the stream form
    fabricates deterministic contiguous ids across micro-batches."""
    import time as _time

    from labs_stream_processing_examples_scala_spark.sources import tick_source

    tick_source.register(spark)
    rows = spark.read.format("tick").option("n", 300).load().orderBy("id").collect()
    assert len(rows) == 300
    assert rows[0].id == 0 and rows[0].value == "Input Data: 0"
    assert rows[-1].id == 299 and rows[-1].value == "Input Data: 299"

    q = (
        spark.readStream.format("tick").option("ticks_per_batch", 40).load()
        .writeStream.format("memory").queryName("tick_mem").outputMode("append")
        .trigger(processingTime="0 seconds").start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM tick_mem").first().c >= 80:
            break
        _time.sleep(0.3)
    q.stop()
    ids = [r.id for r in spark.sql("SELECT id FROM tick_mem ORDER BY id").collect()]
    assert len(ids) >= 80
    assert ids == list(range(len(ids)))  # contiguous, no gaps or dupes


def test_tick_stream_clean_commit_restart_no_dupes(spark, tmp_path):
    """The round-5 review window, pinned deterministically: restart
    after a CLEANLY COMMITTED final batch. Under the full stream-reader
    API a fresh counter's latestOffset() (below the checkpoint) got
    committed, rewinding the engine's offset and re-emitting the whole
    span under a new batch id — permanent duplicates the file sink
    cannot dedupe. The simple-reader form is offset-driven, so three
    availableNow runs from one checkpoint must produce exactly three
    contiguous, duplicate-free batches."""
    from labs_stream_processing_examples_scala_spark.sources import tick_source

    tick_source.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for _ in range(3):
        q = (
            spark.readStream.format("tick")
            .option("ticks_per_batch", 25).load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        assert q.exception() is None
    ids = sorted(r.id for r in spark.read.parquet(out).select("id").collect())
    assert ids == list(range(75)), f"gap/dup after clean-commit restarts: {ids[:80]}"


def test_tick_stream_restart_resumes_no_dupes(spark, tmp_path):
    """Checkpoint/restart contract of the tick DataSource (the ADVICE
    round-4 finding): a restarted reader re-initializes its counter, so
    it must recover the offset from what the engine hands back —
    restart must continue exactly where the last commit ended, with no
    duplicated and no skipped ids. Exactly-once end-to-end via the
    transactional file sink."""
    import time as _time

    from labs_stream_processing_examples_scala_spark.sources import tick_source

    tick_source.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_until(min_rows: int) -> None:
        q = (
            spark.readStream.format("tick")
            .option("ticks_per_batch", 25).option("partitions", 2).load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(processingTime="0 seconds").start()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= min_rows:
                    break
            except Exception:
                pass  # sink dir not created yet
            _time.sleep(0.3)
        q.stop()
        q.awaitTermination(30)

    run_until(50)
    n1 = spark.read.parquet(out).count()
    assert n1 >= 50
    run_until(n1 + 50)  # SECOND query instance, same checkpoint
    ids = [r.id for r in spark.read.parquet(out).select("id").collect()]
    assert len(ids) > n1
    assert len(ids) == len(set(ids)), "restart re-emitted committed ids"
    assert sorted(ids) == list(range(len(ids))), "gap or dup after restart"


def test_tick_source_through_enrichment_pipeline(spark, tmp_path):
    """The reference's EXACT topology end-to-end: scheduler tick source
    → 3 enrichments + transform → reliable sink. Ticks come from the
    custom DataSource; output must equal the batch enrichment of the
    same id range."""
    from labs_stream_processing_examples_scala_spark.sources import tick_source

    tick_source.register(spark)
    msgs = spark.readStream.format("tick").option("ticks_per_batch", 200).load()
    pipe = _pipeline(tmp_path, chaos=False)
    q = pipe.start(msgs)
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if pipe.output(spark).count() >= 400:
                break
        except Exception:
            pass  # sink dir not yet created
        time.sleep(0.5)
    q.stop()
    got = pipe.output(spark).drop("err")
    n = got.count()
    assert n >= 400
    ids = spark.range(n).select(F.col("id"))
    want = enrichment_with_errors(
        ids.select("id", F.concat(F.lit("Input Data: "), F.col("id").cast("string")).alias("value")),
        chaos=False,
    ).drop("err")
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_streaming_ingest_pipeline_matches_greedy_oracle(spark, tmp_path):
    """Capstone: the online ingest pipeline (decontaminate → quality →
    greedy near-dup dedup vs the kept-index → resample) over 3 ordered
    micro-batches must keep EXACTLY the set a pure-Python greedy pass
    (third engine) derives from the batch operators' own primitives."""
    from labs_stream_processing_examples_scala_spark.functions.text import _quality_parts
    from labs_stream_processing_examples_scala_spark.operators.dedup import (
        lsh_candidate_pairs,
        shingle_hash_arrays,
    )
    from labs_stream_processing_examples_scala_spark.operators.sampling import RESAMPLE_BANDS, _bucket
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ingest_pipeline import run_ingest

    n_bench, q_min = 100, 0.3
    docs = load_table(spark, SF_SMOKE, "documents")

    # benchmark shingles (the eval suite to decontaminate against)
    bench_shingles = [
        r.h
        for r in shingle_hash_arrays(spark, SF_SMOKE)
        .filter(F.col("doc_id") < n_bench)
        .select(F.explode("shs").alias("h"))
        .distinct()
        .collect()
    ]

    # corpus = doc_id >= n_bench, streamed in 3 doc_id-ordered files
    src = str(tmp_path / "src")
    corpus = docs.filter(F.col("doc_id") >= n_bench)
    hi = corpus.agg(F.max("doc_id")).first()[0]
    span = (hi - n_bench) // 3 + 1
    corpus.withColumn(
        "part", ((F.col("doc_id") - n_bench) / span).cast("int")
    ).repartitionByRange(3, "part").drop("part").write.parquet(src)

    proc = run_ingest(spark, src, str(tmp_path / "work"), bench_shingles, quality_min=q_min)
    got_ids = {r.doc_id for r in proc.kept(spark).collect()}

    # --- third engine: pure-Python greedy over batch-operator primitives ---
    _, _, _, score = _quality_parts()
    eligible_rows = (
        corpus.withColumn("quality", score)
        .join(
            shingle_hash_arrays(spark, SF_SMOKE).select("doc_id", "shs"),
            "doc_id",
        )
        .withColumn(
            "contaminated",
            F.arrays_overlap("shs", F.lit(bench_shingles).cast("array<bigint>")),
        )
        .select("doc_id", "quality", "contaminated", "n_chars")
        .collect()
    )
    eligible = {
        r.doc_id: r.n_chars
        for r in eligible_rows
        if (not r.contaminated) and r.quality >= q_min
    }
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(spark, SF_SMOKE).collect()
        if r.doc_a in eligible and r.doc_b in eligible
    }
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(b, set()).add(a)
    kept = set()
    for doc in sorted(eligible):
        if not (nbrs.get(doc, set()) & kept):
            kept.add(doc)
    # resample (reuse the engine's own bucket expression for the hash)
    buckets = {
        r.doc_id: r.b
        for r in docs.select("doc_id", _bucket(F.col("doc_id")).cast("int").alias("b")).collect()
    }
    def band_pct(n_chars):
        for lo, p in RESAMPLE_BANDS:
            if n_chars >= lo:
                return p
        return RESAMPLE_BANDS[-1][1]
    want_ids = {d for d in kept if buckets[d] < band_pct(eligible[d])}

    assert got_ids == want_ids
    invalidate()


def test_ingest_plus_rerank_equals_batch_pipeline(spark, tmp_path):
    """The offline quality re-rank closes the documented ingest gap:
    ingest (absolute quality cut = none) → quality_rerank over the
    accumulated survivors → filter sampled must equal the batch
    corpus_pipeline (percentile quality stage + resample) on the same
    input. The input is made dup-free and contamination-free so both
    dedup rules (batch exact keep-first vs online greedy LSH) are the
    identity and the comparison isolates the quality+resample stages —
    two very different execution paths (3 streaming micro-batches +
    a batch window job vs ONE batch plan) must agree exactly."""
    from labs_stream_processing_examples_scala_spark.operators.corpus import (
        corpus_pipeline,
        quality_rerank,
    )
    from labs_stream_processing_examples_scala_spark.operators.dedup import lsh_candidate_pairs
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ingest_pipeline import run_ingest

    docs = load_table(spark, SF_SMOKE, "documents")
    # drop every member of an exact-dup group or an LSH candidate pair
    # (candidates ⊇ verified near-dups), so both dedup rules are identity
    dup_keys = (
        docs.groupBy(F.md5("text").alias("k"))
        .agg(F.count("*").alias("n"), F.collect_list("doc_id").alias("ids"))
        .filter(F.col("n") > 1)
        .select(F.explode("ids").alias("doc_id"))
    )
    pair_ids = {
        x
        for r in lsh_candidate_pairs(spark, SF_SMOKE).collect()
        for x in (r.doc_a, r.doc_b)
    }
    clean = docs.join(dup_keys, "doc_id", "left_anti").filter(
        ~F.col("doc_id").isin(sorted(pair_ids)) if pair_ids else F.lit(True)
    )
    tmp_sf = str(tmp_path / "sf")
    os.makedirs(tmp_sf)
    clean.coalesce(1).write.parquet(f"{tmp_sf}/documents.parquet")

    # batch flagship with an empty benchmark set: decontamination and
    # keep-first dedup are identity on this input
    want = {
        (r.doc_id, r.lang, r.source, round(r.quality, 9), r.pr)
        for r in corpus_pipeline(spark, tmp_sf, n_benchmark=0).collect()
    }

    # online: 3 micro-batches, no absolute quality cut, then re-rank
    src = str(tmp_path / "src")
    hi, lo = clean.agg(F.max("doc_id"), F.min("doc_id")).first()
    span = (hi - lo) // 3 + 1
    clean.withColumn("part", ((F.col("doc_id") - lo) / span).cast("int")).repartitionByRange(
        3, "part"
    ).drop("part").write.parquet(src)
    proc = run_ingest(spark, src, str(tmp_path / "work"), bench_shingles=[], quality_min=0.0)
    got = {
        (r.doc_id, r.lang, r.source, round(r.quality, 9), r.pr)
        for r in quality_rerank(proc.survivors(spark))
        .filter("sampled")
        .select("doc_id", "lang", "source", "quality", "pr")
        .collect()
    }
    assert got == want
    invalidate()


def test_ingest_drop_set_bounded_plan(spark, tmp_path):
    """A pathological batch that is almost entirely near-dups must not
    inflate the survivors plan with per-id literals (the round-4 ADVICE
    isin finding): the drop set ships as a broadcast anti-join relation,
    so plan size is O(1) in |dropped|. End-to-end, 300 identical docs
    greedily keep exactly the smallest doc_id."""
    from labs_stream_processing_examples_scala_spark.streaming.ingest_pipeline import (
        _drop_docs,
        run_ingest,
    )

    base = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    p5 = _drop_docs(base, set(range(5)))._jdf.queryExecution().executedPlan().toString()
    p500 = _drop_docs(base, set(range(500)))._jdf.queryExecution().executedPlan().toString()
    assert abs(len(p500) - len(p5)) < 200, "plan grew with |dropped| — literals leaked back in"
    assert " IN " not in p500

    rows = [
        (i, "the same exact text repeated for the near dup stress batch", "en", "web", 59)
        for i in range(300)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    src = str(tmp_path / "src")
    docs.repartition(1).write.parquet(src)
    proc = run_ingest(spark, src, str(tmp_path / "work"), bench_shingles=[1], quality_min=0.0)
    # the dedup survivor set is the index (resample applies after dedup);
    # of 300 identical docs the greedy rule keeps exactly doc 0
    surv = [r.doc_id for r in spark.read.parquet(proc.arrays_dir).select("doc_id").collect()]
    assert surv == [0]
    assert {r.doc_id for r in proc.kept(spark).collect()} <= {0}


def test_incremental_ivf_index_equals_batch_probe_and_replays(spark, tmp_path):
    """Streaming IVF maintenance (streaming/ivf_ingest.py): probing the
    ingest-built, compacted, cell-partitioned index returns EXACTLY the
    batch ivf_topk frame (frozen centroids → same assignment → same
    probed rows → same ordered top-k); a foreachBatch redelivery is a
    content no-op; and the probe scan prunes on cell (PartitionFilters)
    with zero exchanges — the round-4 IVF scale posture carried into
    the streaming path."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        _seed_centroids,
        ivf_topk,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import run_ivf_ingest
    from tools.plan_audit import plan_of, shuffle_exchange_count

    src = str(tmp_path / "src")
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    embs.withColumn("split", F.pmod(F.col("vec_id"), F.lit(3))).repartitionByRange(
        3, "split"
    ).drop("split").write.parquet(src)

    cents = _seed_centroids(spark, SF_SMOKE, 16)
    proc = run_ivf_ingest(spark, src, str(tmp_path / "work"), cents, compact_every=2)
    qvec = _query_embedding(spark, SF_SMOKE, 0)

    want = [(r.vec_id, r.cos_sim) for r in ivf_topk(spark, SF_SMOKE).collect()]
    got_df = proc.probe(spark, qvec, query_id=0, k=10, nprobe=4)
    got = [(r.vec_id, r.cos_sim) for r in got_df.collect()]
    assert got == want and len(got) == 10

    # full index content: every fixture vector indexed exactly once,
    # even though batches 0..1 were compacted into one directory
    idx = proc.index(spark)
    assert idx.count() == embs.count()
    assert idx.select("vec_id").distinct().count() == embs.count()

    # redelivery of the LAST batch (the only legally-replayable one
    # after keep_latest compaction) with its original id: no-op
    import glob as _glob
    import os as _os

    ids = sorted(
        int(d.rsplit("=", 1)[1])
        for d in _glob.glob(_os.path.join(proc.index_dir, "_batch_id=*"))
    )
    last = ids[-1]
    replay_ids = [
        r.vec_id
        for r in spark.read.option("basePath", proc.index_dir)
        .parquet(f"{proc.index_dir}/_batch_id={last}")
        .select("vec_id")
        .collect()
    ]
    proc.process_batch(embs.filter(F.col("vec_id").isin(replay_ids)), last)
    again = [(r.vec_id, r.cos_sim) for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    assert again == want

    # plan proof: pruned scan, no shuffle anywhere in the probe
    plan = plan_of(got_df)
    assert "PartitionFilters: [cell" in plan
    assert shuffle_exchange_count(plan) == 0


def test_incremental_ivf_delete_tombstones_until_rebuild_folds(spark, tmp_path):
    """Index-side deletes (round 7, the MOR analogue for the ANN
    tier): delete_ids tombstones vec_ids — the probe stops returning
    them immediately, no index row is touched, the probe plan stays a
    pruned zero-shuffle scan (the tombstone anti-join broadcasts) —
    and the next rebuild folds them physically and clears the set.
    Replaying a delete is a no-op by value; the PQ code-table tier
    honors its own tombstones through the same path."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        _seed_centroids,
        ivf_topk,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        run_ivf_ingest,
    )
    from tools.plan_audit import plan_of, shuffle_exchange_count

    src = str(tmp_path / "src")
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    embs.write.parquet(src)
    cents = _seed_centroids(spark, SF_SMOKE, 16)
    proc = run_ivf_ingest(spark, src, str(tmp_path / "work"), cents)
    qvec = _query_embedding(spark, SF_SMOKE, 0)

    base = [r.vec_id for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    victims = base[:3]
    s = proc.delete_ids(spark, victims)
    assert s["ids"] == 3

    got_df = proc.probe(spark, qvec, 0, 10, 4)
    got = [r.vec_id for r in got_df.collect()]
    assert not (set(victims) & set(got)), "tombstoned ids still returned"
    assert len(got) == 10, "probe must backfill from the pruned cells"
    # batch oracle on the SAME deletion: exact ivf_topk minus victims,
    # then next-best — equal because scoring is identical
    want = [
        r.vec_id
        for r in ivf_topk(spark, SF_SMOKE, k=13).collect()
        if r.vec_id not in set(victims)
    ][:10]
    assert got == want
    # no data row touched; the index view hides exactly the victims
    assert proc.index(spark).count() == embs.count() - 3
    plan = plan_of(got_df)
    assert "PartitionFilters: [cell" in plan
    assert shuffle_exchange_count(plan) == 0, "tombstone join must broadcast"

    # replay the same delete: idempotent by value
    proc.delete_ids(spark, victims)
    assert [r.vec_id for r in proc.probe(spark, qvec, 0, 10, 4).collect()] == got

    # rebuild folds: rows physically gone, tombstone set cleared
    import os as _os

    proc.rebuild(spark, proc.cents_py)
    assert not _os.path.isdir(proc._tombstone_dir())
    assert proc.index(spark).count() == embs.count() - 3
    assert [r.vec_id for r in proc.probe(spark, qvec, 0, 10, 4).collect()] == got


def test_incremental_ivf_rebuild_swaps_centroids_atomically(spark, tmp_path):
    """Index refresh (streaming/ivf_ingest.py rebuild): re-training the
    coarse quantizer reassigns the ingested vectors under the new
    centroids into a fresh version dir and swaps the manifest — probe
    after rebuild equals the batch index built from the same trained
    centroids, the old version dir is retired, and post-rebuild ingest
    keeps appending to the new version (probe sees the union)."""
    import os as _os

    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _probe_ivf,
        _query_embedding,
        _seed_centroids,
        build_ivf_index,
        kmeans_train,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import run_ivf_ingest

    src = str(tmp_path / "src")
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    # hold back vec_ids ≡ 2 (mod 3) for the post-rebuild ingest
    first = embs.filter(F.pmod("vec_id", F.lit(3)) != 2)
    first.withColumn("s", F.pmod("vec_id", F.lit(2))).repartitionByRange(2, "s").drop(
        "s"
    ).write.parquet(src)

    proc = run_ivf_ingest(spark, src, str(tmp_path / "work"), _seed_centroids(spark, SF_SMOKE, 16))
    qvec = _query_embedding(spark, SF_SMOKE, 0)

    cents, _ = kmeans_train(spark, SF_SMOKE, n_cells=16, n_iter=5)
    new_cents = [(i, c) for i, c in enumerate(cents)]
    stats = proc.rebuild(spark, new_cents)
    assert stats["version"] == 1
    dirs = sorted(d for d in _os.listdir(str(tmp_path / "work")) if d.startswith("ivf_cells"))
    assert dirs == ["ivf_cells_v1"], "old version dir must be retired"
    assert proc.cents_py == new_cents  # manifest repointed with the swap

    # probe ≡ a batch inverted file built from the SAME vectors + cents
    post = [(r.vec_id, r.cos_sim) for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    idx = proc.index(spark)
    n_first = first.count()
    assert idx.count() == n_first

    # continued ingest lands in the new version; probe ≡ full batch index
    rest = embs.filter(F.pmod("vec_id", F.lit(3)) == 2)
    proc.process_batch(rest, stats["carried_batch_id"] + 1)
    assert proc.index(spark).count() == embs.count()
    full_path = build_ivf_index(spark, SF_SMOKE, new_cents, tag="rebuild-test-full")
    want = [
        (r.vec_id, r.cos_sim)
        for r in _probe_ivf(spark, full_path, new_cents, qvec, 0, 10, 4).collect()
    ]
    after_ingest = [(r.vec_id, r.cos_sim) for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    assert after_ingest == want
    assert post != after_ingest or rest.count() == 0  # new vectors visible


def test_incremental_ivfpq_code_table_matches_batch_probe(spark, tmp_path):
    """Quantized streaming index (IncrementalIvfPqIndex): micro-batches
    are Arrow-PQ-encoded + cell-assigned into a versioned code table;
    the ADC probe over the pruned cells equals the batch ivfpq_topk
    shortlist (same frozen centroids + codebooks), the exact re-rank
    through a raw-vector source equals the batch two-stage result, and
    codebook/centroid re-training on the lossy tier raises (rebuild
    belongs to the raw table)."""
    import pytest as _pytest

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _dvec,
        _query_embedding,
        kmeans_train,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfPqIndex,
    )

    cents_list, _ = kmeans_train(spark, SF_SMOKE, n_cells=16, n_iter=5)
    cents = [(i, c) for i, c in enumerate(cents_list)]
    cb, _ = QZ.pq_train(spark, SF_SMOKE)

    proc = IncrementalIvfPqIndex(str(tmp_path / "pqidx"), cents, cb, compact_every=2)
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    for b in range(3):
        proc.process_batch(embs.filter(F.pmod("vec_id", F.lit(3)) == b), b)
    assert proc.index(spark).count() == embs.count()

    qvec = _query_embedding(spark, SF_SMOKE, 0)
    # ADC-only probe ≡ the batch shortlist (rerank ≤ k → raw ADC order)
    got_adc = [
        (r.vec_id, r.adc_score)
        for r in proc.probe(spark, qvec, 0, k=10, nprobe=4).collect()
    ]
    want_adc = [
        (r.vec_id, r.adc_score)
        for r in QZ.ivfpq_topk(spark, SF_SMOKE, rerank=0).collect()
    ]
    assert got_adc == want_adc and len(got_adc) == 10

    # exact re-rank through the raw-vector companion ≡ batch two-stage
    raw = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", _dvec("embedding").alias("vec")
    )
    got_rr = [
        (r.vec_id, r.cos_sim)
        for r in proc.probe(spark, qvec, 0, k=10, nprobe=4, rerank=50, rerank_source=raw).collect()
    ]
    want_rr = [
        (r.vec_id, r.cos_sim)
        for r in QZ.ivfpq_topk(spark, SF_SMOKE, rerank=50).collect()
    ]
    assert got_rr == want_rr

    # the lossy tier cannot re-train in place
    with _pytest.raises(NotImplementedError):
        proc.rebuild(spark, cents)

    # tombstones on the quantized tier (round 7): inherited delete_ids
    # — ADC probe stops returning the victims, next-best backfills
    victims = [v for v, _ in got_adc[:2]]
    proc.delete_ids(spark, victims)
    after = [r.vec_id for r in proc.probe(spark, qvec, 0, k=10, nprobe=4).collect()]
    assert not (set(victims) & set(after)) and len(after) == 10
    assert proc.index(spark).count() == embs.count() - 2


def test_incremental_ivfpq_rebuild_from_raw_retrains_and_swaps(spark, tmp_path):
    """Round-6 verdict task #2: the quantized tier's refresh path.
    rebuild_from_raw re-trains centroids AND codebooks from the raw
    companion index, re-encodes, stages the code table under the next
    version dir and swaps the manifest atomically. Probe-after-rebuild
    is bit-for-bit a FRESH code table built from the swapped-in
    quantizers; a replay of the carried batch id is a content no-op;
    continued ingest lands in the new version; a raw/code row-count
    mismatch is refused."""
    import os as _os

    import pytest as _pytest

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        _seed_centroids,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfIndex,
        IncrementalIvfPqIndex,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    seeds = _seed_centroids(spark, SF_SMOKE, 16)
    cb0, _ = QZ.pq_train(spark, SF_SMOKE, n_iter=1)

    raw = IncrementalIvfIndex(str(tmp_path / "raw"), seeds)
    proc = IncrementalIvfPqIndex(str(tmp_path / "pq"), seeds, cb0)
    # ingest 2/3 of the corpus into BOTH tiers, hold back split 2
    for b in range(2):
        batch = embs.filter(F.pmod("vec_id", F.lit(3)) == b)
        raw.process_batch(batch, b)
        proc.process_batch(batch, b)

    qvec = _query_embedding(spark, SF_SMOKE, 0)
    stats = proc.rebuild_from_raw(spark, raw, n_iter=3)
    assert stats["version"] == 1 and stats["carried_batch_id"] == 1
    dirs = sorted(d for d in _os.listdir(str(tmp_path / "pq")) if d.startswith("ivf_cells"))
    assert dirs == ["ivf_cells_v1"], "old code-table version must be retired"
    meta = proc._meta()
    assert meta["codebooks"] != cb0, "codebooks did not re-train"
    assert meta["centroids"] != [[c, v] for c, v in seeds], "centroids did not re-train"

    # probe ≡ a FRESH code table built with the swapped-in quantizers
    # over the same vectors (one batch) — same cells, codes, ADC order
    fresh = IncrementalIvfPqIndex(
        str(tmp_path / "fresh"), proc.cents_py, meta["codebooks"]
    )
    fresh.process_batch(embs.filter(F.pmod("vec_id", F.lit(3)) != 2), 0)
    got = [(r.vec_id, r.adc_score) for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    want = [(r.vec_id, r.adc_score) for r in fresh.probe(spark, qvec, 0, 10, 4).collect()]
    assert got == want and len(got) == 10

    # replaying the carried batch id overwrites with identical content
    n_before = proc.index(spark).count()
    replay_ids = [
        r.vec_id
        for r in spark.read.option("basePath", proc.index_dir)
        .parquet(f"{proc.index_dir}/_batch_id={stats['carried_batch_id']}")
        .select("vec_id").collect()
    ]
    proc.process_batch(embs.filter(F.col("vec_id").isin(replay_ids)), stats["carried_batch_id"])
    assert proc.index(spark).count() == n_before
    assert [(r.vec_id, r.adc_score) for r in proc.probe(spark, qvec, 0, 10, 4).collect()] == got

    # continued ingest appends to the new version under the new quantizers
    rest = embs.filter(F.pmod("vec_id", F.lit(3)) == 2)
    proc.process_batch(rest, stats["carried_batch_id"] + 1)
    fresh.process_batch(rest, 1)
    assert proc.index(spark).count() == embs.count()
    after = [(r.vec_id, r.adc_score) for r in proc.probe(spark, qvec, 0, 10, 4).collect()]
    want_after = [(r.vec_id, r.adc_score) for r in fresh.probe(spark, qvec, 0, 10, 4).collect()]
    assert after == want_after

    # tier positions must agree: raw is now missing split 2 → refused
    with _pytest.raises(ValueError, match="same source position"):
        proc.rebuild_from_raw(spark, raw, n_iter=1)


def test_queue_source_through_enrichment_pipeline(spark, tmp_path):
    """The reference's PRODUCTION topology end-to-end: broker queue →
    3 enrichments + transform → reliable sink (README.md:7 names
    RabbitMQ as the intended source; the file-backed fqueue carries the
    same consumer contract). Output must equal the batch enrichment of
    the same published ids — the broker hop is semantically invisible."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = str(tmp_path / "q")
    Q.publish(qdir, [(str(i), f"Input Data: {i}") for i in range(300)])
    Q.register(spark)
    msgs = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .option("rows_per_batch", 1000)
        .load()
        .select(F.col("key").cast("long").alias("id"), F.col("value"))
    )
    pipe = _pipeline(tmp_path, chaos=False)
    q = pipe.start(msgs, trigger_once=True)
    q.awaitTermination(120)
    assert q.exception() is None
    got = pipe.output(spark).drop("err")
    assert got.count() == 300
    ids = spark.range(300).select(F.col("id"))
    want = enrichment_with_errors(
        ids.select(
            "id",
            F.concat(F.lit("Input Data: "), F.col("id").cast("string")).alias("value"),
        ),
        chaos=False,
    ).drop("err")
    assert got.orderBy("id").collect() == want.orderBy("id").collect()
