"""Connector matrix: round-trips per format, schema discipline, jar gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.sources import connectors as C
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def sample(spark):
    return spark.read.parquet(f"{SF_SMOKE}/nation.parquet")


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_round_trip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    C.write_batch(sample, path, fmt=fmt)
    back = C.read_batch(spark, path, fmt=fmt, schema=sample.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="schema"):
        C.read_batch(spark, str(tmp_path), fmt="csv")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown format"):
        C.read_batch(spark, "/nowhere", fmt="xml")


def test_jar_gated_format_raises_cleanly(spark):
    with pytest.raises(NotImplementedError, match="connector jar"):
        C.read_batch(spark, "/nowhere", fmt="delta")


def test_streaming_csv_source(spark, sample, tmp_path):
    path = str(tmp_path / "csvstream")
    C.write_batch(sample, path, fmt="csv")
    stream = C.read_stream(spark, path, fmt="csv", schema=sample.schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("csv_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert q.exception() is None
    got = spark.sql("SELECT * FROM csv_stream")
    assert got.count() == sample.count()


def test_partitioned_write_prunes(spark, tmp_path):
    """partitionBy → directory layout → partition pruning at read."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(1000)
    path = str(tmp_path / "by_type")
    C.write_batch(ev, path, fmt="parquet", partition_by=["event_type"])
    back = C.read_batch(spark, path, fmt="parquet").filter(F.col("event_type") == "click")
    qe = back._jdf.queryExecution()
    jvm = back.sparkSession._jvm
    plan = qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "PartitionFilters: [isnotnull(event_type" in plan


# --- JDBC against a REAL embedded database (round 8, verdict task #5):
# Apache Derby ships in the Spark distribution, so the S4 external-DB
# path runs end-to-end instead of stopping at the jar-gate probe.


def test_jdbc_round_trip_embedded_derby(spark, sample, tmp_path):
    """Batch round-trip through a real JDBC database, the partitioned
    parallel read (the 100 TB shape: one WHERE-range query per task),
    and filter pushdown into the remote scan."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    C.write_jdbc(sample, url, "nation", mode="overwrite")
    back = C.read_jdbc(spark, url, "nation")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))

    part = C.read_jdbc(
        spark, url, "nation",
        partition_column="n_nationkey", lower_bound=0, upper_bound=25,
        num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4, "partitioned read must fan out"
    assert sorted(map(tuple, part.collect())) == sorted(map(tuple, sample.collect()))

    q = back.filter(F.col("n_nationkey") >= 10).select("n_nationkey", "n_name")
    plan = q._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan, (
        "filter must push into the JDBC scan"
    )

    # appends accumulate (the mode a CDC sink uses)
    C.write_jdbc(sample.limit(3), url, "nation", mode="append")
    assert C.read_jdbc(spark, url, "nation").count() == sample.count() + 3


def test_jdbc_missing_driver_raises_cleanly(spark):
    with pytest.raises(NotImplementedError, match="driver"):
        C.read_jdbc(spark, "jdbc:mysql://localhost/db", "t",
                    driver="com.mysql.cj.jdbc.Driver")


def test_streaming_sink_into_jdbc(spark, sample, tmp_path):
    """S4 streaming against the real database: a file stream lands each
    micro-batch in Derby through a foreachBatch write_jdbc sink; the
    accumulated table equals the source."""
    src = str(tmp_path / "src")
    sample.repartition(3).write.parquet(src)
    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    C.write_jdbc(sample.limit(0), url, "sunk", mode="overwrite")  # create empty

    stream = C.read_stream(spark, src, fmt="parquet", schema=sample.schema)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, _bid: C.write_jdbc(df, url, "sunk", mode="append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = C.read_jdbc(spark, url, "sunk")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, sample.collect()))


# --- fqueue: the broker-shaped queue source (round-9 verdict task #3) --
# No broker client jar ships in this environment, so the RabbitMQ
# contract the reference intends (README.md:7, build.sbt:20) is driven
# end-to-end against the file-backed segmented-log source instead:
# per-record ACK offsets, NACK replay, DLQ routing, group-ack retention.

from labs_stream_processing_examples_scala_spark.sources import queue_source as Q  # noqa: E402


def _read_rows(rd, p):
    """Flatten read(partition) to row tuples — the consume path yields
    Arrow record batches since round 12 (tuple yields still accepted)."""
    out = []
    for item in rd.read(p):
        if hasattr(item, "num_rows"):  # pyarrow RecordBatch
            out.extend(
                zip(*(item.column(i).to_pylist() for i in range(item.num_columns)))
            )
        else:
            out.append(item)
    return out


def _plan_batch(rd, start):
    """Drive a planning stream reader exactly as the engine does for
    one micro-batch: latestOffset() -> partitions(start, end) ->
    read(partition) per span (executor side in a real query). Returns
    (rows, end)."""
    end = rd.latestOffset()
    rows = [r for p in rd.partitions(start, end) for r in _read_rows(rd, p)]
    return rows, end


def _replay(rd, start, end):
    """NACK replay of a planned batch: partitions(start, end) is
    deterministic over the immutable segments."""
    return [r for p in rd.partitions(start, end) for r in _read_rows(rd, p)]


def _drain(spark, qdir, ckpt, out, rows_per_batch=100, on_batch=None):
    """One availableNow consumption run: fqueue -> parquet (or a custom
    foreachBatch), returning the query after termination."""
    Q.register(spark)
    reader = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .option("rows_per_batch", rows_per_batch)
        .load()
    )
    w = reader.writeStream.outputMode("append").option(
        "checkpointLocation", ckpt
    )
    if on_batch is not None:
        w = w.foreachBatch(on_batch)
    else:
        w = w.format("parquet").option("path", out)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(120)
    if q.exception() is None:
        # the broker-side group ACK derives from the engine checkpoint
        # (the documented Kafka pattern — Spark never commits group
        # offsets to the broker itself)
        Q.sync_group_offset(qdir, "default", ckpt)
    return q


def test_fqueue_batch_read_parallelizes_per_segment(spark, tmp_path):
    qdir = str(tmp_path / "q")
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(5)])
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(5, 8)])
    Q.register(spark)
    df = spark.read.format("fqueue").option("path", qdir).load()
    assert df.rdd.getNumPartitions() == 2, "one task per segment"
    got = sorted((r.seg, r.pos, r.key, r.value) for r in df.collect())
    assert got == [(0, i, f"k{i}", f"v{i}") for i in range(5)] + [
        (1, i - 5, f"k{i}", f"v{i}") for i in range(5, 8)
    ]


def test_fqueue_stream_acks_and_never_reprocesses(spark, tmp_path):
    """ACK direction (S3): a committed batch never reprocesses — a
    second run over the same checkpoint adds nothing; a third run picks
    up ONLY newly published segments. The broker-side group offset
    tracks the engine's commits."""
    qdir, ckpt, out = (str(tmp_path / p) for p in ("q", "ckpt", "out"))
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(10)])
    q = _drain(spark, qdir, ckpt, out)
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 10
    off = Q.read_group_offset(qdir, "default")
    assert (off["seg"], off["row"]) == (0, 10), f"group ACK not recorded: {off}"

    _drain(spark, qdir, ckpt, out)  # same checkpoint, nothing new
    assert spark.read.parquet(out).count() == 10

    Q.publish(qdir, [(str(i), f"m{i}") for i in range(10, 14)])
    _drain(spark, qdir, ckpt, out)
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == sorted(f"m{i}" for i in range(14)), "dup or loss across runs"


def test_fqueue_nack_replay_after_sink_failure(spark, tmp_path):
    """NACK direction: the sink dies before the batch commits → the
    restarted query REDELIVERS the same span (readBetweenOffsets over
    the immutable segments) and the idempotent sink keeps the output
    exactly-once."""
    from labs_stream_processing_examples_scala_spark.streaming.sinks import (
        idempotent_write,
        read_batched_output,
    )

    qdir, ckpt, out = (str(tmp_path / p) for p in ("q", "ckpt", "out"))
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(8)])
    marker = tmp_path / "fail_once"
    marker.write_text("arm")

    def flaky(df, batch_id):
        if marker.exists():
            marker.unlink()
            raise ValueError("sink crash before commit")
        idempotent_write(df, out, batch_id)

    with pytest.raises(Exception, match="sink crash"):
        _drain(spark, qdir, ckpt, out, on_batch=flaky)

    q2 = _drain(spark, qdir, ckpt, out, on_batch=flaky)  # marker gone
    assert q2.exception() is None
    got = sorted(r.value for r in read_batched_output(spark, out).collect())
    assert got == sorted(f"m{i}" for i in range(8)), "redelivery lost or duped"


def test_fqueue_poison_routed_to_dlq_query_survives(spark, tmp_path):
    """DLQ contract (F3/K3/R5): poison lines decode as key=NULL
    errors-as-data rows; the F2 split dead-letters them and the query
    keeps running — the whole stream never fails."""
    from labs_stream_processing_examples_scala_spark.streaming.sinks import (
        main_and_dlq_sink,
        read_batched_output,
    )

    qdir, ckpt = (str(tmp_path / p) for p in ("q", "ckpt"))
    main, dlq = str(tmp_path / "main"), str(tmp_path / "dlq")
    Q.publish(qdir, [(str(i), f"ok{i}") for i in range(6)])
    Q.publish_poison(qdir, ['{"broken', "plain noise"])
    Q.publish(qdir, [("9", "ok9")])

    sink = main_and_dlq_sink(main, dlq)

    def on_batch(df, batch_id):
        classified = df.withColumn(
            "err",
            F.when(
                F.col("key").isNull(),
                F.struct(
                    F.lit("MalformedMessage").alias("cls"),
                    F.col("value").alias("msg"),
                ),
            ),
        )
        sink(classified, batch_id)

    q = _drain(spark, qdir, ckpt, None, on_batch=on_batch)
    assert q.exception() is None, f"poison killed the query: {q.exception()}"
    ok = sorted(r.value for r in read_batched_output(spark, main).collect())
    assert ok == sorted([f"ok{i}" for i in range(6)] + ["ok9"])
    bad = sorted(r.err_msg for r in read_batched_output(spark, dlq).collect())
    assert bad == sorted(['{"broken', "plain noise"])


def test_fqueue_purge_acked_retention_and_continue(spark, tmp_path):
    """Group-ACK-driven retention: once the consumer group acked past
    them, fully-consumed segments are purgeable; consumption continues
    correctly over the truncated log (offsets are absolute, so the
    purge is invisible to the checkpoint)."""
    qdir, ckpt, out = (str(tmp_path / p) for p in ("q", "ckpt", "out"))
    Q.publish(qdir, [("a", "1")])
    Q.publish(qdir, [("b", "2")])
    _drain(spark, qdir, ckpt, out)
    assert spark.read.parquet(out).count() == 2
    purged = Q.purge_acked(qdir)
    assert purged == [0], f"only fully-acked segments purge: {purged}"
    Q.publish(qdir, [("c", "3")])
    _drain(spark, qdir, ckpt, out)
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == ["1", "2", "3"]


def test_fqueue_engine_to_broker_round_trip(spark, tmp_path):
    """The producer half: a streaming query PUBLISHES its batches into
    the queue (queue_sink), a second query consumes them back — the
    engine->broker->engine hop preserves every record."""
    from labs_stream_processing_examples_scala_spark.sources import tick_source

    tick_source.register(spark)
    qdir = str(tmp_path / "q")
    src = (
        spark.readStream.format("tick").option("ticks_per_batch", 20).load()
        .select(F.col("id").cast("string").alias("key"), F.col("value"))
    )
    q = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_prod"))
        .foreachBatch(Q.queue_sink(qdir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt_cons")
    q2 = _drain(spark, qdir, ckpt, out)
    assert q2.exception() is None
    got = sorted(int(r.key) for r in spark.read.parquet(out).collect())
    assert got == list(range(20))


def test_fqueue_concurrent_producers_distinct_segments(tmp_path):
    """Two producers racing must land in DISTINCT segments (the
    stage+rename slot race) with no message lost."""
    import threading

    qdir = str(tmp_path / "q")
    errs = []

    def produce(tag):
        try:
            for i in range(5):
                Q.publish(qdir, [(f"{tag}{i}", f"{tag}{i}")])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=produce, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    segs = Q._list_segments(qdir)
    assert len(segs) == 10, f"a segment was clobbered: {segs}"
    keys = []
    for s in segs:
        keys += [k for _, _, k, _ in Q._read_segment_rows(qdir, s)]
    assert sorted(keys) == sorted([f"a{i}" for i in range(5)] + [f"b{i}" for i in range(5)])


def test_fqueue_publish_slot_race_hammer(tmp_path):
    """8 producers × 25 segments with no barrier: every publish must
    land in a distinct slot with all messages intact. Guards the
    os.link commit (os.rename silently overwrites an existing FILE
    target on POSIX — the round-9 refactor's near-miss)."""
    import threading

    qdir = str(tmp_path / "q")
    errs = []

    def produce(tag):
        try:
            for i in range(25):
                Q.publish(qdir, [(f"{tag}-{i}", str(i))])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=produce, args=(t,)) for t in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    segs = Q._list_segments(qdir)
    assert len(segs) == 200, f"lost {200 - len(segs)} segments to the slot race"
    keys = [k for s in segs for _, _, k, _ in Q._read_segment_rows(qdir, s)]
    assert len(keys) == 200 and len(set(keys)) == 200


def test_fqueue_resumes_mid_segment_across_runs(spark, tmp_path):
    """rows_per_batch smaller than a segment: each availableNow run
    consumes one batch (simple-reader semantics), so three runs drain
    10 rows at 4/batch — the (seg,row) offset must resume MID-segment
    with no dup or gap, including across the segment boundary."""
    qdir, ckpt, out = (str(tmp_path / p) for p in ("q", "ckpt", "out"))
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(6)])   # seg 0
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(6, 10)])  # seg 1
    for expect in (4, 8, 10):
        _drain(spark, qdir, ckpt, out, rows_per_batch=4)
        assert spark.read.parquet(out).count() == expect
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == sorted(f"m{i}" for i in range(10))
    off = Q.read_group_offset(qdir, "default")
    assert (off["seg"], off["row"]) == (1, 4)


def test_fqueue_stream_starts_on_empty_queue(spark, tmp_path):
    """A consumer attached BEFORE any producer published: the first run
    sees zero rows (offset does not advance), a later run picks up the
    first published segment from offset zero — nothing skipped."""
    qdir, ckpt, out = (str(tmp_path / p) for p in ("q", "ckpt", "out"))
    import os

    os.makedirs(qdir)
    q = _drain(spark, qdir, ckpt, out)
    assert q.exception() is None  # empty batch must not fail the query
    Q.publish(qdir, [("a", "1"), ("b", "2")])
    _drain(spark, qdir, ckpt, out)
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == ["1", "2"]


# --- round 10: distributed producer + competing consumers ---------------


def test_fqueue_sink_publishes_per_partition_no_collect(spark, tmp_path):
    """Round-9 verdict task #1: queue_sink must publish from the
    EXECUTORS — one segment per non-empty partition, nothing
    materialized on the driver. DataFrame.collect is poisoned for the
    duration to prove the data path never crosses it."""
    from pyspark.sql import DataFrame

    qdir = str(tmp_path / "q")
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(40)], "key string, value string"
    ).repartition(4)

    real_collect = DataFrame.collect

    def poisoned(self):
        raise AssertionError("queue_sink materialized the batch on the driver")

    DataFrame.collect = poisoned
    try:
        Q.queue_sink(qdir)(df, 0)
    finally:
        DataFrame.collect = real_collect

    segs = Q._list_segments(qdir)
    assert len(segs) == 4, f"expected one segment per partition: {segs}"
    keys = [k for s in segs for _, _, k, _ in Q._read_segment_rows(qdir, s)]
    assert sorted(keys) == sorted(f"k{i}" for i in range(40))


def test_fqueue_sink_skips_empty_partitions(spark, tmp_path):
    qdir = str(tmp_path / "q")
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "key string, value string"
    ).repartition(8)
    Q.queue_sink(qdir)(df, 0)
    segs = Q._list_segments(qdir)
    rows = [r for s in segs for r in Q._read_segment_rows(qdir, s)]
    assert len(rows) == 2 and 1 <= len(segs) <= 2, "empty partitions must not publish"


def test_fqueue_sink_idempotent_replay_with_producer_id(spark, tmp_path):
    """A stable producer_id makes re-publishing a (batch, partition)
    a no-op — task-retry / batch-replay idempotence. A NEW batch id
    still appends."""
    qdir = str(tmp_path / "q")
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(6)], "key string, value string"
    ).repartition(3)
    sink = Q.queue_sink(qdir, producer_id="prod-A")
    sink(df, 7)
    first = Q._list_segments(qdir)
    sink(df, 7)  # replay of the same batch id: markers skip every partition
    assert Q._list_segments(qdir) == first, "replayed batch must not duplicate"
    sink(df, 8)  # a genuinely new batch appends
    assert len(Q._list_segments(qdir)) == 2 * len(first)


def test_fqueue_competing_readers_split_segments_unit():
    """Two QueueCompetingStreamReader instances in one group claim
    DISJOINT segments whose union is the whole queue; replaying any
    planned batch (partitions over the immutable segments) is
    byte-identical; per-consumer ACK bookkeeping (group_progress) is
    consistent."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_unit_")
    for s in range(6):
        Q.publish(qdir, [(f"s{s}r{r}", f"{s}:{r}") for r in range(4)])

    opts = {"path": qdir, "rows_per_batch": "8", "group": "g"}
    r1 = Q.QueueCompetingStreamReader({**opts, "consumer": "c1"})
    r2 = Q.QueueCompetingStreamReader({**opts, "consumer": "c2"})

    got = {"c1": [], "c2": []}
    offs = {"c1": r1.initialOffset(), "c2": r2.initialOffset()}
    spans = {"c1": [], "c2": []}
    for _ in range(6):  # alternate batches until both drain
        for name, rd in (("c1", r1), ("c2", r2)):
            start = offs[name]
            rows, end = _plan_batch(rd, start)
            got[name].extend(rows)
            spans[name].append((start, end, rows))
            offs[name] = end

    claims = Q._group_claims(qdir, "g")
    assert set(claims.get("c1", [])).isdisjoint(claims.get("c2", []))
    assert sorted(claims.get("c1", []) + claims.get("c2", [])) == list(range(6))
    assert got["c1"] and got["c2"], "both consumers must make progress"
    all_vals = sorted(v for rows in got.values() for _, _, _, v in rows)
    assert all_vals == sorted(f"{s}:{r}" for s in range(6) for r in range(4)), (
        "union of competing consumers must be the queue exactly once"
    )
    # NACK replay: every span re-plans byte-identically from immutable segs
    for name, rd in (("c1", r1), ("c2", r2)):
        for start, end, rows in spans[name]:
            assert _replay(rd, start, end) == rows
    # ACK ledger: commit each consumer's final offset, check group math
    r1.commit(offs["c1"])
    r2.commit(offs["c2"])
    prog = Q.group_progress(qdir, "g")
    acked_union = sorted(
        s for info in prog["acked"].values() for s in info["fully_acked"]
    )
    assert acked_union == list(range(6)), f"group ack inconsistent: {prog}"
    # retention: fully-acked segments purge; claim tombstones survive
    purged = Q.purge_competing_acked(qdir, "g")
    assert purged == list(range(6))
    assert Q._claimed_segments(qdir, "g") == set(range(6))


def test_fqueue_competing_reader_adopts_own_claims_after_crash():
    """Claim-then-crash window: a restarted consumer (same id, offset
    from its last checkpoint) re-adopts claims it committed before the
    crash — no segment is stranded or double-claimed."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_adopt_")
    Q.publish(qdir, [("a", "1"), ("b", "2")])
    opts = {"path": qdir, "rows_per_batch": "10", "group": "g", "consumer": "c1"}
    r1 = Q.QueueCompetingStreamReader(opts)
    assert r1._try_claim(0)  # claimed, then "crash" before any read
    r1b = Q.QueueCompetingStreamReader(opts)  # restart, empty checkpoint
    rows, end = _plan_batch(r1b, r1b.initialOffset())
    assert [v for _, _, _, v in rows] == ["1", "2"]
    assert end["claimed"] == [0]


def test_fqueue_release_claims_lets_survivor_take_over():
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_release_")
    Q.publish(qdir, [("a", "1")])
    Q.publish(qdir, [("b", "2")])
    opts = {"path": qdir, "rows_per_batch": "1", "group": "g"}
    dead = Q.QueueCompetingStreamReader({**opts, "consumer": "dead"})
    rows, off = _plan_batch(dead, dead.initialOffset())
    dead.commit(off)  # seg 0 consumed+acked; then claim seg 1 and die
    assert dead._try_claim(1)
    released = Q.release_claims(qdir, "g", "dead")
    assert released == [1], "only the unacked claim is released"
    surv = Q.QueueCompetingStreamReader({**opts, "consumer": "surv"})
    rows2, _ = _plan_batch(surv, surv.initialOffset())
    assert [v for _, _, _, v in rows2] == ["2"], "survivor must take over seg 1"
    # release_claims fenced "dead" (round-11): a returning zombie can
    # neither re-ACK nor heartbeat
    with pytest.raises(Q.FencedConsumerError):
        dead.commit(off)
    with pytest.raises(Q.FencedConsumerError):
        dead.latestOffset()


def test_fqueue_two_simultaneous_competing_queries_exactly_once(spark, tmp_path):
    """The scenario form (round-9 verdict task #3): two streaming
    queries in one consumer group run at the same time; the union of
    their sinks equals the queue EXACTLY once, per-group ACK
    bookkeeping is consistent, and no ordering is promised across
    consumers (only within a segment)."""
    qdir = str(tmp_path / "q")
    for s in range(8):
        Q.publish(qdir, [(f"s{s}r{r}", f"{s}:{r}") for r in range(5)])
    Q.register(spark)

    def start_consumer(cid):
        out, ckpt = str(tmp_path / f"out_{cid}"), str(tmp_path / f"ckpt_{cid}")
        reader = (
            spark.readStream.format("fqueue")
            .option("path", qdir)
            .option("group", "g")
            .option("consumer", cid)
            .option("rows_per_batch", 20)
            .load()
        )
        q = (
            reader.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        return q, out, ckpt

    q1, out1, ck1 = start_consumer("c1")
    q2, out2, ck2 = start_consumer("c2")
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    assert q1.exception() is None and q2.exception() is None
    Q.sync_competing_offset(qdir, "g", "c1", ck1)
    Q.sync_competing_offset(qdir, "g", "c2", ck2)

    import glob as _glob

    def read_out(path):
        return (
            spark.read.parquet(path).collect()
            if _glob.glob(f"{path}/*.parquet")
            else []
        )

    rows1, rows2 = read_out(out1), read_out(out2)
    union = sorted(r.value for r in rows1 + rows2)
    assert union == sorted(f"{s}:{r}" for s in range(8) for r in range(5)), (
        "union of the group's sinks must be the queue exactly once"
    )
    claims = Q._group_claims(qdir, "g")
    owned = sorted(s for segs in claims.values() for s in segs)
    assert owned == list(range(8)), f"every segment claimed exactly once: {claims}"
    prog = Q.group_progress(qdir, "g")
    acked_union = sorted(
        s for info in prog["acked"].values() for s in info["fully_acked"]
    )
    assert acked_union == list(range(8)), f"group ACK bookkeeping broken: {prog}"


def test_fqueue_sync_group_offset_rejects_ambiguous_sources(tmp_path):
    """Round-9 ADVICE: sync_group_offset must locate the fqueue source
    line instead of hardcoding line 2 — an offsets file with two source
    lines is ambiguous and must raise, not ack a wrong offset."""
    import os

    qdir = str(tmp_path / "q")
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "offsets").mkdir()
    (ckpt / "commits" / "0").write_text("v1\n{}")
    (ckpt / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0}\n{"seg": 1, "row": 2}\n{"seg": 0, "row": 9}'
    )
    os.makedirs(qdir)
    with pytest.raises(ValueError, match="exactly one fqueue source offset"):
        Q.sync_group_offset(qdir, "default", str(ckpt))
    # the unambiguous single-source file still acks normally
    (ckpt / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0}\n{"seg": 1, "row": 2}'
    )
    off = Q.sync_group_offset(qdir, "default", str(ckpt))
    assert (off["seg"], off["row"]) == (1, 2)


def test_fqueue_competing_read_survives_purge_of_lagging_segment():
    """purge_competing_acked can remove a fully-acked segment BEFORE the
    claimer's idx advances past it (idx lags one behind when the batch
    budget exactly drained the segment) — the next read must treat the
    purged segment as exhausted, not crash, and continue with new data."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_purgelag_")
    Q.publish(qdir, [("a", "1"), ("b", "2")])
    opts = {"path": qdir, "rows_per_batch": "2", "group": "g", "consumer": "c1"}
    r = Q.QueueCompetingStreamReader(opts)
    rows, off = _plan_batch(r, r.initialOffset())
    assert [v for _, _, _, v in rows] == ["1", "2"]
    assert (off["idx"], off["row"]) == (0, 2), "idx lags on exact drain"
    r.commit(off)
    assert Q.purge_competing_acked(qdir, "g") == [0]
    Q.publish(qdir, [("c", "3")])
    rows2, off2 = _plan_batch(r, off)
    assert [v for _, _, _, v in rows2] == ["3"], "must skip purged seg and continue"
    assert off2["claimed"] == [0, 1]


def test_fqueue_purge_never_reuses_slots_and_mixed_mode_refuses():
    """Purge truncates in place so _commit_segment's max+1 allocation
    can never hand a new publish an already-consumed slot number; and
    the linear sweep refuses to purge a queue that also has competing
    ledgers (those segments may still be unconsumed by a claimer)."""
    import os
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_slots_")
    Q.publish(qdir, [("a", "1")])
    Q._write_group_offset(qdir, "lin", {"seg": 1, "row": 0})  # past seg 0
    assert Q.purge_acked(qdir) == [0]
    assert Q._list_segments(qdir) == [0], "slot must stay occupied"
    assert os.path.getsize(Q._seg_path(qdir, 0)) == 0
    assert Q.purge_acked(qdir) == [], "idempotent: empty segs not re-reported"
    assert Q.publish(qdir, [("b", "2")]) == 1, "new publish must take slot 1"
    # mixed mode: add a competing ledger -> linear sweep refuses
    Q._write_group_offset(qdir, "g.c1", {"claimed": [1], "idx": 0, "row": 0})
    Q._write_group_offset(qdir, "lin", {"seg": 2, "row": 0})
    assert Q.purge_acked(qdir) == [], "mixed-mode purge must refuse"
    assert [v for _, _, _, v in Q._read_segment_rows(qdir, 1)] == ["2"]


def test_fqueue_purge_up_to_group_refuses_mixed_mode():
    """Review finding: purge_acked(up_to_group=...) must honor the
    competing-ledger guard too — an explicit linear group must not
    truncate segments a competing claimer still needs."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_mix2_")
    Q.publish(qdir, [("a", "1")])
    Q._write_group_offset(qdir, "lin", {"seg": 5, "row": 0})
    Q._write_group_offset(qdir, "g.c1", {"claimed": [0], "idx": 0, "row": 0})
    assert Q.purge_acked(qdir, up_to_group="lin") == [], (
        "explicit-group purge bypassed the mixed-mode guard"
    )
    assert [v for _, _, _, v in Q._read_segment_rows(qdir, 0)] == ["1"]


def test_fqueue_sink_repartitioned_replay_never_loses(spark, tmp_path):
    """Review finding: markers keyed on partition index alone made a
    repartitioned replay at-most-once. With content digests in the key,
    a replay whose rows land in DIFFERENT partitions re-publishes
    (duplicates allowed — at-least-once) but can never drop rows."""
    qdir = str(tmp_path / "q")
    rows = [(f"k{i}", f"v{i}") for i in range(12)]
    sink = Q.queue_sink(qdir, producer_id="prod-R")
    df3 = spark.createDataFrame(rows, "key string, value string").repartition(3)
    sink(df3, 7)
    # same batch id replayed with a DIFFERENT partitioning
    df5 = spark.createDataFrame(rows, "key string, value string").repartition(5)
    sink(df5, 7)
    keys = [
        k
        for s in Q._list_segments(qdir)
        for _, _, k, _ in Q._read_segment_rows(qdir, s)
    ]
    assert set(keys) == {f"k{i}" for i in range(12)}, (
        f"rows lost across repartitioned replay: {sorted(set(keys))}"
    )
    # identical replay (same partitioning) is still an exact no-op
    before = Q._list_segments(qdir)
    sink(spark.createDataFrame(rows, "key string, value string").repartition(3), 7)
    assert Q._list_segments(qdir) == before


def test_fqueue_competing_claim_race_hammer():
    """3 consumers racing read() concurrently over 30 segments: every
    segment claimed exactly once, the union of all reads is the queue
    exactly once, and each consumer's readBetweenOffsets replay is
    byte-identical — the os.link claim commit under real thread
    contention."""
    import tempfile
    import threading

    qdir = tempfile.mkdtemp(prefix="fq_hammer_")
    for s in range(30):
        Q.publish(qdir, [(f"s{s}r{r}", f"{s}:{r}") for r in range(3)])
    results: dict[str, list] = {}
    spans: dict[str, list] = {}
    errs: list[Exception] = []

    def consume(cid):
        try:
            rd = Q.QueueCompetingStreamReader(
                {"path": qdir, "rows_per_batch": "7", "group": "g", "consumer": cid}
            )
            off = rd.initialOffset()
            rows_out, my_spans = [], []
            for _ in range(40):  # enough batches to drain the queue
                rows, end = _plan_batch(rd, off)
                rows_out.extend(rows)
                my_spans.append((off, end, rows))
                off = end
            rd.commit(off)
            results[cid] = rows_out
            spans[cid] = my_spans
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=consume, args=(f"c{i}",)) for i in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    claims = Q._group_claims(qdir, "g")
    owned = sorted(s for segs in claims.values() for s in segs)
    assert owned == list(range(30)), f"claim race double/lost a segment: {claims}"
    union = sorted(v for rows in results.values() for _, _, _, v in rows)
    assert union == sorted(f"{s}:{r}" for s in range(30) for r in range(3)), (
        "union across racing consumers must be the queue exactly once"
    )
    for cid, my_spans in spans.items():
        rd = Q.QueueCompetingStreamReader(
            {"path": qdir, "rows_per_batch": "7", "group": "g", "consumer": cid}
        )
        for start, end, rows in my_spans:
            assert _replay(rd, start, end) == rows, f"{cid}: replay diverged"
    prog = Q.group_progress(qdir, "g")
    acked = sorted(s for info in prog["acked"].values() for s in info["fully_acked"])
    assert acked == list(range(30)), f"ACK bookkeeping inconsistent: {prog}"


# --- round 11: executor-parallel streaming consume + leases -------------


def test_fqueue_linear_planner_splits_spans_unit():
    """The planning reader's driver side is METADATA-only: latestOffset
    budgets via row-count sidecars, partitions() yields one span per
    rows_per_partition slice, and a replay of (end, end) plans nothing."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_spans_")
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(25)])  # seg 0
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(25, 30)])  # seg 1
    rd = Q.QueueStreamReader(
        {"path": qdir, "rows_per_batch": "100", "rows_per_partition": "10"}
    )
    start = rd.initialOffset()
    end = rd.latestOffset()
    assert (end["seg"], end["row"]) == (1, 5)
    parts = rd.partitions(start, end)
    spans = [(p.seg, p.start_row, p.end_row) for p in parts]
    assert spans == [(0, 0, 10), (0, 10, 20), (0, 20, 25), (1, 0, 5)], (
        "a multi-segment batch must split into bounded scan partitions"
    )
    rows = [r for p in parts for r in _read_rows(rd, p)]
    assert [v for _, _, _, v in rows] == [f"v{i}" for i in range(30)]
    assert rd.partitions(end, end) == [], "empty span must plan no partitions"
    # the budget applies on the NEXT tick once position is known
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(30, 45)])  # seg 2
    end2 = rd.latestOffset()
    assert (end2["seg"], end2["row"]) == (2, 15)


def test_fqueue_linear_budget_caps_each_batch_unit():
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_budget_")
    Q.publish(qdir, [(f"k{i}", f"v{i}") for i in range(10)])
    rd = Q.QueueStreamReader({"path": qdir, "rows_per_batch": "4"})
    start = rd.initialOffset()
    e1 = rd.latestOffset()
    assert (e1["seg"], e1["row"]) == (0, 4)
    e2 = rd.latestOffset()
    assert (e2["seg"], e2["row"]) == (0, 8)
    e3 = rd.latestOffset()
    assert (e3["seg"], e3["row"]) == (0, 10), "budget must clamp at true end"
    rows = [r for p in rd.partitions(start, e1) for r in _read_rows(rd, p)]
    assert [v for _, _, _, v in rows] == ["v0", "v1", "v2", "v3"]


def test_fqueue_stream_reads_on_executors_multi_partition(spark, tmp_path):
    """Round-10 verdict task #1 'done' criteria: a real streaming query
    reads rows in EXECUTOR tasks (TaskContext beacons exist — the
    beacon is only written when TaskContext.get() is non-None, which is
    never true on the driver-side planning path) and a multi-segment
    batch produces MULTIPLE scan partitions."""
    import os

    qdir, ckpt, out, beacons = (
        str(tmp_path / p) for p in ("q", "ckpt", "out", "beacons")
    )
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(20)])
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(20, 40)])
    Q.register(spark)
    reader = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .option("rows_per_batch", 100)
        .option("rows_per_partition", 10)
        .option("task_beacon_dir", beacons)
        .load()
    )
    q = (
        reader.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet")
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, f"query failed: {q.exception()}"
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == sorted(f"m{i}" for i in range(40)), "rows lost in executor read"
    names = os.listdir(beacons)
    assert len(names) >= 4, (
        f"40 rows at rows_per_partition=10 must run >=4 executor tasks: {names}"
    )
    part_ids = {n.split("-")[1] for n in names}
    assert len(part_ids) >= 2, f"beacons must span distinct scan partitions: {names}"


def test_fqueue_lease_timeout_auto_release_and_fencing():
    """Round-10 verdict task #4: a consumer dies mid-claim; once its
    lease lapses, a survivor's planning tick fences it and auto-adopts
    the unacked claim (visibility-timeout redelivery). The returning
    zombie can neither heartbeat/claim nor double-ACK
    (FencedConsumerError), and the union of committed reads equals the
    queue exactly once."""
    import os
    import tempfile
    import time as _time

    qdir = tempfile.mkdtemp(prefix="fq_lease_")
    for s in range(4):
        Q.publish(qdir, [(f"s{s}", f"v{s}")])
    opts = {
        "path": qdir,
        "rows_per_batch": "1",
        "group": "g",
        "lease_timeout_s": "5",
    }
    dead = Q.QueueCompetingStreamReader({**opts, "consumer": "dead"})
    rows_d, off_d = _plan_batch(dead, dead.initialOffset())  # seg 0
    dead.commit(off_d)  # ACKed seg 0
    rows_d2, off_d2 = _plan_batch(dead, off_d)  # claims seg 1, NEVER commits
    assert [v for _, _, _, v in rows_d2] == ["v1"]
    # the consumer dies; age its lease past the visibility timeout
    lp = Q._lease_path(qdir, "g", "dead")
    old = _time.time() - 3600
    os.utime(lp, (old, old))

    surv = Q.QueueCompetingStreamReader({**opts, "consumer": "surv"})
    got, off_s = [], surv.initialOffset()
    for _ in range(8):
        rows, off_s = _plan_batch(surv, off_s)
        got.extend(rows)
    surv.commit(off_s)
    # survivor re-claimed the released seg 1 plus the unclaimed 2, 3
    vals = sorted(v for _, _, _, v in rows_d + got)
    assert vals == ["v0", "v1", "v2", "v3"], (
        "committed union must be the queue exactly once after redelivery"
    )
    # the zombie is fenced: every avenue raises
    with pytest.raises(Q.FencedConsumerError):
        dead.latestOffset()
    with pytest.raises(Q.FencedConsumerError):
        dead.commit(off_d2)
    with pytest.raises(Q.FencedConsumerError):
        Q.register_consumer(qdir, "g", "dead")
    # the operator path back in: readmit + fresh registration
    Q.readmit_consumer(qdir, "g", "dead")
    assert Q.register_consumer(qdir, "g", "dead")


def test_fqueue_lease_scenario_zombie_query_refused(spark, tmp_path):
    """Scenario form: consumer c1's query stops with a stranded claim
    (claim-then-crash window); its lease expires; survivor c2's QUERY
    fences c1, adopts the claim, and the union of both sinks is the
    queue exactly once. A restarted c1 query (the zombie) fails its
    first planning call instead of double-reading."""
    import glob as _glob
    import os
    import time as _time

    qdir = str(tmp_path / "q")
    for s in range(3):
        Q.publish(qdir, [(f"s{s}", f"v{s}")])
    Q.register(spark)

    def run_consumer(cid):
        out, ckpt = str(tmp_path / f"out_{cid}"), str(tmp_path / f"ckpt_{cid}")
        reader = (
            spark.readStream.format("fqueue")
            .option("path", qdir)
            .option("group", "g")
            .option("consumer", cid)
            .option("rows_per_batch", 20)
            .option("lease_timeout_s", 5)
            .load()
        )
        q = (
            reader.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q, out, ckpt

    q1, out1, ck1 = run_consumer("c1")
    assert q1.exception() is None
    # record c1's broker-side ACK from its checkpoint (Spark never
    # commits group offsets to the broker itself — without this the
    # release below would treat c1's CONSUMED claims as unacked and
    # legitimately redeliver them, like any broker would)
    Q.sync_competing_offset(qdir, "g", "c1", ck1)
    # claim-then-crash: c1 claimed a new segment but died before reading
    Q.publish(qdir, [("s3", "v3")])
    stale = Q.QueueCompetingStreamReader(
        {"path": qdir, "group": "g", "consumer": "c1"}
    )
    assert stale._try_claim(3)
    lp = Q._lease_path(qdir, "g", "c1")
    old = _time.time() - 3600
    os.utime(lp, (old, old))

    q2, out2, _ck2 = run_consumer("c2")
    assert q2.exception() is None

    def read_out(path):
        return (
            [r.value for r in spark.read.parquet(path).collect()]
            if _glob.glob(f"{path}/*.parquet")
            else []
        )

    union = sorted(read_out(out1) + read_out(out2))
    assert union == ["v0", "v1", "v2", "v3"], (
        "survivor must adopt the stranded claim; union exactly once"
    )
    # the zombie query is refused at its first planning call
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="(?i)fenced"):
        run_consumer("c1")


# --- round 11 self-review: fencing holes + sidecar line count -----------


def test_fqueue_heartbeat_with_missing_lease_refuses_zombie():
    """A zombie that slept through fence -> release -> readmit finds NO
    lease file. Re-installing its stale token would resurrect it
    against claims survivors now own — heartbeat must raise instead
    (self-review finding, round 11)."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_hb_")
    Q.publish(qdir, [("k", "v")])
    token = Q.register_consumer(qdir, "g", "c1")
    Q.heartbeat_consumer(qdir, "g", "c1", token)  # normal path OK
    # fence + readmit while the zombie sleeps (lease file removed)
    Q.fence_consumer(qdir, "g", "c1")
    Q.readmit_consumer(qdir, "g", "c1")
    with pytest.raises(Q.FencedConsumerError, match="re-register"):
        Q.heartbeat_consumer(qdir, "g", "c1", token)
    # the legitimate path back in still works: fresh registration
    t2 = Q.register_consumer(qdir, "g", "c1")
    Q.heartbeat_consumer(qdir, "g", "c1", t2)


def test_fqueue_commit_with_missing_lease_rejected():
    """Same zombie window on the ACK side: a reader whose lease file is
    gone (fenced + readmitted while it slept) must not double-ACK
    segments a survivor may now own."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_commit_")
    Q.publish(qdir, [("k", "v")])
    rd = Q.QueueCompetingStreamReader(
        {"path": qdir, "rows_per_batch": "10", "group": "g", "consumer": "c1"}
    )
    rows, off = _plan_batch(rd, rd.initialOffset())
    rd.commit(off)  # live consumer ACKs fine
    Q.fence_consumer(qdir, "g", "c1")
    Q.readmit_consumer(qdir, "g", "c1")
    with pytest.raises(Q.FencedConsumerError, match="readmitted"):
        rd.commit(off)


def test_fqueue_release_claims_survives_concurrent_release(monkeypatch):
    """Two survivors auto-releasing the same expired consumer race on
    os.remove of each claim file; the loser must treat the vanished
    claim as released, not crash its healthy query (self-review
    finding, round 11)."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_race_")
    Q.publish(qdir, [("k", "v")])
    # the list/remove race, made deterministic: _group_claims reports a
    # claim whose file the OTHER survivor already removed
    monkeypatch.setattr(Q, "_group_claims", lambda qd, g: {"dead": [7]})
    released = Q.release_claims(qdir, "g", "dead")
    assert released == [], "vanished claim is already released, not an error"


def test_fqueue_poison_embedded_newline_counts_physical_lines():
    """publish_poison feeds RAW broker lines; an embedded newline makes
    two physical lines, each its own key=NULL row. The row-count
    sidecar must count the rows the segment holds, or the
    byte-size-validated sidecar undercounts and the stream planner
    permanently drops the extra row (self-review finding, round 11)."""
    import tempfile

    qdir = tempfile.mkdtemp(prefix="fq_nl_")
    seg = Q.publish_poison(qdir, ["bad\nworse", "solo"])
    assert Q._segment_count(qdir, seg) == 3
    # the streaming planner now delivers all three rows
    rd = Q.QueueSimpleStreamReader({"path": qdir, "rows_per_batch": "10"}) if hasattr(Q, "QueueSimpleStreamReader") else Q.QueueStreamReader({"path": qdir, "rows_per_batch": "10"})
    rows, _ = _plan_batch(rd, rd.initialOffset())
    assert len(rows) == 3
    assert all(k is None for _, _, k, _ in rows), "raw lines decode as poison"
