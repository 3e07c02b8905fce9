"""Round-11 ADVICE regression tests: TWS receive-timeout re-arm and
plan-audit exchange-count scoping."""

from __future__ import annotations

import time

import pytest

from labs_stream_processing_examples_scala_spark.streaming import stateful as S
from tests.test_stateful import _SLOT_SCHEMA, _poll, _restore_provider, _rocksdb


def test_shuffle_exchange_count_scopes_by_plan_header():
    """Round-10 ADVICE (plan_audit.py): ids repeat only when a cached
    subtree is re-printed (same plan) or when separate plans are
    concatenated. Within one plan the repeated reference dedupes; across
    concatenated plans the same id must count per plan."""
    from tools.plan_audit import shuffle_exchange_count

    one_plan = """== Physical Plan ==
AdaptiveSparkPlan (36)
+- BroadcastHashJoin Inner BuildRight (34)
   :- InMemoryTableScan (1)
   :     +- InMemoryRelation (2)
   :           +- AdaptiveSparkPlan (12)
                  +- == Final Plan ==
                     HashAggregate (8)
                     +- Exchange (6)
                        +- HashAggregate (5)
                  +- == Initial Plan ==
                     HashAggregate (11)
                     +- Exchange (10)
                        +- HashAggregate (5)
   +- InMemoryTableScan (14)
         +- InMemoryRelation (15)
               +- AdaptiveSparkPlan (12)
                  +- == Final Plan ==
                     HashAggregate (8)
                     +- Exchange (6)
                        +- HashAggregate (5)
                  +- == Initial Plan ==
                     HashAggregate (11)
                     +- Exchange (10)
                        +- HashAggregate (5)
"""
    # the SAME cached subtree printed twice: Exchange (6) counts ONCE;
    # initial-plan blocks (Exchange (10)) are excluded
    assert shuffle_exchange_count(one_plan) == 1
    # two concatenated plans: ids restart, Exchange (6) must count TWICE
    assert shuffle_exchange_count(one_plan + one_plan) == 2


def test_tws_gather_ttl_rearms_on_each_arrival(spark, tmp_path):
    """Round-10 ADVICE (medium): the TWS gather's TTL must bound
    INACTIVITY (Akka setReceiveTimeout re-arms per message, and the
    applyInPandasWithState form resets per batch) — legs that keep
    trickling in, each within TTL of the previous, must COMPLETE even
    when total elapsed exceeds one TTL."""
    from labs_stream_processing_examples_scala_spark.streaming.sinks import (
        idempotent_write,
        read_batched_output,
    )

    assert S.has_transform_with_state()
    prev = _rocksdb(spark)
    src, out, ckpt = (str(tmp_path / p) for p in ("src", "out", "ck"))
    ttl = 8.0
    gap = 4.0
    try:

        def append(rows):
            spark.createDataFrame(rows, _SLOT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        # leg 1 now; legs 2 and 3 trickle in later, each within TTL of
        # the previous, total elapsed > TTL
        append([(1, "v1", "extra1", "r1")])
        stream = spark.readStream.schema(_SLOT_SCHEMA).parquet(src)
        gathered = S.transform_with_state_gather(stream, ttl_seconds=ttl)
        t_start = time.time()
        q = (
            gathered.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, bid: idempotent_write(df, out, bid))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            time.sleep(gap)
            append([(1, "v1", "extra2", "u1")])
            t_leg2 = time.time()
            time.sleep(gap)
            append([(1, "v1", "extra3", "s1")])
            t_leg3 = time.time()

            def rows():
                return {r.id: r for r in read_batched_output(spark, out).collect()}

            got = _poll(lambda: 1 in rows() and rows())
            assert got and 1 in got, "gather never produced a row"
            # wall-clock guard (slow-host discipline from the r10 TTL
            # tests): the inactivity premise only held if each gap the
            # QUERY observed stayed under the TTL — if an append landed
            # later than TTL after the previous, a timeout is legitimate
            gaps_held = (t_leg2 - t_start) < ttl and (t_leg3 - t_leg2) < ttl
            if gaps_held:
                assert got[1].status == "complete", (
                    f"trickling legs within TTL must complete, got "
                    f"{got[1].status} (elapsed {time.time() - t_start:.1f}s "
                    f"> ttl {ttl}s by design)"
                )
                assert (got[1].extra1, got[1].extra2, got[1].extra3_name) == (
                    "r1",
                    "u1",
                    "s1",
                )
        finally:
            q.stop()
    finally:
        _restore_provider(spark, prev)


def test_pagerank_checkpoint_cadence_is_value_identical(spark):
    """The checkpoint_every A/B knob (round-10 verdict task #7) must
    not change values — only the lineage-truncation cadence."""
    from labs_stream_processing_examples_scala_spark.operators import graph as GR
    from tests.conftest import SF_SMOKE

    a = GR.pagerank(spark, SF_SMOKE)
    b = GR.pagerank(spark, SF_SMOKE, checkpoint_every=2)
    ra = {r.doc_id: (r.rank, r.n_neighbors) for r in a.collect()}
    rb = {r.doc_id: (r.rank, r.n_neighbors) for r in b.collect()}
    assert ra == rb


def test_calibration_carries_the_all_cores_probe():
    """The round-11 sustained-contention forensics added a fourth
    calibration probe (calib_mt_ms: fixed all-cores numpy work). Every
    bench artifact records it start+end — pin the _calibrate contract
    so an artifact-schema regression is caught before the driver run."""
    import bench

    c = bench._calibrate()
    for key in ("calib_py_ms", "calib_np_ms", "calib_mt_ms"):
        assert key in c, f"missing {key}"
        assert c[key] > 0
    # the probe must do real multi-thread work: a second reading exists
    # and is the same order of magnitude (not a cached constant)
    again = bench._mt_probe_ms()
    assert 0.1 < again / max(c["calib_mt_ms"], 0.001) < 10


def test_pagerank_checkpoint_every_fails_fast_on_invalid_cadence():
    """0 would ZeroDivisionError mid-iteration; negatives would silently
    disable every intermediate truncation (the 2^k plan blow-up the
    knob bounds). Validation runs before any Spark work."""
    from labs_stream_processing_examples_scala_spark.operators import graph as GR

    for bad in (0, -1):
        with pytest.raises(ValueError, match="checkpoint_every"):
            GR.pagerank(None, "unused", checkpoint_every=bad)


def test_self_heal_retry_failure_keeps_the_run_green():
    """The self-heal retry is optional evidence-gathering: its failure
    must neither flip the run's exit code (errors[]) nor lose the
    defended first-run timing (self-review finding, round 11)."""
    import bench

    timings = {"q_dirty": 1.5, "q_clean": 0.4}
    probes = {"q_dirty": 400.0, "q_clean": 40.0}
    errors: dict = {}

    def run_query(name):
        raise RuntimeError("transient retry hiccup")

    retries = bench._self_heal(
        run_query, ["q_dirty", "q_clean"], timings, probes, errors
    )
    assert errors == {}, "retry failure must not become a run error"
    assert timings["q_dirty"] == 1.5, "defended first-run timing intact"
    assert retries["q_dirty"]["defended"] == "first"
    assert "transient retry hiccup" in retries["q_dirty"]["retry_error"]
    assert "q_clean" not in retries


def test_bench_warmup_populates_no_operator_caches(spark):
    """Warming on the run's own first query pre-warmed that query's
    session caches, making a --only slice's 'defended first run' warm.
    The neutral warm-up must leave every operator cache untouched."""
    import bench
    from labs_stream_processing_examples_scala_spark.session import cache_info

    caches = ("lsh_banded", "lsh_signatures", "probe_expanded", "nsw_graph")
    before = [cache_info(c) for c in caches]
    bench.warmup(spark, "/root/testdata/sf0.001")
    after = [cache_info(c) for c in caches]
    assert before == after, "neutral warm-up must not touch operator caches"
