"""Round-15 optimization tests: old-form vs new-form equivalence for
the reshaped operators (conversion funnel, span dedup), and the bench
harness observability contracts (cpu-qualified sidecar)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.sources.batch import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def _funnel_join_chain(spark, sf_dir):
    """The pre-round-15 conversion_funnel (three conditional min-aggs
    with join-backs) — kept here verbatim as the equivalence reference
    for the single-shuffle window rewrite."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t_click = (
        ev.filter(F.col("event_type") == "click")
        .join(t_view, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t_click, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    out = t_view.join(t_click, "user_id", "left").join(t_buy, "user_id", "left")
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .otherwise(1)
    )
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return out.select(
        "user_id",
        fmt("t_view").alias("t_view_s"),
        fmt("t_click").alias("t_click_s"),
        fmt("t_purchase").alias("t_purchase_s"),
        stage.alias("stage"),
    )


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_funnel_window_form_equals_join_chain(spark, sf_dir):
    """The single-shuffle window rewrite returns EXACTLY the join-chain
    rows (exceptAll both ways) at both small SFs — the running-min
    qualification argument (ties fail both strict comparisons) made
    executable."""
    from labs_stream_processing_examples_scala_spark.operators.temporal import (
        conversion_funnel,
    )

    new = conversion_funnel(spark, sf_dir)
    old = _funnel_join_chain(spark, sf_dir)
    assert new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()
    assert new.count() == old.count()


def test_funnel_plan_is_single_shuffle(spark):
    """Plan contract for the rewrite: one Exchange, no joins (the old
    form carried 5 Exchanges / 10 BroadcastHashJoins at sf0.1)."""
    from labs_stream_processing_examples_scala_spark.operators.temporal import (
        conversion_funnel,
    )

    from tools.plan_audit import plan_of, shuffle_exchange_count

    plan = plan_of(conversion_funnel(spark, SF_SMOKE))
    assert shuffle_exchange_count(plan) == 1, plan
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan


def test_dup_span_stats_single_gram_shuffle(spark):
    """The gram stream must shuffle ONCE (keyed on h): the (doc_id, h)
    agg and the cross-doc window share that exchange, and the only
    other exchange below the final agg is the cached word-hash spread.
    Values are pinned by the registry-wide oracle sweep."""
    from labs_stream_processing_examples_scala_spark.operators.dedup import (
        dup_span_stats,
    )

    from tools.plan_audit import plan_of, shuffle_exchange_count

    plan = plan_of(dup_span_stats(spark, SF_SMOKE))
    # ≤3 distinct shuffles: spread (inside the persisted word-hash cache
    # build), repartition(h), final groupBy(doc_id) — the old shape had 4
    assert shuffle_exchange_count(plan) <= 3, plan


def test_bench_sidecar_is_cpu_qualified():
    """r14 verdict task #2b: a reduced-core sf0.1 run must NOT clobber
    the full-machine BENCH_LAST.json record."""
    import os

    import bench

    full = os.cpu_count()
    assert bench.sidecar_name(0.1, full, False) == "BENCH_LAST.json"
    assert bench.sidecar_name(0.1, 8 if full != 8 else 4, False) == (
        f"BENCH_LAST_c{8 if full != 8 else 4}.json"
    )
    assert bench.sidecar_name(0.1, full, True) == "BENCH_LAST_SLICE.json"
    assert bench.sidecar_name(0.01, full, False) == "BENCH_LAST_LOCAL.json"


def test_merge_family_defends_first_run():
    """r14 verdict task #2c: the MERGE/MOR family materializes session
    tables on first run — its dirty-window retry must stay evidence-only
    (q70's r13 number was a warm retry defended as the headline)."""
    import bench

    for q in ("q65_merge_scd2", "q66_merge_delete", "q68_merge_evolve", "q70_merge_mor"):
        assert q.startswith(bench.CACHE_WARM_PREFIXES), q


def test_memoizing_headline_queries_defend_first_run():
    """x_freq_heavy_hitters memoizes its Misra-Gries summaries on first
    run: a dirty-window retry runs warm, so the first run must stay the
    defended number."""
    import bench

    assert "x_freq_heavy_hitters" in bench.HEADLINE
    assert "x_freq_heavy_hitters".startswith(bench.CACHE_WARM_PREFIXES)
