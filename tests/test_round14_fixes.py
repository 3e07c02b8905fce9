"""Regression tests for the round-14 fixes: round-13 ADVICE findings
(round-tie adjudication unit clamp, schema-gated adjudication,
hardcoded tool paths in a test), the fqueue Arrow segment format and
its ``columns`` projection."""

from __future__ import annotations

import os


# --- ADVICE 1: _round_tie_ok let ROUND(x, 0) adjudicate ±1.0 bands -----


def test_round_tie_requires_exact_unit_delta():
    """A genuine round-tie divergence produces float cells exactly one
    unit of a ROUND precision apart (the two engines rounded a tie the
    two ways); anything else — notably a sub-unit drift under a coarse
    ROUND(x, 0) from a scalar num_expr — must stay a real mismatch
    (round-13 ADVICE: the old ≤unit band masked diffs up to ±1.0)."""
    from tools.query_fuzz import _round_tie_ok

    sql0 = "SELECT ROUND(CAST(x AS DOUBLE), 0) AS c0 FROM t"
    # sub-unit drift under a 0-digit ROUND: NOT a tie, must not adjudicate
    assert not _round_tie_ok(sql0, [("3.400000",)], [("3.000000",)])
    # exactly one unit at precision 0: the tie shape, adjudicates
    assert _round_tie_ok(sql0, [("3.000000",)], [("4.000000",)])
    sql3 = "SELECT ROUND(SUM(CAST(x AS DOUBLE)), 3) AS c0 FROM t"
    assert _round_tie_ok(sql3, [("1810.449000",)], [("1810.450000",)])
    # two units apart is not a tie either
    assert not _round_tie_ok(sql3, [("1810.448000",)], [("1810.450000",)])
    # equal rows trivially pair (delta 0)
    assert _round_tie_ok(sql3, [("7.125000",)], [("7.125000",)])


def test_round_tie_mixed_precisions_use_exact_units():
    """With several ROUND precisions in one query, a delta must equal
    one of THEIR units exactly — not merely sit under the coarsest."""
    from tools.query_fuzz import _round_tie_ok

    sql = (
        "SELECT ROUND(CAST(x AS DOUBLE), 1) AS c0, "
        "ROUND(SUM(CAST(y AS DOUBLE)), 3) AS c1 FROM t GROUP BY x"
    )
    # 0.001 (the 3-dp unit) and 0.1 (the 1-dp unit) both adjudicate
    assert _round_tie_ok(sql, [("2.100000", "5.001000")], [("2.200000", "5.000000")])
    # 0.05 is neither unit: real mismatch
    assert not _round_tie_ok(sql, [("2.150000", "5.000000")], [("2.200000", "5.000000")])


def test_round_precision_extraction_paren_balanced():
    """ROUND precisions must come from the call's REAL last argument:
    the old regex grabbed NULLIF's `, 0)` inside
    ``ROUND(x / NULLIF(y, 0), 1)`` (seed 27 #196, the original
    round-tie find, stopped adjudicating under the exact-unit rule
    until this parser replaced the regex)."""
    from tools.query_fuzz import _round_precisions, _round_tie_ok

    sql = (
        "SELECT l_orderkey AS k0, ROUND((CAST(l_extendedprice AS DOUBLE) "
        "/ NULLIF(CAST(l_suppkey AS DOUBLE), 0)), 1) AS c0 FROM lineitem"
    )
    assert _round_precisions(sql) == {1}
    # the seed-27 tie itself: 1810.4 vs 1810.5 at precision 1 adjudicates
    assert _round_tie_ok(sql, [("1810.400000", "4784")], [("1810.500000", "4784")])
    # nested ROUND calls both surface
    assert _round_precisions("ROUND(ROUND(x, 3) + y, 1)") == {1, 3}
    # non-integer precision argument (expression) contributes nothing
    assert _round_precisions("ROUND(x, 1 + 1)") == set()


# --- ADVICE 2: adjudication applied to column-schema mismatches --------


def test_adjudicate_round_tie_gated_on_schema_match():
    """A schema divergence whose row values happen to pair within one
    ROUND unit must stay a finding — the round-tie arm only applies to
    same-schema results (round-13 ADVICE)."""
    from tools.query_fuzz import _adjudicate

    sql = "SELECT ROUND(CAST(x AS DOUBLE), 3) AS c0 FROM t"
    srows, drows = [("1.449000",)], [("1.450000",)]
    assert _adjudicate(sql, 1, 1, srows, drows, cols_match=True) == "round-tie-convention"
    assert _adjudicate(sql, 1, 1, srows, drows, cols_match=False) is None
    # the grouping-sets arm is shape-based (0 vs 1 rows) and unaffected
    gs = "SELECT r_name, COUNT(*) AS c0 FROM region WHERE 1=0 GROUP BY ROLLUP(r_name)"
    assert _adjudicate(gs, 0, 1, cols_match=False) == "spark-empty-grouping-sets"


# --- the fqueue segment format: Arrow IPC files -------------------------


def test_arrow_codec_roundtrip_matches_jsonl(tmp_path):
    """Published records read back exactly, in order: a None key stays
    NULL (the poison discriminator), unicode and tabs survive, and a
    value of None becomes the string "None"."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    recs = [(f"k{i}", f"v{i}-é中\t") for i in range(500)] + [
        (None, "nullkey"),
        ("nullvalue", None),
    ]
    qdir = str(tmp_path / "q")
    seg = Q.publish(qdir, recs)
    rows = list(Q._read_segment_rows(qdir, seg))
    assert rows == [
        (seg, i, k, "None" if v is None else v) for i, (k, v) in enumerate(recs)
    ]
    assert rows[500][2] is None and rows[501][3] == "None"


def test_legacy_jsonl_segment_is_refused(tmp_path):
    """A queue holding a segment in the retired JSONL format must raise,
    naming the file, from both the producer and the stream planner —
    skipping it would silently drop its messages."""
    import pytest

    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = tmp_path / "q"
    qdir.mkdir()
    (qdir / "seg-000000000000.jsonl").write_text('{"key": "a", "value": "1"}\n')
    with pytest.raises(ValueError, match="seg-000000000000.jsonl"):
        Q.publish(str(qdir), [("b", "2")])
    # the refused publish left no stage file or segment behind
    assert sorted(os.listdir(qdir)) == ["seg-000000000000.jsonl"]
    reader = Q.QueueStreamReader({"path": str(qdir)})
    with pytest.raises(ValueError, match="seg-000000000000.jsonl"):
        reader.latestOffset()


def test_arrow_codec_stream_roundtrip_exact(spark, tmp_path):
    """s4_queue_roundtrip's shape: publish → Spark availableNow stream
    → parquet, byte-identical key/value, poison rows (key NULL)
    intact."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = str(tmp_path / "q")
    Q.register(spark)
    Q.publish(qdir, [(str(i), f"m{i}") for i in range(10)])
    Q.publish_poison(qdir, ['{"torn', "noise"])
    Q.publish(qdir, [("10", "m10")])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    ok = sorted(r.value for r in got if r.key is not None)
    poison = sorted(r.value for r in got if r.key is None)
    assert ok == sorted(f"m{i}" for i in range(11))
    assert poison == sorted(['{"torn', "noise"])


def test_arrow_uniform_block_jump_matches_walk(tmp_path):
    """Span reads that JUMP via the producer's uniform-block sidecar
    mark must equal the walk-from-0 fallback (sidecar recounted away),
    across block boundaries."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = str(tmp_path / "q")
    n = Q._ARROW_BATCH_ROWS + 137  # two IPC batches
    Q.publish(qdir, ((str(i), "x") for i in range(n)))
    probes = [
        (0, 5),
        (Q._ARROW_BATCH_ROWS - 2, Q._ARROW_BATCH_ROWS + 2),
        (Q._ARROW_BATCH_ROWS, Q._ARROW_BATCH_ROWS + 5),
        (n - 3, n),
    ]
    jump = {p: list(Q._read_segment_rows(qdir, 0, *p)) for p in probes}
    # strip the producer mark: the reader must fall back to the walk
    import os

    size = os.path.getsize(Q._seg_path(qdir, 0))
    Q._write_count(qdir, 0, n, size)  # no mark
    walk = {p: list(Q._read_segment_rows(qdir, 0, *p)) for p in probes}
    assert jump == walk
    for (a, b), rows in jump.items():
        assert [k for _, _, k, _ in rows] == [str(i) for i in range(a, min(b, n))]


def test_arrow_purge_truncation_reads_empty(tmp_path):
    """Retention truncates segments in place: 0 bytes ⇒ 0 rows
    everywhere, slot never reused, no reader crash."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    qdir = str(tmp_path / "q")
    Q.publish(qdir, [("a", "1"), ("b", "2")])
    Q.publish(qdir, [("c", "3")])
    assert Q._purge_segment(qdir, 0)
    assert Q._segment_count(qdir, 0) == 0
    assert list(Q._read_segment_batches(qdir, 0)) == []
    assert [r[3] for r in Q._read_segment_rows(qdir, 1)] == ["3"]
    # next slot allocation stays above the purged one
    assert Q.publish(qdir, [("d", "4")]) == 2


def test_arrow_queue_sink_publishes_arrow_segments(spark, tmp_path):
    """queue_sink publishes executor-side IPC segments, idempotent per
    (batch, partition, digest) under a producer marker."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    import os

    qdir = str(tmp_path / "q")
    df = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(20)], "key string, value string"
    ).repartition(3)
    sink = Q.queue_sink(qdir, producer_id="prod-ar")
    sink(df, 0)
    segs = Q._list_segments(qdir)
    assert segs and all(
        f.endswith(".arrow") for f in os.listdir(qdir) if f.startswith("seg-")
    )
    rows = [r for s in segs for r in Q._read_segment_rows(qdir, s)]
    assert sorted(r[2] for r in rows) == sorted(str(i) for i in range(20))
    # replay of the same batch is a no-op under the producer marker
    sink(df, 0)
    assert Q._list_segments(qdir) == segs


# --- builder-fuzz find #1: mixture_sample floor-boundary flip ----------


def test_mixture_sample_floor_boundary_stable(spark, duck):
    """Round-14 builder fuzzer (seeds 21 #86 / 22 #75): on a corpus
    with UNIFORM source counts the mixture keep-percentage lands
    exactly on an integer, and SUM(w)'s engine-private accumulation
    order flips FLOOR across engines (Spark 60 vs DuckDB 61 at
    T=0.86/budget=61). Both sides now add 1e-9 before FLOOR; the
    minimized find must stay hash-equal."""
    from labs_stream_processing_examples_scala_spark import oracles as O
    from labs_stream_processing_examples_scala_spark.operators import sampling as SMP

    from tests.conftest import SF_SMOKE, assert_df_equals_oracle

    for t, b in ((0.86, 61), (0.6, 55)):
        sdf = SMP.mixture_sample(spark, SF_SMOKE, temperature=t, budget_pct=b)
        assert_df_equals_oracle(sdf, duck, O.sampling_mixture(t, b))


# --- verdict task 4: recall floor margins ------------------------------


def test_recall_floor_discipline():
    """Every gating recall floor is either an IDENTITY assertion (1.0 —
    probe ≡ batch path by construction) or sits with real margin below
    its r13 measured value; the single-probe teaching baseline is
    non-gating (its 10-query band is mean 0.27 sd 0.155 min 0.10 — any
    floor would sit inside its own noise) and must stay pinned to the
    multiprobe-dominance pytest (round-13 verdict task #4)."""
    from tools.check_oracle import (
        NON_GATING_RECALL,
        RECALL_SPECS,
        _pytest_ref_exists,
    )

    assert "x_sim_lsh_topk_sp" in NON_GATING_RECALL
    assert "x_sim_lsh_topk_sp" not in RECALL_SPECS
    for name, (_, ref) in NON_GATING_RECALL.items():
        assert _pytest_ref_exists(ref), (name, ref)
    # r13 measured values (CORRECTNESS_LOCAL_r13.json); every gating
    # floor is identity (==1.0 with measured 1.0) or margin ≥ 0.15
    measured = {
        "x_sim_ivf_incremental": 1.0, "x_sim_lsh_topk": 0.8,
        "x_sim_ivf_topk": 1.0, "x_sim_ivf_probe": 1.0,
        "x_sim_ivf_trained": 0.9, "x_sim_pq_topk": 0.7,
        "x_sim_ivfpq_topk": 0.8, "x_sim_sq_topk": 1.0,
        "x_sim_nsw_topk": 1.0, "x_sim_nsw_probe": 1.0,
        "x_sim_nsw_batch": 1.0, "x_sim_nsw_incremental": 1.0,
        "x_sim_lsh_neardup": 0.9, "x_sim_lsh_neardup_sp": 0.356,
    }
    for name, (_, floor) in RECALL_SPECS.items():
        got = measured[name]
        identity = floor == 1.0
        assert identity or got - floor >= 0.15, (name, floor, got)


# --- columns projection option (DSv2 python sources get no planner ----
#     column pruning; the option is the engine's stand-in, added for
#     the stream-bench finding that the (seg, pos) broker-offset
#     columns cost JVM crossing the pipeline legs never use)


def test_columns_option_prunes_schema_and_values(spark, tmp_path):
    """`.option("columns", "key,value")` must shrink the declared
    schema, normalize to canonical order, and return exactly the full
    read's projection — batch and streaming reads."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    Q.register(spark)
    qdir = str(tmp_path / "q")
    Q.publish(qdir, [(str(i), f"v{i}") for i in range(300)])
    full = spark.read.format("fqueue").option("path", qdir).load()
    kv = (
        spark.read.format("fqueue")
        .option("path", qdir)
        # reversed request: canonical order must win
        .option("columns", "value,key")
        .load()
    )
    assert kv.columns == ["key", "value"]
    assert kv.exceptAll(full.select("key", "value")).count() == 0
    assert full.select("key", "value").exceptAll(kv).count() == 0
    sdf = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .option("rows_per_batch", 300)
        .option("rows_per_partition", 64)
        .option("columns", "key,value")
        .load()
    )
    assert sdf.columns == ["key", "value"]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.columns == ["key", "value"]
    assert got.exceptAll(full.select("key", "value")).count() == 0


def test_columns_option_rejects_unknown_names():
    from labs_stream_processing_examples_scala_spark.sources.queue_source import (
        _parse_columns,
    )
    import pytest

    assert _parse_columns({"columns": "key , value"}) == ("key", "value")
    assert _parse_columns({}) is None
    # full set normalizes to None (no pruning)
    assert _parse_columns({"columns": "value,key,pos,seg"}) is None
    with pytest.raises(ValueError, match="unknown column"):
        _parse_columns({"columns": "key,nope"})


def test_columns_option_competing_consumer(spark, tmp_path):
    """The competing-consumers reader honors the projection too (the
    claim/ACK ledger is offset-based, not row-column-based, so pruning
    seg/pos is safe there)."""
    from labs_stream_processing_examples_scala_spark.sources import queue_source as Q

    Q.register(spark)
    qdir = str(tmp_path / "q")
    Q.publish(qdir, [(str(i), f"v{i}") for i in range(200)])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("fqueue")
        .option("path", qdir)
        .option("consumer", "c1")
        .option("rows_per_batch", 200)
        .option("rows_per_partition", 64)
        .option("columns", "key,value")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.columns == ["key", "value"]
    assert got.count() == 200


def test_pack_stats_round_tie_adjudicates_narrowly():
    """r14 builder-fuzz find: pack_stats budget=1920 → fill_ratio
    1923/1920 = 1.0015625, an EXACT decimal tie at the oracle's
    round(..., 6) — Spark (BigDecimal HALF_UP) prints 1.001563,
    DuckDB (float-multiply half-even) 1.001562. The builder fuzzer
    adjudicates EXACTLY this shape via the SQL-layer _round_tie_ok
    and nothing wider. If Spark or DuckDB ever changes its rounding
    convention, this test fails and the adjudication must be removed."""
    from labs_stream_processing_examples_scala_spark import oracles as O
    from tools.query_fuzz import _round_precisions, _round_tie_ok

    sql = O.pack_stats(1920, 8)
    assert 6 in _round_precisions(sql)
    srow = [("1.001563", "29", "1923", "0", "0")]
    drow = [("1.001562", "29", "1923", "0", "0")]
    assert _round_tie_ok(sql, srow, drow)
    # sub-unit drift (not a tie) must stay a finding
    assert not _round_tie_ok(sql, [("1.001570", "29", "1923", "0", "0")], drow)
    # and a non-ROUND column differing must stay a finding
    assert not _round_tie_ok(sql, [("1.001563", "30", "1923", "0", "0")], drow)
    # the convention itself, pinned: Spark's round is HALF_UP on the tie
    import pyspark.sql.functions as F
    from labs_stream_processing_examples_scala_spark import get_spark

    s = get_spark()
    got = s.range(1).select(F.round(F.lit(1923) / F.lit(1920), 6).alias("r")).first()["r"]
    assert f"{got:.6f}" == "1.001563"


def test_nsw_live_segments_auto_scale_shards(spark, tmp_path, monkeypatch):
    """Live per-batch NSW segments must scale their shard count with
    the batch row count (the merged rebuild already did): at sf10 a
    fixed 8 shards put 54k rows in ONE per-shard graph — quadratic
    blocked build and 0.4 recall vs the 0.85 floor (r14 sf10 ingest
    find). Proxy at test scale: shrink SHARD_TARGET_ROWS and assert a
    single batch lands more than n_shards parts."""
    from labs_stream_processing_examples_scala_spark.operators import graph_ann
    from labs_stream_processing_examples_scala_spark.streaming.nsw_ingest import (
        IncrementalNswIndex,
    )

    monkeypatch.setattr(graph_ann, "SHARD_TARGET_ROWS", 16)
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proc = IncrementalNswIndex(str(tmp_path / "idx"), compact_every=None)
    proc.process_batch(df, 0)
    parts = proc.segments(spark).select("part").distinct().count()
    assert parts > proc.n_shards, f"expected auto-scaled shards, got {parts}"
    # and the probe still returns k results over the scaled layout
    got = proc.probe(spark, rows[0][1], query_id=-1, k=5).collect()
    assert len(got) == 5
