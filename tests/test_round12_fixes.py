"""Round-12 ADVICE regressions: restore-footprint dir spelling for
partition values Spark leaves literal (space, '+', parens), and the
asof_join reserved-name guard covering _asof_row."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

import labs_stream_processing_examples_scala_spark.operators.cow_table as CT
import labs_stream_processing_examples_scala_spark.operators.merge as MG
import labs_stream_processing_examples_scala_spark.operators.mor_table as MT
from labs_stream_processing_examples_scala_spark.operators import temporal as T


def test_restore_footprint_matches_spark_dir_spelling(spark, tmp_path):
    """quote(safe='') escapes chars Spark's escapePathName leaves
    literal (space, '+', parens), so the vector-only restore footprint
    named a nonexistent dir for such partition values and the OCC
    conflict check went blind — the exact hole _delta_changed_partitions
    exists to close (round-11 ADVICE, medium). The footprint must use
    the on-disk dir spelling."""
    path = str(tmp_path / "t")
    parts = ("plain", "has space", "a+b (x)")
    rows = [(k, parts[k % len(parts)], float(k)) for k in range(24)]
    df = spark.createDataFrame(rows, "k long, p string, val double")
    CT.cow_init(MG.scd2_init(df), path, "p")
    s = MT.mor_delete(spark, path, F.col("p") == "has space", "p")
    v_del = s["version"]
    r = CT.restore_cow(path, v_del - 1)
    log = CT._read_root_log(path, r["version"])
    # the real dir name for the value, straight from the listing
    gen = CT._gen_dir(path, r["version"])
    from urllib.parse import unquote

    real = [
        e
        for e in os.listdir(gen)
        if "=" in e and unquote(e.split("=", 1)[1]) == "has space"
    ]
    assert real, sorted(os.listdir(gen))
    assert real[0] in log["written"], (real, log["written"])
    # no synthesized spelling that matches nothing on disk
    on_disk = set(os.listdir(gen))
    assert all(w in on_disk for w in log["written"]), (
        log["written"],
        sorted(on_disk),
    )


def test_delta_changed_partitions_direct_spelling(spark, tmp_path):
    """_delta_changed_partitions itself returns on-disk names for a
    vector diff over a value quote() would mangle."""
    path = str(tmp_path / "t")
    rows = [(k, "v (1)+x" if k % 2 else "plain", float(k)) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, p string, val double")
    CT.cow_init(MG.scd2_init(df), path, "p")
    s = MT.mor_delete(spark, path, F.col("p") == "v (1)+x", "p")
    got = CT._delta_changed_partitions(path, s["version"] - 1, s["version"])
    gen = CT._gen_dir(path, s["version"])
    on_disk = set(os.listdir(gen))
    assert got and all(g in on_disk for g in got), (got, sorted(on_disk))


def test_asof_join_rejects_asof_row_reserved_name(spark):
    """The guard checked _side/_rrow but not _asof_row, so a left frame
    already carrying _asof_row died later with an ambiguous-reference
    AnalysisException instead of the intended ValueError (round-11
    ADVICE, low)."""
    ts = datetime.datetime
    left = spark.createDataFrame(
        [(1, ts(2020, 1, 1), 0)], "k long, ts timestamp, _asof_row long"
    )
    right = spark.createDataFrame(
        [(1, ts(2020, 1, 1), 1)], "k long, rts timestamp, v long"
    )
    with pytest.raises(ValueError, match="_asof_row"):
        T.asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts", right_cols=["v"]
        )


# --- round-12 task #4: materialized IVF index + steady-state probe -------


def test_ivf_probe_equals_batch_topk_and_stays_pruned(spark):
    """x_sim_ivf_probe is the steady-state path over the materialized
    inverted file: bit-identical results to ivf_topk (shared centroids,
    index, scoring) with the same zero-Exchange pruned-probe plan."""
    from labs_stream_processing_examples_scala_spark.operators import (
        similarity as SIM,
    )
    from tests.conftest import SF_SMOKE

    batch = [
        (r.vec_id, r.cos_sim)
        for r in SIM.ivf_topk(spark, SF_SMOKE, query_id=0, k=10, nprobe=4).collect()
    ]
    probe = [
        (r.vec_id, r.cos_sim)
        for r in SIM.ivf_probe_topk(
            spark, SF_SMOKE, query_id=0, k=10, nprobe=4
        ).collect()
    ]
    assert probe == batch
    # steady-state plan: partition-pruned scan, no Exchange anywhere
    plan = (
        SIM.ivf_probe_topk(spark, SF_SMOKE, query_id=1, k=10, nprobe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "PartitionFilters: [cell" in plan
    # and a second probe reuses the session-cached index build
    from labs_stream_processing_examples_scala_spark.session import cache_info

    first = cache_info("ivf_index")
    SIM.ivf_probe_topk(spark, SF_SMOKE, query_id=2).collect()
    second = cache_info("ivf_index")
    assert (second.keys, second.misses) == (first.keys, first.misses)
    assert second.hits > first.hits


# --- round-12 task #3: per-query all-cores probe for the sim family ------


def test_self_heal_flags_mt_dirty_sim_query(monkeypatch):
    """A sim-family query whose all-cores probe reads dirty must be
    retried/annotated even when its single-thread light probe is clean
    (the class that doubled the sf10 NSW number two rounds running)."""
    import bench

    monkeypatch.setattr(bench, "_light_probe_ms", lambda: 40.0)
    monkeypatch.setattr(bench, "_mt_probe_ms", lambda: 160.0)
    ran = []
    timings = {"x_sim_nsw_topk": 80.0, "q1_scan_project": 1.0}
    probes = {"x_sim_nsw_topk": 41.0, "q1_scan_project": 40.0}  # light: clean
    mt = {"x_sim_nsw_topk": 400.0}  # all-cores: 2.5x the 160 ms floor
    retries = bench._self_heal(
        lambda n: ran.append(n),
        list(timings),
        timings,
        probes,
        {},
        mt_probes=mt,
        mt_floor_hint=160.0,
    )
    assert ran == ["x_sim_nsw_topk"]
    r = retries["x_sim_nsw_topk"]
    assert r["first_mt_ms"] == 400.0 and "retry_mt_ms" in r
    # cache-warm family: first run stays defended, retry is evidence
    assert r["defended"] == "first" and timings["x_sim_nsw_topk"] == 80.0
    # clean mt readings flag nothing
    assert bench._self_heal(
        lambda n: ran.append(n), list(timings), dict(timings), probes, {},
        mt_probes={"x_sim_nsw_topk": 165.0}, mt_floor_hint=160.0,
    ) == {}


# --- round-12 task #1: the driver-tail-capture contract ------------------


def test_bench_compact_line_fits_driver_tail_capture(tmp_path, monkeypatch):
    """The driver records the last ~2000 chars of bench stdout; round
    11's fat headline line outgrew it (BENCH_r11.json parsed:null).
    Round 15 (r14 verdict task #2a): the line carries EVERY headline
    query (the 5-slowest form starved the driver's round-over-round
    diff — 3 common queries, 35 phantom drops per round), so pin the
    contract against the REAL HEADLINE names at worst-case widths: all
    queries present, all required keys, and still under the tail
    capture."""
    import json as _json

    import bench

    timings = {name: 999.999 for name in bench.HEADLINE}
    calib = {k: 99999.9 for k in (
        "start_py_ms", "start_np_ms", "start_mt_ms",
        "end_py_ms", "end_np_ms", "end_mt_ms",
        "start_job_ms", "end_job_ms",
    )}
    record = {"metric": "headline_queries_total_wall",
              "value": round(sum(timings.values()), 3),
              "calibration": calib}
    line = bench.compact_line(
        record, timings, retries={"q": {}}, errors={},
        sidecar="BENCH_LAST.json", sf=0.1, cpus=32,
    )
    assert len(line) < 1900, len(line)
    parsed = _json.loads(line)
    for key in ("metric", "value", "unit", "sf", "queries", "calibration"):
        assert key in parsed
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert parsed["queries_n"] == len(bench.HEADLINE)
    # and the real module keeps the pieces this projection relies on
    assert hasattr(bench, "MT_PROBE_PREFIXES")
    assert "BENCH_LAST" in open(bench.__file__).read()


# --- round-12 review sweep: sampler independence, NULL-hostile checks ----


def test_composed_samplers_are_decorrelated(spark):
    """Unsalted shared buckets made every composed sampler fully
    correlated: after importance_resample every survivor had
    bucket < keep_pct, so hash_split could never route short-band
    survivors to valid/test (round-12 self-review). With per-sampler
    salts, survivors of one sampler land in ALL THREE splits."""
    from labs_stream_processing_examples_scala_spark.operators import (
        sampling as SMP,
    )
    from tests.conftest import SF_SMOKE

    surv = SMP.importance_resample(spark, SF_SMOKE).select("doc_id")
    splits = (
        SMP.hash_split(spark, SF_SMOKE)
        .join(surv, "doc_id")
        .groupBy("split")
        .count()
        .collect()
    )
    got = {r.split for r in splits}
    assert got == {"train", "valid", "test"}, got
    # the precise pre-fix impossibility: every survivor had
    # split-bucket == resample-bucket < keep_pct, so NO survivor could
    # carry a split bucket at or above its keep percentage
    surv_full = SMP.importance_resample(spark, SF_SMOKE)
    joined = SMP.hash_split(spark, SF_SMOKE).join(
        surv_full.select("doc_id", "keep_pct"), "doc_id"
    )
    assert joined.filter("bucket >= keep_pct").count() > 0


def test_validate_orders_counts_null_as_violation(spark, tmp_path):
    """A NULL price/date made the check predicate NULL and the old
    count_if(~cond) counted the row as PASSING (round-12 self-review).
    NULLs must count as violations for domain/range checks."""
    import os

    from labs_stream_processing_examples_scala_spark.operators import (
        validation as V,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from tests.conftest import SF_SMOKE

    base = load_table(spark, SF_SMOKE, "orders")
    nulled = base.limit(10).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(NULL AS DOUBLE) AS o_totalprice",
        "CAST(NULL AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority",
        *[c for c in base.columns if c not in (
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")],
    )
    work = str(tmp_path / "orders_nulls")
    os.makedirs(work)
    base.unionByName(nulled.select(*base.columns)).write.parquet(
        f"{work}/orders.parquet"
    )
    rep = {r.check: r.n_violations for r in V.validate_orders(spark, work).collect()}
    assert rep["price_positive"] >= 10
    assert rep["price_below_cap"] >= 10
    assert rep["date_in_range"] >= 10


def test_streaming_decontaminate_keeps_null_text(spark):
    """NULL text → NULL shingles → NULL arrays_overlap: the bare ~
    filter dropped the row while batch decontaminate keeps shingle-less
    docs (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, None), (3, "")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(999999999,)], "h long")
    kept = {r.doc_id for r in CP.streaming_decontaminate(docs, bench).collect()}
    assert kept == {1, 2, 3}, kept


# --- round-12 review sweep 2: retry classification, DLQ origin, WAV ------


def test_retry_classification_round12():
    """IOError is an alias of OSError, so the old check called
    FileNotFoundError/PermissionError 'temporary' while real transient
    Spark failures (Py4JJavaError wrapping java.io.IOException) were
    'permanent' and never retried (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.streaming.retry import (
        is_temporary_exception,
    )

    # permanent: configuration/caller errors fail fast
    assert not is_temporary_exception(FileNotFoundError("missing"))
    assert not is_temporary_exception(PermissionError("denied"))
    assert not is_temporary_exception(IsADirectoryError("dir"))
    assert not is_temporary_exception(ValueError("logic"))
    # temporary: the python connection/timeout family + generic OSError
    assert is_temporary_exception(ConnectionResetError("reset"))
    assert is_temporary_exception(TimeoutError("slow"))
    assert is_temporary_exception(OSError("disk hiccup"))

    # JVM-surfaced: classified by the java-side condition in the message
    class Py4JJavaError(Exception):
        pass

    assert is_temporary_exception(
        Py4JJavaError("An error occurred: java.io.IOException: Connection reset")
    )
    assert is_temporary_exception(
        Py4JJavaError("java.util.concurrent.TimeoutException: Futures timed out")
    )
    assert not is_temporary_exception(
        Py4JJavaError("org.apache.spark.sql.AnalysisException: column not found")
    )


def test_dlq_persists_err_origin(spark, tmp_path):
    """The persisted DLQ must carry err.origin — which enrichment step
    failed is the datum merge_errors' first-error-wins precedence
    produces; the old flatten dropped it (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.functions.errors import (
        err_struct,
    )
    from labs_stream_processing_examples_scala_spark.streaming.sinks import (
        main_and_dlq_sink,
        read_batched_output,
    )

    df = spark.range(4).select(
        "id",
        F.when(
            F.col("id") % 2 == 0,
            err_struct(F.lit("IOException"), F.lit("boom"), "enrich2"),
        ).alias("err"),
    )
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    main_and_dlq_sink(out, dlq)(df, 0)
    rows = read_batched_output(spark, dlq).collect()
    assert rows and all(r.err_origin == "enrich2" for r in rows)
    assert {r.err_cls for r in rows} == {"IOException"}


def test_wav_gain_keeps_framerate_and_frames_align():
    """decode_wav returns (n_channels, framerate, samples); the old
    unpack re-encoded 'gain' clips at 1 Hz, and odd byte chunks split
    int16 samples across frame boundaries (round-12 self-review)."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import (
        codecs,
        columns,
    )

    samples = (np.arange(136, dtype="<i2") * 7) % 2000
    wav = codecs.encode_wav(samples, framerate=8000)
    [(op, out)] = columns._augment_one(wav)
    assert op == "gain"
    nch, rate, got = codecs.decode_wav(out)
    assert rate == 8000 and nch == 1
    assert np.array_equal(got, samples // 2)
    # 136 samples / 16 frames -> 8 samples (16 bytes) per frame, never
    # an odd-byte split
    frames = columns._frames_of(wav, n_frames=16, every=1)
    assert frames and all(len(f) % 2 == 0 for _, f in frames)


# --- round-12 review sweep 3: takedown typing, zero-norm, gather dups ----


def test_takedown_rejects_uncoercible_ids_before_mutating(spark, tmp_path):
    """String UUIDs against a bigint doc_id column used to raise at the
    isin step AFTER the index tombstones — a permanently half-applied
    takedown. Schema-driven coercion now fails FAST, before anything
    mutates (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.operators import takedown as TD

    path = str(tmp_path / "docs")
    df = spark.createDataFrame(
        [(k, "A" if k % 2 else "B", f"t{k}") for k in range(12)],
        "doc_id long, p string, text string",
    )
    CT.cow_init(MG.scd2_init(df), path, "p")

    class _SpyIndex:
        calls = 0

        def delete_ids(self, spark, ids):
            _SpyIndex.calls += 1
            return {"tombstones": len(list(ids))}

    with pytest.raises(ValueError, match="not coercible"):
        TD.takedown(spark, path, "doc_id", "p", ["doc-7", "doc-9"], index=_SpyIndex())
    assert _SpyIndex.calls == 0, "index must not be tombstoned on a bad id list"
    # integer-like strings coerce and the takedown completes end-to-end
    out = TD.takedown(spark, path, "doc_id", "p", ["3", 5], index=_SpyIndex())
    assert _SpyIndex.calls == 1 and out["table"]["deleted_rows"] > 0


def test_assign_cell_survives_zero_vector(spark):
    """One all-zero embedding made the IVF assignment divide by zero
    under ANSI, killing the whole index build (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.operators import (
        similarity as SIM,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 2.0, 0.0])],
        "vec_id long, vec array<double>",
    )
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    got = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", SIM._assign_cell(cents).alias("cell")
        ).collect()
    }
    assert got[1] == 0 and got[2] == 1
    assert got[0] == 0, "zero vector lands in the lowest cell deterministically"


def test_gather_groupby_form_tolerates_duplicate_ids(spark):
    """An at-least-once replay duplicates a message id; the count(*)==3
    completeness check silently DROPPED such ids (6 slot rows), while
    the reference emits the gathered record (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.plans import enrichment as P

    msgs = spark.createDataFrame(
        [(1, "abc"), (2, "xyz"), (2, "xyz")], "id long, value string"
    )
    rows = {r.id: r for r in P.gather_groupby_form(msgs).collect()}
    assert set(rows) == {1, 2}, "duplicated id must still be emitted"
    assert rows[2].extra1 == "zyx" and rows[2].extra2 == "XYZ"


def test_normalize_dim_clamps_nan_and_outliers(spark):
    """Clamping must happen in double space before the long cast: ANSI
    raised on NaN / extreme outliers instead of clamping as documented
    (round-12 self-review)."""
    from labs_stream_processing_examples_scala_spark.sources import layout as L

    df = spark.createDataFrame(
        [(0.0,), (10.0,), (float("nan"),), (1e300,), (-1e300,)], "a double"
    )
    vals = [
        r.z for r in df.select(L.normalize_dim(F.col("a"), 0.0, 10.0).alias("z")).collect()
    ]
    top = (1 << L.Z_BITS) - 1
    assert all(0 <= v <= top for v in vals), vals
    assert vals[1] == top and vals[3] == top and vals[4] == 0
