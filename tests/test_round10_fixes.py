"""Round-10 regression tests for the round-9 ADVICE findings.

1. graph_ann._scan_preserves_shards computes Spark's REAL split bound
   (maxSplitBytes incl. openCostInBytes and bytesPerCore) instead of
   comparing to maxPartitionBytes alone, verifies one file per part
   directory, and accepts oversize files only when they hold a single
   parquet row group (never row-split: midpoint assignment).
2. Byte-string config values ('128m', '1g') parse as bytes — the old
   digit-strip turned '128m' into 128 bytes and forced the shuffle
   fallback permanently.
3. ef_construction is out of the NSW cache keys (exact-prefix builds
   are ef_c-independent — keying on it cached duplicate graphs).
4. materialize_nsw_index: explicit caller paths are not session-cached
   and return early when the index already exists on disk.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from labs_stream_processing_examples_scala_spark.operators import graph_ann as GA
from tests.conftest import SF_SMOKE


def test_parse_byte_conf_suffixes():
    assert GA._parse_byte_conf("134217728b", 0) == 128 * 1024**2
    assert GA._parse_byte_conf("128m", 0) == 128 * 1024**2
    assert GA._parse_byte_conf("1g", 0) == 1024**3
    assert GA._parse_byte_conf("4k", 0) == 4096
    assert GA._parse_byte_conf("2048", 0) == 2048
    assert GA._parse_byte_conf(None, 42) == 42
    assert GA._parse_byte_conf("nonsense", 7) == 7


def test_max_split_bytes_includes_open_cost_and_bytes_per_core(spark):
    """Tiny total input → bytesPerCore dominates → the real split bound
    is openCostInBytes (4MB default), NOT maxPartitionBytes (128MB)."""
    sizes = [5 * 1024 * 1024] * 8  # 40 MB over 32 cores → ~1.3 MB/core
    ms = GA._max_split_bytes(spark, sizes)
    open_cost = GA._parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", None), 4 * 1024**2
    )
    max_part = GA._parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", None), 128 * 1024**2
    )
    par = max(1, spark.sparkContext.defaultParallelism)
    total = sum(sizes) + open_cost * len(sizes)
    assert ms == min(max_part, max(open_cost, total // par))
    assert ms < max_part, "bytesPerCore must tighten the bound here"


def test_guard_survives_suffixed_conf_value(spark):
    """ADVICE (low): a '128m'-style conf value must not collapse to 128
    bytes and force the shuffle fallback on every probe."""
    path = GA.materialize_nsw_index(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        assert GA._scan_preserves_shards(spark, path), (
            "suffixed conf parsed as 128 bytes would fail every file"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_guard_rejects_multiple_files_per_part_dir(spark, tmp_path):
    """Two files of ONE shard can land in two scan tasks even without
    byte splitting — the guard must route that to the grouped probe."""
    path = GA.materialize_nsw_index(spark, SF_SMOKE)
    fake = str(tmp_path / "idx")
    part0 = glob.glob(os.path.join(path, "part=*"))[0]
    dst = os.path.join(fake, os.path.basename(part0))
    os.makedirs(dst)
    src = glob.glob(os.path.join(part0, "*.parquet"))[0]
    shutil.copy(src, os.path.join(dst, "a.parquet"))
    shutil.copy(src, os.path.join(dst, "b.parquet"))
    assert not GA._scan_preserves_shards(spark, fake)


def test_guard_rejects_oversize_multi_row_group_file(spark, tmp_path):
    """An oversize file with MANY row groups genuinely splits across
    byte-range tasks — the single-row-group escape must not apply."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    fake = str(tmp_path / "idx" / "part=0")
    os.makedirs(fake)
    tbl = pa.table(
        {
            "vec_id": np.arange(400, dtype=np.int64),
            "vec": [[0.0, 1.0]] * 400,
            "nbrs": [[0]] * 400,
        }
    )
    pq.write_table(tbl, os.path.join(fake, "g.parquet"), row_group_size=50)
    f = os.path.join(fake, "g.parquet")
    assert pq.ParquetFile(f).metadata.num_row_groups > 1
    old_mp = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "512")
    try:
        assert not GA._scan_preserves_shards(spark, str(tmp_path / "idx")), (
            "oversize multi-row-group file must fall back to the grouped probe"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mp)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


def test_ef_construction_out_of_graph_cache_key(spark):
    """Builds differing only in ef_c are identical graphs (exact-prefix
    links) — they must SHARE one cache slot, not evict real entries."""
    a = GA.nsw_build(spark, SF_SMOKE, ef_construction=32)
    b = GA.nsw_build(spark, SF_SMOKE, ef_construction=999)
    assert a is b, "ef_c must not key the graph cache"
    p1 = GA.materialize_nsw_index(spark, SF_SMOKE, ef_construction=32)
    p2 = GA.materialize_nsw_index(spark, SF_SMOKE, ef_construction=999)
    assert p1 == p2, "ef_c must not key the index cache"


def test_materialize_explicit_path_not_cached_and_reused(spark, tmp_path):
    """ADVICE (low): a caller-supplied path must not enter the session
    cache (the caller owns and may delete it), and a second call with
    the same explicit path must return early instead of re-writing."""
    from labs_stream_processing_examples_scala_spark.session import cache_info

    default_path = GA.materialize_nsw_index(spark, SF_SMOKE)
    before = cache_info("nsw_index")
    mine = str(tmp_path / "my_index")
    p = GA.materialize_nsw_index(spark, SF_SMOKE, path=mine)
    assert p == mine
    assert cache_info("nsw_index") == before, (
        "explicit path leaked into the session cache"
    )
    # registry default-path probes still resolve to the auto path
    assert GA.materialize_nsw_index(spark, SF_SMOKE) == default_path
    # idempotent re-entry: no second partitioned write
    stamps = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(mine, "**", "*.parquet"), recursive=True)
    }
    assert stamps, "explicit-path index must exist on disk"
    assert GA.materialize_nsw_index(spark, SF_SMOKE, path=mine) == mine
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(mine, "**", "*.parquet"), recursive=True)
    }
    assert after == stamps, "existing explicit-path index was re-written"


def test_explicit_path_probe_matches_default(spark, tmp_path):
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
    )

    qvec = _query_embedding(spark, SF_SMOKE, 0)
    default_path = GA.materialize_nsw_index(spark, SF_SMOKE)
    mine = GA.materialize_nsw_index(spark, SF_SMOKE, path=str(tmp_path / "idx"))
    want = [(r.vec_id, r.cos_sim) for r in
            GA.nsw_topk_from_index(spark, default_path, qvec, 0, 10).collect()]
    got = [(r.vec_id, r.cos_sim) for r in
           GA.nsw_topk_from_index(spark, mine, qvec, 0, 10).collect()]
    assert got == want


# --- LSH hot-bucket skew guard (round-9 verdict task #5) -----------------


def _mk_banded(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, band int, bucket long")


def test_lsh_salted_candidate_join_identical_pairs(spark):
    """The salted hot-bucket path must produce EXACTLY the plain
    self-join's pair set: every hot pair meets on one salt, every cold
    pair on salt 0, cross-band duplicates still collapse."""
    import itertools

    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    rows = (
        [(i, 0, 100) for i in range(6)]        # hot bucket (cap 3)
        + [(10 + i, 0, 200) for i in range(3)]  # cold bucket
        + [(1, 1, 300), (7, 1, 300)]             # cross-band extra pair
        + [(1, 2, 400)]                          # singleton bucket
    )
    banded = _mk_banded(spark, rows)
    want = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_join(banded, bucket_cap=None).collect()
    )
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_join(banded, bucket_cap=3, n_salts=4).collect()
    )
    assert got == want
    expect = sorted(
        set(itertools.combinations(range(6), 2))
        | set(itertools.combinations(range(10, 13), 2))
        | {(1, 7)}
    )
    assert want == expect


def test_lsh_salt_applies_only_to_hot_buckets(spark):
    """Structural check: the join key carries _salt, the replication
    multiplier is CONDITIONAL on the over-cap tag (cold rows replicate
    1×), and the unguarded form has neither."""
    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    rows = [(i, 0, 100) for i in range(6)] + [(10 + i, 0, 200) for i in range(3)]
    banded = _mk_banded(spark, rows)
    df = DD.lsh_candidate_join(banded, bucket_cap=3, n_salts=4)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan, "salt column missing from the guarded plan"
    assert "sequence(0, CASE WHEN" in plan, (
        "replication multiplier must be conditional on the hot tag"
    )
    plain = DD.lsh_candidate_join(banded, bucket_cap=None)
    assert "_salt" not in plain._jdf.queryExecution().optimizedPlan().toString()


def test_lsh_pairs_viral_corpus_guarded_equals_unguarded(spark):
    """End-to-end on a degenerate corpus (one viral document copied 40×
    → one (band,bucket) holds 40 docs in every band): the guarded
    operator returns the identical verified pair set."""
    from math import comb

    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    viral = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, viral) for i in range(40)]
        + [(100 + i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i}") for i in range(20)],
        "doc_id long, text string",
    )
    arrs = DD.shingle_arrays_of(docs).persist()
    try:
        banded = DD.banded_of(DD.minhash_of(arrs))
        base = sorted(
            map(tuple, DD.lsh_verified_pairs(arrs, banded, 0.5, bucket_cap=None).collect())
        )
        guarded = sorted(
            map(
                tuple,
                DD.lsh_verified_pairs(
                    arrs, banded, 0.5, bucket_cap=8, n_salts=4
                ).collect(),
            )
        )
        assert guarded == base
        assert len(base) == comb(40, 2), "the viral clique must survive intact"
    finally:
        arrs.unpersist()


def test_lsh_collapse_modes_byte_identical(spark):
    """The data-adaptive content collapse must be invisible: forced
    direct, forced collapsed, and auto modes return identical pair
    sets (values included) on the fixture corpus."""
    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    direct = sorted(
        map(tuple, DD.lsh_candidate_pairs(spark, SF_SMOKE, force="direct").collect())
    )
    collapsed = sorted(
        map(tuple, DD.lsh_candidate_pairs(spark, SF_SMOKE, force="collapsed").collect())
    )
    auto = sorted(map(tuple, DD.lsh_candidate_pairs(spark, SF_SMOKE).collect()))
    assert direct == collapsed == auto
    assert len(direct) > 0, "fixture must produce near-dup pairs"


def test_materialize_explicit_path_rebuilds_on_parameter_mismatch(spark, tmp_path):
    """Review finding: an explicit path reused with different build
    parameters must not silently serve the stale index — the manifest
    mismatch triggers a rebuild with the requested parameters."""
    mine = str(tmp_path / "idx")
    GA.materialize_nsw_index(spark, SF_SMOKE, path=mine, n_shards=8)
    meta1 = GA._index_manifest(mine)
    assert meta1 == {"sf_dir": SF_SMOKE, "n_shards": 8, "m": GA.M_LINKS}
    GA.materialize_nsw_index(spark, SF_SMOKE, path=mine, n_shards=12)
    meta2 = GA._index_manifest(mine)
    assert meta2["n_shards"] == 12, "mismatched params must rebuild"
    parts = glob.glob(os.path.join(mine, "part=*"))
    assert len(parts) == 12


def test_lsh_within_clique_expansion_is_skew_guarded(spark):
    """Review finding: the within-clique expansion self-join must route
    through the same salted machinery — a duplicated corpus in
    collapsed mode with a clique over the cap must spread, with results
    identical to the unguarded expansion."""
    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    # a clique self-join frame: one viral rep with 30 members, cap 8
    rows = [(i, 0, 777) for i in range(30)] + [(100, 0, 888), (101, 0, 888)]
    clique = _mk_banded(spark, rows)
    plain = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_join(clique, bucket_cap=None, dedupe=False).collect()
    )
    guarded = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_join(
            clique, bucket_cap=8, n_salts=4, dedupe=False
        ).collect()
    )
    assert guarded == plain
    import itertools

    assert plain == sorted(
        list(itertools.combinations(range(30), 2)) + [(100, 101)]
    )
