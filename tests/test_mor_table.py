"""Merge-on-read tier (operators/mor_table.py): positional deletion
vectors + appended files over the generational commit.

What must hold, beyond plain correctness of the visible relation:

- the WRITE-AMPLIFICATION contract: an upsert or delete leaves every
  pre-existing data file untouched (same inode set rides into the new
  generation — asserted, not assumed), and the bytes it does write are
  ∝ changed rows;
- read-back EQUIVALENCE with the copy-on-write sibling: both tiers are
  storage strategies for one MERGE semantics (scd2_apply is the shared
  reference);
- COMPACTION folds vectors into a physical rewrite of only the
  partitions bearing them, restores a scan-only plan (no anti-join
  node), never resurrects a fully-deleted partition, and keeps
  untouched partitions hardlink-identical;
- the commit remains cow_table's atomic manifest flip: a staged
  generation is invisible, time travel sees each generation's own
  vectors.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import labs_stream_processing_examples_scala_spark.operators.cow_table as CT
import labs_stream_processing_examples_scala_spark.operators.merge as MG
import labs_stream_processing_examples_scala_spark.operators.mor_table as MT


def _init(spark, path, n=24, parts=("A", "B", "C")):
    rows = [(k, parts[k % len(parts)], float(k)) for k in range(n)]
    df = spark.createDataFrame(rows, "k long, p string, val double")
    CT.cow_init(MG.scd2_init(df), path, "p")
    return df


def _upd(spark, pairs):
    return spark.createDataFrame(pairs, "u_key long, new_val double")


def _rows(spark, path, version=None):
    return frozenset(
        tuple(r)
        for r in MT.read_mor(spark, path, version=version)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    )


def _data_inodes(path, version):
    """Inode set of every data parquet file in a generation (vectors
    and hidden entries excluded)."""
    gen = CT._gen_dir(path, version)
    out = set()
    for e in os.listdir(gen):
        full = os.path.join(gen, e)
        if CT._is_partition_entry(e) and os.path.isdir(full):
            for f in os.listdir(full):
                if f.endswith(".parquet"):
                    out.add(os.stat(os.path.join(full, f)).st_ino)
    return out


def test_upsert_matches_scd2_apply_and_never_rewrites_base_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _init(spark, path)
    before = _data_inodes(path, 0)

    u = _upd(spark, [(3, 33.0), (7, 77.0), (100, 1.0)])  # 2 updates + 1 insert
    stats = MT.mor_upsert(
        spark, path, u, "k", "u_key", "val", "new_val", "p",
        change_date="1998-01-01",
    )
    assert stats["version"] == 1 and stats["position_deletes"] == 2

    want = frozenset(
        tuple(r)
        for r in MG.scd2_apply(
            MG.scd2_init(df), u, "k", "u_key", "val", "new_val",
            change_date="1998-01-01",
        ).select("k", "p", "val", "valid_from", "valid_to", "is_current").collect()
    )
    assert _rows(spark, path) == want

    # write amplification: every base file rode into gen_v1 untouched
    assert before <= _data_inodes(path, 1), "a base data file was rewritten"
    # time travel: v0 still the pre-merge table (no vectors applied)
    assert _rows(spark, path, version=0) == frozenset(
        tuple(r) for r in MG.scd2_init(df).collect()
    )


def test_second_upsert_deletes_appended_rows_positionally(spark, tmp_path):
    """Rows APPENDED by commit 1 must be addressable by commit 2's
    vectors (their file_ref survives the hardlink ride) — the serial
    chain equals scd2_apply twice."""
    path = str(tmp_path / "t")
    df = _init(spark, path)
    u1, u2 = _upd(spark, [(3, 33.0)]), _upd(spark, [(3, 66.0), (5, 55.0)])
    MT.mor_upsert(spark, path, u1, "k", "u_key", "val", "new_val", "p",
                  change_date="1998-01-01")
    MT.mor_upsert(spark, path, u2, "k", "u_key", "val", "new_val", "p",
                  change_date="1999-01-01")
    ref = MG.scd2_apply(
        MG.scd2_apply(MG.scd2_init(df), u1, "k", "u_key", "val", "new_val",
                      change_date="1998-01-01"),
        u2, "k", "u_key", "val", "new_val", change_date="1999-01-01",
    )
    assert _rows(spark, path) == frozenset(tuple(r) for r in ref.collect())
    # key 3's chain: one closed 1992→1998, one closed 1998→1999, one open
    k3 = sorted(
        (r["valid_from"], r["valid_to"], r["is_current"])
        for r in MT.read_mor(spark, path).filter("k = 3").collect()
    )
    assert k3 == [
        ("1992-01-01", "1998-01-01", False),
        ("1998-01-01", "1999-01-01", False),
        ("1999-01-01", None, True),
    ]


def test_delete_writes_vector_only_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    _init(spark, path)
    before = _data_inodes(path, 0)

    s = MT.mor_delete(spark, path, "k % 4 = 0", "p")
    assert s["deleted_rows"] == 6  # keys 0,4,8,12,16,20
    assert MT.read_mor(spark, path).filter("k % 4 = 0").count() == 0
    assert MT.read_mor(spark, path).count() == 18
    assert before <= _data_inodes(path, 1), "delete rewrote a data file"

    # re-running the same predicate sees no visible rows → empty delta
    s2 = MT.mor_delete(spark, path, "k % 4 = 0", "p")
    assert s2["deleted_rows"] == 0
    st = MT.mor_stats(spark, path)
    assert st["vector_rows"] == 6, "vectors must stay one-per-deleted-row"
    assert st["vector_bytes"] < st["data_bytes"]


def test_compact_folds_vectors_and_restores_scan_only_plan(spark, tmp_path):
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, "k IN (1, 2)", "p")  # partitions B, C
    assert MT.partitions_with_deletes(spark, path) == ["B", "C"]
    visible = _rows(spark, path)
    a_inodes = {
        os.stat(os.path.join(CT._gen_dir(path, 1), "p=A", f)).st_ino
        for f in os.listdir(os.path.join(CT._gen_dir(path, 1), "p=A"))
        if f.endswith(".parquet")
    }

    s = MT.mor_compact(spark, path, "p")
    assert s["compacted"] == ["B", "C"] and s["linked"] == ["p=A"]
    assert _rows(spark, path) == visible
    # vectors consumed; the read is a pure scan again
    assert MT.mor_stats(spark, path)["vector_rows"] == 0
    plan = MT.read_mor(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "Anti" not in plan
    # untouched partition byte-identical (same inodes)
    after = {
        os.stat(os.path.join(CT._gen_dir(path, 2), "p=A", f)).st_ino
        for f in os.listdir(os.path.join(CT._gen_dir(path, 2), "p=A"))
        if f.endswith(".parquet")
    }
    assert after == a_inodes


def test_compact_never_resurrects_an_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, "p = 'B'", "p")  # the whole partition
    assert MT.read_mor(spark, path).filter("p = 'B'").count() == 0
    MT.mor_compact(spark, path, "p")
    live = CT._gen_dir(path, CT.read_manifest(path)["version"])
    assert not os.path.isdir(os.path.join(live, "p=B")), (
        "fully-deleted partition came back as a directory"
    )
    assert MT.read_mor(spark, path).filter("p = 'B'").count() == 0
    assert MT.read_mor(spark, path).count() == 16


def test_staged_generation_invisible_until_manifest_flip(spark, tmp_path):
    """Crash-window check in the cow_table style: a staged gen_v1 left
    by a dead writer (manifest still names v0) is invisible to readers
    and GC'd by the next successful commit."""
    path = str(tmp_path / "t")
    df = _init(spark, path)
    orig = _rows(spark, path)

    MT._stage_next(path, 0)  # stage without committing = crash point
    dv = spark.createDataFrame(
        [("p=A/bogus.parquet", 0, "A")], "file_ref string, pos long, part string"
    )
    dv.write.parquet(os.path.join(CT._gen_dir(path, 1), MT.DELETES, "d1"))
    assert _rows(spark, path) == orig, "staged generation leaked into a read"

    s = MT.mor_delete(spark, path, "k = 0", "p")  # recover() GCs, then commits
    assert s["version"] == 1 and s["deleted_rows"] == 1
    assert MT.mor_stats(spark, path)["vector_rows"] == 1, (
        "stale staged vectors survived recovery"
    )
    assert _rows(spark, path) == frozenset(r for r in orig if r[0] != 0)


def test_read_splits_scan_so_clean_partitions_skip_the_anti_join(spark, tmp_path):
    """read_mor's split scan: partitions with no vector rows are read
    bare (partition-pruned, never entering the join), only the dirty
    partitions pay the anti-join — the property that keeps the read
    cost ∝ delete-bearing data at scale. Verified on the physical
    plan (PartitionFilters on both scans; the join's stream side
    lists only the dirty partition) and on results (≡ the reference
    rows, including the null-partition edge both ways)."""
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, "k = 1", "p")  # dirty: B only
    out = MT.read_mor(spark, path)
    assert frozenset(r["k"] for r in out.collect()) == set(range(24)) - {1}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    # the anti-join's data-side scan is pruned to the dirty partition
    import re

    scans = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("p#" in s and "IN (B)" in s.replace("isnotnull(p#", "")
               or "B" in s for s in scans), plan
    # clean partitions: some scan excludes B (NOT isin / not-equal form)
    assert out.filter("p = 'A'").count() == 8 and out.filter("p = 'C'").count() == 8

    # null-partition rows present and CLEAN: they must survive the
    # ~isin() null trap
    extra = spark.createDataFrame(
        [(200, None, 9.0)], "k long, p string, val double"
    )
    CT.append_cow(spark, MG.scd2_init(extra), path, "p")
    got = frozenset(r["k"] for r in MT.read_mor(spark, path).collect())
    assert got == (set(range(24)) - {1}) | {200}
    # ...and null-partition rows DIRTY: delete one there
    MT.mor_delete(spark, path, "k = 200", "p")
    got = frozenset(r["k"] for r in MT.read_mor(spark, path).collect())
    assert got == set(range(24)) - {1}


def test_restore_undoes_a_vector_delete(spark, tmp_path):
    """cow_table.restore_cow on a MOR table: rolling back BEFORE a
    vector-only delete restores the rows (the restored generation
    carries v0's empty vector state, not the live one's)."""
    path = str(tmp_path / "t")
    _init(spark, path)
    full = _rows(spark, path)
    MT.mor_delete(spark, path, "k < 6", "p")
    assert len(_rows(spark, path)) == 18
    s = CT.restore_cow(path, 0)
    assert s["restored_version"] == 0
    assert _rows(spark, path) == full
    assert MT.mor_stats(spark, path)["vector_rows"] == 0


def test_history_and_vacuum_cover_mor_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, "k = 1", "p")
    MT.mor_upsert(spark, path, _upd(spark, [(2, 22.0)]),
                  "k", "u_key", "val", "new_val", "p")
    ops = [h["operation"] for h in CT.history(path)]
    assert ops == ["mor_upsert", "mor_delete"]  # newest first, v0 GC'd
    CT.vacuum(path)
    with pytest.raises(ValueError):
        MT.read_mor(spark, path, version=1)


def test_mor_table_changes_sees_vector_only_deletes(spark, tmp_path):
    """The MOR change feed must catch commits that touch NO data file:
    a mor_delete changes only `_deletes`, so the COW feed's data-dir
    diff is empty — the MOR feed reads the vector deltas' `part`
    column and still emits the deleted rows."""
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, "k IN (1, 3)", "p")  # partitions B, A
    assert CT.changed_partitions(path, 0, 1) == [], (
        "a vector-only commit should leave data dirs hardlink-identical"
    )
    feed = MT.mor_table_changes(spark, path, 0, 1)
    got = frozenset(tuple(r) for r in feed.collect())
    truth = frozenset(
        tuple(r) + ("delete",)
        for r in MT.read_mor(spark, path, version=0).filter("k IN (1, 3)").collect()
    )
    assert got == truth and len(got) == 2
    # pruning: partition C never contributed and never scanned rows
    assert feed.filter(F.col("p") == "C").count() == 0


def test_mor_table_changes_matches_full_diff_after_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_upsert(spark, path, _upd(spark, [(3, 33.0)]),
                  "k", "u_key", "val", "new_val", "p", change_date="1998-01-01")
    old = MT.read_mor(spark, path, version=0)
    new = MT.read_mor(spark, path, version=1)
    truth = frozenset(
        tuple(r) + ("insert",) for r in new.exceptAll(old).collect()
    ) | frozenset(
        tuple(r) + ("delete",) for r in old.exceptAll(new).collect()
    )
    got = frozenset(
        tuple(r) for r in MT.mor_table_changes(spark, path, 0, 1).collect()
    )
    assert got == truth and len(got) == 3  # delete-old + 2 inserts


def test_concurrent_reader_sees_old_or_new_mor_table_only(spark, tmp_path):
    """Snapshot isolation across a MOR commit (the cow_merge test's
    scenario on this tier): a reader thread hammering the table while
    an upsert commits must only ever observe the exact old or exact
    new relation — never a torn mix (e.g. vectors without their
    appended rows, or vice versa)."""
    import threading

    path = str(tmp_path / "t")
    df = _init(spark, path)
    old = _rows(spark, path)
    u = _upd(spark, [(3, 33.0), (7, 77.0)])
    want = frozenset(
        tuple(r)
        for r in MG.scd2_apply(
            MG.scd2_init(df), u, "k", "u_key", "val", "new_val",
            change_date="1998-01-01",
        ).select("k", "p", "val", "valid_from", "valid_to", "is_current").collect()
    )
    seen, bad, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            got = _rows(spark, path)
            (seen if got in (old, want) else bad).append(got)

    t = threading.Thread(target=reader)
    t.start()
    try:
        MT.mor_upsert(spark, path, u, "k", "u_key", "val", "new_val", "p",
                      change_date="1998-01-01")
        _rows(spark, path)  # at least one post-commit read in-thread
    finally:
        stop.set()
        t.join()
    assert not bad, f"torn reads observed: {len(bad)}"
    assert _rows(spark, path) == want


def test_read_mor_projects_evolved_columns(spark, tmp_path):
    """alter_add_column is metadata-only on this tier too: the MOR
    reader projects the recorded default over pre-alter files while
    the vector anti-join still applies."""
    path = str(tmp_path / "t")
    _init(spark, path)
    CT.alter_add_column(path, "tier", "string",
                        "CASE WHEN val >= 12 THEN 'high' ELSE 'low' END")
    MT.mor_delete(spark, path, "k = 0", "p")
    out = MT.read_mor(spark, path)
    assert out.filter("k = 0").count() == 0
    tiers = {r["k"]: r["tier"] for r in out.select("k", "tier").collect()}
    assert tiers[1] == "low" and tiers[23] == "high"


def test_mor_cdc_delete_arm_matches_scd2_apply_cdc(spark, tmp_path):
    """mor_upsert's CDC arm: named deletes position-delete the open row
    and append the closed tombstone only; a key in both sets takes the
    delete; duplicate delete keys are harmless — read-back equals the
    in-memory scd2_apply_cdc reference."""
    path = str(tmp_path / "t")
    df = _init(spark, path)
    upd = _upd(spark, [(1, 11.0), (2, 22.0), (300, 3.0)])  # 2 takes the delete
    dels = spark.createDataFrame([(2,), (2,), (5,)], "d_key long")
    MT.mor_upsert(
        spark, path, upd, "k", "u_key", "val", "new_val", "p",
        change_date="1998-01-01", delete_keys=dels, delete_key="d_key",
    )
    ref = MG.scd2_apply_cdc(
        MG.scd2_init(df), upd, dels, "k", "u_key", "d_key", "val", "new_val",
        change_date="1998-01-01",
    )
    assert _rows(spark, path) == frozenset(
        tuple(r)
        for r in ref.select("k", "p", "val", "valid_from", "valid_to",
                            "is_current").collect()
    )
    got = MT.read_mor(spark, path)
    assert got.filter("k = 2 AND is_current").count() == 0, "deleted key reopened"
    assert got.filter("k = 5").count() == 1  # closed tombstone only
    assert got.filter("k = 300 AND is_current").count() == 1  # insert landed


def test_mor_cdc_stream_ingest_matches_cow_sink(spark, tmp_path):
    """Streaming CDC through the MOR tier (MorCdcSink): same batches,
    same txn-version replay guard, base files never rewritten — and
    the final visible relation is IDENTICAL to the COW sink's on a
    twin target (the tier choice is invisible to readers)."""
    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import (
        MorCdcSink, run_cdc_ingest, write_cdc_batch_file,
    )

    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    df = _init(spark, mor)
    _init(spark, cow)
    src = str(tmp_path / "cdc")
    os.makedirs(src)
    batches = [
        [(1, 100.0, "u"), (100, 1.0, "u"), (2, None, "d")],
        [(100, None, "d"), (3, 33.0, "u")],
        [(1, 200.0, "u"), (4, None, "d"), (101, 5.0, "u")],
    ]
    for i, rows in enumerate(batches):
        write_cdc_batch_file(
            spark.createDataFrame(rows, "k long, new_value double, op string"),
            src, i,
        )
    base_inodes = _data_inodes(mor, 0)

    sink = run_cdc_ingest(spark, src, mor, "k", "val", "p", sink_cls=MorCdcSink)
    assert sink.last_batch_id() == 2
    cow_sink = run_cdc_ingest(spark, src, cow, "k", "val", "p")
    mor_rows = frozenset(
        tuple(r)
        for r in sink.view(spark)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    )
    cow_rows = frozenset(
        tuple(r)
        for r in cow_sink.view(spark)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    )
    assert mor_rows == cow_rows
    # the MOR target's base files rode through all three batches intact
    live = CT.read_manifest(mor)["version"]
    assert base_inodes <= _data_inodes(mor, live)

    # replay guard: redelivering batch 2 changes nothing
    sink.process_batch(
        spark.createDataFrame(batches[2], "k long, new_value double, op string"), 2
    )
    assert frozenset(
        tuple(r)
        for r in sink.view(spark)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    ) == mor_rows

    # compaction after ingest folds the accumulated vectors, same rows
    MT.mor_compact(spark, mor, "p")
    assert frozenset(
        tuple(r)
        for r in MT.read_mor(spark, mor)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    ) == mor_rows


def test_mor_upsert_equals_cow_merge_on_twin_targets(spark, tmp_path):
    """The two tiers produce the same relation from the same inputs —
    the user-facing claim q70's shared oracle rests on."""
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    df = _init(spark, mor)
    CT.cow_init(MG.scd2_init(df), cow, "p")
    u = _upd(spark, [(3, 33.0), (10, 1.0), (200, 2.0)])
    MT.mor_upsert(spark, mor, u, "k", "u_key", "val", "new_val", "p",
                  change_date="1998-01-01")
    MG.scd2_merge_cow(spark, cow, u, "k", "u_key", "val", "new_val", "p",
                      change_date="1998-01-01")
    mor_rows = _rows(spark, mor)
    cow_rows = frozenset(
        tuple(r)
        for r in CT.read_cow(spark, cow)
        .select("k", "p", "val", "valid_from", "valid_to", "is_current")
        .collect()
    )
    assert mor_rows == cow_rows


# --- round 11 self-review: restore footprint, GC'd-base re-plan,
# --- retention depth, lock hygiene --------------------------------------


def test_restore_footprint_sees_vector_only_rollback(spark, tmp_path):
    """A restore that rolls back a vector-only commit resurrects rows
    without touching any data file. Its OCC footprint (root-log
    `written`) must name the affected partitions — a data-file-only
    diff is blind to the delta tree, letting a concurrent writer pass
    conflict check against written=[] (self-review finding, r11)."""
    path = str(tmp_path / "t")
    _init(spark, path)
    v0_rows = _rows(spark, path)
    s = MT.mor_delete(spark, path, F.col("p") == "B", "p")
    v_del = s["version"]
    r = CT.restore_cow(path, v_del - 1)
    # the footprint names partition B (the resurrected rows' home)
    log = CT._read_root_log(path, r["version"])
    assert any("p=B" in w for w in log["written"]), log["written"]
    # and the restored relation equals the pre-delete one
    assert _rows(spark, path) == v0_rows
    # the feed across the restore shows the resurrected rows as inserts
    feed = MT.mor_table_changes(spark, path, v_del, r["version"])
    ins = feed.filter("change_type = 'insert'").count()
    assert ins == s["deleted_rows"] and ins > 0


def test_planning_read_converts_gcd_base_to_conflict(spark, tmp_path):
    """The lock-free planning scan over a base generation GC'd by
    interleaved commits must raise the CommitConflictError the retry
    loops re-plan on, not a raw AnalysisException (self-review r11)."""
    path = str(tmp_path / "t")
    _init(spark, path)
    with pytest.raises(CT.CommitConflictError, match="GC'd while planning"):
        MT._planning_read(spark, path, 99, [])


def test_mor_keep_generations_pass_through(spark, tmp_path):
    """mor_delete(keep_generations=3) must retain three prior
    generations instead of the hardcoded one (self-review r11)."""
    path = str(tmp_path / "t")
    _init(spark, path)
    for k in (0, 1, 2):
        MT.mor_delete(spark, path, F.col("k") == k, "p", keep_generations=3)
    assert CT._gen_versions(path) == [0, 1, 2, 3]
    # and read_mor time travel still serves the retained history
    assert len(_rows(spark, path, version=1)) == len(_rows(spark, path)) + 2


def test_writer_lock_releases_proc_lock_on_live_holder(tmp_path):
    """ConcurrentWriterError (or any acquire failure) must release the
    in-process RLock, or every later writer in this process deadlocks
    (self-review finding, r11)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    # a LIVE foreign holder: pid 1 exists and is not us
    with open(os.path.join(path, CT.WRITER_LOCK), "w") as f:
        f.write("1")
    for _ in range(2):  # twice: a leaked RLock would deadlock round 2
        with pytest.raises(CT.ConcurrentWriterError):
            with CT._writer_lock(path):
                pass
    # the in-process lock is free: a non-blocking acquire succeeds
    lk = CT._proc_lock(path)
    assert lk.acquire(blocking=False)
    lk.release()


# --- one-pass mor_upsert: edge cases, release of persisted frames,
# --- one scan of the change batch, job budget ---------------------------


_COLS = ("k", "p", "val", "tier", "valid_from", "valid_to", "is_current")


@pytest.mark.parametrize("derive_partition", [False, True])
def test_mor_cdc_edge_cases_match_cow_cdc_merge(spark, tmp_path, derive_partition):
    """One CDC batch holding every edge of the change frame, merged on
    twin targets through mor_upsert and merge_cow_cdc, with
    scd2_apply_cdc as the in-memory reference:
    - key 1 is updated AND deleted: the delete wins;
    - keys 999 and 301 are deletes with no current row: no vector row;
    - key 5 is deleted twice: one tombstone;
    - key 300 is an unknown update: an insert, into the null partition
      or the partition insert_partition derives from the key;
    - key 200's current row lives in the null partition;
    - ``tier`` is an alter_add_column-evolved column."""
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    null_row = MG.scd2_init(
        spark.createDataFrame([(200, None, 9.0)], "k long, p string, val double")
    )
    for path in (mor, cow):
        _init(spark, path)
        CT.append_cow(spark, null_row, path, "p")
        CT.alter_add_column(path, "tier", "string",
                            "CASE WHEN val >= 12 THEN 'high' ELSE 'low' END")
    before = MT.read_mor(spark, mor)
    upd = _upd(spark, [(1, 11.0), (3, 33.0), (200, 2.0), (300, 3.0)])
    dels = spark.createDataFrame([(1,), (5,), (5,), (999,), (301,)], "d_key long")
    k = F.col("k")
    derived = (
        F.when(k % 3 == 0, "A").when(k % 3 == 1, "B").otherwise("C")
        if derive_partition else None
    )
    ref = MG.scd2_apply_cdc(
        before, upd, dels, "k", "u_key", "d_key", "val", "new_val",
        change_date="1998-01-01",
        carried_overrides={"p": derived} if derive_partition else None,
    )
    # reads fill a null evolved column with its default: so must the reference
    ref = CT._project_added(ref, CT.read_manifest(mor)["added_columns"])
    ref_rows = frozenset(tuple(r) for r in ref.select(*_COLS).collect())

    s = MT.mor_upsert(
        spark, mor, upd, "k", "u_key", "val", "new_val", "p",
        change_date="1998-01-01", insert_partition=derived,
        delete_keys=dels, delete_key="d_key",
    )
    MG.merge_cow_cdc(
        spark, cow, upd, dels, "k", "u_key", "d_key", "val", "new_val", "p",
        change_date="1998-01-01", insert_partition=derived,
    )
    # matched current rows: 1 and 5 (deletes), 3 and 200 (updates)
    assert s["position_deletes"] == 4
    mor_rows = frozenset(tuple(r) for r in MT.read_mor(spark, mor).select(*_COLS).collect())
    cow_rows = frozenset(tuple(r) for r in CT.read_cow(spark, cow).select(*_COLS).collect())
    assert mor_rows == cow_rows == ref_rows
    assert not any(r[0] in (999, 301) for r in mor_rows)
    k300 = [r for r in mor_rows if r[0] == 300]
    assert [r[1] for r in k300] == (["A"] if derive_partition else [None])


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_mor_cdc_sink_releases_every_persisted_frame(spark, tmp_path, monkeypatch):
    """process_batch persists the batch, mor_upsert the joined frame and
    the commit the vector delta. None of them may outlive the batch:
    not on success, not on a replay skip, and not on a re-plan after an
    injected CommitConflictError."""
    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import MorCdcSink

    path = str(tmp_path / "t")
    _init(spark, path)
    sink = MorCdcSink(path, "k", "val", "p")
    schema = "k long, new_value double, op string"
    start = _persisted(spark)

    sink.process_batch(spark.createDataFrame([(1, 10.0, "u"), (2, None, "d")], schema), 0)
    sink.process_batch(spark.createDataFrame([(7, 70.0, "u")], schema), 0)  # replay skip
    assert _persisted(spark) == start

    real = MT._occ_commit_delta
    fired = []

    def racing_commit(spark_, p, base, *a, **kw):
        if not fired:
            fired.append(base)
            # an interleaved writer on partition B (k=4) conflicts with
            # this batch's update of k=1, also in B
            MT.mor_delete(spark, p, F.col("k") == 4, "p")
        return real(spark_, p, base, *a, **kw)

    monkeypatch.setattr(MT, "_occ_commit_delta", racing_commit)
    sink.process_batch(spark.createDataFrame([(1, 20.0, "u"), (8, None, "d")], schema), 1)
    assert fired, "the conflict was not injected"
    assert sink.last_batch_id() == 1
    assert _persisted(spark) == start
    got = {(r["k"], r["val"]) for r in MT.read_mor(spark, path).filter("is_current").collect()}
    assert (1, 20.0) in got and not {k for k, _ in got} & {2, 4, 8}


def test_cdc_ingest_scans_each_change_file_once(spark, tmp_path):
    """numInputRows counts every row the source read for a micro-batch:
    with the batch persisted it equals the change file's row count,
    where an unpersisted batch counted one scan per frame the merge
    built from it."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import (
        MorCdcSink, run_cdc_ingest, write_cdc_batch_file,
    )

    path, src = str(tmp_path / "t"), str(tmp_path / "cdc")
    _init(spark, path)
    os.makedirs(src)
    batches = [
        [(1, 100.0, "u"), (100, 1.0, "u"), (2, None, "d")],
        [(3, 33.0, "u"), (4, None, "d")],
    ]
    for i, rows in enumerate(batches):
        write_cdc_batch_file(
            spark.createDataFrame(rows, "k long, new_value double, op string"), src, i
        )
    seen, lock = {}, threading.Lock()

    class Rows(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if any(src in s.description for s in p.sources):
                with lock:
                    seen[p.batchId] = p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Rows()
    spark.streams.addListener(listener)
    try:
        run_cdc_ingest(spark, src, path, "k", "val", "p", sink_cls=MorCdcSink)
        deadline = time.monotonic() + 30
        while len(seen) < len(batches) and time.monotonic() < deadline:
            time.sleep(0.05)  # progress events arrive on the listener bus
    finally:
        spark.streams.removeListener(listener)
    assert seen == {i: len(rows) for i, rows in enumerate(batches)}


def _jobs_in_group(spark, group: str, fn) -> int:
    """Jobs ``fn`` runs in job group ``group``; asserts it runs none
    outside it (a thread that lost the caller's job group would make a
    budget pass by under-counting)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped, "a job ran outside the group"
    return len(tracker.getJobIdsForGroup(group))


_CDC_SCHEMA = "k long, new_value double, op string"


#: jobs one MorCdcSink.process_batch runs at fixture size (measured):
#: parquet schema inference of the base; the batch cache (one stage per
#: change arm); the vector broadcast; the change-frame shuffle; the
#: current-row broadcast; the joined frame's cache stage, once per
#: write (the two writes start together, so each plans the not yet
#: loaded cache as its own stage); the vector write; the appended rows'
#: shuffle and write
MOR_CDC_JOB_BUDGET = 11


def test_mor_cdc_batch_job_budget(spark, tmp_path):
    """The one-pass merge's job count, bounded so a re-introduced
    re-scan, read-back or footprint job shows up as a failure."""
    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import MorCdcSink

    path = str(tmp_path / "t")
    _init(spark, path)
    MT.mor_delete(spark, path, F.col("k") == 0, "p")  # the base carries vectors
    sink = MorCdcSink(path, "k", "val", "p")
    batch = spark.createDataFrame([(1, 10.0, "u"), (2, None, "d"), (100, 1.0, "u")], _CDC_SCHEMA)
    jobs = _jobs_in_group(
        spark, f"mor-cdc-budget-{os.getpid()}", lambda: sink.process_batch(batch, 0)
    )
    assert 0 < jobs <= MOR_CDC_JOB_BUDGET, jobs


#: jobs one CdcMergeSink.process_batch runs at fixture size with a
#: file-scanned batch (measured; 22 with the batch persisted, one AQE
#: cache stage per read of it)
COW_CDC_JOB_BUDGET = 19


def test_cow_cdc_batch_job_budget(spark, tmp_path):
    """The copy-on-write sink re-scans its (small) batch file instead of
    persisting it: each read of a persisted batch is an AQE cache stage
    with its own job."""
    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import CdcMergeSink

    path = str(tmp_path / "t")
    _init(spark, path)
    sink = CdcMergeSink(path, "k", "val", "p")
    # a file-scanned batch, as the stream source hands it to the sink
    f = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(1, 10.0, "u"), (2, None, "d"), (100, 1.0, "u")], _CDC_SCHEMA
    ).coalesce(1).write.parquet(f)
    batch = spark.read.schema(_CDC_SCHEMA).parquet(f)
    jobs = _jobs_in_group(
        spark, f"cow-cdc-budget-{os.getpid()}", lambda: sink.process_batch(batch, 0)
    )
    assert 0 < jobs <= COW_CDC_JOB_BUDGET, jobs
    got = {(r["k"], r["val"]) for r in CT.read_cow(spark, path).filter("is_current").collect()}
    assert (1, 10.0) in got and (100, 1.0) in got and 2 not in {k for k, _ in got}


def test_read_mor_footprint_is_read_without_a_job(spark, tmp_path):
    """read_mor, partitions_with_deletes and mor_stats take the vectors'
    partition footprint and row count from the delta files on the
    driver. A vector row in the null partition still makes that
    partition dirty: its deleted row stays hidden, the clean rows of
    the null partition stay visible."""
    path = str(tmp_path / "t")
    _init(spark, path)
    extra = spark.createDataFrame(
        [(200, None, 9.0), (201, None, 8.0)], "k long, p string, val double"
    )
    CT.append_cow(spark, MG.scd2_init(extra), path, "p")
    MT.mor_delete(spark, path, "k IN (1, 200)", "p")  # B and the null partition

    assert MT.partitions_with_deletes(spark, path) == ["B", None]
    assert MT.mor_stats(spark, path)["vector_rows"] == 2
    # one job infers the base's schema; the footprint adds none
    assert _jobs_in_group(spark, "read-mor-plan", lambda: MT.read_mor(spark, path)) <= 1
    jobs = _jobs_in_group(
        spark, "read-mor",
        lambda: MT.read_mor(spark, path).write.format("noop").mode("overwrite").save(),
    )
    # schema inference, the vector broadcast and the scan
    assert jobs <= 3, jobs
    got = sorted(r["k"] for r in MT.read_mor(spark, path).collect())
    assert got == sorted((set(range(24)) - {1}) | {201})


def test_run_overlapped_keeps_job_group_and_raises_earlier_failure(spark):
    """The side write's thread runs its jobs in the caller's job group,
    and when both writes fail the earlier failure is raised, after both
    have finished."""
    import threading
    import time

    def fails(after: float, msg: str, done: list):
        def f():
            time.sleep(after)
            done.append(msg)
            raise ValueError(msg)
        return f

    jobs = _jobs_in_group(
        spark, "overlap-group",
        lambda: MT._run_overlapped(lambda: None, lambda: spark.range(3).collect()),
    )
    assert jobs >= 1
    alive = {t for t in threading.enumerate() if t.is_alive()}
    for slow, fast in (("main", "side"), ("side", "main")):
        done: list = []
        with pytest.raises(ValueError, match=fast):
            MT._run_overlapped(
                fails(0.4 if slow == "main" else 0.0, "main", done),
                fails(0.4 if slow == "side" else 0.0, "side", done),
            )
        assert done == [fast, slow]
    assert {t for t in threading.enumerate() if t.is_alive()} <= alive


def test_mor_commit_appended_write_failure_commits_nothing(spark, tmp_path, monkeypatch):
    """The appended-rows write runs on its own thread beside the vector
    write. When it fails: the error surfaces after the vector write has
    finished, its thread is done, the live version is unchanged,
    recover() leaves no staged generation, no persisted frame outlives
    the batch, and a re-run commits what an undisturbed run commits."""
    import threading

    from pyspark import InheritableThread
    from pyspark.sql.readwriter import DataFrameWriter

    from labs_stream_processing_examples_scala_spark.streaming.cdc_ingest import MorCdcSink

    rows = [(1, 10.0, "u"), (2, None, "d"), (100, 1.0, "u"), (5, 50.0, "u")]
    twin, path = str(tmp_path / "twin"), str(tmp_path / "t")
    for p in (twin, path):
        _init(spark, p)
        MT.mor_delete(spark, p, F.col("k") == 0, "p")
    MorCdcSink(twin, "k", "val", "p").process_batch(spark.createDataFrame(rows, _CDC_SCHEMA), 0)
    live = CT.read_manifest(path)["version"]
    start = _persisted(spark)

    real = DataFrameWriter.parquet
    failed_on: list = []

    def failing_parquet(self, p, *a, **kw):
        if "_append_stage_v" in p:
            failed_on.append(threading.current_thread())
            raise RuntimeError("injected appended-rows write failure")
        return real(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    sink = MorCdcSink(path, "k", "val", "p")
    with pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(spark.createDataFrame(rows, _CDC_SCHEMA), 0)
    (thread,) = failed_on
    assert isinstance(thread, InheritableThread) and not thread.is_alive()
    staged = CT._gen_dir(path, live + 1)
    assert os.path.exists(os.path.join(staged, MT.DELETES, f"d{live + 1}", "_SUCCESS")), (
        "the failure surfaced before the vector write finished"
    )
    assert CT.read_manifest(path)["version"] == live and sink.last_batch_id() is None
    assert _persisted(spark) == start
    CT.recover(path)
    assert not os.path.exists(staged)

    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    sink.process_batch(spark.createDataFrame(rows, _CDC_SCHEMA), 0)
    assert sink.last_batch_id() == 0
    committed = [
        CT._read_commit_log(CT._gen_dir(p, CT.read_manifest(p)["version"]))["vector_rows"]
        for p in (path, twin)
    ]
    assert committed[0] == committed[1] == 3  # k=1, 2 and 5; k=100 is an insert
    assert _rows(spark, path) == _rows(spark, twin)
