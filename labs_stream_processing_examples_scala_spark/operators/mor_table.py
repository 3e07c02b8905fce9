"""Merge-on-read tier: positional deletion vectors over the COW table.

operators/cow_table.py gives every mutation copy-on-write semantics:
a MERGE rewrites each touched partition in full. That is the right
trade for read-heavy targets, but its write amplification is ∝
partition size — deleting 100 rows from a 1 GB partition rewrites the
gigabyte. The other half of the lakehouse design space (Iceberg
position deletes, Delta deletion vectors, Hudi's MOR tables) defers
the rewrite: a DELETE/UPDATE writes only

  - a **deletion vector**: (file, row-position) pairs naming the rows
    that logically no longer exist — bytes ∝ rows changed, and
  - (for upserts) **appended** data files carrying the replacement
    rows — again ∝ rows changed,

and the READ applies the vectors with an anti-join. A later COMPACT
(:func:`mor_compact`) folds the vectors into a physical rewrite of
only the partitions that have any, restoring scan-only reads.

Row identity is Spark's own parquet metadata: ``_metadata.file_path``
+ ``_metadata.row_index`` (the physical row position — stable across
reads of an immutable file). The vector stores the file as
``<partition-dir>/<file-name>`` rather than a full path, because the
generational layout HARDLINKS unchanged files from generation to
generation: the inode and both name components survive the link, so a
vector written against gen_v3 still addresses the same rows when the
file rides into gen_v7.

Layout (one generation — cow_table's protocol, manifest/lock/recover
reused verbatim)::

    gen_vN/
      <col>=X/*.parquet     base + appended data files
      _deletes/d{K}/*.parquet   vector delta committed by version K
                                (file_ref string, pos long, part string)
      _SUCCESS

``_deletes`` starts with an underscore, so Spark's file index treats
it as hidden: the data scan never sees it, and the vector read
addresses it explicitly. Vectors accumulate by hardlinking the whole
``_deletes`` tree forward each commit plus one new delta dir, so a
generation is self-contained — time travel reads gen_vK's data with
gen_vK's vectors and needs nothing outside the directory (the same
property cow_table's retention/GC machinery already assumes).

Scale posture (100 TB target):
  - the vector anti-join is HINT-FREE: vectors are ∝ accumulated
    deletes, usually broadcastable, but nothing stops an operator
    letting them grow — AQE sizes the join instead of a forced
    broadcast OOMing (same policy as operators/merge.py).
  - :func:`mor_upsert` writes ∝ changed rows where
    merge.scd2_merge_cow writes ∝ touched-partition bytes; the read
    pays the anti-join until compaction. Which tier wins is the
    workload's write/read ratio — that CHOICE is the feature, and
    both tiers commit through the same atomic manifest flip, so they
    share crash safety, retention, history, and time travel.
  - :func:`mor_compact` discovers its rewrite set from vector
    metadata alone (the ``part`` column), scans only those
    partitions, and hardlinks the rest — work ∝ data bearing deletes.

Reference: the reference sink surface is append-only
(Output.save, reference src/main/scala — SURVEY §2.6); this module is
part of the §7 lakehouse extension surface, not a port.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators import cow_table as CT

DELETES = "_deletes"
_REF_RE = r"([^/]+/[^/]+)$"  # <partition-dir>/<file-name>
#: the one schema every vector writer produces (mor_delete, mor_upsert;
#: restore and compaction only link or drop whole delta dirs). Reading
#: with it skips Spark's per-read parquet schema-inference job.
VECTOR_SCHEMA = "file_ref string, pos long, part string"


def _delete_dirs(gen_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(gen_dir, DELETES, "d*")))


def _read_vectors(spark: SparkSession, gen_dir: str) -> DataFrame | None:
    dirs = [d for d in _delete_dirs(gen_dir) if glob.glob(os.path.join(d, "*.parquet"))]
    if not dirs:
        return None
    return spark.read.schema(VECTOR_SCHEMA).parquet(*dirs)


def _with_row_id(df: DataFrame) -> DataFrame:
    """Attach the stable row identity (__ref, __pos) to a parquet-backed
    scan. Must be called on the raw file read, before any join/agg
    drops the metadata column."""
    return df.withColumns({
        "__ref": F.regexp_extract(F.col("_metadata.file_path"), _REF_RE, 1),
        "__pos": F.col("_metadata.row_index"),
    })


def _resolve_gen(path: str, version: int | None) -> tuple[dict, str]:
    meta = CT.read_manifest(path)
    if meta is None:
        raise ValueError(f"{path} is not a generational table (no manifest)")
    v = meta["version"] if version is None else version
    d = CT._gen_dir(path, v)
    if version is not None and (version > meta["version"] or not os.path.isdir(d)):
        raise ValueError(
            f"version {version} of {path} is not available "
            f"(live={meta['version']}, retained: {CT._gen_versions(path)})"
        )
    return meta, d


def read_mor(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a MOR table: the generation's data files minus its deletion
    vectors. With no vectors this is exactly the scan-only COW read —
    zero anti-join cost until the first deferred mutation. The
    anti-join is hint-free (AQE broadcasts a small vector set, falls
    back to shuffle if an operator let it grow). Supports the same
    ``version`` time travel as cow_table.read_cow; evolved columns
    (alter_add_column) project the same way."""
    meta, gen_dir = _resolve_gen(path, version)
    added = meta.get("added_columns", {})
    reader = spark.read.option("mergeSchema", "true") if added else spark.read
    data = reader.parquet(gen_dir)
    vectors = _read_vectors(spark, gen_dir)
    if vectors is not None:
        # Split the scan on the vectors' partition footprint (their
        # ``part`` column, read on the driver — no Spark job):
        # partitions with NO vector rows bypass the anti-join entirely
        # and stay a bare partition-pruned scan, so the join cost is ∝
        # data bearing deletes, not table size. At 100 TB with deletes
        # in three partitions, the other ten thousand never enter a
        # join build or stream side.
        _, dirty_parts = CT._vector_footprint(_delete_dirs(gen_dir))
        try:
            pcol = _partition_col_name(gen_dir)
        except ValueError:
            # non-hive layout (never produced by this module's writers;
            # defensive): fall back to the whole-scan anti-join
            whole = _with_row_id(data)
            whole = whole.join(
                vectors.select("file_ref", "pos"),
                (whole["__ref"] == F.col("file_ref"))
                & (whole["__pos"] == F.col("pos")),
                "left_anti",
            ).drop("__ref", "__pos")
            return CT._project_added(whole, added) if added else whole
        vals = [str(p) for p in dirty_parts if p is not None]
        null_dirty = any(p is None for p in dirty_parts)
        in_vals = F.col(pcol).cast("string").isin(vals) if vals else F.lit(False)
        # null partition values make ~isin NULL (row silently dropped),
        # so both sides spell their null case explicitly
        dirty_pred = in_vals | F.col(pcol).isNull() if null_dirty else in_vals
        clean_pred = (
            (~in_vals) & F.col(pcol).isNotNull()
            if null_dirty
            else (~in_vals) | F.col(pcol).isNull()
        )
        dirty = _with_row_id(data.filter(dirty_pred))
        dirty = dirty.join(
            vectors.select("file_ref", "pos"),
            (dirty["__ref"] == F.col("file_ref")) & (dirty["__pos"] == F.col("pos")),
            "left_anti",
        ).drop("__ref", "__pos")
        data = data.filter(clean_pred).unionByName(dirty)
    return CT._project_added(data, added) if added else data


def _stage_next(path: str, cur: int) -> str:
    """Stage gen_v{cur+1} as a hardlink image of gen_v{cur} (data
    partitions, accumulated vectors, _SUCCESS). Invisible to readers
    until the manifest flips; a crash leaves it for recover() to GC."""
    cur_dir, new_dir = CT._gen_dir(path, cur), CT._gen_dir(path, cur + 1)
    shutil.rmtree(new_dir, ignore_errors=True)
    os.makedirs(new_dir)
    for e in sorted(os.listdir(cur_dir)):
        src = os.path.join(cur_dir, e)
        if CT._is_partition_entry(e) and os.path.isdir(src):
            CT._link_tree(src, os.path.join(new_dir, e))
        elif e == DELETES:
            CT._link_tree(src, os.path.join(new_dir, e))
        elif e == "_SUCCESS":
            os.link(src, os.path.join(new_dir, e))
    return new_dir


def _commit(
    path: str,
    new: int,
    log: dict,
    written: list[str],
    keep_generations: int = 1,
    extra_meta: dict | None = None,
) -> None:
    """Manifest flip + per-generation and root commit logs. ``written``
    is the LOGICAL footprint — every partition dir whose visible rows
    this commit changes (for a vector-only delete that is the dirs the
    vector rows point into, though no data file there was touched) —
    recorded in the retention-independent ``_log/`` so copy-on-write
    writers' optimistic conflict checks see MOR commits too."""
    new_dir = CT._gen_dir(path, new)
    if not os.path.exists(os.path.join(new_dir, "_SUCCESS")):
        # staged image of a gen that predates _SUCCESS tracking
        open(os.path.join(new_dir, "_SUCCESS"), "w").close()
    CT._write_commit_log(new_dir, {"version": new, "written": written, **log})
    meta = CT.read_manifest(path)
    # extra_meta (e.g. the streaming sink's last-applied batch id)
    # rides the SAME atomic replace as the version bump — "data
    # committed" and "progress recorded" are one fact (txn idiom)
    CT._write_manifest(path, {**meta, **(extra_meta or {}), "version": new})
    CT._append_root_log(path, new, {
        "version": new, "operation": log.get("operation", "commit"),
        "written": written,
    })
    for v in CT._gen_versions(path):
        if v <= new - 1 - keep_generations:
            shutil.rmtree(CT._gen_dir(path, v), ignore_errors=True)
    CT._gc_legacy_root(path)


def _dirs_for_parts(gen_dir: str, parts: list) -> list[str]:
    """Map partition VALUES (the vectors' ``part`` column) to the
    concrete partition DIR names of a generation — by comparing against
    the listing rather than re-implementing Hive's path escaping."""
    from urllib.parse import unquote

    vals = {str(p) for p in parts if p is not None}
    want_null = any(p is None for p in parts)
    out = []
    for e in sorted(os.listdir(gen_dir)):
        if not CT._is_partition_entry(e):
            continue
        if e == "__HIVE_DEFAULT_PARTITION__":
            if want_null:
                out.append(e)
        elif unquote(e.split("=", 1)[1]) in vals:
            out.append(e)
    return out


def _resolve_base(path: str) -> tuple[int, dict]:
    """Brief lock hold to heal/migrate, then release: PLANNING runs
    lock-free against the returned ``(base_version, added_columns)``
    (the OCC posture merge.scd2_merge_cow already has — round 7
    extends it to this tier so parallel MOR writers overlap their
    expensive planning; round 8 adds the schema-evolution spec so
    write planning reads the same evolved schema read_mor serves)."""
    with CT._writer_lock(path):
        CT.recover(path)
        CT.ensure_generational(path)
        meta = CT.read_manifest(path)
        return meta["version"], meta.get("added_columns", {})


def _visible_with_row_id(
    spark: SparkSession, gen_dir: str, added: dict | None = None
) -> DataFrame:
    """The generation's VISIBLE rows (vectors applied) carrying the
    stable (__ref, __pos) row identity. ``added`` is the manifest's
    ``added_columns`` spec (alter_add_column): with it the raw scan
    uses mergeSchema + default projection exactly like read_mor —
    without it a mixed-schema generation SAMPLES its schema from an
    arbitrary file, making which columns ride on appended version rows
    nondeterministic (round-8 ADVICE)."""
    reader = spark.read.option("mergeSchema", "true") if added else spark.read
    data = _with_row_id(reader.parquet(gen_dir))
    if added:
        data = CT._project_added(data, added)
    vectors = _read_vectors(spark, gen_dir)
    if vectors is not None:
        data = data.join(
            vectors.select("file_ref", "pos"),
            (data["__ref"] == F.col("file_ref")) & (data["__pos"] == F.col("pos")),
            "left_anti",
        )
    return data


def _planning_read(spark: SparkSession, path: str, base: int, added):
    """The lock-free planning scan over the resolved base generation.
    spark.read.parquet resolves files/schema EAGERLY, so a base GC'd by
    interleaved commits between ``_resolve_base`` releasing its lock
    and this read raises AnalysisException — which the retry loops
    did not catch, crashing the caller under exactly the contention the
    OCC design targets (self-review finding, round 11). Converted to
    the CommitConflictError the loops re-plan on; any AnalysisException
    with the base still on disk is a real error and re-raises."""
    from pyspark.errors import AnalysisException

    base_dir = CT._gen_dir(path, base)
    try:
        return _visible_with_row_id(spark, base_dir, added)
    except AnalysisException:
        if os.path.isdir(base_dir):
            raise
        raise CT.CommitConflictError(
            f"base generation {base} of {path} was GC'd while planning "
            "— re-plan from the live version"
        ) from None


def _run_overlapped(main, side=None) -> None:
    """Run ``side`` on a :class:`pyspark.InheritableThread` while
    ``main`` runs on the calling thread, and return once both have
    finished. The thread inherits the caller's Spark local properties,
    so its jobs carry the caller's job group (a streaming query cancels
    its jobs by that group on stop). A failure is re-raised only after
    both have finished; when both fail, the earlier failure is
    raised."""
    if side is None:
        main()
        return
    from pyspark import InheritableThread

    failures: list[tuple[float, Exception]] = []

    def guarded(fn):
        try:
            fn()
        except Exception as e:
            failures.append((time.monotonic(), e))

    t = InheritableThread(target=lambda: guarded(side))
    t.start()
    try:
        guarded(main)
    finally:
        t.join()
    if failures:
        raise min(failures, key=lambda f: f[0])[1]


def _occ_commit_delta(
    spark: SparkSession,
    path: str,
    base: int,
    dv: DataFrame,
    operation: str,
    log_extra: dict | None = None,
    appended: DataFrame | None = None,
    partition_col: str | None = None,
    extra_meta: dict | None = None,
    keep_generations: int = 1,
) -> dict:
    """Commit a planned MOR mutation (vector delta + optional appended
    rows) with optimistic conflict handling: stage from the CURRENT
    live generation, materialize the delta/appends (their lazy scans
    still read the base generation — retained on disk, and GC only
    runs under the lock we hold, so the scan cannot race it), then if
    writers interleaved since ``base``, prove their footprints
    disjoint from this commit's — the hardlinked file refs then make
    the rebase byte-identical to a serial execution (the vector
    addresses (partition/file, pos) pairs that rode untouched into the
    live generation) — or raise :class:`cow_table.CommitConflictError`
    for the caller's re-plan loop. A base older than the retention
    window conflicts up front (its generation is gone; the lazy plans
    would die mid-write otherwise).

    ``dv`` is read once, by its write. The appended rows (hash-
    partitioned on ``partition_col`` first, so each commit adds one
    file per partition value) are written to a staging dir at the same
    time, on a second thread (:func:`_run_overlapped`): the two writes
    are independent, so the batch pays one write's scheduling and
    commit wait instead of two in a row. The commit log's row count and
    the partition footprint are then read from the written delta's
    files on the driver (cow_table._vector_footprint), not from a Spark
    job over ``dv``."""
    with CT._writer_lock(path):
        CT.recover(path)
        live = CT.read_manifest(path)["version"]
        if live != base and not os.path.isdir(CT._gen_dir(path, base)):
            raise CT.CommitConflictError(
                f"base generation {base} of {path} left the retention "
                "window while planning — re-plan from the live version"
            )
        new = live + 1
        new_dir = _stage_next(path, live)
        delta_dir = os.path.join(new_dir, DELETES, f"d{new}")
        stage = os.path.join(new_dir, f"_append_stage_v{new}")
        try:
            _run_overlapped(
                lambda: dv.write.parquet(delta_dir),
                None if appended is None else lambda: appended.repartition(
                    partition_col
                ).write.partitionBy(partition_col).parquet(stage),
            )
            n, dv_parts = CT._vector_footprint([delta_dir])
            appended_dirs: list[str] = []
            moved = 0
            if appended is not None:
                for e in sorted(os.listdir(stage)):
                    if not CT._is_partition_entry(e):
                        continue
                    os.makedirs(os.path.join(new_dir, e), exist_ok=True)
                    appended_dirs.append(e)
                    for f in os.listdir(os.path.join(stage, e)):
                        if f.endswith(".parquet"):
                            os.rename(
                                os.path.join(stage, e, f),
                                os.path.join(new_dir, e, f),
                            )
                            moved += 1
                shutil.rmtree(stage, ignore_errors=True)
            written = sorted(
                set(appended_dirs) | set(_dirs_for_parts(new_dir, dv_parts))
            )
            if live != base:
                CT._heal_root_log(path, live)
                CT.check_commit_conflict(path, base, live, written)
        except CT.CommitConflictError:
            shutil.rmtree(new_dir, ignore_errors=True)
            raise
        _commit(
            path, new,
            {"operation": operation, "vector_rows": n,
             **({"appended_files": moved} if appended is not None else {}),
             **(log_extra or {})},
            written=written,
            extra_meta=extra_meta,
            keep_generations=keep_generations,
        )
        return {
            "version": new, "vector_rows": n,
            **({"appended_files": moved} if appended is not None else {}),
        }


def mor_delete(
    spark: SparkSession, path: str, predicate, partition_col: str,
    max_retries: int = 3, lock_timeout: float = 30.0,
    keep_generations: int = 1,
) -> dict:
    """DELETE WHERE ``predicate`` by writing a deletion vector — no data
    file is touched (bytes written ∝ rows deleted, not partition
    size). The matching rows' (file, position) pairs land as one vector
    delta in the staged generation; every data partition and prior
    vector rides forward as hardlinks; one manifest flip commits.

    Already-deleted rows are excluded by reading through
    :func:`read_mor`'s own anti-join first, so re-running the same
    predicate is a no-op commit, and vector rows stay one-per-deleted-
    row (bounded by table cardinality, never by delete attempts).

    Optimistic (round 7): planning runs lock-free against the resolved
    base; an interleaved commit rebases free when disjoint or triggers
    an internal re-plan (``max_retries``)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    conflicts = 0
    wait = CT.lock_retry_loop(lock_timeout)
    while True:
        # planning's brief heal lock (_resolve_base) hits a live
        # cross-process holder more often than the commit — include it
        # in the wait-and-retry scope (round-8 review finding)
        try:
            base, added = _resolve_base(path)
            data = _planning_read(spark, path, base, added)
            dv = data.filter(pred).select(
                F.col("__ref").alias("file_ref"),
                F.col("__pos").alias("pos"),
                F.col(partition_col).cast("string").alias("part"),
            )
            s = _occ_commit_delta(
                spark, path, base, dv, "mor_delete",
                keep_generations=keep_generations,
            )
        except CT.CommitConflictError:
            conflicts += 1
            if conflicts >= max_retries:
                raise
            continue
        except CT.ConcurrentWriterError:
            if not wait():
                raise
            continue
        return {"version": s["version"], "deleted_rows": s["vector_rows"]}


def mor_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    update_key: str,
    versioned_col: str,
    new_value_col: str,
    partition_col: str,
    change_date: str = "1997-06-01",
    insert_partition=None,
    delete_keys: DataFrame | None = None,
    delete_key: str | None = None,
    extra_meta: dict | None = None,
    max_retries: int = 3,
    lock_timeout: float = 30.0,
    keep_generations: int = 1,
) -> dict:
    """SCD2 MERGE, merge-on-read form: matched CURRENT rows are
    position-deleted and their closed + reopened versions APPENDED as
    new files; unknown keys append as open versions. Write cost is ∝
    changed rows — the base files of a 1 GB partition are never
    rewritten for a 100-row change batch, which is the entire point of
    the tier (merge.scd2_merge_cow is the rewrite-heavy sibling with
    identical read-back semantics — equivalence-tested).

    The appended rows are written partitionBy through a staging dir
    and hardlinked into the staged generation's partition dirs, so the
    commit remains ONE manifest flip. ``insert_partition`` (a Column
    over the key) derives insert partitions exactly as the COW merges
    do; without it inserts carry a null partition (the null dir).

    Read-back contract: ``read_mor(path)`` ≡ ``merge.scd2_apply(
    <pre-merge table>, updates, ...)``.

    ``delete_keys``/``delete_key`` add the CDC delete arm (the
    merge.scd2_apply_cdc semantics on this tier): a named delete
    position-deletes the key's CURRENT row and appends only its CLOSED
    version (the SCD2 tombstone — history ends, no reopen); a key in
    both sets takes the delete; duplicate keys fold into one change (a
    repeated update keeps its max value, as the CDC sinks aggregate).
    ``extra_meta`` rides the manifest flip atomically (the streaming
    sink's txn-version idiom, streaming/cdc_ingest.py).

    One pass: the change batch becomes one row per key (``__del`` —
    deletes win — and the update value ``__nv``), and ONE persisted
    frame, the current rows right-outer-joined to it, carries every
    decision. Its rows with a row id are the deletion vector; a single
    projection of it yields the appended rows (matched update → closed
    + opened, matched delete → closed, unmatched update → insert). The
    base and the batch are each scanned once per commit attempt."""
    from labs_stream_processing_examples_scala_spark.operators.merge import SCD2_COLS

    changes = updates.select(
        F.col(update_key).alias("__ck"),
        F.col(new_value_col).alias("__nv"),
        F.lit(False).alias("__del"),
    )
    if delete_keys is not None:
        changes = changes.unionByName(
            delete_keys.select(
                F.col(delete_key).alias("__ck"),
                F.lit(None).alias("__nv"),
                F.lit(True).alias("__del"),
            )
        )
    changes = changes.groupBy("__ck").agg(
        F.max("__nv").alias("__nv"), F.max("__del").alias("__del")
    )
    conflicts = 0
    wait = CT.lock_retry_loop(lock_timeout)
    while True:
        # the planning heal's brief lock hold takes the same
        # wait-and-retry path as the commit (round-8 review finding);
        # everything between resolve and commit is lock-free
        try:
            base, added = _resolve_base(path)
        except CT.ConcurrentWriterError:
            if not wait():
                raise
            continue
        try:
            data = _planning_read(spark, path, base, added)
        except CT.CommitConflictError:
            conflicts += 1
            if conflicts >= max_retries:
                raise
            continue
        # the PROJECTED schema (evolved columns included): appended
        # rows are written in it
        schema = data.schema
        base_cols = [c for c in data.columns if c not in ("__ref", "__pos")]
        carried = {c for c in base_cols if c not in {key, versioned_col, *SCD2_COLS}}
        # hint-free: AQE sizes the change-batch join (merge.py policy).
        # The key column takes the change key, so an unmatched update
        # (an insert) carries its own key and insert_partition sees it.
        touched = (
            data.filter("is_current")
            .join(changes, F.col(key) == F.col("__ck"), "right")
            .filter(F.col("__ref").isNotNull() | ~F.col("__del"))
            .withColumn(key, F.col("__ck").cast(schema[key].dataType))
        )
        matched = F.col("__ref").isNotNull()
        dv = touched.filter(matched).select(
            F.col("__ref").alias("file_ref"),
            F.col("__pos").alias("pos"),
            F.col(partition_col).cast("string").alias("part"),
        )

        def version(**cols):
            # one appended row in the table's column order and types;
            # unnamed columns carry the current row's value
            return F.struct(*[
                cols[c].cast(schema[c].dataType).alias(c) if c in cols else F.col(c)
                for c in base_cols
            ])

        new_version = {
            versioned_col: F.col("__nv"),
            "valid_from": F.lit(change_date),
            "valid_to": F.lit(None),
            "is_current": F.lit(True),
        }
        closed = version(valid_to=F.lit(change_date), is_current=F.lit(False))
        opened = version(**new_version)
        inserted = version(**new_version, **{
            c: insert_partition if c == partition_col and insert_partition is not None
            else F.lit(None)
            for c in carried
        })
        versions = (
            F.when(matched & ~F.col("__del"), F.array(closed, opened))
            .when(matched, F.array(closed))
            .otherwise(F.array(inserted))
        )
        appended = touched.select(F.explode(versions).alias("v")).select("v.*")
        # the vector and the appended rows both read this one frame
        touched.persist()
        try:
            s = _occ_commit_delta(
                spark, path, base, dv, "mor_upsert",
                appended=appended, partition_col=partition_col,
                extra_meta=extra_meta,
                keep_generations=keep_generations,
            )
        except CT.CommitConflictError:
            conflicts += 1
            if conflicts >= max_retries:
                raise
            continue
        except CT.ConcurrentWriterError:
            if not wait():
                raise
            continue
        finally:
            touched.unpersist()
        return {
            "version": s["version"],
            "position_deletes": s["vector_rows"],
            "appended_files": s["appended_files"],
        }


def partitions_with_deletes(spark: SparkSession, path: str) -> list[str | None]:
    """Distinct partition values carrying any deletion vector row —
    read from vector METADATA only (the small ``part`` column), no
    data file opened. This is :func:`mor_compact`'s rewrite set: work
    ∝ data bearing deletes, the analogue of cow_table's
    changed_partitions metadata-only contract."""
    meta, gen_dir = _resolve_gen(path, None)
    return CT._vector_footprint(_delete_dirs(gen_dir))[1]


def mor_compact(
    spark: SparkSession, path: str, partition_col: str, keep_generations: int = 1
) -> dict:
    """Fold the deletion vectors into a physical rewrite — the
    maintenance command that bounds the read-side anti-join: rewrite
    ONLY the partitions holding vector rows (applying every delete),
    hardlink the rest, and drop the vectors (fully consumed). After
    compaction ``read_mor`` plans as a pure scan again.

    A partition whose every row was deleted simply has no dir in the
    new generation — the staged image starts EMPTY and only rewritten
    output plus explicitly-linked untouched dirs enter it, so a
    vanished partition cannot resurrect (the invariant
    cow_table.commit_generation could not give us: its absent-dir ⇔
    untouched rule assumes rewrites never empty a partition)."""
    from urllib.parse import unquote

    with CT._writer_lock(path):
        CT.recover(path)
        CT.ensure_generational(path)
        meta = CT.read_manifest(path)
        cur = meta["version"]
        cur_dir = CT._gen_dir(path, cur)
        parts = partitions_with_deletes(spark, path)
        if not parts:
            return {"version": cur, "compacted": []}
        pred = F.col(partition_col).cast("string").isin(
            [p for p in parts if p is not None]
        )
        if any(p is None for p in parts):
            pred = pred | F.col(partition_col).isNull()
        out = read_mor(spark, path).filter(pred)

        new_dir = CT._gen_dir(path, cur + 1)
        shutil.rmtree(new_dir, ignore_errors=True)
        out.write.partitionBy(partition_col).parquet(new_dir)

        def _touched(entry: str) -> bool:
            if entry == "__HIVE_DEFAULT_PARTITION__":
                return any(p is None for p in parts)
            return unquote(entry.split("=", 1)[1]) in {
                str(p) for p in parts if p is not None
            }

        linked = []
        touched_dirs = set()
        for e in sorted(os.listdir(cur_dir)):
            src = os.path.join(cur_dir, e)
            if not (CT._is_partition_entry(e) and os.path.isdir(src)):
                continue
            if _touched(e) or os.path.isdir(os.path.join(new_dir, e)):
                touched_dirs.add(e)  # rewritten — or emptied entirely
                continue
            CT._link_tree(src, os.path.join(new_dir, e))
            linked.append(e)
        _commit(
            path, cur + 1,
            {
                "operation": "mor_compact",
                "compacted": [p if p is not None else "<null>" for p in parts],
                "linked": linked,
            },
            # a compaction is row-neutral, but its file rewrite still
            # invalidates any concurrent writer's staged copy of these
            # partitions' positions (vectors address file+row) → they
            # are part of the OCC footprint
            written=sorted(touched_dirs),
            keep_generations=keep_generations,
        )
        return {"version": cur + 1, "compacted": parts, "linked": linked}


def mor_table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Change data feed between two retained MOR versions. cow_table's
    :func:`~labs_stream_processing_examples_scala_spark.operators.cow_table.table_changes`
    prunes by DATA-file identity alone — correct for COW, where every
    mutation rewrites data files, but blind to this tier's vector-only
    commits: a ``mor_delete`` touches no data file, so the data-dir
    diff is empty while rows vanished. The MOR feed therefore prunes
    by the union of
      - data partitions whose file sets differ (hardlink identity,
        cow_table.changed_partitions — catches appended files), and
      - partitions named in vector deltas d{v}, from < v ≤ to — read
        from the deltas' small ``part`` column, no data file opened
    and diffs ``read_mor`` (vectors applied) of the two versions over
    that pruned set. Work stays ∝ data the commits touched; output
    schema matches the COW feed (``change_type`` insert/delete)."""
    for v in (from_version, to_version):
        if not os.path.isdir(CT._gen_dir(path, v)):
            raise ValueError(f"version {v} of {path} is not retained on disk")
    changed = set(CT.changed_partitions(path, from_version, to_version))
    to_dir = CT._gen_dir(path, to_version)
    # deltas that changed VISIBILITY between the versions = present in
    # exactly ONE of the two generations. Under forward history that is
    # the old rule (d{v}, from < v <= to); the symmetric difference
    # ALSO catches a restore, which drops rolled-back deltas from the
    # newer generation without creating any d{v} in the range — the old
    # rule returned an empty feed for resurrected rows (self-review
    # finding, round 11).
    from_dirs = {
        os.path.basename(d): d
        for d in _delete_dirs(CT._gen_dir(path, from_version))
    }
    to_dirs = {os.path.basename(d): d for d in _delete_dirs(to_dir)}
    _, delta_parts = CT._vector_footprint(
        to_dirs.get(name) or from_dirs[name] for name in set(from_dirs) ^ set(to_dirs)
    )
    old_all = read_mor(spark, path, version=from_version)
    new_all = read_mor(spark, path, version=to_version)
    if not changed and not delta_parts:
        return new_all.withColumn("change_type", F.lit("insert")).limit(0)
    dir_vals = {e.split("=", 1)[0]: None for e in changed if "=" in e}
    pcol = next(iter(dir_vals), None)
    from urllib.parse import unquote

    raw = {unquote(e.split("=", 1)[1]) for e in changed if "=" in e}
    # Spark spells a NULL partition 'col=__HIVE_DEFAULT_PARTITION__':
    # the sentinel means "include null rows", it is not an isin value
    # (self-review follow-up, r11 — same fix as cow table_changes)
    include_null = (
        any("=" not in e for e in changed)
        or "__HIVE_DEFAULT_PARTITION__" in raw
        or any(p is None for p in delta_parts)
    )
    vals = sorted(
        (raw - {"__HIVE_DEFAULT_PARTITION__"})
        | {str(p) for p in delta_parts if p is not None}
    )

    def _prune(df: DataFrame) -> DataFrame:
        if pcol is None and not vals:
            # vector-only feed on a table whose data dirs never changed:
            # partition column name comes from the delta's part values'
            # owning dirs — fall back to scanning the pruned values via
            # the first data dir's column name
            return df
        col = pcol or _partition_col_name(to_dir)
        pred = F.col(col).cast("string").isin(vals) if vals else F.lit(False)
        if include_null:
            pred = pred | F.col(col).isNull()
        return df.filter(pred)

    old, new = _prune(old_all), _prune(new_all)
    return (
        new.exceptAll(old).withColumn("change_type", F.lit("insert"))
        .unionByName(old.exceptAll(new).withColumn("change_type", F.lit("delete")))
    )


def _partition_col_name(gen_dir: str) -> str:
    for e in os.listdir(gen_dir):
        if "=" in e and os.path.isdir(os.path.join(gen_dir, e)):
            return e.split("=", 1)[0]
    raise ValueError(f"{gen_dir} has no hive-partitioned data dirs")


def mor_stats(spark: SparkSession, path: str) -> dict:
    """Write-amplification telemetry: live data bytes vs accumulated
    vector bytes/rows — the numbers an operator watches to schedule
    :func:`mor_compact` (Delta's `numDeletedRows`/file-size metrics)."""
    meta, gen_dir = _resolve_gen(path, None)
    data_bytes = files = 0
    for root, dirs, fs in os.walk(gen_dir):
        if DELETES in root.split(os.sep):
            continue
        for f in fs:
            if f.endswith(".parquet"):
                data_bytes += os.path.getsize(os.path.join(root, f))
                files += 1
    vec_bytes = 0
    for d in _delete_dirs(gen_dir):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            vec_bytes += os.path.getsize(f)
    return {
        "version": meta["version"],
        "data_files": files,
        "data_bytes": data_bytes,
        "vector_bytes": vec_bytes,
        "vector_rows": CT._vector_footprint(_delete_dirs(gen_dir))[0],
    }
