"""Streaming CDC ingestion into the snapshot-isolated SCD2 COW table.

The round-7 capstone tying two write paths together: CDC batches
(upserts + named deletes, the `op` column of a Debezium-style feed)
arrive as a stream and are MERGED — not appended — into the
directory-partitioned SCD2 target through operators/merge.merge_cow_cdc
and the generational manifest commit of operators/cow_table.py.

Exactly-once without an idempotent overwrite: a MERGE is not naturally
replay-safe (re-applying the same update batch would close and reopen
the already-updated version again), so the sink records the
LAST-APPLIED BATCH ID inside the table manifest, IN THE SAME atomic
``os.replace`` that commits the data generation — the Delta
``txn``/setTransaction idiom. On foreachBatch redelivery after a
crash/restart the recorded id says whether batch b's generation
committed:

  crash BEFORE the manifest flip → staged generation invisible,
      last_batch_id still b-1 → the replayed merge re-runs and commits
  crash AFTER the flip → last_batch_id == b → the replay is SKIPPED

Readers see old or new per the cow_table crash matrix; "data applied"
and "progress recorded" cannot diverge because they are one file
write.

Scale posture: each micro-batch pays one touched-partition-pruned
merge (cow_table's semi-join discovery + hardlinked untouched
partitions), so per-trigger work ∝ affected partitions × batch size,
never table size. Per-batch change dates default to a deterministic
function of the batch id so replays produce byte-identical versions.

Contract: ONE CDC writer per target (the same single-maintenance-
writer rule as compaction/ivf rebuild); the feed delivers at most one
op per key per batch (updates aggregated upstream; duplicate deletes
are deduped by scd2_apply_cdc).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators import cow_table as CT
from labs_stream_processing_examples_scala_spark.operators import merge as MG
from labs_stream_processing_examples_scala_spark.session import memo_dir
from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded

LAST_BATCH_KEY = "cdc_last_batch_id"


class CdcMergeSink:
    """foreachBatch processor: MERGE each CDC micro-batch into the COW
    target. Batch rows carry ``(key, new_value, op)`` with op in
    {'u','d'} ('u' rows need ``new_value``; 'd' rows ignore it)."""

    def __init__(
        self,
        target_path: str,
        key: str,
        versioned_col: str,
        partition_col: str,
        op_col: str = "op",
        value_col: str = "new_value",
        change_date_fn=None,
    ):
        self.target_path = target_path
        self.key = key
        self.versioned_col = versioned_col
        self.partition_col = partition_col
        self.op_col = op_col
        self.value_col = value_col
        # deterministic per-batch effective date → replays are
        # byte-identical; callers with real event time pass their own
        self.change_date_fn = change_date_fn or (lambda b: f"batch-{b:06d}")

    def last_batch_id(self) -> int | None:
        meta = CT.read_manifest(self.target_path)
        if meta is None:
            return None
        return meta.get(LAST_BATCH_KEY)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        last = self.last_batch_id()
        if last is not None and batch_id <= last:
            return  # this batch's generation already committed (replay)
        self._apply(batch, batch_id)

    def _updates(self, batch: DataFrame) -> DataFrame:
        return batch.filter(F.col(self.op_col) == "u").select(
            F.col(self.key).alias("u_key"), F.col(self.value_col).alias("new_val")
        )

    def _deletes(self, batch: DataFrame) -> DataFrame:
        return batch.filter(F.col(self.op_col) == "d").select(
            F.col(self.key).alias("d_key")
        )

    def _apply(self, batch: DataFrame, batch_id: int) -> None:
        updates = self._updates(batch).groupBy("u_key").agg(
            F.max("new_val").alias("new_val")
        )
        MG.merge_cow_cdc(
            batch.sparkSession,
            self.target_path,
            updates,
            self._deletes(batch),
            self.key,
            "u_key",
            "d_key",
            self.versioned_col,
            "new_val",
            self.partition_col,
            change_date=self.change_date_fn(batch_id),
            extra_meta={LAST_BATCH_KEY: batch_id},
        )

    def view(self, spark: SparkSession) -> DataFrame:
        return CT.read_cow(spark, self.target_path)


class MorCdcSink(CdcMergeSink):
    """The same CDC stream applied through the MERGE-ON-READ tier
    (operators/mor_table.mor_upsert with the delete arm): each
    micro-batch writes a deletion vector + appended version rows
    instead of rewriting touched partitions — per-trigger WRITE work
    ∝ batch size alone, where the COW sink's rewrite is ∝
    touched-partition bytes per trigger. Measured by
    ``perfbench/run.py --workload cdc_merge --trace 1`` (seed 7; 20,000
    keys in 8 partitions, 1,000 changes a batch, local[4]): MOR merges
    a batch in 1,858 ms (p50; median of 5 traced runs) with 11 Spark
    jobs, COW (``--cdc-tier cow``) in 2,138 ms (one run) with 14 jobs.
    Random keys touch every partition at that size, so COW rewrites the
    whole table per batch and still keeps pace; tools/tier_bench.py measures where the
    tiers cross as the table grows. The txn idiom is identical: the
    last-applied batch id rides the same manifest flip as the
    vector/append commit, so replay-skip and the crash matrix carry
    over unchanged. Periodic mor_compact bounds the accumulated vectors
    (operator's schedule, like compaction)."""

    def _apply(self, batch: DataFrame, batch_id: int) -> None:
        from labs_stream_processing_examples_scala_spark.operators import (
            mor_table as MT,
        )

        # the change frame reads the batch through two arms: persist it
        # so the source is scanned once, not once per arm. (The COW merge
        # does not: at 1,000-row batches each AQE cache stage of a
        # persisted batch costs more than re-scanning the file.)
        batch = batch.persist()
        try:
            # mor_upsert folds the batch to one change per key itself (an
            # update keeps its max value), so the updates go in unaggregated
            MT.mor_upsert(
                batch.sparkSession,
                self.target_path,
                self._updates(batch),
                self.key,
                "u_key",
                self.versioned_col,
                "new_val",
                self.partition_col,
                change_date=self.change_date_fn(batch_id),
                delete_keys=self._deletes(batch),
                delete_key="d_key",
                extra_meta={LAST_BATCH_KEY: batch_id},
            )
        finally:
            batch.unpersist()

    def view(self, spark: SparkSession) -> DataFrame:
        from labs_stream_processing_examples_scala_spark.operators import (
            mor_table as MT,
        )

        return MT.read_mor(spark, self.target_path)


def write_cdc_batch_file(batch: DataFrame, src_dir: str, i: int) -> str:
    """Land one CDC batch as a SINGLE flat parquet file ``b<i>.parquet``
    with a strictly increasing mtime, so the file stream source (which
    orders by modification time) delivers batch i as micro-batch i —
    the determinism the per-batch change dates and the exactly-once
    tests rely on. (Spark writes a directory; the part file is moved up
    because the file source does not recurse into non-partition
    subdirectories.)"""
    import glob
    import shutil

    tmp = os.path.join(src_dir, f".b{i}.tmp")
    batch.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(src_dir, f"b{i:06d}.parquet")
    os.replace(part, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    ts = 1_700_000_000 + i * 10
    os.utime(dst, (ts, ts))
    return dst


def run_cdc_ingest(
    spark: SparkSession,
    cdc_source_dir: str,
    target_path: str,
    key: str,
    versioned_col: str,
    partition_col: str,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
    change_date_fn=None,
    sink_cls: type[CdcMergeSink] = CdcMergeSink,
) -> CdcMergeSink:
    """Drive a bounded CDC ingest over a directory of parquet change
    files (one micro-batch per ``files_per_trigger`` files) and return
    the sink for reading/restarting. ``sink_cls`` picks the write tier
    (CdcMergeSink = copy-on-write rewrite, MorCdcSink = deletion-vector
    merge-on-read). The checkpoint lives at ``target_path + ".ckpt"``.
    A timeout with batches still pending raises TimeoutError: a
    half-merged target must not be returned as success."""
    sink = sink_cls(
        target_path, key, versioned_col, partition_col, change_date_fn=change_date_fn
    )
    drive_bounded(
        spark, cdc_source_dir, None, sink.process_batch, target_path + ".ckpt",
        files_per_trigger=files_per_trigger, timeout=timeout, label="cdc ingest",
    )
    return sink


_BATCH_DATES = ("1997-06-01", "1998-06-01", "1999-06-01")


def cdc_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_cdc_stream_ingest — registry form with an EXACT SQL oracle:
    the q67 CDC feed (per-customer new balances since 1997-06-01 as
    upserts; customers with no orders as deletes) arrives as THREE
    micro-batches split by key % 3, each applied at its own effective
    date, streamed through :class:`CdcMergeSink` into a
    mktsegment-partitioned COW SCD2 target.

    Because every key belongs to exactly ONE batch (the mod split) and
    updates/deletes are disjoint by construction (every update key has
    an order), the final table is a pure function of the inputs: each
    customer's history is one closed row at date[key % 3] (deleted),
    closed + reopened at date[key % 3] (updated), or the carried open
    epoch row — a four-branch UNION ALL in DuckDB, like q67 but with
    the batch date arithmetic inlined. The streaming machinery
    (manifest-committed batch ids, touched-partition pruning, replay
    skip) is thereby oracle-checked end to end, not just pytested.
    Memoized per session like the other streaming registry entries."""
    return _cdc_stream(spark, sf_dir, "cow")


def cdc_stream_scd2_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_cdc_stream_ingest_mor — the identical CDC stream applied
    through the MERGE-ON-READ tier (:class:`MorCdcSink`): per-batch
    deletion vectors + appended version rows instead of partition
    rewrites, base files untouched across all three triggers. The
    tiers are alternative storage strategies for one semantics, so
    the EXACT oracle is shared with x_cdc_stream_ingest — any
    divergence (a vector missing a row, an append duplicated on
    replay, the anti-join dropping too much) breaks the same hash."""
    return _cdc_stream(spark, sf_dir, "mor")


def _cdc_stream(spark: SparkSession, sf_dir: str, tier: str) -> DataFrame:
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    sink_cls = MorCdcSink if tier == "mor" else CdcMergeSink
    cols = ("c_custkey", "c_acctbal", "c_mktsegment")

    def build(work: str) -> None:
        src = os.path.join(work, "src")
        os.makedirs(src)
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
        )
        MG.scd2_init(cust).write.partitionBy("c_mktsegment").parquet(
            os.path.join(work, "target")
        )
        orders = load_table(spark, sf_dir, "orders")
        upd = (
            orders.filter(F.col("o_orderdate") >= F.lit(MG.CHANGE_DATE).cast("timestamp"))
            .groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(F.max("o_totalprice").alias("new_value"))
            .withColumn("op", F.lit("u"))
        )
        dels = (
            cust.join(
                orders.select("o_custkey"),
                F.col("c_custkey") == F.col("o_custkey"),
                "left_anti",
            )
            .select("c_custkey")
            .withColumn("new_value", F.lit(None).cast("double"))
            .withColumn("op", F.lit("d"))
        )
        feed = upd.unionByName(dels)
        for i in range(3):
            write_cdc_batch_file(
                feed.filter(F.pmod("c_custkey", F.lit(3)) == i), src, i
            )
        run_cdc_ingest(
            spark, src, os.path.join(work, "target"), *cols,
            change_date_fn=lambda b: _BATCH_DATES[b], sink_cls=sink_cls,
        )

    work = memo_dir(spark, sf_dir, "cdc_ingest", (tier,), build)
    return sink_cls(os.path.join(work, "target"), *cols).view(spark).select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 6).alias("acctbal"),
        "valid_from",
        "valid_to",
        "is_current",
    )
