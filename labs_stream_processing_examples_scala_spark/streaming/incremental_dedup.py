"""Incremental MinHash-LSH near-dup detection — dedup at INGEST time.

The batch operator (operators/dedup.py lsh_candidate_pairs) answers
"which near-dup pairs exist in this corpus"; a 100 TB training-data
pipeline instead asks, per ingest increment, "which of these NEW
documents near-duplicate anything seen so far". This module maintains
an on-disk LSH index (two parquet dirs: per-doc shingle arrays and
(band, bucket) postings) and processes document micro-batches through
``foreachBatch``:

1. fold the new batch to shingle sets → MinHash signatures → band
   buckets (all zero-shuffle projections, same code as batch);
2. bucket-join new postings against the accumulated index (candidates
   ∝ collisions — never new×old cross product) plus the in-batch
   self-join, exact-Jaccard verified row-locally on the arrays;
3. append the verified pairs and the new docs' index rows, each
   through the per-batchId idempotent sink (replay-safe).

Every pair is discovered exactly once — when its LATER document
arrives — so the union over batches equals the batch operator's
output exactly (equivalence-tested).

Scale: the index is bucket-keyed parquet; at 100 TB it would be
written partitioned by bucket prefix so the bucket-join prunes files.
State lives OUTSIDE the streaming state store on purpose: signature
state for billions of documents belongs in a table, not in per-query
RocksDB. The stream itself stays stateless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators.dedup import (
    banded_of,
    minhash_of,
    shingle_arrays_of,
)
from labs_stream_processing_examples_scala_spark.session import memo_dir
from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded, write_splits
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write

_ARR_SCHEMA = "doc_id long, shs array<bigint>, sz int"
_BUCKET_SCHEMA = "doc_id long, band int, bucket bigint"


def _verified_pairs(cand: DataFrame, arrs_a: DataFrame, arrs_b: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify candidates (doc_a < doc_b) against the two
    array sides — row-local array_intersect, cost ∝ candidates."""
    a = arrs_a.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa"), F.col("sz").alias("sz_a"))
    b = arrs_b.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb"), F.col("sz").alias("sz_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("jaccard", F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


class IncrementalLshDedup:
    """foreachBatch processor: maintains the index dirs and emits the
    near-dup pairs each micro-batch introduces."""

    def __init__(self, workdir: str, threshold: float = 0.5, compact_every: int | None = None):
        self.arrays_dir = os.path.join(workdir, "index_arrays")
        self.buckets_dir = os.path.join(workdir, "index_buckets")
        self.pairs_dir = os.path.join(workdir, "pairs")
        self.threshold = threshold
        self.compact_every = compact_every

    def _read_or_empty(
        self, spark: SparkSession, path: str, schema: str, before_batch: int | None = None
    ) -> DataFrame:
        """Read the accumulated index; with ``before_batch``, only rows
        indexed by batches < that id — so a REPLAYED batch joins against
        the index exactly as it stood on the original attempt, making
        replay output byte-deterministic (and the per-batchId overwrite
        therefore a true no-op).

        Empty ONLY when the index genuinely has no batches yet; a real
        read failure — permissions, corrupt parquet — propagates instead
        of silently dropping near-dup pairs. Delegates to the
        compaction-aware reader, so an index that has been compacted
        (streaming/compaction.py) — even one interrupted mid-swap —
        reads identically."""
        from labs_stream_processing_examples_scala_spark.streaming.compaction import read_batched_dir

        return read_batched_dir(spark, path, schema=schema, before_batch=before_batch)

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        spark = docs.sparkSession
        new_arrs = shingle_arrays_of(docs).filter(F.col("sz") > 0).persist()
        # persist the banded frame too: it feeds BOTH sides of the
        # in-batch self-join, the new-vs-index join, and the bucket
        # write — unpersisted, the 16-perm MinHash fold re-executed
        # ~4x per micro-batch (the exact pitfall dedup.lsh_rep_frames
        # documents for the batch path; r11 review)
        new_buckets = banded_of(minhash_of(new_arrs)).persist()
        try:
            old_arrs = self._read_or_empty(spark, self.arrays_dir, _ARR_SCHEMA, before_batch=batch_id)
            old_buckets = self._read_or_empty(spark, self.buckets_dir, _BUCKET_SCHEMA, before_batch=batch_id)

            # candidates ∝ bucket collisions: new-vs-index + in-batch.
            # Orientation (doc_a < doc_b) holds for BOTH directions of a
            # new/old collision, so a new doc with a smaller id than an
            # indexed one still yields one correctly-oriented pair.
            #
            # Round 15 (r14 verdict task #9): the verify stage was the
            # dominant, GROWING leg of the micro-batch (sf1 profile,
            # LSH_PROFILE_r15.json: verify 17.1 s of 44.6 total legs,
            # rising with the accumulated candidate count) because the
            # old form joined candidates against old∪new arrays TWICE —
            # the growing array table crossed the shuffle twice per
            # batch. Every candidate has ≥1 NEW endpoint, so split by
            # class: new-vs-old pairs broadcast the (micro-batch-sized)
            # new arrays and shuffle the accumulated table ONCE; in-batch
            # pairs verify entirely against broadcasts, no shuffle. The
            # two classes are disjoint (one has an old endpoint, the
            # other none), so per-class distinct == the old
            # union-then-distinct, and the union of their verified
            # outputs is row-identical (jaccard is symmetric; the
            # (least, greatest) orientation is applied the same way).
            no = (
                new_buckets.select(F.col("doc_id").alias("n"), "band", "bucket")
                .join(old_buckets.select(F.col("doc_id").alias("o"), "band", "bucket"), ["band", "bucket"])
                .filter(F.col("n") != F.col("o"))
                .select("n", "o")
                .distinct()
            )
            nn = (
                new_buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
                .join(new_buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket"), ["band", "bucket"])
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
            bn = F.broadcast(new_arrs)
            no_pairs = (
                no.join(
                    bn.select(F.col("doc_id").alias("n"), F.col("shs").alias("sn"), F.col("sz").alias("sz_n")),
                    "n",
                )
                .join(
                    old_arrs.select(F.col("doc_id").alias("o"), F.col("shs").alias("so"), F.col("sz").alias("sz_o")),
                    "o",
                )
                .withColumn("n_inter", F.size(F.array_intersect("sn", "so")))
                .withColumn("jaccard", F.col("n_inter") / (F.col("sz_n") + F.col("sz_o") - F.col("n_inter")))
                .filter(F.col("jaccard") >= self.threshold)
                .select(
                    F.least("n", "o").alias("doc_a"),
                    F.greatest("n", "o").alias("doc_b"),
                    "jaccard",
                )
            )
            nn_pairs = _verified_pairs(nn, bn, bn, self.threshold)
            pairs = no_pairs.union(nn_pairs)

            idempotent_write(pairs, self.pairs_dir, batch_id)
            idempotent_write(new_arrs, self.arrays_dir, batch_id)
            idempotent_write(new_buckets, self.buckets_dir, batch_id)
            self._maybe_compact(spark, batch_id)
        finally:
            new_arrs.unpersist()
            new_buckets.unpersist()

    def _maybe_compact(self, spark: SparkSession, batch_id: int) -> None:
        """Online maintenance: every ``compact_every`` batches, merge
        the index/pairs directories below the current batch
        (streaming/compaction.py). Runs after this batch's writes,
        serially within foreachBatch; keep_latest leaves the current
        batch untouched, so a redelivery of it still sees its exact
        as-of index view — and a redelivery re-triggering this call is
        a no-op (everything below is already one directory)."""
        if self.compact_every and batch_id % self.compact_every == self.compact_every - 1:
            from labs_stream_processing_examples_scala_spark.streaming.compaction import compact_batched_dir

            for d in (self.arrays_dir, self.buckets_dir, self.pairs_dir):
                compact_batched_dir(spark, d)

    def pairs(self, spark: SparkSession) -> DataFrame:
        return self._read_or_empty(spark, self.pairs_dir, "doc_a long, doc_b long, jaccard double")


def run_incremental(
    spark: SparkSession,
    docs_source_dir: str,
    workdir: str,
    threshold: float = 0.5,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
    compact_every: int | None = None,
) -> IncrementalLshDedup:
    """Drive a bounded incremental run over a directory of document
    parquet files (one micro-batch per ``files_per_trigger`` files) and
    return the processor for result inspection."""
    proc = IncrementalLshDedup(workdir, threshold=threshold, compact_every=compact_every)
    drive_bounded(
        spark, docs_source_dir, ["doc_id", "text"], proc.process_batch,
        os.path.join(workdir, "ckpt"),
        files_per_trigger=files_per_trigger, timeout=timeout,
        label="incremental dedup",
    )
    return proc


def incremental_lsh_pairs(
    spark: SparkSession, sf_dir: str, n_splits: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Registry form: ingest the fixture corpus in ``n_splits``
    micro-batches through the incremental path and return the
    accumulated pair set — oracle-identical to the batch
    ``lsh_candidate_pairs`` (same SQL oracle), which is the equivalence
    claim stated in the module docstring.

    The on-disk index lives in a session-scoped temp workdir: memoized
    per (session, sf_dir, params) so repeated registry/bench runs reuse
    one index instead of building a new one each call, and removed at
    interpreter exit (the returned DataFrame reads from it lazily, so
    it must outlive the call)."""
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    def build(work: str) -> None:
        src = os.path.join(work, "src")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        write_splits(docs, "doc_id", n_splits, src)
        run_incremental(spark, src, work, threshold=threshold)

    work = memo_dir(spark, sf_dir, "incr_dedup", (n_splits, threshold), build)
    return IncrementalLshDedup(work, threshold=threshold).pairs(spark)
