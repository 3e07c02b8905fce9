"""Incrementally-maintained aggregate view — a streaming materialized
view over the idempotent-sink infrastructure.

A grouped aggregate (count/sum/min/max/avg per key) is the MV shape
every monitoring/reporting consumer asks of an ingest stream. Keeping
it in streaming state (`groupBy().agg()` in update mode) couples the
aggregate's lifetime to one query's checkpoint; this module instead
maintains it as a TABLE of mergeable partials — the same
state-outside-the-stream-store posture as the incremental dedup index
(streaming/incremental_dedup.py docstring):

  write side: each micro-batch folds to ONE partial row per key
      (count, sum, min, max — all mergeable; avg is derived at read
      time as sum/count, never stored, so merging stays exact) and
      lands it through the per-batchId idempotent sink. Replay
      overwrites the same delta directory — a no-op in content.
  read side: the view is `deltas.groupBy(keys).agg(merge)` — a
      key-cardinality aggregation over (n_batches × n_keys) partial
      rows, via the compaction-aware reader.
  maintenance: every ``compact_every`` batches the delta directories
      below the current batch collapse ROWS, not just files —
      compact_batched_dir's ``transform`` hook re-merges partials, so
      the steady-state table holds ~n_keys rows regardless of how many
      triggers have fired. keep_latest preserves the replay window
      exactly as the dedup index does.

Equivalence contract (tested): after any prefix of micro-batches, the
view equals the plain batch `groupBy().agg()` over the rows ingested
so far — including across replays and mid-compaction crashes.

Scale: per-trigger work is one map-side-combined aggregation of the
batch; the view read is ∝ keys; nothing ever rescans ingested history
(that is the difference from re-running the batch aggregate, and the
whole point of a materialized view).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.session import memo_dir
from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded, write_splits
from labs_stream_processing_examples_scala_spark.streaming.compaction import (
    compact_batched_dir,
    read_batched_dir,
)
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write


class IncrementalAggView:
    """foreachBatch processor maintaining (key → count/sum/min/max)
    partials under ``workdir/deltas``; ``view()`` serves the merged
    aggregate with a derived avg."""

    def __init__(
        self,
        workdir: str,
        key_cols: list[str],
        key_schema: str,
        value_col: str,
        compact_every: int | None = None,
    ):
        self.deltas_dir = os.path.join(workdir, "deltas")
        self.key_cols = list(key_cols)
        self.value_col = value_col
        # full delta schema, for an empty read before the first batch
        self.delta_schema = (
            f"{key_schema}, cnt long, vsum double, vmin double, vmax double"
        )
        self.compact_every = compact_every

    def _partials(self, df: DataFrame) -> DataFrame:
        v = F.col(self.value_col).cast("double")
        return df.groupBy(*self.key_cols).agg(
            F.count("*").alias("cnt"),
            F.sum(v).alias("vsum"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        idempotent_write(self._partials(df), self.deltas_dir, batch_id)
        if self.compact_every and batch_id % self.compact_every == self.compact_every - 1:
            # collapse rows, not just files: partials re-merge under the
            # transform hook; keep_latest preserves the replay window
            compact_batched_dir(
                df.sparkSession,
                self.deltas_dir,
                transform=self._merge_partials,
            )

    def _merge_partials(self, deltas: DataFrame) -> DataFrame:
        return deltas.groupBy(*self.key_cols).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )

    def _finalize(self, merged: DataFrame) -> DataFrame:
        """Merged partials → the served view. Polymorphic on purpose:
        view() AND view_as_of() both go through it, so a subclass with
        a different partial schema finalizes correctly in both (the
        old isinstance dispatch in view_as_of crashed for the
        heavy-hitters subclass — self-review finding, round 11)."""
        return merged.select(
            *self.key_cols,
            F.col("cnt").alias("n"),
            F.round("vsum", 6).alias("sum_v"),
            F.round("vmin", 6).alias("min_v"),
            F.round("vmax", 6).alias("max_v"),
            F.round(F.col("vsum") / F.col("cnt"), 6).alias("avg_v"),
        )

    def view(self, spark: SparkSession) -> DataFrame:
        deltas = read_batched_dir(spark, self.deltas_dir, self.delta_schema)
        return self._finalize(self._merge_partials(deltas))


def run_incremental_view(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    key_cols: list[str],
    key_schema: str,
    value_col: str,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
    compact_every: int | None = None,
) -> IncrementalAggView:
    """Drive a bounded incremental run over a directory of parquet
    files (one micro-batch per ``files_per_trigger`` files) and return
    the processor for view inspection."""
    proc = IncrementalAggView(
        workdir, key_cols, key_schema, value_col, compact_every=compact_every
    )
    drive_bounded(
        spark, source_dir, [*key_cols, value_col], proc.process_batch,
        os.path.join(workdir, "ckpt"),
        files_per_trigger=files_per_trigger, timeout=timeout,
        label="incremental view",
    )
    return proc


# --- registry form ----------------------------------------------------

def _mv_entry_view(
    spark, sf_dir, name, n_splits, table, split_col, select_cols, make_proc, label
) -> DataFrame:
    """Shared registry-entry drive — ``table``'s ``split_col`` and
    ``select_cols`` split ``n_splits`` ways into a session temp
    workdir, driven bounded through ``make_proc(workdir)`` once per
    (session, sf_dir, n_splits), and served as that processor's view
    (round-12 self-review: the three MV entries carried near-identical
    copies of this block)."""
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    def build(work: str) -> None:
        src = os.path.join(work, "src")
        frame = load_table(spark, sf_dir, table).select(split_col, *select_cols)
        write_splits(frame, split_col, n_splits, src)
        proc = make_proc(work)
        drive_bounded(
            spark, src, select_cols, proc.process_batch, os.path.join(work, "ckpt"), label=label
        )

    return make_proc(memo_dir(spark, sf_dir, name, (n_splits,), build)).view(spark)


def incremental_event_stats(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """x_mv_event_stats — the events table ingested in ``n_splits``
    micro-batches through the incremental view, with a row-collapsing
    compaction that REALLY FIRES at batch 3 (round-12 self-review:
    with 3 splits the only compact_every=2 trigger was batch 1, where
    keep_latest left a single eligible dir below min_batches — the
    oracle gate never executed the advertised compaction path); the
    served view must equal the batch GROUP BY over the whole table —
    which is exactly its SQL oracle.

    Temp-workdir lifecycle mirrors incremental_lsh_pairs: memoized per
    (session, params), removed at interpreter exit."""
    return _mv_entry_view(
        spark, sf_dir, "incr_mv", n_splits, "events", "event_id", ["event_type", "value"],
        lambda w: IncrementalAggView(
            w, ["event_type"], "event_type string", "value", compact_every=2
        ),
        label="incremental view",
    )


def event_stats_oracle_sql() -> str:
    """The MV's claim: identical to the batch aggregate over events."""
    return """
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 6) AS sum_v,
               round(min(value), 6) AS min_v,
               round(max(value), 6) AS max_v,
               round(sum(value) / count(*), 6) AS avg_v
        FROM events
    GROUP BY event_type
    """


# --- sketch-partial variant: streaming distinct-count view ------------


class IncrementalDistinctView(IncrementalAggView):
    """The MV with a SKETCH partial: per-key approximate distinct count
    of ``value_col`` via DataSketches HLL (operators/sketches.py) —
    per batch one binary sketch per key (KBs), merged by union at read
    time and at compaction. The canonical streaming cardinality
    monitor (distinct users per event type, distinct documents per
    source) with state ∝ keys × sketch size, NEVER ∝ distinct values.

    Approximate → rows-only in the driver gate; tolerance-tested
    against the exact distinct count (the sketches.py discipline).
    """

    LG_K = 14  # ≈0.8% relative error

    def __init__(self, workdir, key_cols, key_schema, value_col, compact_every=None):
        super().__init__(workdir, key_cols, key_schema, value_col, compact_every)
        self.delta_schema = f"{key_schema}, sk binary"

    def _partials(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.key_cols).agg(
            F.hll_sketch_agg(self.value_col, F.lit(self.LG_K)).alias("sk")
        )

    def _merge_partials(self, deltas: DataFrame) -> DataFrame:
        return deltas.groupBy(*self.key_cols).agg(
            F.hll_union_agg("sk").alias("sk")
        )

    def _finalize(self, merged: DataFrame) -> DataFrame:
        return merged.select(
            *self.key_cols,
            F.hll_sketch_estimate("sk").cast("long").alias("approx_distinct"),
        )


def incremental_distinct_users(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """x_mv_distinct_users — distinct user_id per event_type maintained
    incrementally over ``n_splits`` micro-batches with a sketch-merging
    compaction that fires at batch 3 (4 splits for the same reason as
    incremental_event_stats). Rows-only (sketch internals are engine-specific);
    tolerance vs exact distinct in tests/test_materialized_view.py."""
    return _mv_entry_view(
        spark, sf_dir, "incr_mvd", n_splits, "events", "event_id", ["event_type", "user_id"],
        lambda w: IncrementalDistinctView(
            w, ["event_type"], "event_type string", "user_id", compact_every=2
        ),
        label="incremental distinct view",
    )


# --- time travel ------------------------------------------------------
#
# The idempotent sink's batch-id directories double as snapshots: the
# view "as of batch k" is the merge of deltas with _batch_id ≤ k —
# the same mechanism the replay path uses (read_batched_dir's
# before_batch), exposed as a first-class reader. This is the
# table-format time-travel feature (Delta VERSION AS OF) implemented
# on plain parquet: each micro-batch commit IS a version, and because
# partials are mergeable, any prefix of versions serves a consistent
# aggregate. Compaction preserves it only at or below the compaction
# horizon's granularity: merged spans carry their MAX source id, so
# as-of reads BETWEEN compacted ids resolve to the span's end — the
# documented trade of collapsing history (same as VACUUM).


def view_as_of(proc: IncrementalAggView, spark: SparkSession, batch_id: int) -> DataFrame:
    """The aggregate view as of the end of ``batch_id`` (inclusive).
    Finalization is the processor's own ``_finalize`` — the old
    isinstance dispatch selected the base class's vsum/vmin/vmax
    projection for any subclass it didn't know, crashing for the
    heavy-hitters view (self-review finding, round 11)."""
    deltas = read_batched_dir(
        spark, proc.deltas_dir, proc.delta_schema, before_batch=batch_id + 1
    )
    return proc._finalize(proc._merge_partials(deltas))


# --- sketch-partial variant 2: streaming heavy hitters ----------------


class IncrementalHeavyHittersView(IncrementalAggView):
    """Streaming frequent tokens with bounded error — the Misra-Gries
    summaries of operators/frequency.py maintained as MV deltas.

    Per batch: each partition folds its documents through a K-counter
    MG summary (the SAME _misra_gries_partition), and the summary rows
    (≤ K×partitions, plus per-partition exact totals) ARE the delta.
    Summaries merge by plain per-token summation ("Mergeable
    Summaries", PODS 2012): the undercount stays ≤ N/K after any
    merge sequence, so the served view carries a per-token guarantee

        est ≤ true_count ≤ est + max_undercount,  max_undercount = ⌈N/K⌉

    and every token with true count > 2·N/K is guaranteed present.
    Unlike the batch operator (frequency.heavy_hitters) there is no
    exact-verify pass — that would rescan ingested history, the thing
    an incremental view exists to avoid — so this is the approximate
    complement: bounded-error counts with state ∝ K×partitions×batches
    (collapsed to ∝ tokens-in-summaries by the transform compaction),
    tolerance-tested against exact counts of the ingested corpus.
    """

    def __init__(self, workdir: str, compact_every: int | None = None):
        super().__init__(workdir, ["token"], "token string", "text", compact_every)
        self.delta_schema = "token string, cnt long, kind string"

    def _partials(self, df: DataFrame) -> DataFrame:
        from labs_stream_processing_examples_scala_spark.operators.frequency import (
            _misra_gries_partition,
        )

        return df.select("text").mapInArrow(
            _misra_gries_partition, schema=self.delta_schema
        )

    def _merge_partials(self, deltas: DataFrame) -> DataFrame:
        return deltas.groupBy("token", "kind").agg(F.sum("cnt").alias("cnt")).select(
            "token", "cnt", "kind"
        )

    def _finalize(self, merged: DataFrame) -> DataFrame:
        from labs_stream_processing_examples_scala_spark.operators.frequency import (
            K_COUNTERS,
        )

        totals = merged.filter(F.col("kind") == "total").agg(
            F.sum("cnt").alias("n_total")
        )
        bound = F.ceil(F.col("n_total") / F.lit(K_COUNTERS)).cast("long")
        return (
            merged.filter(F.col("kind") == "tok")
            .crossJoin(F.broadcast(totals))  # one row
            .select(
                "token",
                F.col("cnt").alias("est"),
                bound.alias("max_undercount"),
            )
        )


def incremental_heavy_tokens(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """x_mv_heavy_tokens — the streaming heavy-hitters view over the
    documents table ingested in ``n_splits`` micro-batches (with a
    summary-merging compaction). Rows-only (bounded-error estimates);
    the error-bound contract is pinned by
    tests/test_materialized_view.py."""
    return _mv_entry_view(
        spark, sf_dir, "incr_mvh", n_splits, "documents", "doc_id", ["text"],
        lambda w: IncrementalHeavyHittersView(w, compact_every=2),
        label="incremental heavy-hitters view",
    )
