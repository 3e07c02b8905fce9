"""Streaming NSW maintenance — the SEGMENT model (round 8).

The batch graph tier (operators/graph_ann.py) shards the corpus and
builds one navigable-small-world graph per shard. A STREAM cannot
extend those graphs per micro-batch without rewriting them (graph
insertion needs the whole shard in memory), so this module uses the
architecture real graph indexes stream with — the Lucene/Elasticsearch
HNSW **segment model**:

- each micro-batch builds its OWN small per-shard NSW graphs (a
  *segment*) executor-side and lands them through the idempotent
  batch-id sink (replay-safe, same protocol as every other streaming
  index here);
- a probe greedy-searches EVERY (segment, shard) graph independently
  and merges the candidates globally — search cost grows with segment
  count, which is exactly what
- compaction bounds: ``compact_batched_dir`` merges old segments and
  REBUILDS one graph over their union (the Lucene segment merge),
  folding tombstoned vectors out physically; the newest batch stays
  unmerged so a checkpoint replay's view is byte-identical
  (streaming/compaction.py contract).
- deletes are tombstones filtered AT SEARCH (the Lucene deleted-docs
  bitset): the node keeps serving as a graph waypoint until a merge
  drops it — results never include it from the next probe on.
  Tombstone deltas allocate atomically (stage + rename), same as the
  IVF tier's round-8 fix.

Cited parity: the reference has no ANN at all (SURVEY §0); this is
part of the §7 "north-star extensions" tier, the streaming sibling
required so "every index the engine offers can also be maintained by
a stream" (round-7 precedent: ivf_ingest).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators.graph_ann import (
    EF_CONSTRUCTION,
    EF_SEARCH,
    M_LINKS,
    N_SEEDS,
    N_SHARDS,
    _auto_shards,
    _greedy_search,
    _normalize_rows,
    _select_entries,
    make_shard_builder,
)
from labs_stream_processing_examples_scala_spark.session import memo_dir
from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded, write_splits
from labs_stream_processing_examples_scala_spark.streaming.compaction import (
    compact_batched_dir,
    read_batched_dir,
)
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write
from labs_stream_processing_examples_scala_spark.streaming.tombstones import (
    allocate_tombstone_delta,
    read_tombstones,
)

_SEG_SCHEMA = "seg long, part int, vec_id long, vec array<double>, nbrs array<long>"


class IncrementalNswIndex:
    """foreachBatch processor maintaining the segmented NSW index."""

    def __init__(
        self,
        workdir: str,
        n_shards: int = N_SHARDS,
        m: int = M_LINKS,
        ef_construction: int = EF_CONSTRUCTION,
        compact_every: int | None = None,
    ):
        self.seg_dir = os.path.join(workdir, "segments")
        self.workdir = workdir
        self.n_shards = n_shards
        self.m = m
        self.ef_construction = ef_construction
        self.compact_every = compact_every

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # live segments scale their shard count with the BATCH row
        # count, exactly like the merged rebuild scales with history
        # (round-14 sf10 find: a fixed 8 shards put 54k rows in one
        # per-shard graph at 430k-row micro-batches — quadratic blocked
        # build AND degraded greedy recall, 0.4 vs the 0.85 floor; the
        # count() job is noise next to the build it bounds)
        shards = max(self.n_shards, _auto_shards(batch_df.count()))
        rows = (
            batch_df.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("vec"),
                F.pmod(F.xxhash64("vec_id"), F.lit(shards)).cast("int").alias("part"),
            )
            .repartition(shards, "part")
        )
        seg_rows = rows.mapInPandas(
            make_shard_builder(self.m, self.ef_construction, seg=batch_id),
            _SEG_SCHEMA,
        )
        idempotent_write(seg_rows, self.seg_dir, batch_id)
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self.compact(batch_df.sparkSession)

    # --- deletes: tombstones filtered at search (Lucene bitset model) --

    def _tombstone_dir(self) -> str:
        return os.path.join(self.workdir, "_tombstones")

    def _tombstones(self, spark: SparkSession) -> DataFrame | None:
        return read_tombstones(spark, self._tombstone_dir())

    def delete_ids(self, spark: SparkSession, ids) -> dict:
        """Tombstone ``ids``: probes stop RETURNING them immediately;
        the nodes keep serving as graph waypoints until a segment merge
        drops them physically. Delta allocation is atomic (the shared
        protocol, streaming/tombstones.py) — two concurrent online
        deletes land in distinct slots."""
        return allocate_tombstone_delta(spark, self._tombstone_dir(), ids)

    # --- read side -----------------------------------------------------

    def segments(self, spark: SparkSession) -> DataFrame:
        return read_batched_dir(spark, self.seg_dir, schema=_SEG_SCHEMA)

    def probe(
        self,
        spark: SparkSession,
        qvec: list[float],
        query_id: int = -1,
        k: int = 10,
        ef_search: int = EF_SEARCH,
        n_seeds: int = N_SEEDS,
    ) -> DataFrame:
        """Top-k over every (segment, shard) graph: one greedy search
        per group (``applyInPandas`` — the grouping shuffle guarantees
        each search sees its WHOLE graph regardless of file-split
        layout), tombstones filtered from the RESULTS (waypoints until
        merged away), global TakeOrdered merge. Multi-seed entry per
        graph, same contract as the batch probe (round-9 task #5)."""
        q = np.asarray(qvec, dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)

        def search(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.reset_index(drop=True)
            ids = pdf["vec_id"].to_numpy()
            vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            pos = {int(v): i for i, v in enumerate(ids)}
            nbrs = [
                np.array([pos[int(x)] for x in nb if int(x) in pos], dtype=np.int64)
                for nb in pdf["nbrs"]
            ]
            vn = _normalize_rows(vecs)
            entries = _select_entries(vn, qn, n_seeds)
            found = _greedy_search(vecs, nbrs, q, ef_search, entry=entries, vn=vn)
            rows = [
                (int(ids[i]), round(s, 6)) for s, i in found if ids[i] != query_id
            ]
            return pd.DataFrame(rows, columns=["vec_id", "cos_sim"])

        cand = (
            self.segments(spark)
            .groupBy("seg", "part")
            .applyInPandas(search, "vec_id long, cos_sim double")
        )
        t = self._tombstones(spark)
        if t is not None:
            cand = cand.join(t, "vec_id", "left_anti")
        return cand.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)

    # --- maintenance ---------------------------------------------------

    def compact(self, spark: SparkSession) -> dict:
        """Segment merge: fold the mergeable batch dirs into one and
        REBUILD a single graph per shard over their union (the Lucene
        merge — search cost drops from Σ segments to one graph per
        shard), dropping tombstoned vectors physically. The newest
        batch stays out (replay contract, streaming/compaction.py);
        its tombstone filtering continues at search."""
        m, ef_c = self.m, self.ef_construction
        tomb = self._tombstones(spark)
        base_shards = self.n_shards
        persisted: list[DataFrame] = []

        def rebuild(df: DataFrame) -> DataFrame:
            vecs = df.select("vec_id", "vec").dropDuplicates(["vec_id"])
            if tomb is not None:
                vecs = vecs.join(tomb, "vec_id", "left_anti")
            # the merged segment accumulates the whole history — scale
            # its shard count with the surviving row count so the
            # per-shard blocked rebuild stays bounded (round-9 task #1;
            # live per-batch segments keep the configured fixed count).
            # persist first: the count() and the rebuild write must not
            # each re-run the dedup + anti-join over the whole history
            vecs = vecs.persist()
            persisted.append(vecs)
            n_shards = max(base_shards, _auto_shards(vecs.count()))
            routed = vecs.withColumn(
                "part",
                F.pmod(F.xxhash64("vec_id"), F.lit(n_shards)).cast("int"),
            ).repartition(n_shards, "part")
            # seg -1 = "the merged segment": batch ids are ≥ 0 so it
            # can never collide with a live segment, and successive
            # compactions re-merge it into one graph per shard
            return routed.mapInPandas(
                make_shard_builder(m, ef_c, seg=-1), _SEG_SCHEMA
            )

        try:
            return compact_batched_dir(
                spark, self.seg_dir, transform=rebuild, min_batches=2
            )
        finally:
            for df in persisted:
                df.unpersist()


def run_nsw_ingest(
    spark: SparkSession,
    embeddings_source_dir: str,
    workdir: str,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
    compact_every: int | None = None,
    n_shards: int = N_SHARDS,
) -> IncrementalNswIndex:
    """Drive a bounded ingest over a directory of embedding parquet
    files (one micro-batch per ``files_per_trigger`` files) and return
    the index for probing."""
    proc = IncrementalNswIndex(workdir, n_shards=n_shards, compact_every=compact_every)
    drive_bounded(
        spark, embeddings_source_dir, ["vec_id", "embedding"],
        proc.process_batch, os.path.join(workdir, "ckpt"),
        files_per_trigger=files_per_trigger, timeout=timeout,
        label="nsw ingest",
    )
    return proc


def nsw_incremental_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_splits: int = 3,
) -> DataFrame:
    """x_sim_nsw_incremental — registry form: ingest the fixture
    embeddings in ``n_splits`` micro-batches through the streaming
    segment path, then probe. Approximate like the batch graph tier
    (segment graphs differ from the batch build's) → rows-only with a
    machine-checked recall floor vs brute force."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    def build(work: str) -> None:
        src = os.path.join(work, "src")
        embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        write_splits(embs, "vec_id", n_splits, src)
        run_nsw_ingest(spark, src, work)

    proc = IncrementalNswIndex(memo_dir(spark, sf_dir, "nsw_ingest", (n_splits,), build))
    return proc.probe(spark, _query_embedding(spark, sf_dir, query_id), query_id, k)
