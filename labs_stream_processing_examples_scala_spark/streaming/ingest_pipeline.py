"""Streaming corpus-ingest pipeline — the round-4 capstone composition.

The batch flagship (operators/corpus.py ``corpus_pipeline``) assembles a
training corpus in one plan; this is the ONLINE form a 100 TB ingest
actually runs: documents arrive in micro-batches and each batch flows

    decontaminate   (row-local shingle overlap vs the broadcast
                     benchmark set — stateless)
  → quality cut     (absolute threshold; the batch pipeline's per-group
                     percentile needs the whole corpus and is therefore
                     an offline re-rank, not an ingest decision — that
                     re-rank is operators/corpus.py ``quality_rerank``
                     over ``survivors()``, and ingest + re-rank is
                     pytest-proven ≡ the batch pipeline's quality stage)
  → near-dup dedup  (ONLINE GREEDY: a document is dropped iff it
                     exact-Jaccard-matches an already-KEPT document —
                     candidates from the on-disk LSH bucket index of
                     kept docs, plus in-batch pairs resolved greedily
                     in doc order)
  → resample        (deterministic hash-Bernoulli by length band —
                     order-independent, replay-stable)
  → idempotent append of survivors + their index rows

Greedy-vs-batch semantics: batch keep-first keeps only the minimum of
each near-dup COMPONENT; online greedy keeps a doc unless it matches a
kept doc directly (a chain a~b, b~c with a≁c keeps {a, c}). Greedy is
the only rule an ingest can implement without revisiting decisions;
the equivalence test's third engine is a pure-Python greedy over the
batch operator's verified pair list in arrival order.

Driver involvement is bounded IN CODE (round 8, verdict task #2): the
verified pair lists are collected only up to ``driver_resolve_cap``
rows (greedy resolution is inherently sequential in doc order, and for
the normal collision-bounded batch the driver loop is the cheap exact
path). A pathological batch — a hot bucket producing more pairs than
the cap — FAILS OVER to a fully distributed resolver with the SAME
greedy semantics: connected components (the two-star operator,
operators/dedup.py) partition the conflict graph, and each component's
sequential greedy runs executor-side in one ``cogroup.applyInPandas``
task over that component's edges + knocked-out flags. Nothing
corpus- or batch-scaled ever lands on the driver.
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
from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded
from labs_stream_processing_examples_scala_spark.streaming.incremental_dedup import (
    _ARR_SCHEMA,
    _BUCKET_SCHEMA,
    _verified_pairs,
)
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write


def _drop_docs(good: DataFrame, dropped: set[int]) -> DataFrame:
    """Remove the greedily-dropped ids via a broadcast LEFT ANTI join
    against a one-column DataFrame — not ``isin(list)``, which compiles
    every id into the plan as a literal, so a pathological batch of
    near-dups would bloat the plan and the driver instead of shipping
    the (still collision-bounded) id set as a broadcast relation. Plan
    size stays O(1) in |dropped| (tests/test_streaming.py pins it)."""
    if not dropped:
        return good
    ddf = good.sparkSession.createDataFrame(
        [(int(d),) for d in sorted(dropped)], "doc_id long"
    )
    return good.join(F.broadcast(ddf), "doc_id", "left_anti")


def _resolve_dropped_distributed(ko: DataFrame, nn_pairs: DataFrame) -> DataFrame:
    """The hot-bucket failover resolver (round 8): every dropped doc_id
    as a DataFrame, with EXACTLY the driver greedy's semantics but no
    unbounded collect.

    The greedy rule — in increasing doc order, drop iff knocked out by
    the kept index OR some smaller in-batch neighbour survived — only
    propagates along edges of the in-batch conflict graph, so it
    decomposes exactly per CONNECTED COMPONENT. Components come from
    the O(log n)-round two-star operator (operators/dedup.py); each
    component's inherently-sequential greedy then runs executor-side in
    one ``cogroup.applyInPandas`` task over that component's nodes
    (with their knockout flags) and edges. Work per task ∝ component
    size — a hot bucket makes a big TASK, never a big driver; ko docs
    outside the graph union in at the end (their drop is unconditional
    and affects no neighbour).
    """
    from labs_stream_processing_examples_scala_spark.operators.dedup import (
        connected_components_twostar,
    )

    comp = connected_components_twostar(nn_pairs)  # (doc_id, rep_id)
    nodes = comp.join(
        ko.select(F.col("doc_a").alias("doc_id"), F.lit(True).alias("ko")),
        "doc_id",
        "left",
    ).select("rep_id", "doc_id", F.coalesce("ko", F.lit(False)).alias("ko"))
    # distinct key name on the edge side: both frames derive from
    # ``comp``, and cogroup's analyzer treats same-name keys from the
    # same lineage as an ambiguous self-join
    edges = nn_pairs.join(
        comp.select(F.col("doc_id").alias("doc_a"), F.col("rep_id").alias("erep")),
        "doc_a",
    ).select("erep", "doc_a", "doc_b")

    def resolve(nodes_pdf, edges_pdf):
        import pandas as pd

        ko_flag = dict(zip(nodes_pdf["doc_id"], nodes_pdf["ko"]))
        smaller: dict[int, list[int]] = {}
        for a, b in zip(edges_pdf["doc_a"], edges_pdf["doc_b"]):
            smaller.setdefault(b, []).append(a)
        dropped = {d for d, k in ko_flag.items() if k}
        for d in sorted(ko_flag):
            if d in dropped:
                continue
            if any(s not in dropped for s in smaller.get(d, ())):
                dropped.add(d)
        return pd.DataFrame({"doc_id": sorted(dropped)}, dtype="int64")

    in_graph = (
        nodes.groupBy("rep_id")
        .cogroup(edges.groupBy("erep"))
        .applyInPandas(resolve, "doc_id long")
    )
    return in_graph.union(ko.select(F.col("doc_a").alias("doc_id"))).distinct()


class StreamingIngestPipeline:
    """foreachBatch processor for the online corpus-assembly pipeline."""

    def __init__(
        self,
        workdir: str,
        bench_shingles: list[int] | None = None,
        quality_min: float = 0.0,
        threshold: float = 0.5,
        driver_resolve_cap: int = 20_000,
    ):
        self.arrays_dir = os.path.join(workdir, "kept_arrays")
        self.buckets_dir = os.path.join(workdir, "kept_buckets")
        self.kept_dir = os.path.join(workdir, "kept_docs")
        self.bench_shingles = bench_shingles or []
        self.quality_min = quality_min
        self.threshold = threshold
        # max verified-pair/knockout rows the driver greedy may collect;
        # past it the batch resolves distributed (module docstring)
        self.driver_resolve_cap = driver_resolve_cap

    def _read_index(self, spark: SparkSession, path: str, schema: str, before: int) -> DataFrame:
        # empty only when the index genuinely has no batches yet; a real
        # read failure propagates (same contract as incremental_dedup).
        # Compaction-aware: a compacted (even mid-swap-interrupted)
        # index reads identically (streaming/compaction.py).
        from labs_stream_processing_examples_scala_spark.streaming.compaction import read_batched_dir

        return read_batched_dir(spark, path, schema=schema, before_batch=before)

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        from labs_stream_processing_examples_scala_spark.functions.text import _quality_parts

        spark = docs.sparkSession

        # 1) decontaminate + 2) quality cut — row-local, stateless
        arrs_all = shingle_arrays_of(docs)
        bench = F.lit(self.bench_shingles).cast("array<bigint>")
        clean_ids = arrs_all.filter(
            ~F.arrays_overlap("shs", bench) | (F.size("shs") == 0)
        ).select("doc_id")
        _, _, _, score = _quality_parts()
        good = (
            docs.join(clean_ids, "doc_id")
            .withColumn("quality", score)
            .filter(F.col("quality") >= self.quality_min)
        )

        new_arrs = shingle_arrays_of(good.select("doc_id", "text")).filter(F.col("sz") > 0).persist()
        ko_df = nn_pairs = None
        try:
            new_buckets = banded_of(minhash_of(new_arrs))
            kept_arrs = self._read_index(spark, self.arrays_dir, _ARR_SCHEMA, batch_id)
            kept_buckets = self._read_index(spark, self.buckets_dir, _BUCKET_SCHEMA, batch_id)

            # 3a) drop new docs matching an already-kept doc
            cand_ko = (
                new_buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
                .join(
                    kept_buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
                    ["band", "bucket"],
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
            vs_kept = _verified_pairs(cand_ko, new_arrs, kept_arrs, self.threshold)
            # persist both verify outputs: each is read 2-3× (the
            # limit-probe, then the resolver's nodes/edges/union) and
            # the exact-Jaccard verify join is the batch's most
            # expensive plan — exactly what a hot-bucket failover batch
            # must not recompute (round-8 review finding)
            ko_df = vs_kept.select("doc_a").distinct().persist()

            # 3b) in-batch pairs, resolved greedily in doc order
            cand_nn = (
                new_buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
                .join(new_buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket"), ["band", "bucket"])
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
                .distinct()
            )
            nn_pairs = _verified_pairs(cand_nn, new_arrs, new_arrs, self.threshold).persist()

            # bounded driver fast path: collect at most cap+1 rows of
            # each — within the cap, limit() returns the COMPLETE sets
            # and the sequential greedy runs here (∝ in-batch
            # collisions); past it, nothing more is pulled and the
            # same-semantics distributed resolver takes the batch
            cap = self.driver_resolve_cap
            ko_rows = ko_df.limit(cap + 1).collect()
            nn_rows = nn_pairs.limit(cap + 1).collect()
            if len(ko_rows) <= cap and len(nn_rows) <= cap:
                dropped = {r.doc_a for r in ko_rows}
                by_doc: dict[int, list[int]] = {}
                for r in nn_rows:
                    by_doc.setdefault(r.doc_b, []).append(r.doc_a)
                for doc in sorted(by_doc):
                    if doc in dropped:
                        continue
                    if any(smaller not in dropped for smaller in by_doc[doc]):
                        dropped.add(doc)
                survivors = _drop_docs(good, dropped)
            else:
                dropped_df = _resolve_dropped_distributed(ko_df, nn_pairs)
                survivors = good.join(dropped_df, "doc_id", "left_anti")

            # 4) deterministic length-band resample — recorded as a
            # FLAG on every dedup survivor, not a delete: the offline
            # quality re-rank (operators/corpus.py quality_rerank)
            # needs percentiles over the FULL survivor population (a
            # percentile over the resampled subset would be biased by
            # the length bands), while kept() serves only sampled rows
            from labs_stream_processing_examples_scala_spark.operators.sampling import (
                RESAMPLE_SALT,
                _bucket,
                band_keep_pct,
            )

            # the SAME salt + band fold as importance_resample and the
            # batch pipeline's stage 4: the ingest ≡ batch equivalence
            # test depends on the three making identical keep decisions
            pct = band_keep_pct()

            # 5) idempotent append: kept docs + index rows of ALL
            # dedup-survivors (resample losers still index — they were
            # kept by the dedup rule, and future dups of them must drop)
            surv_ids = survivors.select("doc_id")
            idempotent_write(
                survivors.select(
                    "doc_id",
                    "lang",
                    "source",
                    "n_chars",
                    "quality",
                    (_bucket(F.col("doc_id"), RESAMPLE_SALT) < pct).alias("sampled"),
                ),
                self.kept_dir,
                batch_id,
            )
            idempotent_write(new_arrs.join(surv_ids, "doc_id"), self.arrays_dir, batch_id)
            idempotent_write(new_buckets.join(surv_ids, "doc_id"), self.buckets_dir, batch_id)
        finally:
            new_arrs.unpersist()
            for df in (ko_df, nn_pairs):
                if df is not None:
                    df.unpersist()

    def survivors(self, spark: SparkSession) -> DataFrame:
        """Every dedup survivor, with its quality score and the
        deterministic ``sampled`` resample flag — the population the
        offline quality re-rank runs over."""
        from labs_stream_processing_examples_scala_spark.streaming.compaction import read_batched_dir

        return read_batched_dir(spark, self.kept_dir)

    def kept(self, spark: SparkSession) -> DataFrame:
        """The assembled corpus: dedup survivors that also passed the
        length-band resample."""
        return self.survivors(spark).filter("sampled").drop("sampled")


def run_ingest(
    spark: SparkSession,
    docs_source_dir: str,
    workdir: str,
    bench_shingles: list[int],
    quality_min: float = 0.0,
    threshold: float = 0.5,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
) -> StreamingIngestPipeline:
    """Drive a bounded ingest over a directory of document parquet files
    and return the pipeline for reading. Raises TimeoutError if batches
    are still pending at ``timeout``."""
    proc = StreamingIngestPipeline(
        workdir, bench_shingles=bench_shingles, quality_min=quality_min, threshold=threshold
    )
    drive_bounded(
        spark, docs_source_dir, None, proc.process_batch, os.path.join(workdir, "ckpt"),
        files_per_trigger=files_per_trigger, timeout=timeout, label="ingest pipeline",
    )
    return proc
