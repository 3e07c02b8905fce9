"""Round-11 self-review regressions on the incremental/streaming tier:
polymorphic view finalization, the bounded-driver timeout contract,
IVF-PQ probe top-k, diverged-tombstone rebuild refusal, and the
retired-version sweep."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_view_as_of_works_for_heavy_hitters_subclass(spark, tmp_path):
    """view_as_of used isinstance dispatch that fell back to the base
    class's vsum/vmin/vmax projection for the heavy-hitters subclass —
    AnalysisException on a schema that has no such columns. It must go
    through the processor's own _finalize."""
    import labs_stream_processing_examples_scala_spark.streaming.materialized_view as MV

    proc = MV.IncrementalHeavyHittersView(str(tmp_path / "hh"))
    docs0 = spark.createDataFrame([("a a a b",), ("a c",)], "text string")
    docs1 = spark.createDataFrame([("b b d",)], "text string")
    proc.process_batch(docs0, 0)
    proc.process_batch(docs1, 1)
    asof0 = {r.token: r.est for r in MV.view_as_of(proc, spark, 0).collect()}
    assert asof0.get("a") == 4, asof0
    assert "d" not in asof0, "batch 1 tokens must not appear as of batch 0"
    full = {r.token: r.est for r in proc.view(spark).collect()}
    asof1 = {r.token: r.est for r in MV.view_as_of(proc, spark, 1).collect()}
    assert asof1 == full


def test_drive_bounded_timeout_raises(spark, tmp_path):
    """awaitTermination returning False (batches pending) used to fall
    through to a clean stop + normal return, silently serving a
    partially-built index. A timeout must RAISE."""
    from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded

    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame([(i, float(i))], "k long, v double").coalesce(
            1
        ).write.mode("append").parquet(src)

    def slow_batch(df, batch_id):
        df.count()
        time.sleep(3.0)

    with pytest.raises(TimeoutError, match="INCOMPLETE"):
        drive_bounded(
            spark, src, ["k", "v"], slow_batch, str(tmp_path / "work" / "ckpt"),
            files_per_trigger=1, timeout=2.0, label="slow test run",
        )


def test_run_ingest_timeout_raises(spark, tmp_path):
    """run_ingest used to return its pipeline after a timed-out wait as
    if the corpus were complete; it now shares drive_bounded's
    wait-and-raise contract."""
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ingest_pipeline import run_ingest

    src = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "documents").limit(20).coalesce(1).write.parquet(src)
    with pytest.raises(TimeoutError, match="INCOMPLETE"):
        run_ingest(spark, src, str(tmp_path / "work"), bench_shingles=[], timeout=0.01)


def test_run_bounded_timeout_raises(spark, tmp_path):
    """StreamingEnrichmentPipeline.run_bounded returned silently on a
    timed-out wait; it now raises like every other bounded run."""
    from labs_stream_processing_examples_scala_spark.streaming.pipeline import (
        StreamingEnrichmentPipeline,
    )
    from labs_stream_processing_examples_scala_spark.streaming.sources import (
        events_message_stream,
    )

    pipe = StreamingEnrichmentPipeline(
        str(tmp_path / "out"), str(tmp_path / "dlq"), str(tmp_path / "ckpt")
    )
    with pytest.raises(TimeoutError, match="INCOMPLETE"):
        pipe.run_bounded(events_message_stream(spark, SF_SMOKE), timeout=0.01)


def test_ivfpq_probe_returns_k_without_rerank_source(spark, tmp_path):
    """probe(k, rerank>k, rerank_source=None) used to return `rerank`
    rows — the widened ADC shortlist — violating the top-k contract."""
    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        _seed_centroids,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfPqIndex,
    )

    seeds = _seed_centroids(spark, SF_SMOKE, 8)
    cb, _ = QZ.pq_train(spark, SF_SMOKE, n_iter=1)
    proc = IncrementalIvfPqIndex(str(tmp_path / "pq"), seeds, cb)
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    proc.process_batch(embs, 0)
    qvec = _query_embedding(spark, SF_SMOKE, 0)
    got = proc.probe(spark, qvec, 0, k=5, nprobe=4, rerank=50).collect()
    assert len(got) == 5


def test_rebuild_from_raw_refuses_diverged_tombstones(spark, tmp_path):
    """Equal row COUNTS with different tombstoned ids must be refused:
    the re-encode would resurrect the code tier's deleted id and drop
    the raw tier's — and the post-rebuild tombstone clear would make
    the resurrection permanent. The old count-only validation passed."""
    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _seed_centroids,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfIndex,
        IncrementalIvfPqIndex,
    )

    seeds = _seed_centroids(spark, SF_SMOKE, 8)
    cb, _ = QZ.pq_train(spark, SF_SMOKE, n_iter=1)
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    raw = IncrementalIvfIndex(str(tmp_path / "raw"), seeds)
    proc = IncrementalIvfPqIndex(str(tmp_path / "pq"), seeds, cb)
    raw.process_batch(embs, 0)
    proc.process_batch(embs, 0)
    ids = [r.vec_id for r in embs.select("vec_id").orderBy("vec_id").limit(2).collect()]
    raw.delete_ids(spark, [ids[0]])
    proc.delete_ids(spark, [ids[1]])
    # counts agree (N-1 on both tiers) — only the id SETS diverge
    assert raw.index(spark).count() == proc.index(spark).count()
    with pytest.raises(ValueError, match="disagree on vec_ids"):
        proc.rebuild_from_raw(spark, raw, n_iter=1)


def test_rebuild_sweeps_orphaned_version_dirs(spark, tmp_path):
    """A crash between a past rebuild's manifest swap and its rmtree
    orphaned that version dir forever (the next rebuild removed only
    the immediate predecessor). The sweep retires EVERY non-live
    version."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _seed_centroids,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfIndex,
    )

    seeds = _seed_centroids(spark, SF_SMOKE, 8)
    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    raw = IncrementalIvfIndex(str(tmp_path / "raw"), seeds)
    raw.process_batch(embs, 0)
    # a stale retired dir from a crashed past rebuild
    orphan = str(tmp_path / "raw" / "ivf_cells_v7")
    os.makedirs(orphan)
    n_before = raw.index(spark).count()
    raw.rebuild(spark, seeds)
    dirs = sorted(
        d for d in os.listdir(str(tmp_path / "raw")) if d.startswith("ivf_cells")
    )
    assert dirs == ["ivf_cells_v1"], dirs
    assert raw.index(spark).count() == n_before
