"""sf1 anchor for the streaming index-maintenance tier (round-12
verdict task #4 — the only tier whose numbers stopped at sf0.1).

Drives the three incremental index processors over the synthesized sf1
corpus (tools/sf1_bench.py's /tmp/sf1_bench_data — ~600k lineitem rows,
20k vectors, 20k docs) through their real bounded-stream harness
(streaming/bounded.drive_bounded: availableNow, maxFilesPerTrigger=1),
recording per-micro-batch wall, final index footprint, and
probe-after-ingest quality:

- incremental IVF ingest  (streaming/ivf_ingest.IncrementalIvfIndex)
  probe floor: identity vs the batch ivf_topk over the same corpus
  (frozen seed centroids + same scoring — the registry's 1.0 claim)
- incremental NSW ingest  (streaming/nsw_ingest.IncrementalNswIndex)
  probe floor: 0.85 recall@10 vs brute force (the graph tier's floor)
- incremental LSH dedup   (streaming/incremental_dedup.IncrementalLshDedup)
  equivalence: accumulated pair set ≡ batch lsh_candidate_pairs
  (exceptAll both ways — the same claim the sf0.01 oracle pins)

Per-batch walls are the super-linear-growth detector the verdict asked
for: with compact_every=2 the ingest cost per batch should stay flat-
ish (∝ batch rows + touched cells), not grow with the accumulated
index.

Usage:
  python tools/ingest_bench.py [--splits 8] [--json INGEST_SF1_rN.json]
                               [--sf-dir /tmp/sf1_bench_data]

Synthesizes the sf1 corpus first if missing (sf1_bench.synthesize).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _dir_bytes(path: str, exclude: tuple[str, ...] = ("src", "ckpt")) -> int:
    """Index footprint: everything under the workdir EXCEPT the
    source-split parquet and the stream checkpoint (both live under the
    same tmp root but are harness artifacts, not index state)."""
    total = 0
    for root, dirs, files in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in exclude]
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _timed_batches(proc):
    """Wrap proc.process_batch with a per-batch wall recorder."""
    walls: list[float] = []
    orig = proc.process_batch

    def timed(df, batch_id):
        t0 = time.perf_counter()
        orig(df, batch_id)
        walls.append(round(time.perf_counter() - t0, 2))

    proc.process_batch = timed
    return walls


def _split_source(spark, df, work: str, splits: int, key: str) -> str:
    """Write df into `splits` parquet files (deterministic composition
    by key mod) so drive_bounded sees one file per micro-batch."""
    src = os.path.join(work, "src")
    (
        df.withColumn("_split", F.pmod(F.col(key), F.lit(splits)))
        .repartitionByRange(splits, "_split")
        .drop("_split")
        .write.mode("overwrite")
        .parquet(src)
    )
    return src


def bench_ivf(spark, sf_dir: str, splits: int, timeout: float = 1800.0) -> dict:
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        _seed_centroids,
        ivf_topk,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded
    from labs_stream_processing_examples_scala_spark.streaming.ivf_ingest import (
        IncrementalIvfIndex,
    )

    work = tempfile.mkdtemp(prefix="ingest_bench_ivf_")
    try:
        embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = embs.count()
        src = _split_source(spark, embs, work, splits, "vec_id")
        cents = _seed_centroids(spark, sf_dir, 16)
        proc = IncrementalIvfIndex(work, cents, compact_every=2)
        walls = _timed_batches(proc)
        t0 = time.perf_counter()
        drive_bounded(
            spark, src, ["vec_id", "embedding"], proc.process_batch, os.path.join(work, "ckpt"),
            files_per_trigger=1, timeout=timeout, label="ivf ingest",
        )
        ingest_s = time.perf_counter() - t0
        qvec = _query_embedding(spark, sf_dir, 0)
        t0 = time.perf_counter()
        got = {r.vec_id for r in proc.probe(spark, qvec, 0, 10, 4).collect()}
        probe_s = time.perf_counter() - t0
        batch = [r.vec_id for r in ivf_topk(spark, sf_dir).collect()]
        recall = len(set(batch) & got) / max(len(batch), 1)
        return {
            "rows": n,
            "batches": len(walls),
            "batch_walls_s": walls,
            "ingest_wall_s": round(ingest_s, 2),
            "rows_per_sec": round(n / ingest_s),
            "index_bytes": _dir_bytes(work),
            "probe_s": round(probe_s, 2),
            "recall_vs_batch_ivf": round(recall, 3),
            "recall_floor": 1.0,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_nsw(spark, sf_dir: str, splits: int, timeout: float = 1800.0) -> dict:
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _query_embedding,
        brute_force_topk,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded
    from labs_stream_processing_examples_scala_spark.streaming.nsw_ingest import (
        IncrementalNswIndex,
    )

    work = tempfile.mkdtemp(prefix="ingest_bench_nsw_")
    try:
        embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = embs.count()
        src = _split_source(spark, embs, work, splits, "vec_id")
        proc = IncrementalNswIndex(work, compact_every=2)
        walls = _timed_batches(proc)
        t0 = time.perf_counter()
        drive_bounded(
            spark, src, ["vec_id", "embedding"], proc.process_batch, os.path.join(work, "ckpt"),
            files_per_trigger=1, timeout=timeout, label="nsw ingest",
        )
        ingest_s = time.perf_counter() - t0
        qvec = _query_embedding(spark, sf_dir, 0)
        t0 = time.perf_counter()
        got = proc.probe(spark, qvec, 0, 10).collect()
        probe_s = time.perf_counter() - t0
        brute = brute_force_topk(spark, sf_dir).collect()
        # tie-robust recall@10 (ann-benchmarks convention): a returned
        # item counts iff its similarity reaches the true k-th-best.
        # The synthesized scale corpora replicate base vectors (sf10:
        # ×1500), so EVERY top-k is a vec_id tie among exact copies —
        # id-intersection "recall" measured which copies the search
        # happened to visit, not answer quality (r14 find: 0.7 by ids,
        # every returned sim = 1.0).
        kth = min(r.cos_sim for r in brute) if brute else 0.0
        recall = sum(1 for r in got if r.cos_sim >= kth - 1e-9) / max(len(brute), 1)
        return {
            "rows": n,
            "batches": len(walls),
            "batch_walls_s": walls,
            "ingest_wall_s": round(ingest_s, 2),
            "rows_per_sec": round(n / ingest_s),
            "index_bytes": _dir_bytes(work),
            "probe_s": round(probe_s, 2),
            "recall_vs_brute": round(recall, 3),
            "recall_metric": "sim-threshold (tie-robust, ann-benchmarks convention)",
            "recall_floor": 0.85,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_dedup(spark, sf_dir: str, splits: int, timeout: float = 1800.0) -> dict:
    from labs_stream_processing_examples_scala_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table
    from labs_stream_processing_examples_scala_spark.streaming.bounded import drive_bounded
    from labs_stream_processing_examples_scala_spark.streaming.incremental_dedup import (
        IncrementalLshDedup,
    )

    work = tempfile.mkdtemp(prefix="ingest_bench_dedup_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        src = _split_source(spark, docs, work, splits, "doc_id")
        proc = IncrementalLshDedup(work, threshold=0.5, compact_every=2)
        walls = _timed_batches(proc)
        t0 = time.perf_counter()
        drive_bounded(
            spark, src, ["doc_id", "text"], proc.process_batch, os.path.join(work, "ckpt"),
            files_per_trigger=1, timeout=timeout, label="dedup ingest",
        )
        ingest_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inc = proc.pairs(spark)
        inc_n = inc.count()
        probe_s = time.perf_counter() - t0
        batch = lsh_candidate_pairs(spark, sf_dir, threshold=0.5).select("doc_a", "doc_b")
        only_inc = inc.select("doc_a", "doc_b").exceptAll(batch).count()
        only_batch = batch.exceptAll(inc.select("doc_a", "doc_b")).count()
        return {
            "rows": n,
            "batches": len(walls),
            "batch_walls_s": walls,
            "ingest_wall_s": round(ingest_s, 2),
            "rows_per_sec": round(n / ingest_s),
            "index_bytes": _dir_bytes(work),
            "pairs_wall_s": round(probe_s, 2),
            "pairs": inc_n,
            "pairs_only_incremental": only_inc,
            "pairs_only_batch": only_batch,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1_bench_data")
    ap.add_argument("--splits", type=int, default=8)
    ap.add_argument("--json", default=None)
    # sf10 drives 150x the sf1 vector rows through the same bounded
    # harness; the per-drive timeout must scale with the corpus
    ap.add_argument("--timeout", type=float, default=1800.0)
    ap.add_argument("--only", default=None, help="comma list of tiers: ivf,nsw,lsh_dedup")
    args = ap.parse_args()

    import bench as benchmod
    from tools import sf1_bench

    from labs_stream_processing_examples_scala_spark import get_spark

    spark = get_spark(app_name="ingest-bench")
    if not os.path.isdir(args.sf_dir):
        if args.sf_dir != sf1_bench.DST:
            raise SystemExit(f"{args.sf_dir} missing and not the sf1 default")
        sf1_bench.synthesize(spark, sf1_bench.DST, sf1_bench.REPLICAS)

    calib_start = benchmod._calibrate()
    start_job_ms = benchmod._job_probe_ms(spark)
    scale = os.path.basename(args.sf_dir.rstrip("/")).replace("_bench_data", "")
    record = {
        "metric": f"incremental_index_ingest_{scale}",
        "sf_dir": args.sf_dir,
        "splits": args.splits,
        **{
            name: fn(spark, args.sf_dir, args.splits, args.timeout)
            for name, fn in (
                ("ivf", bench_ivf),
                ("nsw", bench_nsw),
                ("lsh_dedup", bench_dedup),
            )
            if args.only is None or name in args.only.split(",")
        },
    }
    calib_end = benchmod._calibrate()
    record["calibration"] = {
        "start_py_ms": calib_start["calib_py_ms"],
        "start_np_ms": calib_start["calib_np_ms"],
        "start_mt_ms": calib_start["calib_mt_ms"],
        "end_py_ms": calib_end["calib_py_ms"],
        "end_np_ms": calib_end["calib_np_ms"],
        "end_mt_ms": calib_end["calib_mt_ms"],
        "start_job_ms": start_job_ms,
        "end_job_ms": benchmod._job_probe_ms(spark),
    }
    if args.json:
        Path(args.json).write_text(json.dumps(record, indent=1))
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001 — cleanup must not eat the record
        print(f"bench cleanup failed (record intact): {e}", file=sys.stderr)
    print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
