"""Shared bounded-run driver for the streaming entry points.

Every bounded streaming run in this package — the incremental index and
view processors (LSH dedup, IVF / IVF-PQ / NSW ingest, the materialized
views), the CDC ingest, the corpus-ingest pipeline and the enrichment
pipeline's ``run_bounded`` — has the same shape: start an availableNow
query, wait bounded, surface errors. The wait used to be copied per
module, and the copies shared one defect: ``awaitTermination(timeout)``
returning False (batches still pending) fell through to a clean
``stop()`` and a normal return, silently handing back a PARTIALLY-built
result that the registry memoizers then served forever (self-review
finding, round 11). One wait, one timeout contract: a timeout RAISES.

Restart hygiene lives here too: every query start first clears an
offset-log write that a stop aborted before any batch was logged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _drop_aborted_first_offset(checkpoint_path: str) -> None:
    """Remove the temp file of an offset-log write that never completed
    when NO batch was ever logged. A query stopped while writing its
    first offset entry leaves only ``offsets/.0.<uuid>.tmp``; Spark 4.1
    then refuses every restart (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY:
    a query starting at batch 0 needs an empty checkpoint), so the crash
    could not be recovered. Nothing was logged, so nothing is lost."""
    offsets = os.path.join(checkpoint_path, "offsets")
    try:
        names = os.listdir(offsets)
    except FileNotFoundError:
        return  # fresh checkpoint (or not a local path)
    if any(n.isdigit() for n in names):
        return
    for n in names:
        if n.startswith(".") and n.endswith((".tmp", ".tmp.crc")):
            os.remove(os.path.join(offsets, n))


def await_bounded(q: StreamingQuery, timeout: float, label: str) -> None:
    """Wait up to ``timeout`` s for an availableNow query, then stop it.
    Raises on query failure; raises TimeoutError when batches are still
    pending — a partial result must never look like a finished one."""
    finished = q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"{label} failed: {q.exception()}")
    if not finished:
        raise TimeoutError(
            f"{label} timed out after {timeout}s with micro-batches still "
            "pending — the accumulated state is INCOMPLETE (re-run with a "
            "larger timeout; the checkpoint resumes where this run stopped)"
        )


def write_splits(frame: DataFrame, split_col: str, n_splits: int, path: str) -> None:
    """Write ``frame`` as ``n_splits`` parquet files split by
    ``split_col`` mod ``n_splits`` — a deterministic batch composition
    for a registry entry's bounded run (one file per micro-batch)."""
    frame.withColumn("split", F.pmod(F.col(split_col), F.lit(n_splits))).repartitionByRange(
        n_splits, "split"
    ).drop("split").write.mode("overwrite").parquet(path)


def drive_bounded(
    spark: SparkSession,
    source_dir: str,
    select_cols: list[str] | None,
    process_batch,
    checkpoint: str,
    files_per_trigger: int = 1,
    timeout: float = 600.0,
    label: str = "bounded incremental run",
) -> None:
    """One availableNow pass over the parquet files of ``source_dir``
    (``files_per_trigger`` files per micro-batch, ``select_cols`` or
    every column) through ``process_batch``, checkpointed at
    ``checkpoint``. Waits and raises as :func:`await_bounded`."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(source_dir)
    )
    if select_cols is not None:
        stream = stream.select(*select_cols)
    _drop_aborted_first_offset(checkpoint)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, timeout, label)
