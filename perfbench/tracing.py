"""Traced runs: spans around the calls into each layer, per-batch
progress legs and job counts, all kept in memory and written out once
at the end of the run.

Spans are recorded from the benchmark's side of each layer boundary:
``publish`` (sources.queue_source), the sink's ``on_write`` hook
(streaming.sinks), a timing subclass of ``MorCdcSink.process_batch``
(streaming.cdc_ingest), the ``read_mor`` read-back (operators.mor_table)
and the traced-only scan and projection passes. Spans of one
micro-batch carry its batch id.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from labs_stream_processing_examples_scala_spark.sources import queue_source as QS


class Tracer:
    """In-memory span and progress recorder. Disabled, every method is
    a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._listener = None

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans.append({
                    "name": name,
                    "batch": batch,
                    "start_ms": (start - self.t0) * 1e3,
                    "end_ms": (end - self.t0) * 1e3,
                    **attrs,
                })

    def measured(self, name: str) -> list[dict]:
        """Spans named ``name``, except those of micro-batch 0: the first
        batch of every measured query is its warm-up lap."""
        with self._lock:
            return [s for s in self.spans if s["name"] == name and s["batch"] != 0]

    def durations_ms(self, name: str) -> list[float]:
        return [s["end_ms"] - s["start_ms"] for s in self.measured(name)]

    # --- streaming progress -------------------------------------------

    def listen(self, spark) -> None:
        """Collect every StreamingQueryProgress of the session."""
        if not self.enabled:
            return
        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def unlisten(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def batches_of(self, run_id: str) -> list[dict]:
        with self._lock:
            rows = [p for p in self.progress if p["runId"] == run_id and p["numInputRows"] > 0]
        return sorted(rows, key=lambda p: p["batchId"])

    def wait_progress(self, run_id: str, n_batches: int, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive asynchronously on the listener bus;
        wait until the query's ``n_batches`` data batches are in."""
        deadline = time.monotonic() + timeout
        while True:
            rows = self.batches_of(run_id)
            if len(rows) >= n_batches or time.monotonic() > deadline:
                return rows
            time.sleep(0.05)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans, "progress": self.progress}, f, indent=1)


def group_jobs(spark, group: str) -> int:
    """Jobs Spark's status tracker holds for one job group (a streaming
    query runs all its jobs in the group named by its run id)."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def current_group(spark) -> str | None:
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


# --- traced fqueue source: counts polls --------------------------------


class PolledQueueSource(QS.QueueDataSource):
    """``format("fqueue_polled")``: the fqueue source with every
    ``latestOffset`` call logged (duration, and whether it found new
    data) to the file named by ``.option("poll_log", ...)``. The reader
    runs in Spark's Python source process, so the log is a file."""

    @classmethod
    def name(cls) -> str:
        return "fqueue_polled"

    def streamReader(self, schema):
        return _PolledReader(self.options)


class _PolledReader(QS.QueueStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self._poll_log = options["poll_log"]

    def latestOffset(self) -> dict:
        before = self._pos
        t = time.perf_counter()
        off = super().latestOffset()
        ms = (time.perf_counter() - t) * 1e3
        empty = before is not None and (off["seg"], off["row"]) == tuple(before)
        with open(self._poll_log, "a", encoding="ascii") as f:
            f.write(f"{ms:.4f} {int(empty)}\n")
        return off


def read_poll_log(path: str) -> list[tuple[float, bool]]:
    try:
        with open(path, encoding="ascii") as f:
            return [(float(a), b == "1") for a, b in (ln.split() for ln in f)]
    except FileNotFoundError:
        return []
