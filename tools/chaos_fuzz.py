"""Crash-schedule fuzzing for streaming exactly-once (round-13 verdict
task #5).

The compaction crash-window matrix and the producer/consumer hammers
are FIXED-POINT tests; this tool generates seeded RANDOM kill/restart
schedules over the full broker topology — fqueue source → enrichment
(+deterministic chaos failures) → idempotent main/DLQ dual sink — and
asserts the delivery-ledger invariants after every recovery:

- **no loss**: every published record (by unique value) appears in
  main ∪ DLQ after the final drain;
- **no duplication**: each appears EXACTLY once across both sinks
  (at-least-once replay + per-batch-id overwrite = exactly-once
  output, the reference's K1 contract);
- **DLQ-then-ack**: poison rows (key=NULL) land in a sink instead of
  killing the query, and the stream keeps progressing past them
  (reference R5/K3);
- **competing mode**: with two group members splitting the queue, the
  UNION of both members' sinks holds each record exactly once.

A schedule interleaves random actions: publish waves (sometimes with
poison lines), timed consumer runs killed at random offsets (sleep
U(0.15, 1.6) s then stop — batch barriers and mid-batch/mid-sink
windows both land, depending where the clock falls), competing-member
crashes with same-id restarts (claim re-adoption), broker retention
(sync group ACK + purge) mid-schedule. A final drain
(processAllAvailable) closes every schedule before the ledger check.

Usage:
  python tools/chaos_fuzz.py [--seed 140] [--schedules 50]
                             [--json CHAOS.json] [--repro I]

Exit 0 iff every schedule's invariants hold. Any violation prints its
(seed, schedule index, action log) repro handle.
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _messages(stream_df):
    return stream_df.select(
        F.col("key").cast("long").alias("id"), F.col("value")
    )


class _Consumer:
    """One pipeline instance: fqueue reader (linear or competing) →
    enrichment(+chaos) → main/DLQ sinks, restartable from its own
    checkpoint."""

    def __init__(self, spark, qdir: str, work: str, tag: str, consumer: str | None,
                 rows_per_batch: int):
        from labs_stream_processing_examples_scala_spark.streaming.pipeline import (
            StreamingEnrichmentPipeline,
        )

        self.spark = spark
        self.qdir = qdir
        self.consumer = consumer
        self.rows_per_batch = rows_per_batch
        self.out = f"{work}/{tag}/out"
        self.dlq = f"{work}/{tag}/dlq"
        self.ckpt = f"{work}/{tag}/ckpt"
        self.pipe = StreamingEnrichmentPipeline(
            output_path=self.out,
            dlq_path=self.dlq,
            checkpoint_path=self.ckpt,
            chaos=True,
        )
        self.query = None

    def _source(self):
        r = (
            self.spark.readStream.format("fqueue")
            .option("path", self.qdir)
            .option("rows_per_batch", self.rows_per_batch)
        )
        if self.consumer is not None:
            r = r.option("consumer", self.consumer)
        return _messages(r.load())

    def start(self):
        self.query = self.pipe.start(self._source())
        return self.query

    def kill_after(self, delay_s: float):
        """The crash: run for ``delay_s`` then stop wherever the clock
        lands — barrier, mid-batch, or mid-sink."""
        if self.query is None:
            self.start()
        time.sleep(delay_s)
        self.query.stop()
        self.query.awaitTermination(60)
        self.query = None

    def drain(self):
        if self.query is None:
            self.start()
        self.query.processAllAvailable()
        self.query.stop()
        self.query.awaitTermination(60)
        exc = self.query.exception()
        self.query = None
        if exc is not None:
            raise RuntimeError(f"final drain failed: {exc}")

    def rows(self):
        import glob

        got = []
        for path in (self.out, self.dlq):
            if glob.glob(path + "/_batch_id=*"):
                df = self.pipe.output(self.spark) if path == self.out else self.pipe.dlq(self.spark)
                got += [(r["id"], r["value"]) for r in df.select("id", "value").collect()]
        return got


def run_schedule(spark, seed: int, idx: int) -> dict:
    from labs_stream_processing_examples_scala_spark.sources import queue_source as QS

    rng = random.Random((seed << 16) ^ idx)
    work = tempfile.mkdtemp(prefix=f"chaos_{idx}_")
    qdir = f"{work}/q"
    competing = rng.random() < 0.4
    rows_per_batch = rng.choice([100, 200, 400])
    log: list[str] = []
    published: list[str] = []  # unique values, the ledger
    poison_vals: list[str] = []
    n_wave = 0

    def publish_wave():
        nonlocal n_wave
        n = rng.randint(150, 600)
        base = len(published)
        recs = [(str(base + i), f"chaos-{seed}-{idx}-{base + i}") for i in range(n)]
        QS.publish(qdir, recs)
        published.extend(v for _, v in recs)
        if rng.random() < 0.5:
            bad = [f"poison!!{seed}.{idx}.{n_wave}.{j}" for j in range(rng.randint(1, 3))]
            QS.publish_poison(qdir, bad)
            poison_vals.extend(bad)
        n_wave += 1
        log.append(f"publish n={n} poison={len(poison_vals)}")

    try:
        if competing:
            consumers = [
                _Consumer(spark, qdir, work, f"c{j}", f"worker-{j}", rows_per_batch)
                for j in range(2)
            ]
        else:
            consumers = [_Consumer(spark, qdir, work, "c0", None, rows_per_batch)]

        publish_wave()
        n_actions = rng.randint(3, 7)
        for _ in range(n_actions):
            act = rng.choices(
                ["kill_restart", "publish", "crash_one", "retention"],
                weights=[5, 3, 3 if competing else 0, 2 if not competing else 0],
            )[0]
            if act == "publish":
                publish_wave()
            elif act == "kill_restart":
                c = rng.choice(consumers)
                delay = rng.uniform(0.15, 1.6)
                c.kill_after(delay)
                log.append(f"kill {c.consumer or 'linear'} after {delay:.2f}s")
            elif act == "crash_one":
                c = rng.choice(consumers)
                delay = rng.uniform(0.1, 0.9)
                c.kill_after(delay)
                log.append(f"crash {c.consumer} after {delay:.2f}s (same-id restart later)")
            elif act == "retention":
                # broker retention mid-schedule: ACK from the engine
                # checkpoint, purge fully-acked segments, keep going
                try:
                    QS.sync_group_offset(qdir, "default", consumers[0].ckpt)
                    purged = QS.purge_acked(qdir, "default")
                    log.append(f"retention purged={purged}")
                except (FileNotFoundError, ValueError):
                    log.append("retention skipped (no commits yet)")
        # final recovery: every consumer drains to empty
        for c in consumers:
            c.drain()
        # one more wave + drain: the queue must still be live after all
        # the crashes (DLQ-then-ack kept the stream progressing)
        publish_wave()
        for c in consumers:
            c.drain()

        got = [r for c in consumers for r in c.rows()]
        by_val: dict[str, int] = {}
        for _id, v in got:
            by_val[v] = by_val.get(v, 0) + 1
        expect = set(published) | set(poison_vals)
        missing = sorted(v for v in expect if v not in by_val)[:5]
        dups = sorted(v for v, c in by_val.items() if c > 1)[:5]
        unexpected = sorted(v for v in by_val if v not in expect)[:5]
        ok = not missing and not dups and not unexpected
        return {
            "seed": seed,
            "index": idx,
            "mode": "competing" if competing else "linear",
            "rows_per_batch": rows_per_batch,
            "published": len(published),
            "poison": len(poison_vals),
            "delivered": len(by_val),
            "ok": ok,
            "missing": missing,
            "dups": dups,
            "unexpected": unexpected,
            "log": log,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=140)
    ap.add_argument("--schedules", type=int, default=50)
    ap.add_argument("--json", default=None)
    ap.add_argument("--repro", type=int, default=None)
    args = ap.parse_args()

    from labs_stream_processing_examples_scala_spark import get_spark
    from labs_stream_processing_examples_scala_spark.sources import queue_source as QS

    t0 = time.time()
    spark = get_spark(app_name="chaos-fuzz")
    QS.register(spark)
    results = []
    for i in range(args.schedules):
        if args.repro is not None and i != args.repro:
            continue
        try:
            r = run_schedule(spark, args.seed, i)
        except Exception as exc:  # noqa: BLE001 — a schedule crash IS a violation
            r = {"seed": args.seed, "index": i, "ok": False, "error": str(exc)[:500]}
        results.append(r)
        status = "ok" if r["ok"] else "VIOLATION"
        print(
            f"schedule {i}: {status} ({r.get('mode')}, "
            f"published={r.get('published')}, poison={r.get('poison')})",
            file=sys.stderr,
        )
    violations = [r for r in results if not r["ok"]]
    record = {
        "metric": "chaos_crash_schedule_fuzz",
        "seed": args.seed,
        "schedules": len(results),
        "violations_n": len(violations),
        "violations": violations[:10],
        "modes": {
            m: sum(1 for r in results if r.get("mode") == m)
            for m in ("linear", "competing")
        },
        "published_total": sum(r.get("published", 0) for r in results),
        "elapsed_s": round(time.time() - t0, 1),
    }
    if args.json:
        Path(args.json).write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("seed", "schedules", "violations_n", "modes", "published_total", "elapsed_s")}))
    spark.stop()
    return 0 if not violations else 1


if __name__ == "__main__":
    sys.exit(main())
