"""Round-11 self-review regressions on the relational/temporal/
frequency operator files: as-of torn rows, range-join bucket grain,
date-spine coverage, reserved-name guards, summary-cache reuse."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators import temporal as T
from tests.conftest import SF_SMOKE


def test_asof_join_carries_matched_row_as_a_unit(spark):
    """merge_asof semantics: the matched right row's NULLs come back as
    NULLs. The old per-column last(ignorenulls) resurrected a stale
    value from an OLDER right row whenever the matched row held NULL in
    one carried column (torn rows)."""
    ts = datetime.datetime
    left = spark.createDataFrame(
        [(1, ts(2020, 1, 1, 0, 0, 3))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, ts(2020, 1, 1, 0, 0, 1), 5, 7),
            (1, ts(2020, 1, 1, 0, 0, 2), 9, None),
        ],
        "k long, rts timestamp, a long, b long",
    )
    out = T.asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", right_cols=["a", "b"]
    ).collect()
    assert len(out) == 1
    assert out[0].asof_a == 9
    assert out[0].asof_b is None, "matched row's NULL must not resurrect b=7"


def test_asof_and_range_join_reject_reserved_columns(spark):
    ts = datetime.datetime
    left = spark.createDataFrame(
        [(1, ts(2020, 1, 1), 0)], "k long, ts timestamp, _side long"
    )
    right = spark.createDataFrame([(1, ts(2020, 1, 1), 1)], "k long, rts timestamp, v long")
    with pytest.raises(ValueError, match="_side"):
        T.asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts", right_cols=["v"])
    lb = spark.createDataFrame(
        [(ts(2020, 1, 1), 1)], "ts timestamp, _bucket long"
    )
    rb = spark.createDataFrame([(ts(2020, 1, 1),)], "rts timestamp")
    with pytest.raises(ValueError, match="_bucket"):
        T.range_join(
            lb, rb, "ts", "rts",
            lower=F.expr("INTERVAL -1 DAYS"), upper=F.expr("INTERVAL 1 DAYS"),
        )


def test_bucket_seconds_accepts_uppercase_plurals(spark):
    assert T._bucket_seconds("2 HOURS") == 7200
    assert T._bucket_seconds("7 Days") == 7 * 86400
    assert T._bucket_seconds("15 minutes") == 900


def test_range_join_multiday_bucket_honors_grain(spark):
    """A '7 days' bucket must explode ~window/bucket + 2 copies per
    left row, not one per DAY (the old path silently bucketed any
    'N days' grain at 1-day width: 61 copies for a +/-30-day window
    instead of ~11)."""
    ts = datetime.datetime
    left = spark.createDataFrame([(ts(2020, 6, 15),)], "ts timestamp")
    right = spark.createDataFrame(
        [(ts(2020, 6, d),) for d in range(1, 29)], "rts timestamp"
    )
    lower, upper = F.expr("INTERVAL -30 DAYS"), F.expr("INTERVAL 30 DAYS")
    out = T.range_join(left, right, "ts", "rts", lower, upper, bucket="7 days")
    assert out.count() == 28  # correctness unchanged
    # the exploded copy count is the grain contract: 60d window / 7d
    # bucket + 2 = ~11, nowhere near the 61 of the 1-day fallback
    secs = T._bucket_seconds("7 days")
    lb = F.floor(F.unix_timestamp(F.col("ts") + lower) / secs)
    ub = F.floor(F.unix_timestamp(F.col("ts") + upper) / secs)
    n_copies = left.select((ub - lb + 1).alias("n")).collect()
    assert n_copies[0].n <= 11, n_copies


def test_date_spine_covers_every_fixture_order(spark):
    """The spine used to start at 1992-01 and stop at 1998-12 while the
    fixture orders run 1995-01..2001-08 — the gap-fill silently dropped
    ~40% of real orders and reported 36 phantom zero months."""
    import __spark_entry__ as E
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    df = E.queries()["q61_date_spine"](spark, SF_SMOKE)
    total = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n_orders for r in df.collect()) == total


def test_heavy_hitters_summary_cache_reuses_one_persist(spark):
    """heavy_hitters used to persist a fresh pass-1 summary frame per
    call and never unpersist — session-lifetime cache accumulation. The
    bounded session cache serves ONE frame per (session, sf_dir)."""
    from labs_stream_processing_examples_scala_spark.operators import frequency as FR
    from labs_stream_processing_examples_scala_spark.session import cache_info

    FR.heavy_hitters(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    first = cache_info("mg_summaries")
    FR.heavy_hitters(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    second = cache_info("mg_summaries")
    assert second.keys == first.keys, "second call must reuse the cached summary"
    assert (second.hits, second.misses) == (first.hits + 1, first.misses)


def test_heavy_hitters_fresh_after_invalidate(spark, tmp_path):
    """invalidate(dir) must drop EVERY session cache built from the dir.
    The pass-1 summary was once missed: its persisted frame kept the old
    candidates, Spark's cache manager served it to the rebuilt plan, and
    heavy_hitters over rewritten documents returned []. The file is
    written with pyarrow so no Spark write refreshes the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from labs_stream_processing_examples_scala_spark.operators import frequency as FR
    from labs_stream_processing_examples_scala_spark.session import invalidate

    def write_docs(heavy: str, light: str) -> None:
        texts = [f"{heavy} {heavy} {heavy}"] * 50 + [light] * 50
        pq.write_table(
            pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
            str(tmp_path / "documents.parquet"),
        )

    def hitters() -> list[tuple]:
        return sorted(tuple(r) for r in FR.heavy_hitters(spark, str(tmp_path)).collect())

    write_docs("apple", "banana")
    assert hitters() == [("apple", 150, 20), ("banana", 50, 20)]
    write_docs("cherry", "date")
    invalidate(str(tmp_path))
    try:
        assert hitters() == [("cherry", 150, 20), ("date", 50, 20)]
    finally:
        invalidate(str(tmp_path))
