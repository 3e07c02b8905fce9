"""Heavy hitters over token streams — bounded-memory frequent items.

Vocabulary-style exact counting (functions/text.py vocab_topk) shuffles
every distinct token; at 100 TB the token shuffle IS the job. The
classic fix is a two-pass frequent-items scheme (Misra-Gries 1982,
merged per Agarwal et al., "Mergeable Summaries", PODS 2012):

  pass 1 (candidates): each input partition folds its tokens through a
      Misra-Gries summary of K_COUNTERS counters — O(K) memory, one
      sequential scan, NO shuffle. Guarantee: a token whose partition
      count exceeds n_p/K survives in that partition's summary, so any
      token with GLOBAL count > N/K survives in ≥1 summary (if it fell
      below n_p/K in every partition, summing gives global ≤ N/K).
      The union of summaries is therefore a guaranteed superset of the
      true heavy hitters for any threshold > N/K, with size ≤ K ×
      n_partitions regardless of vocabulary size.
  pass 2 (exact verify): explode tokens again (narrow), semi-join the
      broadcast candidate set (narrow filter), and exact-count ONLY the
      survivors — the shuffle carries candidates, not the vocabulary.

Because pass 2 is exact and pass 1 is a provable superset, the final
answer equals plain "GROUP BY token HAVING count >= threshold" — so
this approximate-technique operator still carries an EXACT DuckDB
oracle (threshold = max(HH_FLOOR, ceil(HH_FRAC × N)) with HH_FRAC
chosen so threshold > N/K_COUNTERS always holds: N/K ≤ N/8192 <
0.0005·N for any N).

The Misra-Gries fold runs in Python (mapInArrow, Arrow-batched,
accumulating across the partition's batches) — justified because the
summary is inherently sequential per partition and its output is K
rows, not data; tokens never cross the Python boundary row-at-a-time
in the exact pass, which stays pure Catalyst.

The fold itself is VECTORIZED (round-5 verdict #2): each Arrow batch
is tokenized and counted at C speed (str.split/explode/value_counts),
and only the batch's DISTINCT-token count table is folded into the
summary via the mergeable-summaries merge (Agarwal et al. PODS 2012):
add matching counts, then if the union exceeds K counters subtract the
(K+1)-th largest count from all and drop the non-positive. Each
subtraction of `sub` removes ≥ sub×(K+1) token mass, so the total
undercount per partition stays ≤ n_p/(K+1) < n_p/K — the same superset
guarantee as the per-token decrement, at per-distinct-token-per-batch
cost instead of per-token (measured 9.9 s → see BASELINE.md sf1 spot).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:  # only for the _misra_gries_partition signature
    import pyarrow as pa
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.session import memo
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

K_COUNTERS = 8192  # per-partition Misra-Gries capacity
HH_FRAC = 0.0005   # threshold as a fraction of total tokens…
HH_FLOOR = 20      # …but never below this absolute count

# superset guarantee: threshold ≥ HH_FRAC·N > N/K_COUNTERS
assert HH_FRAC > 1.0 / K_COUNTERS


def _misra_gries_partition(batches) -> Iterator["pa.RecordBatch"]:
    """Fold one partition's documents through a Misra-Gries summary.

    Arrow-native (``mapInArrow``): consumes ``pyarrow.RecordBatch``es
    whose single column is ``text``. Emits ≤K candidate rows
    (kind='tok') plus one kind='total' row carrying the partition's
    exact token count, so the caller can compute N without a second
    scan. Per batch: tokenize + count entirely in Arrow C kernels
    (split_pattern/list_flatten/value_counts — measured 8× over pandas
    str ops, and mapInArrow skips the Arrow↔pandas conversion that
    dominated the mapInPandas form: pass 1 at sf1 3.0 s → 0.5 s), then
    one O(distinct) merge into the K-bounded summary (module docstring
    — the PODS-2012 mergeable-summaries step).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    counters: dict[str, int] = {}
    n_tokens = 0
    for rb in batches:
        toks = pc.list_flatten(pc.split_pattern(rb.column(0), " "))
        toks = pc.filter(toks, pc.not_equal(toks, ""))
        n_tokens += len(toks)
        vc = pc.value_counts(toks)
        for tok, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
            counters[tok] = counters.get(tok, 0) + c
        if len(counters) > K_COUNTERS:
            vals = np.fromiter(counters.values(), dtype=np.int64, count=len(counters))
            # (K+1)-th largest = (n-K-1)-th smallest; subtracting it
            # from every counter and dropping ≤0 keeps ≤K survivors
            sub = int(np.partition(vals, vals.size - K_COUNTERS - 1)[vals.size - K_COUNTERS - 1])
            counters = {t: c - sub for t, c in counters.items() if c > sub}
    yield pa.RecordBatch.from_pydict(
        {
            "token": list(counters.keys()) + [""],
            "cnt": list(counters.values()) + [n_tokens],
            "kind": ["tok"] * len(counters) + ["total"],
        }
    )


def _summaries_cached(spark: SparkSession, sf_dir: str, docs: "DataFrame") -> "DataFrame":
    """Pass-1 Misra-Gries summaries, persisted + eagerly materialized
    ONCE per (session, sf_dir). The frame is tiny (≤ K×partitions
    rows) but feeds two consumers plus the threshold subquery —
    unpersisted, both subtrees race to compute the cache and the
    Python fold runs twice (measured 2× at sf1). The session-bounded
    LRU replaces the old always-persist-never-unpersist form, which
    pinned a fresh copy per heavy_hitters() call for the session's
    lifetime (self-review finding, round 11)."""

    def build() -> DataFrame:
        out = docs.mapInArrow(
            _misra_gries_partition, schema="token string, cnt long, kind string"
        ).persist()
        out.count()
        return out

    return memo(spark, sf_dir, "mg_summaries", (), build, bounded=True)


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_freq_heavy_hitters — tokens with exact count ≥ the threshold,
    found via the two-pass Misra-Gries scheme above.

    Output: token, n (exact count), threshold used. Exact oracle:
    GROUP BY token HAVING count ≥ greatest(HH_FLOOR, ceil(HH_FRAC·N)).
    """
    d = load_table(spark, sf_dir, "documents").select("text")
    summaries = _summaries_cached(spark, sf_dir, d)
    candidates = summaries.filter(F.col("kind") == "tok").select("token").distinct()
    totals = summaries.filter(F.col("kind") == "total").agg(
        F.sum("cnt").alias("n_total")
    )

    tokens = d.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("token")
    )
    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    thr = F.greatest(
        F.lit(HH_FLOOR).cast("long"),
        F.ceil(F.lit(HH_FRAC) * F.col("n_total")).cast("long"),
    )
    return (
        exact.crossJoin(F.broadcast(totals))
        .withColumn("threshold", thr)
        .filter(F.col("n") >= F.col("threshold"))
        .select("token", "n", "threshold")
    )


def heavy_hitters_oracle_sql() -> str:
    """Exact DuckDB equivalent (valid because pass 2 is exact and pass 1
    is a guaranteed superset — module docstring)."""
    toks = "list_filter(string_split(text, ' '), w -> w <> '')"
    return f"""
        WITH tok AS (SELECT unnest({toks}) AS token FROM documents),
        tot AS (SELECT count(*) AS n_total FROM tok),
        thr AS (
            SELECT CAST(greatest({HH_FLOOR}, ceil({HH_FRAC} * n_total)) AS BIGINT)
                   AS threshold
            FROM tot
        )
        SELECT token, count(*) AS n, threshold
        FROM tok, thr
        GROUP BY token, threshold
        HAVING count(*) >= threshold
    """
