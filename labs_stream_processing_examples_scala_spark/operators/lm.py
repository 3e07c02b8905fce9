"""N-gram language-model scoring — perplexity as a quality signal.

The classic corpus-filtering recipe (CCNet / Gopher lineage) scores
every document with a small n-gram LM and drops the high-perplexity
tail. This module trains a bigram model and scores the corpus in ONE
declarative plan:

  train: explode adjacent token pairs (the zip_with shingle idiom from
      operators/bpe.py) → map-side-combined groupBy(w1, w2), plus
      unigram context counts groupBy(w1) — both tables bounded by the
      observed vocabulary, not the corpus.
  score: per-document bigrams re-join the count tables and fold into
      avg log P(w2 | w1) with add-one smoothing
          P = (c(w1,w2) + 1) / (c(w1) + V),  V = |distinct contexts|
      then perplexity = exp(-avg). The count-table joins are hint-free:
      AQE broadcasts them while they fit (vocabulary-sized), and falls
      back to a shuffle join keyed on the bigram when they don't.

Every arithmetic step (ln, double division, avg) is reproduced exactly
in the DuckDB oracle with the same 6-decimal rounding discipline the
fixture uses everywhere (FIXTURES.md §5) — so this carries an EXACT
oracle despite being a "model".

Scale: two vocabulary-bounded aggregations + one corpus-sized
explode/join/doc-agg chain; nothing quadratic, no Python anywhere.
Documents with fewer than 2 tokens have no bigrams and are not scored
(both engines agree by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.session import memo
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

SMOOTH_K = 1.0  # add-one (Laplace) smoothing


def _doc_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) for every adjacent token pair."""
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.lit(0), F.size(toks) - 1)),
        F.slice(toks, 2, F.greatest(F.lit(0), F.size(toks) - 1)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model: (w1, w2, c_bigram) over the corpus. The count
    table is vocabulary-bounded, so one is persisted per (session,
    sf_dir): the model trains once and the score plan joins a cached
    table instead of re-deriving the corpus fold per consumer (4
    re-derivations → 1, measured 10 → 4 exchanges)."""
    from labs_stream_processing_examples_scala_spark.operators.dedup import _spread

    def build() -> DataFrame:
        d = _spread(load_table(spark, sf_dir, "documents"), spark)
        out = (
            _doc_bigrams(d)
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("c_bigram"))
            .persist()
        )
        # eager: the score plan consumes this table in three subtrees
        # (bigram join, contexts, V); left lazy, they race and the
        # corpus fold runs three times before the cache materializes
        # (the same pattern fixed in frequency.heavy_hitters — measured
        # 17 s → 5 s at sf1)
        out.count()
        return out

    return memo(spark, sf_dir, "bigram_counts", (), build)


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_text_lm_score — per-document bigram-LM log-likelihood and
    perplexity, trained on the same corpus (the self-scoring form used
    for quality filtering; scoring a held-out corpus is the same plan
    with a different training input)."""
    from labs_stream_processing_examples_scala_spark.operators.dedup import _spread

    # spread the single-file fixture scan so the per-row pair fold
    # parallelizes (no-op on real multi-split input — dedup._spread)
    d = _spread(load_table(spark, sf_dir, "documents"), spark)
    bi = _doc_bigrams(d)

    bigrams = bigram_counts(spark, sf_dir)
    # context and vocab sizes derive from the (vocabulary-bounded)
    # cached bigram table, NOT from the corpus-sized frame — Σ c_bigram
    # per w1 IS the context count, so the corpus is folded exactly
    # twice (train pass + score pass) and everything downstream is tiny
    contexts = bigrams.groupBy("w1").agg(F.sum("c_bigram").alias("c_context"))
    # V = number of distinct context words — a one-row frame both
    # engines derive identically; joined in as a literal-like input
    vocab = contexts.agg(F.count("*").alias("v_size"))

    logp = F.log(
        (F.col("c_bigram") + F.lit(SMOOTH_K))
        / (F.col("c_context") + F.lit(SMOOTH_K) * F.col("v_size"))
    )
    return (
        bi.join(bigrams, ["w1", "w2"])
        .join(contexts, ["w1"])
        .crossJoin(F.broadcast(vocab))  # one row
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
            F.round(F.exp(-F.avg(logp)), 6).alias("ppl"),
        )
    )


def lm_score_oracle_sql() -> str:
    """Exact DuckDB equivalent of :func:`lm_score`."""
    toks = "list_filter(string_split(text, ' '), w -> w <> '')"
    return f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
        bi AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(generate_series(1, len(toks) - 1)) u(i)
            WHERE len(toks) >= 2
        ),
        bigrams AS (SELECT w1, w2, count(*) AS c_bigram FROM bi GROUP BY 1, 2),
        contexts AS (SELECT w1, count(*) AS c_context FROM bi GROUP BY 1),
        vocab AS (SELECT count(*) AS v_size FROM contexts)
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(avg(ln((c_bigram + {SMOOTH_K}) / (c_context + {SMOOTH_K} * v_size))), 6)
                   AS avg_logp,
               round(exp(-avg(ln((c_bigram + {SMOOTH_K}) / (c_context + {SMOOTH_K} * v_size)))), 6)
                   AS ppl
        FROM bi JOIN bigrams USING (w1, w2) JOIN contexts USING (w1), vocab
        GROUP BY doc_id
    """
