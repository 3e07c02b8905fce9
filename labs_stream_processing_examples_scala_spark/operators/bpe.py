"""Byte-pair-encoding tokenizer training — the missing piece between a
raw corpus and token-count statistics (Sennrich et al. 2016).

Training is inherently iterative (each merge depends on the previous),
but the trick that makes it cluster-friendly is WHERE the loop runs:
over the *word-frequency table*, not the corpus. One corpus-sized
groupBy("word") up front collapses 100 TB of text into a vocabulary
table (distinct words — millions of rows, not trillions); every merge
iteration then touches only that table:

  1. pair counts: explode adjacent symbol pairs weighted by word
     frequency, map-side-combined groupBy — shuffle ∝ distinct pairs.
  2. argmax: orderBy(count desc, pair asc) LIMIT 1 — TakeOrdered, and
     the single winning row is the ONLY thing the driver ever sees
     (fixed-size collect, annotated; the loop is driver-sequential by
     the algorithm's definition, not an implementation shortcut).
  3. apply: a row-local fold replaces adjacent (left,right) with the
     merged symbol left-to-right — pure Catalyst `aggregate`, no
     Python, no shuffle. A persist/unpersist chain keeps each round
     one fold away from a cached parent (the connected-components
     loop's pattern, operators/dedup.py).

When the aggregated word-count table fits the driver (≤
DRIVER_VOCAB_MAX rows — the common case; production BPE trainers
consume exactly such a dict), the loop runs driver-side on the
collected table instead: identical semantics (parity-tested), and the
per-merge cost drops below one Spark job's scheduling latency. The
collect is bounded by the explicit cap; past it, the distributed loop
above is the fallback.

Segmentation (applying trained merges to the corpus) is dictionary-
shaped: the fold chain runs once per DISTINCT word to build a word →
merged-symbols dictionary, and the corpus explodes to word occurrences
that hash-join the broadcast dictionary — the interpreted HOF cost is
∝ vocabulary while the corpus-sized work stays in codegen'd
explode/join/aggregate (measured 8× faster than folding per word
occurrence at sf0.1).

No SQL oracle (DuckDB has no iterative loop); correctness is proven by
an exact third-engine check: a pure-Python BPE trainer on the same
fixture must produce the identical merge list and identical
segmentations (tests/test_bpe_merge_freq.py).

Ties are broken lexicographically on (left, right) so the merge
sequence is deterministic across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.session import memo
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

N_MERGES = 8  # registry/bench default; tests use the same
DRIVER_VOCAB_MAX = 100_000  # word-count rows the driver loop may hold


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word → count over documents — the ONE corpus-sized step. Consumed
    by both the training loop and the segmentation dictionary, so it is
    persisted once per (session, sf_dir) in the session-cache registry:
    the corpus is scanned once, not once per consumer."""
    from labs_stream_processing_examples_scala_spark.operators.dedup import _spread

    def build() -> DataFrame:
        # _spread like the sibling per-row-fold scans (lm.bigram_counts,
        # text.repetition_stats): the single-parquet fixture is 1 scan
        # partition, and the corpus-sized split+explode would serialize
        # through one core before the groupBy (round-12 self-review)
        d = _spread(load_table(spark, sf_dir, "documents"), spark)
        return (
            d.select(F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
            .persist()
        )

    return memo(spark, sf_dir, "word_freqs", (), build)


def _merge_adjacent(syms: Column, left: str, right: str) -> Column:
    """Row-local left-to-right merge of adjacent (left,right) symbol
    pairs — the standard BPE application order. A fold that either
    glues the incoming symbol onto the accumulator's tail (when the
    tail is `left` and the symbol is `right`) or appends it; because
    the glued symbol is `left+right` ≠ `left` for non-degenerate
    merges, overlapping runs merge non-greedily left-to-right exactly
    like the reference Python implementation."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbolized vocabulary,
    weighted by word count. Narrow explode + one map-side-combined
    shuffle on (left,right)."""
    pairs = vocab.filter(F.size("syms") >= 2).select(
        "wc",
        F.explode(
            F.zip_with(
                F.slice("syms", 1, F.size("syms") - 1),
                F.slice("syms", 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("left"), b.alias("right")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right")).agg(
        F.sum("wc").alias("pair_count")
    )


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """Run the training loop; returns [(rank, left, right, pair_count)].

    The per-iteration driver traffic is exactly one row (the argmax);
    everything else stays distributed. Each round chains one fold onto
    the PERSISTED previous vocabulary and materializes it as a side
    effect of the argmax job — one Spark job per merge, with the
    previous generation unpersisted once its child is cached (the
    connected-components loop's pattern, operators/dedup.py).

    Merges are deterministic per (session, sf_dir, n_merges); the
    session cache saves the driver-sequential loop when segmentation
    follows training in the same session (registry + bench both do).
    Callers get a copy, so the cached list cannot be mutated."""
    return list(
        memo(spark, sf_dir, "bpe_merges", (n_merges,), lambda: _train(spark, sf_dir, n_merges))
    )


def _train(spark: SparkSession, sf_dir: str, n_merges: int) -> list[tuple[int, str, str, int]]:
    wf = word_freqs(spark, sf_dir)
    # Finite-vocabulary fast path: when the aggregated word-count table
    # is small enough to hold in the driver (the common case — real BPE
    # trainers consume exactly such a dict), run the merge loop there:
    # the per-iteration work is O(vocab), far below one Spark job's
    # scheduling latency. The collect is BOUNDED by the explicit cap,
    # with the fully-distributed loop as the big-vocab fallback (both
    # paths share tie-break semantics; the parity test drives both).
    if wf.count() <= DRIVER_VOCAB_MAX:
        return _train_driver_side(
            [(r["w"], int(r["wc"])) for r in wf.collect()], n_merges
        )
    return _train_distributed(wf, n_merges)


def _train_driver_side(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The merge loop over an in-memory word-count dict (vocab ≤
    DRIVER_VOCAB_MAX rows). Semantics identical to the distributed
    loop: count adjacent pairs weighted by word frequency, take the
    (count desc, left asc, right asc) argmax, merge left-to-right."""
    vocab = [(list(w), wc) for w, wc in word_counts]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wc
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        for syms, _ in vocab:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms[:] = out
    return merges


def _train_distributed(
    wf: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The distributed merge loop (vocab too big for the driver)."""
    vocab = wf.select("w", "wc", F.split("w", "").alias("syms"))
    vocab = vocab.persist()
    grandparent = None  # released only after its grandchild is cached
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()  # fixed-size: the single argmax row per iteration
        )
        # this collect materialized `vocab` from its parent's cache, so
        # the parent generation is now safe to release
        if grandparent is not None:
            grandparent.unpersist()
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((rank, left, right, cnt))
        grandparent = vocab
        vocab = vocab.withColumn("syms", _merge_adjacent(F.col("syms"), left, right)).persist()
    if grandparent is not None:
        grandparent.unpersist()
    vocab.unpersist()
    return merges


def bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES) -> DataFrame:
    """x_bpe_train — the learned merge table as a DataFrame.

    Rows-only in the driver gate (iterative — not SQL-expressible);
    exact third-engine oracle in tests/test_bpe_merge_freq.py.
    """
    merges = bpe_train_merges(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, schema="merge_rank int, left string, right string, pair_count long"
    )


def segmented_vocab(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """word → (syms after all trained merges, n_syms) — the tokenizer
    dictionary. The fold chain runs ONCE PER DISTINCT WORD, so the
    interpreted higher-order functions cost ∝ vocabulary, never ∝
    corpus (the same collapse the training loop exploits)."""
    merges = bpe_train_merges(spark, sf_dir, n_merges)
    vocab = word_freqs(spark, sf_dir).select("w", F.split("w", "").alias("syms"))
    syms = F.col("syms")
    for _, left, right, _ in merges:
        syms = _merge_adjacent(syms, left, right)
    return vocab.select("w", syms.alias("syms"), F.size(syms).alias("n_syms"))


def bpe_segment(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """x_bpe_segment — apply the trained merges to every document:
    per-doc BPE token count and first tokens of the segmentation.

    Dictionary form: merged symbols are computed per distinct word
    (:func:`segmented_vocab`), then documents explode to word
    occurrences and hash-join the BROADCAST dictionary — all JVM-side.
    The single wide edge is the doc_id re-aggregation, map-side
    combined, whose payload is one partial sum plus ≤8 head-word
    symbol arrays per document (the `when(pos < 8)` guard keeps doc
    content out of the shuffle). At 100 TB: corpus-sized work is one
    scan + one bounded-payload shuffle; everything ∝ vocabulary rides
    in the broadcast."""
    dict_df = segmented_vocab(spark, sf_dir, n_merges)
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda w: w != "")).alias(
            "pos", "w"
        ),
    )
    joined = words.join(F.broadcast(dict_df), "w")
    agg = joined.groupBy("doc_id").agg(
        F.sum("n_syms").cast("int").alias("n_bpe_tokens"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("pos") < 8, F.struct("pos", "syms"))
            )
        ).alias("head_structs"),
    )
    flat_head = F.flatten(F.col("head_structs.syms"))
    return agg.select(
        "doc_id",
        "n_bpe_tokens",
        F.concat_ws(" ", F.slice(flat_head, 1, 8)).alias("head_tokens"),
    )
