"""Deduplication operators — north-star extension (SURVEY §7 step 7).

Four dedup families over the ``documents`` table, each designed for the
100 TB posture and each (except where noted) checkable against a DuckDB
oracle because the hashing is explicit cross-engine arithmetic
(functions/hashing.py):

- exact_dedup          — md5(text) groupBy. One shuffle on a 128-bit key;
                         at scale this is the cheapest possible full dedup
                         (hash-partitioned, map-side partial agg).
- minhash_signatures   — word-shingle MinHash (16 perms) as per-row folds
                         over the cached shingle-hash arrays: ZERO
                         shuffles (no explode, no groupBy).
- lsh_candidate_pairs  — band the signature (4 bands × 4 rows), self-join
                         on (band, bucket): only docs sharing a bucket are
                         compared — the quadratic all-pairs never happens.
                         Jaccard is then verified exactly on the candidate
                         set. This is the scale path: state ∝ near-dups,
                         not ∝ pairs.
- simhash              — 32-bit SimHash from word hashes (bit-tally sign).
                         Near-dup = small Hamming distance; banding the 32
                         bits gives the same LSH trick for scale.
- ngram_jaccard_pairs  — exact Jaccard for every pair sharing ≥1 shingle
                         (inverted-index join). Correct but candidate-
                         unbounded; prefer LSH at scale. Kept because the
                         reference point needs the exact baseline.

Shingles are 3-word n-grams (distinct per doc). Text fixtures are
single-space-separated words, so tokenize = split(' ').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.functions import hashing as H
from labs_stream_processing_examples_scala_spark.session import memo
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

SHINGLE_WORDS = 3


def tokens(col) -> "F.Column":
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda w: w != "")


def shingles(col, n: int = SHINGLE_WORDS) -> "F.Column":
    """Distinct n-word shingles: positions 0..len-n (empty for docs with
    fewer than n words — Spark's sequence() would otherwise count *down*
    and produce garbage indices)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))),
    ).otherwise(F.array().cast("array<string>"))


# NOTE (perf pitfall, measured 14× slower): naively composing shingle
# hashes from a per-row word-hash array —
#   whs = transform(tokens, rolling_hash); shingle_i = f(whs[i..i+2])
# with one expression per position — lets Catalyst's CollapseProject
# inline the whole `whs` transform into every element access, so each
# shingle recomputes every word hash. shingle_hash_arrays() below avoids
# it two ways: the sliding compose is TWO zip_with passes (not N
# per-position expressions), and the result is persisted so downstream
# consumers read the materialized array instead of re-inlining.


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash: keeper (min doc_id) + count.
    Returns one row per distinct content."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated table itself: first doc_id per content wins."""
    d = load_table(spark, sf_dir, "documents")
    w_min = exact_dedup(spark, sf_dir).select(F.col("keep_id").alias("doc_id"))
    return d.join(w_min, "doc_id", "left_semi")


_SLICE_BIG = 1 << 30  # "to the end" length for slice()


def _spread(d: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition ONLY when the scan under-parallelizes the cores.

    The fixture tables are single small parquet files → a 1-partition
    scan, which serializes the per-row hash folds through one core
    (measured 8 s single-core vs <1 s spread at sf0.1). At real scale
    the input has many splits and this is a no-op — the `if` keeps the
    zero-shuffle property exactly when the data is already parallel.
    """
    n = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < n:
        return d.repartition(n)
    return d


def shingle_hash_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs: array<long>, sz) — the distinct shingle-hash SET per
    document as a row-local array, persisted.

    Built without any shuffle: word-hash array per row, then the sliding
    3-gram compose as two zip_with passes against shifted slices (the
    null padding zip_with adds at the tail composes to null and is
    filtered — exactly the n-2 shingle positions survive). The persist
    is a projection barrier: every downstream consumer (signatures,
    banding, sizes, intersection verify) reads the materialized array
    instead of re-inlining the transform (CollapseProject would
    otherwise recompute every word hash per consumer — the measured 14×
    pitfall noted above).

    Scale: shuffle volume is ZERO here regardless of corpus size; the
    window/explode alternative shuffles every shingle occurrence twice
    (partition sort + distinct). Verified bit-identical to that form
    before switching.
    """
    # one cached array table per (session, sf_dir): signatures, LSH
    # pairs, ngram pairs and components share the materialization
    return memo(
        spark, sf_dir, "shingle_arrays", (),
        lambda: shingle_arrays_of(
            _spread(load_table(spark, sf_dir, "documents"), spark)
        ).persist(),
    )


def shingle_array_col(text_col: str = "text") -> Column:
    """The 3-gram shingle-hash SET of one text column, as a row-local
    column expression — THE shingle definition every consumer shares
    (batch dedup, span machinery, the streaming decontamination probe):
    a second inline copy of this chain would silently stop matching the
    batch-built shingle sets the moment k or the hash compose changed
    (round-12 self-review)."""
    whs = F.transform(tokens(text_col), H.rolling_hash)
    c12 = F.zip_with(whs, F.slice(whs, 2, _SLICE_BIG), lambda a, b: (a * 31 + b) % H.P)
    c123 = F.zip_with(c12, F.slice(whs, 3, _SLICE_BIG), lambda a, b: (a * 31 + b) % H.P)
    return F.array_distinct(F.filter(c123, lambda x: x.isNotNull()))


def shingle_arrays_of(docs: DataFrame) -> DataFrame:
    """The zero-shuffle shingle-set fold over ANY (doc_id, text) frame
    (batch or a foreachBatch micro-batch) — the uncached core of
    :func:`shingle_hash_arrays`."""
    shs = shingle_array_col("text")
    return docs.select("doc_id", shs.alias("shs")).withColumn("sz", F.size("shs"))


def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): exploded view of the shingle-hash set (inverted-index
    consumers); distinct is inherited from the arrays."""
    return shingle_hash_arrays(spark, sf_dir).select("doc_id", F.explode("shs").alias("h"))


def minhash_of(arrs: DataFrame) -> DataFrame:
    """doc_id + m00..m15 MinHash signature columns from a shingle-array
    frame — 16 per-row folds, no shuffle (docs with no shingles are
    excluded, matching the exploded form's semantics)."""
    sig_cols = [
        F.array_min(F.transform("shs", lambda h: H.minhash_slot(h, i))).alias(f"m{i:02d}")
        for i in range(H.NUM_PERMS)
    ]
    return arrs.filter(F.col("sz") > 0).select("doc_id", *sig_cols)


def banded_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH banding of a signature frame — all
    bands in ONE projection + stack (a unionAll of per-band selects
    would recompute the signature pipeline per band)."""
    bucket_cols = []
    for b in range(H.BANDS):
        slots = [F.col(f"m{b * H.ROWS_PER_BAND + r:02d}") for r in range(H.ROWS_PER_BAND)]
        bucket_cols.append(H.band_hash(slots).alias(f"bh{b}"))
    stack_args = ", ".join(f"{b}, bh{b}" for b in range(H.BANDS))
    return sig.select("doc_id", *bucket_cols).select(
        "doc_id", F.expr(f"stack({H.BANDS}, {stack_args}) AS (band, bucket)")
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of :func:`minhash_of` over the cached fixture
    shingle arrays."""
    return minhash_of(shingle_hash_arrays(spark, sf_dir))


# the banded (doc_id, band, bucket) frame per (session, sf_dir),
# persisted (round-10 sf10 finding): every consumer of the LSH banding
# — the stats job, BOTH legs of the candidate self-join, and downstream
# group/pagerank queries — re-executed the 16-perm minhash fold from
# the shingle arrays (~20 s/pass at sf10, and a self-join re-executes
# its lineage once PER SIDE). The frame is 4 tiny rows per doc, so
# persisting it is the cheapest cache in the family; measured 294 s →
# well under the round-9 117.8 s anchor for x_dedup_lsh_pairs at sf10.


# collapse only when it pays: below this distinct-content ratio the
# corpus is duplicated enough that rep-level LSH + expansion wins; above
# it (a mostly-distinct corpus) the rep frames would just duplicate the
# doc-level frames and the expansion joins are pure overhead (measured
# +2s at sf0.1 where 95% of documents are unique)
LSH_COLLAPSE_RATIO = 0.8


def lsh_rep_frames(
    spark: SparkSession, sf_dir: str, force: str | None = None
) -> tuple[DataFrame | None, DataFrame, DataFrame | None]:
    """(rep_arrs, banded, members) for the LSH pair family, with
    DATA-ADAPTIVE content collapse — the exact-dedup-before-near-dedup
    layout every production dedup pipeline uses (round-10 sf10
    finding): identical text ⇒ identical shingle set ⇒ identical
    signature, buckets, and Jaccard to every other document, so LSH
    only ever needs ONE representative per distinct content.

    One cheap stats job decides the mode (the same philosophy as the
    hot-bucket probe): when distinct contents exceed
    ``LSH_COLLAPSE_RATIO`` of the corpus the DIRECT doc-level frames
    are used (members is None — a mostly-distinct corpus gains nothing
    from collapsing); otherwise signatures, banding, the candidate
    join, and the array-carrying verify all run over DISTINCT CONTENTS
    (500k docs → 5k reps on the ×100-duplicated sf10 fixture) and
    ``members`` maps every doc back to its representative (min doc_id
    per md5(text)) for the skinny doc-level expansion. Both modes are
    proven byte-identical (sf1 equivalence + forced-mode tests).
    ``force`` pins the mode for tests ('direct' / 'collapsed')."""
    return memo(
        spark, sf_dir, "lsh_banded", (force,),
        lambda: _build_rep_frames(spark, sf_dir, force),
    )


def _build_rep_frames(
    spark: SparkSession, sf_dir: str, force: str | None
) -> tuple[DataFrame | None, DataFrame, DataFrame | None]:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("_ch")
    )
    mode = force
    if mode is None:
        stats = d.agg(
            F.count("*").alias("n"), F.countDistinct("_ch").alias("r")
        ).collect()[0]
        mode = (
            "direct"
            if stats.r > LSH_COLLAPSE_RATIO * stats.n
            else "collapsed"
        )
    if mode == "direct":
        banded = banded_of(minhash_signatures(spark, sf_dir)).persist()
        return (None, banded, None)
    # the keeper rule (min doc_id per content hash) is
    # exact_dedup's — derive from it rather than restating it,
    # so the two can never diverge (review finding)
    reps = exact_dedup(spark, sf_dir).select(
        F.col("content_hash").alias("_ch"),
        F.col("keep_id").alias("rep_id"),
    )
    members = d.join(reps, "_ch").select("rep_id", "doc_id").persist()
    rep_ids = members.select(F.col("rep_id").alias("doc_id")).distinct()
    rep_arrs = (
        shingle_hash_arrays(spark, sf_dir)
        .join(rep_ids, "doc_id", "left_semi")
        .persist()
    )
    rep_banded = banded_of(minhash_of(rep_arrs)).persist()
    return (rep_arrs, rep_banded, members)


# True-pathology threshold: a 64k-doc bucket is ~2.1e9 candidate pairs
# on ONE reducer — the thing the salted path exists for. Buckets in the
# low thousands are routine (duplication clusters) and a single task
# verifies them in seconds; salting those would cost more in plan
# machinery than it buys (measured at sf10, whose ×100-duplicated
# fixture makes every bucket ~100×).
LSH_BUCKET_CAP = 65536
LSH_SKEW_SALTS = 16


def lsh_candidate_join(
    banded: DataFrame,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    n_salts: int = LSH_SKEW_SALTS,
    dedupe: bool = True,
) -> DataFrame:
    """The (band, bucket) self-join producing distinct (doc_a < doc_b)
    candidate pairs, SKEW-GUARDED (round-9 verdict task #5): a real
    100 TB corpus with a viral document puts millions of docs in ONE
    (band, bucket), and a plain self-join hands that bucket's entire
    quadratic candidate set to a single reducer. Buckets over
    ``bucket_cap`` get the salted self-join treatment — results are
    IDENTICAL (salting parallelizes the hot bucket's pair generation
    over ``n_salts`` reducers; it cannot shrink the candidate set,
    which is inherently quadratic in bucket size):

    - bucket sizes are one small aggregation; over-cap keys join
      back as a `_hot` tag (hint-free: AQE broadcasts the hot-key set
      by its runtime size — at fixture scale it is empty or tiny, and
      an SF-scaled hint would violate the broadcast policy);
    - LEFT side: hot rows take a deterministic salt
      pmod(xxhash64(doc_a), n_salts), cold rows salt 0;
    - RIGHT side: hot rows REPLICATE across the full salt domain
      (explode(sequence)), cold rows stay single — so every hot pair
      meets on exactly one salt and every cold pair on salt 0.

    ADAPTIVE, like AQE's skew split: the bucket-size stats are one
    small aggregation job paid up front; when NO bucket is over the cap
    (every fixture, most real corpora) the plain round-9 join plan is
    used unchanged — the salt machinery (two hot-tag joins + the
    conditional replication) enters the plan only when a hot bucket
    actually exists. Within the salted plan the salt is a conditional
    expression, so the replication multiplier applies ONLY to over-cap
    rows. ``bucket_cap=None`` skips even the stats job (the unguarded
    form, kept for the equivalence tests). ``dedupe=False`` skips the
    final distinct for callers whose key structure already makes each
    pair unique (the within-clique expansion: one bucket per doc)."""
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    if bucket_cap is not None:
        # review finding (round 10): run the stats agg ONCE — collect
        # the over-cap keys (bounded by n_rows/bucket_cap by
        # construction) into a local relation instead of re-planning
        # the aggregation inside each join leg
        hot_rows = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bsz"))
            .filter(F.col("_bsz") > bucket_cap)
            .select("band", "bucket")
            .collect()
        )
        if not hot_rows:
            bucket_cap = None  # no skew anywhere: take the plain join
        else:
            hot = banded.sparkSession.createDataFrame(
                [(int(r.band), int(r.bucket), True) for r in hot_rows],
                "band int, bucket long, _hot boolean",
            )
    if bucket_cap is not None:
        left = (
            left.join(hot, ["band", "bucket"], "left")
            .withColumn(
                "_salt",
                F.when(
                    F.col("_hot"), F.pmod(F.xxhash64("doc_a"), F.lit(n_salts))
                ).otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
        right = (
            right.join(hot, ["band", "bucket"], "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.when(F.col("_hot"), F.lit(n_salts - 1)).otherwise(F.lit(0)),
                    )
                ),
            )
            .drop("_hot")
        )
        joined = left.join(right, ["band", "bucket", "_salt"])
    else:
        joined = left.join(right, ["band", "bucket"])
    pairs = joined.filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    return pairs.distinct() if dedupe else pairs


def lsh_verified_pairs(
    arrs: DataFrame,
    banded: DataFrame,
    threshold: float = 0.5,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    n_salts: int = LSH_SKEW_SALTS,
) -> DataFrame:
    """Candidates (:func:`lsh_candidate_join`) + exact-Jaccard verify
    against the shingle arrays — the uncached core of
    :func:`lsh_candidate_pairs`, reusable over ANY corpus frame."""
    cand = lsh_candidate_join(banded, bucket_cap=bucket_cap, n_salts=n_salts)
    a_side = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa"), F.col("sz").alias("sz_a")
    )
    b_side = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb"), F.col("sz").alias("sz_b")
    )
    return (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    bucket_cap: int | None = LSH_BUCKET_CAP,
    force: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    shingle→minhash→band→bucket-join→verify. The self-join is on
    (band_idx, bucket): at 100 TB the bucket key is the shuffle key and
    candidate volume scales with collision rate, not n². Buckets over
    ``bucket_cap`` route through the salted join (see
    :func:`lsh_candidate_join`) so one viral document cannot pin the
    whole bucket's quadratic verify on a single reducer.

    Everything up to the banding self-join is a narrow projection over
    the cached shingle arrays. Exact-Jaccard verification attaches the
    two arrays per candidate pair and intersects row-locally
    (array_intersect), so the verify cost is ∝ candidates, and no
    shingle ever shuffles.

    Round 10 — CONTENT COLLAPSE (:func:`lsh_rep_frames`): signatures,
    banding, and the array-carrying verify run over one representative
    per DISTINCT content; doc-level pairs come back from two skinny
    expansion joins. Identical text has identical shingle sets, so the
    result is EXACTLY the per-doc form's (oracle-checked):

    - cross-content pairs: rep-level verified pair (A,B; j) × members
      of A × members of B, re-oriented doc_a < doc_b;
    - within-content pairs: each clique's C(n,2) pairs at jaccard 1.0
      (identical non-empty sets), for contents that HAVE shingles —
      empty-shingle docs never sign, matching the per-doc exclusion.

    On the ×100-duplicated sf10 fixture this cuts the verify join from
    ~25M array-carrying candidate rows to ~the distinct-content pair
    count; the 25M output rows are produced by the expansion join,
    which carries three scalars per row.
    """
    rep_arrs, banded, members = lsh_rep_frames(spark, sf_dir, force=force)
    if members is None:  # direct mode: doc-level frames, no expansion
        arrs = shingle_hash_arrays(spark, sf_dir)
        return lsh_verified_pairs(arrs, banded, threshold, bucket_cap=bucket_cap)
    rep_pairs = lsh_verified_pairs(
        rep_arrs, banded, threshold, bucket_cap=bucket_cap
    )
    ma = members.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("_da"))
    mb = members.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("_db"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    # within-clique pairs exist only for contents that sign (sz > 0).
    # The expansion is itself a self-join on a single key per clique —
    # a 10M-copy viral content would otherwise hand one reducer ~5e13
    # pairs (review finding), so it goes through the SAME skew-guarded
    # join as the bucket candidates (band=0, bucket=rep_id; each doc
    # appears once per clique, so pairs are unique and the distinct is
    # skipped). The output is inherently quadratic in clique size —
    # salting spreads its GENERATION, nothing can shrink it.
    signed = rep_arrs.filter(F.col("sz") > 0).select(
        F.col("doc_id").alias("rep_id")
    )
    clique = members.join(signed, "rep_id").select(
        "doc_id", F.lit(0).alias("band"), F.col("rep_id").alias("bucket")
    )
    within = lsh_candidate_join(
        clique, bucket_cap=bucket_cap, dedupe=False
    ).select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    return cross.unionByName(within)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from word hashes (bit-tally sign).

    Computed as a single narrow fold: aggregate() over the word-hash
    array builds the 32-slot bit tally per row, a second fold collapses
    sign bits into the hash — ZERO shuffles, embarrassingly parallel.
    The alternative (explode words × 32 bits → two groupBys) pushes
    ~30M intermediate rows through two shuffles at sf0.1; measured only
    ~0.2 s faster on an idle box (whole-stage codegen vs interpreted
    HOFs) but swings 5-10× under load (shuffle/spill sensitivity) and
    its shuffle volume scales with corpus size — the fold's does not.
    Both produce identical hashes (A/B-verified before switching).
    """
    d = _spread(load_table(spark, sf_dir, "documents"), spark)
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    whs = F.transform(tokens("text"), H.word_hash32)
    zero32 = F.array_repeat(F.lit(0).cast("long"), 32)
    # bit extraction as one bitwiseAND against the pow2 array (valid:
    # word_hash32 is non-negative) — 1.6× faster than the equivalent
    # floor-div/mod chain, A/B-verified identical output
    tally = F.aggregate(
        whs,
        zero32,
        lambda acc, wh: F.zip_with(
            acc, pow2, lambda a, p: a + F.when(wh.bitwiseAND(p) != 0, 1).otherwise(-1)
        ),
    )
    sim = F.aggregate(
        F.zip_with(tally, pow2, lambda t, p: F.when(t > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    # zero-token docs have no tally and therefore no meaningful hash —
    # exclude them (keeps parity with the oracle's unnest-over-words
    # form, which emits no row for an empty word list)
    return d.filter(F.size(tokens("text")) > 0).select("doc_id", sim.alias("simhash"))


class CandidateExplosionError(ValueError):
    """Raised when a quadratic oracle baseline would generate more
    candidate pairs than its cap — the plan is correct but the wrong
    tool at that scale; use the banded/bucketed operator instead."""


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    max_candidate_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Exact Jaccard for all pairs sharing ≥1 shingle (inverted index).
    The exploded view and sizes both read the cached shingle arrays.

    ORACLE BASELINE: candidate count is sum over shingles of
    C(freq, 2) — quadratic in the hottest shingle's document frequency.
    Before building the join, that sum is computed (one linear
    aggregate over the cached exploded view) and compared against
    ``max_candidate_pairs``; a hot-shingle corpus fails fast with
    :class:`CandidateExplosionError` instead of launching an
    all-pairs-shaped shuffle. Pass ``None`` to bypass (the oracle
    harness at fixture scale). The scale path is
    :func:`lsh_candidate_pairs`, whose candidates come from band
    buckets, not shingle co-occurrence."""
    sh = _shingle_hashes(spark, sf_dir)
    if max_candidate_pairs is not None:
        est = (
            sh.groupBy("h")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
            .first()[0]
            or 0
        )
        if est > max_candidate_pairs:
            raise CandidateExplosionError(
                f"ngram_jaccard_pairs would examine ~{int(est):,} candidate "
                f"pairs (> cap {max_candidate_pairs:,}); use "
                "lsh_candidate_pairs at this scale or raise the cap"
            )
    sizes = shingle_hash_arrays(spark, sf_dir).select("doc_id", "sz")
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_dedup_groups(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, max_iter: int = 20
) -> DataFrame:
    """Connected components over the LSH near-dup pair graph:
    (doc_id, rep_id) where rep_id = min doc_id in the doc's component —
    the grouping that turns pairwise near-dups into an actual dedup.

    Iterative min-label propagation, driver-coordinated but fully
    partition-parallel per iteration (each round = one shuffle keyed by
    node id; labels persisted, previous generation unpersisted).
    Converges in O(component diameter) rounds — near-dup components are
    shallow in practice (dup clusters, not chains). At extreme scale the
    round count can be cut to O(log n) with large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce"), same
    primitives, more rounds of the same shape.
    """
    pairs = lsh_candidate_pairs(spark, sf_dir, threshold).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("rep", F.col("id")).persist()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("rep").alias("nrep"))
        )
        # localCheckpoint (not persist): each generation references the
        # previous twice, so the un-truncated logical plan is O(2^k) at
        # round k and Catalyst analysis time blows up on deep graphs
        # (measured on the two-star variant: 9 s → 95 s per round)
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                labels.id,
                F.least(F.col("rep"), F.coalesce(F.col("nrep"), F.col("rep"))).alias("rep"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("rep").alias("rep_id"))


def lsh_dedup_keep_first(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """The near-deduplicated corpus: drop every doc whose component rep
    is a smaller doc_id (keep-first within each near-dup group)."""
    d = load_table(spark, sf_dir, "documents")
    groups = lsh_dedup_groups(spark, sf_dir, threshold)
    drop = groups.filter(F.col("doc_id") != F.col("rep_id")).select("doc_id")
    return d.join(drop, "doc_id", "left_anti")


SIMHASH_BANDS = 4
SIMHASH_BITS = 32
HAMMING_MAX = 3


def simhash_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming,
    found via band-bucketing (never quadratic).

    The 32-bit simhash splits into 4 bands of 8 bits; by pigeonhole,
    two hashes differing in ≤3 bits agree on ≥1 whole band, so the
    banded self-join finds EVERY qualifying pair — banding here is a
    lossless candidate generator (unlike MinHash-LSH's probabilistic
    one), which is why the quadratic oracle must agree exactly. At
    100 TB the shuffle key is (band, band_value): candidates scale with
    band collisions, not n².
    """
    assert max_hamming < SIMHASH_BANDS, "pigeonhole completeness needs hamming < bands"
    # persist the hashes: both sides of the banded self-join read the
    # same subtree, and without the barrier each side re-runs the
    # whole per-document bit-tally fold (the expensive narrow step) —
    # measured 7.6 → 3.7 s warm at sf0.1. Same (session, sf_dir)
    # cache discipline as the shingle arrays.
    sh = memo(spark, sf_dir, "simhash", (), lambda: simhash(spark, sf_dir).persist())
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    arms = ", ".join(
        f"{b}, CAST(shiftright(simhash, {b * band_width}) & {(1 << band_width) - 1} AS BIGINT)"
        for b in range(SIMHASH_BANDS)
    )
    banded = sh.select(
        "doc_id", "simhash", F.expr(f"stack({SIMHASH_BANDS}, {arms}) AS (band, bval)")
    )
    left = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bval"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bval"
    )
    return (
        left.join(right, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()


def connected_components_twostar(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round alternative to min-label propagation for graphs
    whose components may be DEEP (long chains), where diameter-bound
    propagation would need O(n) rounds.

    Each round is a fixed number of shuffles keyed by node id:
    - large-star: every node u links its LARGER neighbors to
      m = min(Γ(u) ∪ {u}) — flattens tall subtrees in parallel.
    - small-star: on edges oriented (u > v), u links its smaller
      neighbors (and itself) to the minimum — contracts toward roots.
    Both preserve connectivity; the fixpoint is a star per component
    rooted at its minimum node.

    ``pairs``: (doc_a, doc_b). Returns (doc_id, rep_id) for every node
    appearing in some pair, rep_id = component minimum — identical
    output contract to :func:`lsh_dedup_groups`'s propagation loop.

    Each generation is ``localCheckpoint``-ed, not just persisted: the
    loop references its edge set ~6 times per round, so without
    truncating the LOGICAL plan Catalyst re-analyzes an O(6^k) tree at
    round k — measured 9 s → 95 s per round by iteration 2. Checkpoint
    resets the plan to a leaf; rounds stay constant-cost. (On a real
    cluster use reliable checkpoint dirs for fault tolerance.)
    """
    def _edge_sig(e: DataFrame) -> tuple:
        """(count, Σ xxhash64(u,v)) — an order-insensitive signature of
        the edge SET. Equal signatures ⇒ equal sets up to a ~2^-64
        xxhash64-sum collision; at the two-star fixpoint the edge set is
        exactly stable, so signature equality detects convergence with
        ONE tiny aggregate (map-side partials + a single final row)
        instead of exceptAll's pair of full-width hash exchanges."""
        row = e.agg(
            F.count("*").alias("n"),
            # decimal(38,0) accumulator: Σ of int64 hashes can overflow a
            # long, which ANSI mode (correctly) refuses
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        return (row.n, row.s)

    e0 = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = _symmetric(e0).localCheckpoint(eager=True)
    sig = _edge_sig(edges)
    for _ in range(max_iter):
        # large-star: m = min over symmetric neighborhood (∪ self)
        nmin = edges.groupBy("u").agg(F.min("v").alias("nm"))
        withm = edges.join(nmin, "u").select(
            "u", "v", F.least(F.col("u"), F.col("nm")).alias("m")
        )
        grown = (
            withm.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        sym = _symmetric(grown).localCheckpoint(eager=True)
        # small-star on edges oriented big→small
        oriented = sym.filter(F.col("u") > F.col("v"))
        nmin2 = oriented.groupBy("u").agg(F.min("v").alias("nm"))
        withm2 = oriented.join(nmin2, "u").select("u", "v", F.col("nm").alias("m"))
        contracted = (
            withm2.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(withm2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        prev = edges
        new_edges = _symmetric(contracted).localCheckpoint(eager=True)
        new_sig = _edge_sig(new_edges)
        edges = new_edges
        if new_sig == sig:
            # the signature is probabilistic (~2^-64 hash-sum collision);
            # confirm the fixpoint EXACTLY with one set-difference pass —
            # the expensive check runs once at convergence, not per round.
            # One direction suffices: matching signatures imply equal
            # multiset cardinalities, and |A| == |B| with A\B == ∅ is
            # already multiset equality (B\A must then be empty too).
            if new_edges.exceptAll(prev).isEmpty():
                break
        sig = new_sig
    # fixpoint is a star per component: each non-root's min neighbor is
    # the root; the root's neighbors are all larger, so least(u, min)=u
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("mn")).alias("rep_id"),
        )
    )


def lsh_dedup_groups_twostar(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """lsh_dedup_groups on the two-star algorithm — same (doc_id,
    rep_id) output, O(log n) rounds instead of O(diameter). Use this
    form when near-dup components can chain (e.g. templated spam
    corpora); the propagation form does fewer shuffles per round on
    shallow graphs."""
    return connected_components_twostar(
        lsh_candidate_pairs(spark, sf_dir, threshold).select("doc_a", "doc_b")
    )


SPAN_WORDS = 8  # span length for duplicated-substring detection

# persisted (doc_id, wh1, wh2) word-hash arrays — same materialization
# idea as the shingle arrays: the span chain references each array k
# times via slices, and without a barrier CollapseProject would
# re-inline the per-character fold into every reference (measured 2.3×
# slower)


def word_hash_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, wh1, wh2): both rolling-hash families per token as
    persisted row-local arrays. Two plain long folds in one Project
    beat a fused struct-accumulator fold ~2× (the struct allocates an
    InternalRow per character); both columns materialize once into the
    cache, so downstream slice references never re-run the folds."""

    def build() -> DataFrame:
        d = _spread(load_table(spark, sf_dir, "documents"), spark)
        return d.select(
            "doc_id",
            F.transform(tokens("text"), H.rolling_hash).alias("wh1"),
            F.transform(tokens("text"), H.rolling_hash2).alias("wh2"),
        ).persist()

    return memo(spark, sf_dir, "word_hashes", (), build)


def dup_span_stats(spark: SparkSession, sf_dir: str, k: int = SPAN_WORDS) -> DataFrame:
    """Duplicated-span detection: for every document, the fraction of its
    k-word spans (positional, NOT distinct) that also occur in some
    OTHER document — the scalable approximation of exact substring
    dedup ("Deduplicating Training Data Makes Language Models Better"-
    style, with a k-gram inverted index standing in for the suffix
    array, which doesn't distribute).

    Plan shape: per-row positional k-gram hashes (zip_with chain over
    the word-hash arrays), exploded IMMEDIATELY through Generate — the
    generator input is evaluated once per document row, which is the
    projection barrier that keeps CollapseProject from re-inlining the
    hash chain (a per-distinct-element HOF count here was measured 10×
    slower: the nested lambda re-inlined the whole chain per element).
    Then ONE h-keyed exchange carries the gram stream: the (doc_id, h)
    multiplicity agg and the count-over-h WINDOW both ride it
    (hashpartitioning(h) satisfies both clustered distributions), and
    the per-doc agg pays the only other shuffle. One full shuffle of
    the gram stream + one of the per-(doc,h) survivors (was two of the
    gram stream + one, and three with the r1 agg+join-back form) — at
    100 TB this is the standard inverted-index dedup shape and every
    shuffle key is the partition key.

    The gram key is a ~59-bit combination of two independent rolling
    hashes (hashing.combine_hashes): a single 30-bit hash false-
    positives at the birthday bound (~50k distinct grams — measured on
    the sf0.001 fixture!), which a dedup decision can't tolerate.
    """
    # the gram construction lives ONCE in positional_gram_occurrences
    # (round-8 review: the span transforms' "same construction and
    # combined key as dup_span_stats" invariant must be structural, not
    # copy-paste); the agg ignores the pos column
    #
    # Round 15 (r14 verdict task #4): shuffle the positional stream
    # ONCE, by h. The explicit repartition("h") keys the exchange on h
    # alone; hashpartitioning(h) then satisfies BOTH downstream
    # distribution requirements — ClusteredDistribution(doc_id, h) for
    # the multiplicity agg (partitioning exprs ⊆ grouping exprs) and
    # ClusteredDistribution(h) for the cross-doc window — so the
    # groupBy and the Window ride the same exchange. The old form paid
    # two full shuffles of the gram stream (by (doc_id, h) for the agg,
    # then by h for the window); the map-side combine the old first
    # shuffle got buys almost nothing here because positional
    # multiplicity within one doc is rare (cnt ≈ 1), so its shuffle
    # carried the full stream anyway. REPARTITION_BY_COL stays
    # AQE-coalescible, so partition count remains scale-adaptive.
    per = (
        positional_gram_occurrences(spark, sf_dir, k)
        .repartition("h")
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("cnt"))
    )
    # cross-doc gram count as a WINDOW over h rather than a groupBy(h)
    # + join back (round-2 A/B: 1.74 s → 1.04 s warm, output identical).
    # Group size per h = number of docs containing that gram — the same
    # bound the join's build side had; boilerplate-gram skew hits both
    # forms equally.
    perw = per.withColumn("n_docs", F.count("*").over(Window.partitionBy("h")))
    dup_pos = F.sum(F.when(F.col("n_docs") >= 2, F.col("cnt")).otherwise(0))
    return (
        perw.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            dup_pos.alias("n_dup_pos"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup_pos") / F.col("n_grams"), 6))
    )


def remove_dup_spans(spark: SparkSession, sf_dir: str, k: int = SPAN_WORDS) -> DataFrame:
    """Span-level DEDUPLICATION (round 8, verdict task #4 — the Lee et
    al. "Deduplicating Training Data Makes Language Models Better"
    transform next to :func:`dup_span_stats`'s detection): rewrite every
    document with its duplicated k-word spans EXCISED, keeping exactly
    the first occurrence corpus-wide (order = (doc_id, position);
    intra-document repeats count — the second copy inside one doc is
    removed too). A removed span start r drops token positions
    [r, r+k-1]; overlapping removed spans union.

    Plan ∝ the inverted index, never all-pairs: the positional k-gram
    stream (the same zip_with rolling-hash chain and ~59-bit combined
    key as dup_span_stats) is ranked per gram hash with ONE window
    (row_number + count over h — first occurrence in the same exchange
    that finds duplication), removed starts aggregate per doc (a stream
    ∝ duplicated volume only), and the rewrite is ROW-LOCAL: each doc
    masks its own token array against its removed-interval set with
    higher-order functions — the full token stream is never exploded
    through a shuffle. Exact third-engine oracle: a pure-Python span
    remover over the raw texts (tests/test_round8_fixes.py), exact
    because both sides tokenize identically and the combined hash makes
    gram collisions ~2^-59.

    Returns (doc_id, n_removed_tokens, text) for EVERY document (docs
    with no duplicated span, or fewer than k tokens, pass through
    verbatim)."""
    occ = positional_gram_occurrences(spark, sf_dir, k)
    # find DUPLICATED grams first (map-side-combined agg — the shuffle
    # carries distinct (partition, h) partials, never the positional
    # stream), then rank positions for ONLY those grams: the window's
    # exchange + sort is ∝ duplicated occurrences, a tiny slice of the
    # corpus (measured 11.3 s → the agg+pruned-window form at sf0.1;
    # an unpruned row_number over every positional gram row paid the
    # full-stream sort)
    dup_h = occ.groupBy("h").agg(F.count("*").alias("n_occ")).filter("n_occ >= 2")
    dup_occ = occ.join(dup_h.select("h"), "h")
    removed = (
        dup_occ.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos")),
        )
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    return excise_spans(spark, sf_dir, removed, k)


def positional_gram_occurrences(
    spark: SparkSession, sf_dir: str, k: int = SPAN_WORDS
) -> DataFrame:
    """(doc_id, pos, h): every positional k-gram of every document —
    the zip_with rolling-hash chain over the cached word-hash arrays,
    exploded through Generate (same construction and ~59-bit combined
    key as :func:`dup_span_stats`; shared by the span transforms)."""
    wh = word_hash_arrays(spark, sf_dir)
    wh1, wh2 = F.col("wh1"), F.col("wh2")
    g1, g2 = wh1, wh2
    for j in range(1, k):
        g1 = F.zip_with(g1, F.slice(wh1, j + 1, _SLICE_BIG), lambda a, b: (a * 31 + b) % H.P)
        g2 = F.zip_with(g2, F.slice(wh2, j + 1, _SLICE_BIG), lambda a, b: (a * 37 + b) % H.P2)
    g8 = F.filter(F.zip_with(g1, g2, H.combine_hashes), lambda x: x.isNotNull())
    return wh.select("doc_id", F.posexplode(g8).alias("pos", "h"))


def excise_spans(
    spark: SparkSession,
    sf_dir: str,
    removed: DataFrame,
    k: int = SPAN_WORDS,
    doc_filter=None,
) -> DataFrame:
    """Rewrite documents with the ``removed`` (doc_id, pos) span starts
    excised (each start drops token positions [pos, pos+k-1];
    overlaps union). Row-local: removed starts aggregate per doc (a
    stream ∝ removed volume), each doc then masks its own token array —
    kept indices via ONE array_except set-difference (hash-set build,
    O(n + m)) instead of an array_contains probe per token (O(n · m) —
    measured ~10 s of 11.3 at sf0.1 on heavily-duplicated docs). Docs
    matching no removed span pass through verbatim."""
    rem_per_doc = removed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("starts")
    )
    docs = _spread(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", tokens("text").alias("toks")
    )
    if doc_filter is not None:
        docs = docs.filter(doc_filter)
    out = docs.join(rem_per_doc, "doc_id", "left").withColumn(
        "starts", F.coalesce("starts", F.array().cast("array<int>"))
    )
    covered = F.array_distinct(
        F.flatten(F.transform("starts", lambda r: F.sequence(r, r + (k - 1))))
    )
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.size("toks") - 1), covered
    )
    kept_toks = F.when(F.size("toks") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(kept_idx, lambda i: F.element_at("toks", i + 1))
    )
    return out.select(
        "doc_id",
        (F.size("toks") - F.size(kept_toks)).alias("n_removed_tokens"),
        F.array_join(kept_toks, " ").alias("text"),
    )


# --- fuzzy (edit-distance) join --------------------------------------

FUZZY_MAX_DIST = 3
# |len(a)-len(b)| ≤ d is a NECESSARY condition for levenshtein ≤ d, so
# the window must equal the distance bound for the pre-filter to be
# lossless — a tighter window silently drops pairs built from pure
# insertions (round-5 ADVICE: window=2 lost dist-3 length-diff-3 pairs)
FUZZY_LEN_WINDOW = FUZZY_MAX_DIST


def fuzzy_name_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_comparisons: int | None = 50_000_000,
) -> DataFrame:
    """x_dedup_fuzzy_names — edit-distance near-duplicate JOIN for
    short strings (part names): the blocking-key + verify shape every
    fuzzy join reduces to.

    Candidates come from an EQUI join on the blocking key (p_brand) —
    a plain hash/sort-merge join, comparisons ∝ Σ block², never n² —
    pre-filtered by the length window (|len(a)−len(b)| ≤ d is a
    necessary condition for levenshtein ≤ d, and an integer compare is
    ~free next to the O(len²) distance); only survivors pay the exact
    levenshtein verify. For corpora without a natural blocking key,
    the MinHash/SimHash banding above IS the blocking — this operator
    is the exact-verify stage they share, exposed standalone.

    Σ C(block,2) is estimated first (one linear aggregate) and the
    call fails fast with :class:`CandidateExplosionError` past
    ``max_comparisons`` — a fixed-cardinality blocking key means
    blocks grow with the corpus, the same quadratic-at-scale trap as
    the exact-Jaccard baseline, with the same remedy (finer blocking
    or the banded operators).

    Exact oracle: DuckDB evaluates the identical predicate chain
    (levenshtein agrees across engines — pinned since q32)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    if max_comparisons is not None:
        est = (
            p.groupBy("p_brand")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cmp"))
            .first()[0]
            or 0
        )
        if est > max_comparisons:
            raise CandidateExplosionError(
                f"fuzzy join would compare ~{int(est):,} pairs "
                f"(> {max_comparisons:,}); use a finer blocking key or "
                "the banded near-dup operators"
            )
    # Pre-join repartition of the probe side: the verify cost lives in
    # the join's OUTPUT fan-out (Σ block²), which AQE cannot see when
    # sizing by input bytes — on the fixture it coalesced the whole
    # verify into ONE task (measured 11.2 s in-bench at sf0.1). An
    # explicit spread of the probe side before the (broadcast-able)
    # join fans the verify across all cores: 11.2 → 3.3 s, and on a
    # real cluster it is what keeps a small-input/large-fanout join
    # from serializing on one executor.
    #
    # Round 15 (r14 verdict task #5) — length-band blocking EVALUATED
    # AND REJECTED on measurement: joining on (brand, len-bucket w=d+1)
    # with a 3-bucket build-side halo is lossless and would cut the
    # fan-out on a length-diverse corpus, but this corpus's p_name
    # lengths span only 7-12 chars (σ≈1 — measured at sf0.1), so the
    # band removed 0.4% of candidates (7,998,672 → 7,968,021) while
    # adding a ×3 explode and a wider join key. The |len diff| ≤ d
    # pre-filter itself passes 97% (7.74M of 8.0M) for the same
    # reason; per-pair verify cost is already minimal (threshold-banded
    # levenshtein, O(d·n) with early exit). Clean-window wall at sf0.1
    # is ~0.9 s (the r14 verdict's 5.1 s reading was a contaminated
    # window — see OPTIMIZATION_r15.md).
    n_parts = spark.sparkContext.defaultParallelism * 2
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
    ).repartition(n_parts)
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
    )
    # threshold-banded levenshtein (Spark 3.5+): O(d·n) diagonal band
    # with early exit instead of the full O(n²) DP — returns the exact
    # distance when ≤ d and -1 past it (measured 2× on the fixture;
    # the factor grows with string length at a fixed d)
    dist = F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST)
    return (
        a.join(b, (F.col("p_brand") == F.col("brand_b")) & (F.col("key_a") < F.col("key_b")))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_LEN_WINDOW
        )
        .filter(dist >= 0)
        .select("key_a", "key_b", dist.alias("edit_distance"))
    )
