"""Similarity search over embeddings — north-star extension.

Embedding column is ``array<float>`` (64-dim fixtures). Everything is
computed in double precision with explicit left-to-right folds so the
DuckDB oracle reproduces results bit-for-bit before rounding.

Operators:
- brute_force_topk     — exact cosine top-k vs one query vector. The
                         baseline: a broadcast of the single query row +
                         one narrow pass + TakeOrderedAndProject. At 100
                         TB this is the per-query scan you fall back to.
- cosine_neardup_pairs — exact all-pairs near-dup (bounded: only for
                         oracle scale; quadratic by construction).
- lsh_topk             — the scale path: deterministic random-hyperplane
                         LSH (16 planes → 2^16 buckets); candidates =
                         query's bucket ∪ Hamming-1 neighbors, exact
                         cosine re-rank on candidates only. Approximate →
                         rows-only check + recall test vs brute force.
- ivf_topk             — IVF-style: k seed centroids (first k vectors),
                         one ZERO-EXCHANGE assignment pass (centroids
                         folded into the plan as a constant array
                         literal, argmax via F.aggregate), inverted
                         file materialized partitioned by cell, probe
                         reads nprobe partitions (PartitionFilters);
                         approximate → recall-tested.
- kmeans_train         — full Lloyd loop (constant-literal centroids,
                         zero-exchange assignment, bounded n_cells×dim
                         update shuffle per iteration) — the offline
                         quantizer-training job; numpy third-engine
                         equivalence-tested.
- ivf_topk_trained     — ivf_topk on trained centroids; recall ≥ the
                         seeded form at equal nprobe (tested).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.session import memo, memo_dir
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

DIM = 64
N_PLANES = 16


def _dvec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double fold — matches the oracle's list_reduce."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _seq_acc(M: "np.ndarray", w: "np.ndarray | None" = None) -> "np.ndarray":
    """Dim-sequential accumulation over the columns of ``M`` —
    ``acc = (0.0 + p_0) + p_1 ...`` per row, the exact IEEE order of the
    :func:`dot`/:func:`norm` left folds, vectorized across rows
    (round-14 optimization; guide §4.2). ``w`` weights each column
    (dot against a constant vector); ``None`` squares it (norm)."""
    n, ndim = M.shape
    acc = np.zeros(n)
    for i in range(ndim):
        col = M[:, i]
        acc = acc + (col * col if w is None else col * w[i])
    return acc


def _cos_pair_udf():
    """Arrow-vectorized twin of ``cosine(col_a, col_b)`` — bit-identical
    by construction (same left-to-right folds, see :func:`_seq_acc`;
    zero denominators raise like ANSI DIVIDE_BY_ZERO does in the
    Catalyst form — note the error CLASS differs: one Python ValueError
    per batch here vs a per-row ArithmeticException in Catalyst; the
    query-level outcome matches). Parity pinned by
    tests/test_round14_opt.py.

    Round 15: NO LONGER USED in query paths — the 1M-row A/B
    (AB_SIM_r15.json) measured this two-array-per-row shape at 0.73× the
    Catalyst fold, so the call sites reverted. Kept as the measured
    counter-example and for the parity/A-B tooling."""

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.empty(0))
        if va.isna().any() or vb.isna().any():
            raise ValueError(
                "NULL vector in cosine pair scoring (the Catalyst form "
                "propagates NULL; this vectorized form requires non-null "
                "arrays — filter them upstream)"
            )
        A = np.vstack(va.to_numpy())
        B = np.vstack(vb.to_numpy())
        num = np.zeros(len(A))
        for i in range(A.shape[1]):
            num = num + A[:, i] * B[:, i]
        den = np.sqrt(_seq_acc(A)) * np.sqrt(_seq_acc(B))
        if np.any(den == 0.0):
            raise ValueError(
                "[DIVIDE_BY_ZERO] zero-norm vector in cosine scoring "
                "(matches the Catalyst form's ANSI divide-by-zero)"
            )
        return pd.Series(num / den)

    return cos


def _cos_const_udf(qvec: list[float]):
    """Arrow-vectorized twin of ``dot(vec, lit(q)) / (norm(vec) *
    lit(norm_py(q)))`` — the :func:`_probe_index_rows` scoring shape;
    bit-identical (same folds, same precomputed query norm)."""
    q = np.array([float(x) for x in qvec])
    qn = _norm_py(list(qvec))

    @F.pandas_udf("double")
    def cos(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0))
        if vs.isna().any():
            raise ValueError(
                "NULL vector in cosine scoring (the Catalyst form "
                "propagates NULL; this vectorized form requires non-null "
                "arrays — filter them upstream)"
            )
        V = np.vstack(vs.to_numpy())
        num = _seq_acc(V, q)
        den = np.sqrt(_seq_acc(V)) * qn
        if np.any(den == 0.0):
            raise ValueError(
                "[DIVIDE_BY_ZERO] zero-norm vector in cosine scoring "
                "(matches the Catalyst form's ANSI divide-by-zero)"
            )
        return pd.Series(num / den)

    return cos


def _query_vec(spark: SparkSession, sf_dir: str, query_id: int) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") == query_id).select(
        _dvec("embedding").alias("qvec")
    )


def brute_force_topk(spark: SparkSession, sf_dir: str, query_id: int = 0, k: int = 10) -> DataFrame:
    """Exact top-k by cosine vs the embedding of ``query_id`` (excluded
    from results). Single-row broadcast join → narrow projection →
    TakeOrderedAndProject; no shuffle of the embedding table."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", _dvec("embedding").alias("vec"))
    q = _query_vec(spark, sf_dir, query_id)
    # Catalyst fold, NOT the Arrow pair UDF: the round-15 A/B
    # (AB_SIM_r15.json, 1M rows × 64 dims) measured the two-array-per-row
    # Arrow boundary at 0.73× the interpreted fold — serializing both
    # vectors to Python costs more than numpy saves. (The one-array
    # const shape is flat and the 16-centroid assign shape wins 1.6×,
    # so those keep their round-14 vectorization.)
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    max_candidate_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Exact embedding near-duplicate pairs (cosine ≥ threshold).

    ORACLE BASELINE: all-pairs is O(n²) — correct at oracle scale, the
    wrong plan at 100 TB (use :func:`lsh_neardup_pairs`: same verify,
    candidates from buckets). Guarded: n is counted up front (cheap —
    parquet row-group metadata) and n*(n-1)/2 compared against
    ``max_candidate_pairs``; pass ``None`` to bypass.

    Round-7 note (verdict task #7 investigated, NOT adopted): sharing
    the LSH family's persisted vector cache (`_signed_vectors`) was
    measured and is 4–18× SLOWER here (sf0.1: 47 s cached-warm vs
    10.5 s cold / 2.6 s OS-warm parquet). The O(n²) nested-loop pair
    scan re-reads the build side once per stream partition, and a
    columnar parquet scan serves those re-reads faster than
    deserializing (vec, sigs) rows out of the storage-level cache —
    the cache wins only for the bucket-join family it was built for.
    The ~18 s sweep floor is therefore the accepted cost of the capped
    exact baseline, not a missing reuse.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", _dvec("embedding").alias("vec"))
    if max_candidate_pairs is not None:
        n = e.count()
        est = n * (n - 1) // 2
        if est > max_candidate_pairs:
            from labs_stream_processing_examples_scala_spark.operators.dedup import CandidateExplosionError

            raise CandidateExplosionError(
                f"cosine_neardup_pairs over {n:,} vectors would examine "
                f"{est:,} pairs (> cap {max_candidate_pairs:,}); use "
                "lsh_neardup_pairs at this scale or raise the cap"
            )
    # spread the streamed side before the range join: the verify cost
    # is the O(n²) OUTPUT fan-out, invisible to AQE's input-byte
    # sizing, which otherwise coalesces the whole pair scan onto one
    # core (the same finding as dedup.fuzzy_name_pairs; measured
    # 110.9 → 13.9 s at sf0.1 where n(n-1)/2 ≈ 50M sits just under
    # the cap)
    n_parts = spark.sparkContext.defaultParallelism * 2
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va")).repartition(n_parts)
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        # Catalyst fold: the Arrow pair UDF measured 0.73× here
        # (AB_SIM_r15.json — two arrays/row across the Python boundary)
        .select("vec_a", "vec_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# --- LSH (random hyperplanes, deterministic integer-derived components) ---

N_TABLES = 8
BITS_PER_TABLE = 6


def _plane_component(table: int, bit: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    integer avalanche mixer (murmur-style finalizer) — a plain LCG mod
    small-power-of-two yields arithmetic-progression planes that all
    point the same way."""
    x = ((table * 64 + bit) * DIM + j) & 0xFFFFFFFF
    x = (x * 2654435761) & 0xFFFFFFFF
    x ^= x >> 16
    x = (x * 2246822519) & 0xFFFFFFFF
    x ^= x >> 13
    return (x % 4096) / 4096.0 - 0.5


def _make_signature_udf(n_tables: int, bits: int):
    """All tables' bucket ids in one numpy matmul per Arrow batch.

    The Catalyst-fold alternative (48 aggregate(zip_with(...)) columns)
    is correct but builds a ~3000-literal expression tree that doesn't
    codegen — measured slower than the Arrow round-trip. This is the
    legitimate pandas-UDF case: dense linear algebra.
    """
    planes = np.array(
        [
            [_plane_component(t, b, j) for j in range(DIM)]
            for t in range(n_tables)
            for b in range(bits)
        ]
    )  # (n_tables*bits, DIM)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def signature(col: pd.Series) -> pd.Series:
        mat = np.stack(col.to_numpy()).astype(np.float64)  # (n, DIM)
        proj = mat @ planes.T  # (n, n_tables*bits)
        sign_bits = (proj > 0).astype(np.int64).reshape(len(mat), n_tables, bits)
        buckets = (sign_bits * weights).sum(axis=2)  # (n, n_tables)
        return pd.Series(list(buckets))

    return signature


def lsh_buckets(
    spark: SparkSession, sf_dir: str, n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE
) -> DataFrame:
    """(vec_id, vec, table, bucket) — one row per vector per hash table.

    Multi-table sign-LSH: recall ≈ 1-(1-p^bits)^n_tables with
    p = 1 - θ/π; more tables buy recall, more bits buy pruning. At 100
    TB the banded table is written partitioned by (table, bucket) — a
    query reads n_tables partitions, the rest is pruned at the source.
    """
    return _signed_vectors(spark, sf_dir, n_tables, bits).select(
        "vec_id", "vec", F.posexplode("sigs").alias("table", "bucket")
    )


def _signed_vectors(
    spark: SparkSession, sf_dir: str, n_tables: int, bits: int
) -> DataFrame:
    """(vec_id, vec, sigs: array<long>) — persisted once per (session,
    sf_dir, n_tables, bits) so every consumer (bucket explode, query-side
    lookup) reads the one materialized signature pass instead of
    re-running the UDF per plan branch (same pattern as
    dedup.shingle_hash_arrays). At 100 TB this is the precomputed index
    table you'd write partitioned by bucket."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        return e.withColumn("sigs", _make_signature_udf(n_tables, bits)("vec")).persist()

    return memo(spark, sf_dir, "lsh_signatures", (n_tables, bits), build)


def _probe_buckets(
    qvec: list[float], n_tables: int, bits: int, n_probes: int
) -> list[tuple[int, int]]:
    """Margin-based multiprobe sequence (Lv et al., VLDB 2007): per
    table, the exact bucket plus the perturbations flipping the bit
    subsets with the smallest summed hyperplane |margin| — the buckets
    the query's near neighbours most likely fell into when a plane
    narrowly split them off.

    Driver-side and O(n_tables · 2^bits) over the DETERMINISTIC plane
    components — one 64-dim query vector against a fixed-size plane set,
    never SF-scaled. Returns n_tables × n_probes (table, bucket) keys.
    """
    import itertools

    planes = np.array(
        [
            [_plane_component(t, b, j) for j in range(DIM)]
            for t in range(n_tables)
            for b in range(bits)
        ]
    )
    proj = planes @ np.asarray(qvec, dtype=np.float64)
    out: list[tuple[int, int]] = []
    for t in range(n_tables):
        p = proj[t * bits : (t + 1) * bits]
        base = int(((p > 0).astype(np.int64) << np.arange(bits, dtype=np.int64)).sum())
        scored = sorted(
            (sum(abs(p[i]) for i in subset), sum(1 << i for i in subset))
            for r in range(1, bits + 1)
            for subset in itertools.combinations(range(bits), r)
        )
        masks = [0] + [m for _, m in scored]
        out.extend((t, base ^ m) for m in masks[:n_probes])
    return out


def lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    n_probes: int = 1,
) -> DataFrame:
    """ANN top-k: candidates = vectors sharing the query's bucket in ANY
    table (union of tables), exact cosine re-rank on the candidate set
    only. ``n_probes > 1`` additionally probes each table's
    lowest-margin perturbation buckets (:func:`_probe_buckets`) —
    recall rises steeply with a sub-linear candidate-set increase
    because the margin ranking targets exactly the buckets near
    neighbours get split into (asserted by
    tests/test_extensions.py::test_lsh_topk_multiprobe_dominates).

    Either way the probe is a broadcast equi-join on (table, bucket)
    against the persisted signature index — at 100 TB the index is
    partitioned by (table, bucket) and a query reads
    n_tables × n_probes partitions; nothing else is scanned."""
    b = lsh_buckets(spark, sf_dir, n_tables, bits)
    if n_probes <= 1:
        q = b.filter(F.col("vec_id") == query_id).select(
            "table", F.col("bucket").alias("qbucket"), F.col("vec").alias("qvec")
        )
        cand = (
            b.join(F.broadcast(q), ["table"])
            .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != query_id))
            .select("vec_id", "vec", "qvec")
            .dropDuplicates(["vec_id"])
        )
    else:
        qvec = _query_embedding(spark, sf_dir, query_id)
        probes = spark.createDataFrame(
            _probe_buckets(qvec, n_tables, bits, n_probes), "table int, bucket long"
        )
        cand = (
            b.join(F.broadcast(probes), ["table", "bucket"])
            .filter(F.col("vec_id") != query_id)
            .select("vec_id", "vec")
            .dropDuplicates(["vec_id"])
            .withColumn("qvec", F.array(*[F.lit(float(x)) for x in qvec]))
        )
    return (
        # Catalyst fold (round-15 A/B: the Arrow pair shape reads 0.73×;
        # vs a constant query the Arrow/Catalyst forms are flat, and the
        # fold ships no vectors to Python at all)
        cand.select("vec_id", F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE default LSH top-k (`x_sim_lsh_topk` since round 7 — a user
    picking the obvious name must not get the 0.10-recall single-probe
    baseline): multiprobe :func:`lsh_topk` with n_probes=4, the scale
    answer to "LSH recall is low on near-random vectors" — at sf0.01
    recall@10 goes 0.1 → 0.8 while scanning ~39% of the corpus (vs the
    ~80% a random sample would need for the same recall). Probe keys
    stay (table, bucket) equi-join lookups, so the partitioned-index
    pruning story is unchanged. Single-probe remains registered as
    `x_sim_lsh_topk_sp`, the documented teaching baseline."""
    return lsh_topk(spark, sf_dir, n_probes=4)


# --- IVF / k-means (constant-literal centroids, zero-exchange assignment) ---
#
# The centroid table is FIXED-SIZE (n_cells × dim, never SF-scaled), so
# instead of broadcasting it as a join side and resolving the argmax with
# a window (which forces a hash exchange of the ×n_cells-expanded table —
# the round-4 plan defect), we fold it into the plan as ONE constant
# array<struct<cell,cvec,cnorm>> literal and take the per-row argmax with
# F.transform + F.aggregate. Assignment is then genuinely a narrow map:
# explain() shows no Exchange of any kind between the embeddings scan and
# the cell column.


def _norm_py(v: list[float]) -> float:
    """Left-to-right sum of squares + sqrt — bit-for-bit the same IEEE
    double sequence as :func:`norm`, so a Python-precomputed centroid
    norm folded in as a literal matches what Spark would have computed."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _centroid_literal(cents_py: list[tuple[int, list[float]]]) -> Column:
    """One constant array<struct<cell,cvec,cnorm>> literal. Catalyst's
    ConstantFolding collapses the CreateArray-of-literals into a single
    Literal node, so the n_cells×dim numbers cost nothing per row."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cell)).alias("cell"),
                F.array(*[F.lit(float(x)) for x in cvec]).alias("cvec"),
                F.lit(_norm_py(cvec)).alias("cnorm"),
            )
            for cell, cvec in cents_py
        ]
    )


def _assign_cell_expr(
    cents_py: list[tuple[int, list[float]]], vec_col: str = "vec"
) -> Column:
    """Row-local nearest-centroid id as a pure Catalyst expression:
    cosine to each literal centroid (same fold order as :func:`cosine`,
    so FP results are identical to the former broadcast-join form),
    argmax with lowest-cell tie-break (== row_number over (sim DESC,
    cell ASC)). Zero exchange.

    Kept as the PARITY REFERENCE for :func:`_assign_cell` (the shipped
    Arrow-vectorized form) — higher-order functions never whole-stage-
    codegen, so this fold runs interpreted: 16 cells × 64 dims of
    boxed-double ops per row was the dominant term of the sf10 IVF
    build. tests/test_round14_opt.py pins bit-equality of the two."""
    vn = norm(F.col(vec_col))

    def _sim(c):
        # zero-norm guard (round-12 self-review): one all-zero
        # embedding made vn*cnorm == 0 and ANSI DIVIDE_BY_ZERO killed
        # the whole index build — the same degenerate-row hazard
        # _unit_vec/_safe_cosine already guard. dot is 0 for a zero
        # vector, so the guarded sim is 0 and the lowest cell wins
        # deterministically; non-zero vectors are bit-identical.
        denom = vn * c["cnorm"]
        safe = F.when(denom == F.lit(0.0), F.lit(1.0)).otherwise(denom)
        return dot(F.col(vec_col), c["cvec"]) / safe

    sims = F.transform(
        _centroid_literal(sorted(cents_py)),
        lambda c: F.struct(_sim(c).alias("sim"), c["cell"].alias("cell")),
    )
    best = F.aggregate(
        sims,
        F.struct(F.lit(-2.0).alias("sim"), F.lit(-1).alias("cell")),
        # strict > with ascending cell order == lowest cell wins ties
        lambda acc, s: F.when(s["sim"] > acc["sim"], s).otherwise(acc),
    )
    return best["cell"]


def _assign_cell(cents_py: list[tuple[int, list[float]]], vec_col: str = "vec") -> Column:
    """Row-local nearest-centroid id, Arrow-vectorized (round-14
    optimization; guide §4.2 — dense linear algebra belongs in numpy).

    BIT-IDENTICAL to :func:`_assign_cell_expr` by construction: every
    accumulation runs in the SAME left-to-right IEEE order as the
    Catalyst fold, vectorized across the rows of the batch instead of
    across the dims of one row —

    - dot/norm: ``acc = acc + V[:, i] * c[i]`` for i in dim order ==
      the ``F.aggregate`` left fold (0.0 + p_0) + p_1 ... per row;
    - the zero-denominator guard and the strict-``>`` ascending-cell
      argmax (first max wins == lowest cell on ties) are replicated
      elementwise, including Spark's NaN-is-greatest comparison
      semantics for non-finite inputs.

    The interpreted fold form remains above as the parity reference;
    equality is pinned by tests/test_round14_opt.py on the fixture and
    on adversarial vectors (zeros, ties, NaN)."""
    cents = sorted(cents_py)
    cells = [int(c) for c, _ in cents]
    cvecs = [[float(x) for x in v] for _, v in cents]
    cnorms = [_norm_py(v) for v in cvecs]

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        V = np.vstack(vs.to_numpy())  # (n, dim) float64
        n, ndim = V.shape
        vn = np.zeros(n)
        for i in range(ndim):  # dim-sequential == the Catalyst fold order
            vn = vn + V[:, i] * V[:, i]
        vn = np.sqrt(vn)
        best_sim = np.full(n, -2.0)
        best_cell = np.full(n, -1, dtype=np.int64)
        for cell, cv, cn in zip(cells, cvecs, cnorms):
            acc = np.zeros(n)
            for i in range(ndim):
                acc = acc + V[:, i] * cv[i]
            denom = vn * cn
            sim = acc / np.where(denom == 0.0, 1.0, denom)
            # Spark `>`: NaN compares greater than any non-NaN value
            m = (sim > best_sim) | (np.isnan(sim) & ~np.isnan(best_sim))
            best_sim = np.where(m, sim, best_sim)
            best_cell = np.where(m, cell, best_cell)
        return pd.Series(best_cell.astype(np.int32))

    return assign(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def _seed_centroids(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> list[tuple[int, list[float]]]:
    """Seed centroids = first n_cells vectors by vec_id, collected to the
    driver (fixed n_cells×dim — never SF-scaled; annotated collect)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", _dvec("embedding").alias("vec"))
    seeds = e.orderBy("vec_id").limit(n_cells).collect()
    return [(int(r.vec_id), [float(x) for x in r.vec]) for r in seeds]


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    cents_py: list[tuple[int, list[float]]],
    tag: str,
) -> str:
    """Materialize the inverted file: one zero-exchange assignment pass
    over the embeddings, written as parquet partitioned by ``cell``
    (sources/layout.py's partitioned-write layout) — the on-disk index a
    100 TB deployment would keep as a table; probes read only their
    nprobe partitions, which the scan proves via PartitionFilters.
    Returns the path. Built once per (session, sf_dir, tag) in a
    session temp dir so repeated probes reuse it."""
    from labs_stream_processing_examples_scala_spark.sources.layout import write_partitioned

    def build(path: str) -> None:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        write_partitioned(e.withColumn("cell", _assign_cell(cents_py)), path, "cell")

    return memo_dir(spark, sf_dir, "ivf_index", (tag,), build)


def _probe_cells_py(
    cents_py: list[tuple[int, list[float]]], qvec: list[float], nprobe: int
) -> list[int]:
    """nprobe cells nearest to the query, computed driver-side over the
    fixed n_cells×dim centroid set (same FP order as :func:`cosine`,
    desc sim / asc cell ordering)."""
    qn = _norm_py(qvec) or 1.0  # zero query → dot is 0 anyway; avoid 0/0

    def _cos(c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(c, qvec):
            acc += float(x) * float(y)
        return acc / ((_norm_py(c) or 1.0) * qn)

    ranked = sorted(((-_cos(cvec), cell) for cell, cvec in cents_py))
    return [cell for _, cell in ranked[:nprobe]]


def _probe_index_rows(
    idx: DataFrame, cells: list[int], qvec: list[float], query_id: int, k: int
) -> DataFrame:
    """Score the probed cells of an inverted-file frame: exact cosine
    on the pruned rows only, scan → project → TakeOrdered. Shared by
    the batch probe below and the streaming-maintained index
    (streaming/ivf_ingest.py), so both produce bit-identical top-k."""
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    qn = F.lit(_norm_py(qvec))
    return (
        idx.filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            F.round(_cos_const_udf(qvec)(F.col("vec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _probe_ivf(
    spark: SparkSession,
    index_path: str,
    cents_py: list[tuple[int, list[float]]],
    qvec: list[float],
    query_id: int,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Read nprobe partitions of the inverted file (PartitionFilters —
    the other cells' files are never opened), exact cosine re-rank on
    the probed rows only. Zero shuffle: scan → project → TakeOrdered."""
    cells = _probe_cells_py(cents_py, qvec, nprobe)
    return _probe_index_rows(spark.read.parquet(index_path), cells, qvec, query_id, k)


def _query_embedding(spark: SparkSession, sf_dir: str, query_id: int) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == query_id)
        .select(_dvec("embedding").alias("vec"))
        .first()  # exactly one row — fixed-size collect
    )
    if row is None:
        raise ValueError(f"query_id {query_id} not found in {sf_dir}/embeddings")
    return [float(x) for x in row.vec]


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: seed centroids = first n_cells vectors (by vec_id),
    one zero-exchange assignment pass, inverted file materialized
    partitioned by cell, probe reads only the nprobe nearest cells'
    partitions (PartitionFilters in the scan — asserted by
    tools/plan_audit.py and tests/test_extensions.py).

    At 100 TB: centroids are a fixed-size plan literal; assignment is a
    narrow map; the inverted file is an on-disk table partitioned by
    cell, built once and probed many times.

    Delegates to :func:`ivf_probe_topk` — the two registry entries ARE
    the same code path (the probe entry's identity recall floor is
    structural, not a copy-paste coincidence); this slot differs only
    in WHEN it runs: first in the bench order, so it pays the
    session's one-time index build."""
    return ivf_probe_topk(spark, sf_dir, query_id, k, n_cells, nprobe)


def materialize_ivf_index(
    spark: SparkSession, sf_dir: str, n_cells: int = 16
) -> tuple[str, list[tuple[int, list[float]]]]:
    """The IVF counterpart of graph_ann.materialize_nsw_index (round-12
    verdict task #4): build-or-reuse the on-disk inverted file (parquet
    partitioned by cell) and return ``(path, centroids)`` — the handle
    a steady-state deployment keeps. The session cache makes the build
    once-per-(session, sf_dir, n_cells); every later probe is
    zero-Exchange over the nprobe nearest cells' partitions."""
    cents_py = _seed_centroids(spark, sf_dir, n_cells)
    return build_ivf_index(spark, sf_dir, cents_py, tag=f"seed{n_cells}"), cents_py


def ivf_topk_from_index(
    spark: SparkSession,
    index_path: str,
    cents_py: list[tuple[int, list[float]]],
    qvec: list[float],
    query_id: int,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Steady-state probe of a materialized inverted file: rank cells
    driver-side over the fixed centroid set, read ONLY the nprobe
    partitions (PartitionFilters), exact cosine + TakeOrdered on the
    pruned rows. Bit-identical to :func:`ivf_topk` over the same
    index (the nsw_topk_from_index counterpart)."""
    return _probe_ivf(spark, index_path, cents_py, qvec, query_id, k, nprobe)


def ivf_probe_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Registry form of the STEADY-STATE IVF path (x_sim_ivf_probe):
    probe the materialized index, build amortized across the session —
    what x_sim_ivf_topk costs once the index exists. Same results as
    :func:`ivf_topk` by construction (shared centroids, shared index,
    shared scoring), so the recall floor is checked as equality-grade
    overlap in tools/check_oracle.py."""
    path, cents_py = materialize_ivf_index(spark, sf_dir, n_cells)
    qvec = _query_embedding(spark, sf_dir, query_id)
    return ivf_topk_from_index(spark, path, cents_py, qvec, query_id, k, nprobe)


def _make_probe_expansion_udf(n_tables: int, bits: int, n_probes: int):
    """Per-ROW multiprobe (the pairs-path analogue of the query-side
    :func:`_probe_buckets`, Lv et al. VLDB 2007): for each table emit
    the row's base bucket PLUS the ``n_probes - 1`` perturbation
    buckets whose flipped-bit subsets have the smallest summed
    hyperplane |margin| — the buckets this vector's near neighbours
    most likely landed in when a plane narrowly split them apart.

    One Arrow batch = one matmul + one (batch × tables × subsets)
    einsum; subsets are the fixed 2^bits - 1 masks (63 at bits=6), so
    the expansion is vectorized end-to-end, never per-row Python.
    Returns ``array<long>`` of length n_tables × n_probes, table-major
    with the BASE bucket first in each table's group (consumers derive
    ``table = pos / n_probes`` and ``is_base = pos % n_probes == 0``).
    """
    import itertools

    planes = np.array(
        [
            [_plane_component(t, b, j) for j in range(DIM)]
            for t in range(n_tables)
            for b in range(bits)
        ]
    )
    weights = 1 << np.arange(bits, dtype=np.int64)
    subsets = [
        s
        for r in range(1, bits + 1)
        for s in itertools.combinations(range(bits), r)
    ]
    sub_matrix = np.zeros((len(subsets), bits))
    for i, s in enumerate(subsets):
        sub_matrix[i, list(s)] = 1.0
    sub_masks = np.array([sum(1 << b for b in s) for s in subsets], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def probe_expand(col: pd.Series) -> pd.Series:
        mat = np.stack(col.to_numpy()).astype(np.float64)  # (n, DIM)
        proj = (mat @ planes.T).reshape(len(mat), n_tables, bits)
        base = ((proj > 0).astype(np.int64) * weights).sum(axis=2)  # (n, T)
        scores = np.einsum("ntb,sb->nts", np.abs(proj), sub_matrix)  # (n, T, S)
        top = np.argpartition(scores, n_probes - 1, axis=2)[:, :, : n_probes - 1]
        flips = base[:, :, None] ^ sub_masks[top]  # (n, T, n_probes-1)
        out = np.concatenate([base[:, :, None], flips], axis=2)  # (n, T, P)
        return pd.Series(list(out.reshape(len(mat), -1)))

    return probe_expand


def _probe_expanded(
    spark: SparkSession, sf_dir: str, n_tables: int, bits: int, n_probes: int
) -> DataFrame:
    """Probe-expanded signatures, persisted like the plain signatures
    and keyed with n_probes — ONE Arrow expansion pass per corpus serves
    both join sides (the base side is the pos % n_probes == 0 slice of
    the same materialization). Bounded (round-9 ADVICE): each entry
    persists the full 64-double vectors + expanded bucket arrays, so a
    long session sweeping corpora/params must not accumulate unbounded
    executor storage."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        expand = _make_probe_expansion_udf(n_tables, bits, n_probes)
        return e.withColumn("pbs", expand("vec")).persist()

    return memo(
        spark, sf_dir, "probe_expanded", (n_tables, bits, n_probes), build, bounded=True
    )


def lsh_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    n_tables: int = N_TABLES,
    bits: int = BITS_PER_TABLE,
    n_probes: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates = pairs meeting in
    a bucket in ANY hash table, exact cosine verify ≥ threshold on the
    candidate set only — precision is exactly 1.0 by construction.

    Round 8 (verdict task #1): the candidate generation is MULTIPROBE —
    each vector also probes its ``n_probes - 1`` lowest-margin
    perturbation buckets per table (:func:`_make_probe_expansion_udf`),
    and a pair is caught when EITHER member probes into the other's
    base bucket. Measured recall vs the exact operator at sf0.01,
    threshold 0.3: 0.356 single-probe → ≥ 0.7 multiprobe (floor pinned
    in tools/check_oracle.py; dominance asserted by
    tests/test_extensions.py). ``n_probes=1`` keeps the single-probe
    teaching baseline (`x_sim_lsh_neardup_sp`).

    The quadratic all-pairs still never materializes — the join stays
    keyed on (table, bucket); the probe side carries n_probes× the
    rows, so work ∝ n_probes · Σ (probe-bucket × base-bucket) within
    each table, not n². At 100 TB both sides read the same
    (table, bucket)-partitioned index table; the expansion multiplies
    the probe side's key count, never the scanned corpus.
    """
    # n_probes - 1 perturbation buckets are drawn from the 2^bits - 1
    # non-empty flip subsets; past that argpartition would raise an
    # opaque executor-side numpy error, so validate at the entry point
    if n_probes > (1 << bits):
        raise ValueError(
            f"n_probes={n_probes} exceeds the 2**bits={1 << bits} distinct "
            f"buckets reachable per table at bits={bits}"
        )
    # Cost shape (A/B-measured at sf0.1): candidates are DEDUPED as bare
    # (id, id) pairs BEFORE the exact verify — a pair colliding in many
    # (table, probe) slots must pay the 64-dim cosine fold once, not
    # per collision (verify-before-dedup measured 31.7 s), and the
    # dedup exchange must not carry two 64-double vectors per candidate
    # (vectors-riding dedup measured 10.4 s in-sweep). Vectors join
    # back onto the UNIQUE pairs only (id-keyed joins AQE sizes;
    # broadcast at fixture SF, shuffle at corpus scale): 4.1 s.
    if n_probes <= 1:
        b = lsh_buckets(spark, sf_dir, n_tables, bits)
        a = b.select("table", "bucket", F.col("vec_id").alias("vec_a"))
        c = b.select("table", "bucket", F.col("vec_id").alias("vec_b"))
        cand = (
            a.join(c, ["table", "bucket"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .dropDuplicates(["vec_a", "vec_b"])
        )
        vecs = b.select("vec_id", "vec").dropDuplicates(["vec_id"])
    else:
        exp = _probe_expanded(spark, sf_dir, n_tables, bits, n_probes)
        rows = exp.select(
            "vec_id", F.posexplode("pbs").alias("pos", "bucket")
        ).withColumn("table", (F.col("pos") / n_probes).cast("int"))
        probe_side = rows.select("table", "bucket", F.col("vec_id").alias("vec_a"))
        base_side = rows.filter(F.col("pos") % n_probes == 0).select(
            "table", "bucket", F.col("vec_id").alias("vec_b")
        )
        cand = (
            probe_side.join(base_side, ["table", "bucket"])
            .filter(F.col("vec_a") != F.col("vec_b"))
            .select(
                F.least("vec_a", "vec_b").alias("vec_a"),
                F.greatest("vec_a", "vec_b").alias("vec_b"),
            )
            .dropDuplicates(["vec_a", "vec_b"])
        )
        vecs = exp.select("vec_id", "vec")
    return (
        cand.join(
            vecs.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va")),
            "vec_a",
        )
        .join(
            vecs.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb")),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b",
            # Catalyst fold: the Arrow pair UDF measured 0.73× on this
            # two-array-per-row shape (AB_SIM_r15.json)
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_step(spark: SparkSession, sf_dir: str, n_cells: int = 16) -> DataFrame:
    """One Lloyd iteration over the embedding table: assign every vector
    to its nearest seed centroid (seeds = first ``n_cells`` vectors by
    vec_id, as in :func:`ivf_topk`), then recompute each cell's mean —
    the iterative-algorithm building block behind IVF/k-means index
    training. Output per cell: member count, the updated centroid's
    first component, and its L2 norm (compact diagnostics instead of a
    64-wide array, same information for the oracle hash).

    Plan: centroids folded in as a constant literal (fixed n_cells —
    never SF-scaled), one ZERO-EXCHANGE row-local argmax assignment,
    then posexplode + groupBy (cell, pos) with map-side combine for the
    elementwise means — the classic distributed k-means update (shuffle
    volume = n_cells × dim, independent of corpus size). Iterating =
    re-running with the updated centroids; each step is this same
    bounded-shuffle shape.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", _dvec("embedding").alias("vec"))
    cents_py = _seed_centroids(spark, sf_dir, n_cells)
    assigned = e.withColumn("cell", _assign_cell(cents_py)).select("vec_id", "cell", "vec")
    per = assigned.select(
        "cell", F.posexplode("vec").alias("pos0", "val")
    ).select("cell", (F.col("pos0") + 1).alias("pos"), "val")
    upd = per.groupBy("cell", "pos").agg(F.avg("val").alias("m"))
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_members"))
    diag = upd.groupBy("cell").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("new_norm"),
        F.round(F.max(F.when(F.col("pos") == 1, F.col("m"))), 6).alias("c0"),
    )
    # diag is exactly n_cells rows (fixed, never SF-scaled) — broadcast
    return counts.join(F.broadcast(diag), "cell")


def _kmeans_partials_map(cents: list[list[float]]):
    """One Lloyd-iteration map for :func:`kmeans_train`: per Arrow
    batch, cosine-argmax every row against the centroid matrix (first
    max = lowest cell, the `_assign_cell` tie-break) and accumulate
    per-cell raw-vector sums and counts in bounded n_cells×dim state —
    the map-side combine. Emits only the non-empty cells' (cell, pos,
    psum, cnt) rows once per partition."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0

    def partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        n_cells, dim = C.shape
        sums = np.zeros((n_cells, dim))
        cnts = np.zeros(n_cells, dtype=np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec_col = rb.column(rb.schema.get_field_index("vec"))
            V = pc.list_flatten(vec_col).to_numpy(zero_copy_only=False).reshape(
                rb.num_rows, -1
            )
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0] = 1.0
            a = np.argmax((V @ C.T) / (vn[:, None] * cn[None, :]), axis=1)
            np.add.at(sums, a, V)
            np.add.at(cnts, a, 1)
        nz = np.nonzero(cnts)[0]
        if len(nz):
            yield pa.RecordBatch.from_pydict(
                {
                    "cell": np.repeat(nz, dim).astype("int32"),
                    "pos": np.tile(np.arange(dim, dtype="int32"), len(nz)),
                    "psum": sums[nz].reshape(-1),
                    "cnt": np.repeat(cnts[nz], dim),
                }
            )

    return partials


def kmeans_train(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    n_iter: int = 5,
    tol: float = 1e-6,
) -> tuple[list[list[float]], int]:
    """Full Lloyd training loop for the IVF coarse quantizer — the
    offline batch job :func:`ivf_topk`'s docstring defers to.

    Per iteration (the :func:`kmeans_step` shape, repeated): the
    n_cells×dim centroid matrix is folded into the plan as a constant
    literal and assignment is a ZERO-EXCHANGE row-local argmax; the
    update shuffles only the (cell, pos) partial sums — n_cells × dim
    rows regardless of corpus size. Between iterations the updated
    centroids (a FIXED n_cells×dim matrix, never SF-scaled) are
    collected to the driver and re-folded as literals — the standard
    distributed k-means loop; the data itself never moves.

    Empty cells keep their previous centroid. Stops early when the max
    centroid L2 shift drops below ``tol``. Returns (centroids,
    iterations_run). Deterministic: seeds are the first n_cells vectors
    by vec_id and ties break on cell id. Memoized per (session, sf_dir,
    params) — repeated probes reuse the trained quantizer, as a real
    deployment would.
    """

    def build() -> tuple[list[list[float]], int]:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        return kmeans_train_frame(e, n_cells=n_cells, n_iter=n_iter, tol=tol)

    return memo(spark, sf_dir, "kmeans", (n_cells, n_iter, tol), build)


def kmeans_train_frame(
    e: DataFrame,
    n_cells: int = 16,
    n_iter: int = 5,
    tol: float = 1e-6,
) -> tuple[list[list[float]], int]:
    """:func:`kmeans_train`'s core over an arbitrary ``(vec_id, vec)``
    frame — same Arrow partial-sum iteration, no table loading or
    memoization (round 7: factored out so the streaming IVF-PQ tier
    can re-train from its raw companion index's content,
    streaming/ivf_ingest.py rebuild_from_raw)."""
    seeds = e.orderBy("vec_id").limit(n_cells).select("vec").collect()
    cents: list[list[float]] = [list(r.vec) for r in seeds]
    it_run = 0
    for _ in range(n_iter):
        it_run += 1
        # Arrow-vectorized iteration (round 6, same rationale as
        # quantization.pq_train): assign + fold per-cell partial sums
        # inside each partition at numpy speed, shuffle ONLY the
        # n_cells×dim partials — replaces the posexplode of every
        # vector component (dim× row blowup) the previous form
        # shuffled into the (cell,pos) agg
        upd = (
            e.select("vec").mapInArrow(
                _kmeans_partials_map(cents),
                schema="cell int, pos int, psum double, cnt long",
            )
            .groupBy("cell", "pos")
            .agg((F.sum("psum") / F.sum("cnt")).alias("m"))
            .collect()  # n_cells × dim rows — fixed size, not data-scaled
        )
        new_cents = [list(c) for c in cents]
        by_cell: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        for cell, comps in by_cell.items():
            new_cents[cell] = [comps[p] for p in sorted(comps)]
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for old, new in zip(cents, new_cents)
        )
        cents = new_cents
        if shift < tol:
            break
    return cents, it_run


def ivf_topk_trained(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iter: int = 5,
) -> DataFrame:
    """:func:`ivf_topk` with Lloyd-trained centroids instead of raw
    seeds — same probe plan (cell-partitioned inverted file, nprobe
    partitions read), better-balanced cells and therefore better recall
    at equal nprobe (asserted in tests/test_extensions.py)."""
    cents, _ = kmeans_train(spark, sf_dir, n_cells=n_cells, n_iter=n_iter)
    cents_py = [(i, c) for i, c in enumerate(cents)]
    path = build_ivf_index(spark, sf_dir, cents_py, tag=f"lloyd{n_cells}x{n_iter}")
    qvec = _query_embedding(spark, sf_dir, query_id)
    return _probe_ivf(spark, path, cents_py, qvec, query_id, k, nprobe)
