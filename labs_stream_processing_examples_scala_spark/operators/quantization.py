"""Product quantization (PQ) for embedding ANN — Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search" (TPAMI
2011), re-expressed Spark-first.

Split the embedding dimension into M subspaces and k-means each
subspace to K codewords; a vector then compresses to M small integer
codes (64-dim float32 = 256 bytes → M=8 bytes at K=16), and a query
scores every compressed vector through a per-subspace lookup table —
asymmetric distance computation (ADC). This is the memory-bandwidth
ANN: at 100 TB the scan reads the narrow code table, never the raw
vectors, and every per-row step below is a zero-exchange plan:

- codebooks are FIXED-SIZE (M × K × dim/M doubles) constant plan
  literals — the same narrow-map discipline as the IVF assignment
  (similarity.py `_assign_cell`, the round-4 lesson);
- encoding is a row-local argmin per subspace (no explode, no window,
  no join) — `explain()` shows no Exchange between scan and codes;
- training shuffles ONLY the (sub, code, pos) partial means — M × K ×
  dim/M rows per iteration regardless of corpus size, the same bounded
  update as `kmeans_train`;
- ADC scoring is a static sum of M literal-table lookups per row, then
  TakeOrdered.

Vectors are L2-normalized before encoding, so the ADC inner product
approximates cosine and recall is measured against the exact
`brute_force_topk` ordering (recall recorded in CORRECTNESS_LOCAL via
tools/check_oracle.py RECALL_SPECS).

Reference parity note: the reference repo has no similarity search at
all (748-LoC actor/Rx demo); this extends the LLM-pipeline surface the
build plan (SURVEY §7 step 7) calls for.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.operators.similarity import (
    DIM,
    _dvec,
    _query_embedding,
    dot,
    norm,
)
from labs_stream_processing_examples_scala_spark.session import memo, memo_dir
from labs_stream_processing_examples_scala_spark.sources.batch import load_table

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace (4-bit codes)


def _unit_vec(col: str = "vec") -> Column:
    """L2-normalize; an all-zero vector stays zero. The session runs
    ANSI mode, so an unguarded 0.0/0.0 would raise DIVIDE_BY_ZERO and
    kill the whole job on one degenerate row."""
    n = norm(F.col(col))
    return F.transform(F.col(col), lambda x: F.when(n == 0.0, x).otherwise(x / n))


def _safe_cosine(vec: Column, qlit: Column, qn: float) -> Column:
    """Exact cosine against the query literal with a zero-norm guard
    (ANSI mode: 0/0 raises). A zero vector scores 0.0 — the
    orthogonal-equivalent, keeping it out of any top-k it shouldn't
    win."""
    vn = norm(vec)
    return F.when(vn == 0.0, F.lit(0.0)).otherwise(dot(vec, qlit) / (vn * F.lit(qn)))


def _codebook_literal(cb: list[list[list[float]]]) -> Column:
    """array<array<array<double>>> constant: cb[sub][code][component].
    M × K × dim/M doubles — fixed size, never SF-scaled."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in word]) for word in sub])
            for sub in cb
        ]
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_slices(m: int) -> list[tuple[int, int]]:
    if DIM % m:
        raise ValueError(f"PQ subspaces must divide dim: {DIM} % {m}")
    d = DIM // m
    return [(s * d + 1, d) for s in range(m)]  # 1-based F.slice starts


def _argmin_code(svec: Column, sub_cb: list[list[float]]) -> Column:
    """Row-local nearest-codeword id within one subspace: L2² to each
    literal codeword, argmin with lowest-code tie-break. Zero
    exchange."""
    # F.array drops struct field aliases when unifying element types —
    # cast pins the names so the fold below can address them
    st = "struct<dist:double,code:int>"
    cands = F.array(
        *[
            F.struct(
                _l2sq(svec, F.array(*[F.lit(float(x)) for x in word])).alias("dist"),
                F.lit(code).alias("code"),
            ).cast(st)
            for code, word in enumerate(sub_cb)
        ]
    )
    best = F.aggregate(
        cands,
        F.struct(F.lit(float("inf")).alias("dist"), F.lit(-1).alias("code")).cast(st),
        lambda acc, s: F.when(s["dist"] < acc["dist"], s).otherwise(acc),
    )
    return best["code"]


def _train_partials_map(cb: list[list[list[float]]]):
    """One Lloyd-iteration map for :func:`pq_train`: per Arrow batch,
    assign every row (`_pq_assign_np`) and accumulate per-(sub, code)
    component sums and counts into a bounded M×K×dim/M numpy state —
    the map-side combine. Emits only the non-empty (sub, code, pos,
    psum, cnt) rows once per partition."""
    import numpy as np

    C = np.asarray(cb, dtype=np.float64)
    m, K, d = C.shape

    def partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        sums = np.zeros((m, K, d))
        cnts = np.zeros((m, K), dtype=np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec_col = rb.column(rb.schema.get_field_index("vec"))
            flat = pc.list_flatten(vec_col).to_numpy(zero_copy_only=False)
            U = _unit_rows_np(flat, rb.num_rows)
            codes = _pq_assign_np(U, C)
            for s in range(m):
                np.add.at(sums[s], codes[:, s], U[:, s * d : (s + 1) * d])
                np.add.at(cnts[s], codes[:, s], 1)
        subs, code_idx = np.nonzero(cnts)
        if len(subs):
            yield pa.RecordBatch.from_pydict(
                {
                    "sub": np.repeat(subs, d).astype("int32"),
                    "code": np.repeat(code_idx, d).astype("int32"),
                    "pos": np.tile(np.arange(d, dtype="int32"), len(subs)),
                    "psum": sums[subs, code_idx].reshape(-1),
                    "cnt": np.repeat(cnts[subs, code_idx], d),
                }
            )

    return partials


def pq_train(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
    tol: float = 1e-6,
) -> tuple[list[list[list[float]]], int]:
    """Lloyd-train the M per-subspace codebooks over the L2-normalized
    embeddings. Per iteration: a narrow Arrow-vectorized map assigns
    every row and fold-accumulates per-(sub, code) PARTIAL sums inside
    each partition (numpy, bounded M×K×dim/M state — the map-side
    combine), the update shuffles only those partials (fixed size,
    never data-scaled), and the new codebooks are re-folded into the
    next iteration's closure. Seeds = subvectors of the first k_codes
    vectors by vec_id (deterministic). Empty codewords keep their
    previous value. Returns (codebooks, iterations_run); memoized per
    session like `kmeans_train`.

    Round 6: the per-iteration assignment was a chained M×K-literal
    Catalyst `when` fold — ~7 s of driver analysis per iteration plus
    interpreted row eval (the whole train measured 36–40 s at EVERY
    sf, i.e. compile-bound). The Arrow form trains in ~3 s and scales
    with data, not with plan size."""

    # the trained codebooks are the offline artifact a deployment trains
    # once and ships as a literal
    def build() -> tuple[list[list[list[float]]], int]:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        return pq_train_frame(e, m=m, k_codes=k_codes, n_iter=n_iter, tol=tol)

    return memo(spark, sf_dir, "pq_codebooks", (m, k_codes, n_iter, tol), build)


def pq_train_frame(
    e: DataFrame,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
    tol: float = 1e-6,
) -> tuple[list[list[list[float]]], int]:
    """:func:`pq_train`'s core over an arbitrary ``(vec_id, vec)``
    frame — same Arrow partial-sum iterations, no table loading or
    memoization (round 7: factored out so the streaming IVF-PQ tier
    can re-train codebooks from its raw companion index's content,
    streaming/ivf_ingest.py rebuild_from_raw)."""
    u = e.select("vec_id", _unit_vec().alias("vec"))
    slices = _sub_slices(m)
    seeds = u.orderBy("vec_id").limit(k_codes).collect()  # k_codes rows, fixed
    cb: list[list[list[float]]] = [
        [[float(x) for x in r.vec[start - 1 : start - 1 + d]] for r in seeds]
        for start, d in slices
    ]
    it_run = 0
    for _ in range(n_iter):
        it_run += 1
        upd = (
            e.mapInArrow(
                _train_partials_map(cb),
                schema="sub int, code int, pos int, psum double, cnt long",
            )
            .groupBy("sub", "code", "pos")
            .agg((F.sum("psum") / F.sum("cnt")).alias("mean"))
            .collect()  # m × k × dim/m rows — fixed size, not data-scaled
        )
        new_cb = [[list(w) for w in sub] for sub in cb]
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            got.setdefault((r.sub, r.code), {})[r.pos] = r.mean
        for (s, c), comps in got.items():
            # bounds guard: an out-of-range code (would be a bug in the
            # assignment fold) must never alias another codeword via
            # Python negative indexing
            if not (0 <= c < k_codes) or any(v is None for v in comps.values()):
                raise ValueError(f"invalid assignment (sub={s}, code={c}) during PQ training")
            new_cb[s][c] = [comps[p] for p in sorted(comps)]
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for sub_old, sub_new in zip(cb, new_cb)
            for old, new in zip(sub_old, sub_new)
        )
        cb = new_cb
        if shift < tol:
            break
    return cb, it_run


def _codes_expr(cb: list[list[list[float]]], unit_col: Column) -> Column:
    """array<int> of per-subspace nearest-codeword ids for an already
    L2-normalized vector column — fully row-local.

    REFERENCE implementation: kept as the cross-check for the Arrow
    encode below (parity-tested), not the hot path. The M×K literal
    candidates run through `aggregate`/`zip_with` higher-order
    functions, which are CodegenFallback — the expression never enters
    whole-stage codegen and evaluates INTERPRETED at ~60 µs/row
    (measured sf0.1, M=8 K=256): fine for a spot-check, 2 orders of
    magnitude too slow for a 100 TB encode scan."""
    m = len(cb)
    slices = _sub_slices(m)
    return F.array(
        *[_argmin_code(F.slice(unit_col, start, d), cb[s]) for s, (start, d) in enumerate(slices)]
    )


def _unit_rows_np(flat, n: int):
    """(n, DIM) float64 from a flattened Arrow list column, rows
    L2-normalized with the `_unit_vec` contract (all-zero rows stay
    zero)."""
    import numpy as np

    V = flat.reshape(n, -1)
    norms = np.linalg.norm(V, axis=1)
    safe = np.where(norms == 0.0, 1.0, norms)
    return np.where(norms[:, None] == 0.0, V, V / safe[:, None])


def _pq_assign_np(U, C):
    """codes (n, m) int32 for unit rows U against codebooks C (m,K,d).
    Expanded-form L2² (‖x‖² − 2x·c + ‖c‖²) so memory stays n×K per
    subspace; np.argmin takes the FIRST minimum — the same lowest-code
    tie-break as the Catalyst fold's strict `<`."""
    import numpy as np

    m, K, d = C.shape
    codes = np.empty((len(U), m), dtype=np.int32)
    for s in range(m):
        sub = U[:, s * d : (s + 1) * d]
        d2 = (
            (sub * sub).sum(1)[:, None]
            - 2.0 * (sub @ C[s].T)
            + (C[s] * C[s]).sum(1)[None, :]
        )
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def _encode_map(cb: list[list[list[float]]], keep_vec: bool = False):
    """mapInArrow encoder: (vec_id, vec) batches → (vec_id[, vec],
    codes). The codebooks travel in the closure (M×K×dim/M doubles,
    fixed size); per batch the whole assignment is three BLAS-shaped
    numpy ops per subspace — measured ~0.2 µs/row vs ~60 µs/row for
    the interpreted Catalyst fold (the `_codes_expr` docstring), the
    same Arrow-beats-interpreted trade the Misra-Gries pass documents.
    Still zero-exchange: the node is a narrow MapInArrow over the
    scan."""
    import numpy as np

    C = np.asarray(cb, dtype=np.float64)

    def encode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            vec_col = rb.column(rb.schema.get_field_index("vec"))
            flat = pc.list_flatten(vec_col).to_numpy(zero_copy_only=False)
            U = _unit_rows_np(flat, rb.num_rows)
            codes = _pq_assign_np(U, C)
            cols = {"vec_id": rb.column(rb.schema.get_field_index("vec_id"))}
            if keep_vec:
                cols["vec"] = vec_col
            cols["codes"] = pa.array(codes.tolist(), type=pa.list_(pa.int32()))
            yield pa.RecordBatch.from_pydict(cols)

    return encode


def pq_encode(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
) -> DataFrame:
    """(vec_id, codes array<int>) — the compressed corpus. One narrow
    Arrow-vectorized map over the scan (`_encode_map`): no explode, no
    shuffle of any kind (plan-audited — MapInArrow, zero Exchange).
    Parity with the Catalyst reference fold is pinned by
    tests/test_extensions.py (numpy oracle + cross-impl agreement)."""

    # persist the encoded corpus once per (session, sf_dir, params):
    # every plain-PQ probe used to re-scan the raw embeddings and re-run
    # the Arrow encode, so the 'reads M bytes per vector' claim only
    # held for the IVF-PQ tier, which materializes codes (round-12
    # self-review). Bounded: each entry persists the full encoded
    # corpus, so varying params must evict, not pin executor storage
    # (r12 ADVICE).
    def build() -> DataFrame:
        cb, _ = pq_train(spark, sf_dir, m, k_codes, n_iter)
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        return e.mapInArrow(_encode_map(cb), schema="vec_id long, codes array<int>").persist()

    return memo(spark, sf_dir, "pq_codes", (m, k_codes, n_iter), build, bounded=True)


def _adc_table(cb: list[list[list[float]]], q_unit: list[float]) -> list[list[float]]:
    """Per-subspace inner products of the normalized query with every
    codeword — M × K doubles, computed driver-side."""
    m = len(cb)
    slices = _sub_slices(m)
    return [
        [sum(q_unit[start - 1 + i] * w[i] for i in range(d)) for w in cb[s]]
        for s, (start, d) in enumerate(slices)
    ]


def _adc_score(cb: list[list[list[float]]], q_unit: list[float]) -> Column:
    """ADC score of a ``codes`` column: a static sum of M lookups into
    the literal query/codeword table — fully row-local."""
    table = _adc_table(cb, q_unit)
    tab_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in table])
    return sum(
        F.element_at(F.element_at(tab_lit, s + 1), F.element_at("codes", s + 1) + 1)
        for s in range(len(cb))
    )


def _exact_rerank(
    spark: SparkSession,
    sf_dir: str,
    shortlist: DataFrame,
    qvec: list[float],
    qn: float,
    k: int,
) -> DataFrame:
    """Refinement stage shared by :func:`pq_topk` and
    :func:`ivfpq_topk`: broadcast the fixed-size shortlist ids against
    the raw embeddings (a point-lookup join at scale) and take the
    exact-cosine top-k over those rows only."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("vec")
    )
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        e.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .select("vec_id", F.round(_safe_cosine(F.col("vec"), qlit, qn), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
    rerank: int = 0,
) -> DataFrame:
    """ADC top-k: per subspace the query's inner products with all K
    codewords are precomputed driver-side (M × K doubles — fixed) and
    folded in as a literal table; each compressed vector's score is a
    static sum of M table lookups, then TakeOrderedAndProject. The
    scan-side data is ONLY the code table — at 100 TB this reads M
    bytes per vector instead of the raw embeddings.

    ``rerank > k`` adds the standard refinement stage: the ADC
    shortlist of that size is joined back (broadcast — rerank rows,
    fixed) to the raw embeddings and the final top-k is exact cosine
    over the shortlist only. Quantization error then only has to keep
    true neighbours inside the shortlist, not rank them — recall rises
    steeply for a rerank-sized read of raw vectors."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import _norm_py

    cb, _ = pq_train(spark, sf_dir, m, k_codes, n_iter)
    qvec = _query_embedding(spark, sf_dir, query_id)
    qn = _norm_py(qvec) or 1.0
    q = [x / qn for x in qvec]
    codes = pq_encode(spark, sf_dir, m, k_codes, n_iter)
    adc = (
        codes.filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(_adc_score(cb, q), 6).alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(max(k, rerank))
    )
    if rerank <= k:
        return adc
    return _exact_rerank(spark, sf_dir, adc, qvec, qn, k)


def pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of :func:`pq_topk` with the refinement stage
    (rerank=50): ADC shortlist over the 8-byte code table, exact cosine
    over the 50-row shortlist only — recall@10 ≈ 0.7-0.8 on the
    near-random fixture at 32× compression (floor 0.5 recorded in
    CORRECTNESS_LOCAL)."""
    return pq_topk(spark, sf_dir, rerank=50)


# --- IVF-PQ: cell-partitioned code table (the billion-scale layout) ---


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
) -> tuple[str, list[list[float]], list[list[list[float]]]]:
    """Materialize the IVF-PQ index: ONE zero-exchange projection
    computes both the coarse cell (Lloyd-trained centroids, row-local
    argmax — similarity.py `_assign_cell`) and the PQ codes (row-local
    argmin per subspace), written partitioned by cell. The on-disk row
    is (vec_id, codes) — M bytes of payload per vector; the raw
    embeddings are only touched again by the re-rank point-lookup.

    Non-residual IVFADC variant: codes quantize the normalized vector
    itself, not the residual v − centroid (residual PQ needs per-cell
    rotation bookkeeping for modest gains at these dims; documented
    trade-off). Returns (path, centroids, codebooks); cached per
    session like the plain IVF index."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _assign_cell,
        kmeans_train,
    )
    from labs_stream_processing_examples_scala_spark.sources.layout import write_partitioned

    cents, _ = kmeans_train(spark, sf_dir, n_cells=n_cells, n_iter=n_iter)
    cb, _ = pq_train(spark, sf_dir, m, k_codes, n_iter)

    def build(path: str) -> None:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _dvec("embedding").alias("vec")
        )
        # Arrow encode (vec passed through) + Catalyst cell argmax:
        # still ONE narrow pass over the scan, zero exchange before the
        # partitioned write
        encoded = e.mapInArrow(
            _encode_map(cb, keep_vec=True),
            schema="vec_id long, vec array<double>, codes array<int>",
        )
        assigned = encoded.select(
            "vec_id",
            _assign_cell([(i, c) for i, c in enumerate(cents)]).alias("cell"),
            "codes",
        )
        write_partitioned(assigned, path, "cell")

    path = memo_dir(spark, sf_dir, "ivfpq_index", (n_cells, m, k_codes, n_iter), build)
    return path, cents, cb


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = 5,
    rerank: int = 50,
) -> DataFrame:
    """Billion-scale ANN shape: partition pruning × compression × cheap
    scoring. The probe reads ONLY the nprobe nearest cells' partitions
    of the code table (PartitionFilters at the scan), scores each
    M-byte code row with the literal ADC table (row-local), TakeOrders
    the shortlist, and re-ranks it by exact cosine through a broadcast
    point-lookup of the raw embeddings. No shuffle anywhere in the
    probe; the scan payload per probed vector is M bytes, not
    4 × dim."""
    from labs_stream_processing_examples_scala_spark.operators.similarity import (
        _norm_py,
        _probe_cells_py,
    )

    path, cents, cb = build_ivfpq_index(spark, sf_dir, n_cells, m, k_codes, n_iter)
    qvec = _query_embedding(spark, sf_dir, query_id)
    qn = _norm_py(qvec) or 1.0
    q = [x / qn for x in qvec]
    cells = _probe_cells_py([(i, c) for i, c in enumerate(cents)], qvec, nprobe)
    shortlist = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(_adc_score(cb, q), 6).alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(max(k, rerank))
    )
    if rerank <= k:
        return shortlist
    return _exact_rerank(spark, sf_dir, shortlist, qvec, qn, k)


# --- scalar quantization (int8) — the low-loss tier of the family ---


def sq_stats(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — ONE aggregation with
    2×dim partial-aggregated expressions (fixed-size result, map-side
    combined; no explode, no per-dim shuffle). The training artifact of
    scalar quantization, cached per session."""

    def build() -> tuple[list[float], list[float]]:
        e = load_table(spark, sf_dir, "embeddings").select(_dvec("embedding").alias("vec"))
        aggs = [F.min(F.element_at("vec", i + 1)).alias(f"mn{i}") for i in range(DIM)]
        aggs += [F.max(F.element_at("vec", i + 1)).alias(f"mx{i}") for i in range(DIM)]
        row = e.agg(*aggs).first()
        mins = [float(row[f"mn{i}"]) for i in range(DIM)]
        return mins, [float(row[f"mx{i}"]) for i in range(DIM)]

    return memo(spark, sf_dir, "sq_stats", (), build)


def _sq_scales(mins: list[float], maxs: list[float]) -> list[float]:
    """Per-dim affine step. A degenerate (constant) dimension gets
    scale 1.0 HERE — the single place the guard lives, so encode and
    decode can never disagree on it: (x - mn) / 1 rounds to code 0 and
    decodes back to exactly mn."""
    return [((mx - mn) / 255.0) or 1.0 for mn, mx in zip(mins, maxs)]


def sq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<int>) — int8-range affine codes per
    dimension (4× compression at dim float32). Row-local: the
    min/scale vectors are plan literals; zip_with does the affine map.
    Zero Exchange (plan-audited like pq_encode)."""
    mins, maxs = sq_stats(spark, sf_dir)
    scales = _sq_scales(mins, maxs)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("vec")
    )
    mn_lit = F.array(*[F.lit(v) for v in mins])
    sc_lit = F.array(*[F.lit(v) for v in scales])
    codes = F.zip_with(
        F.zip_with(F.col("vec"), mn_lit, lambda x, mn: x - mn),
        sc_lit,
        lambda cen, sc: F.round(cen / sc).cast("int"),
    )
    return e.select("vec_id", codes.alias("codes"))


def sq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """Top-k by cosine over the DEQUANTIZED codes — the 4×-compressed
    brute-force scan. Decode (min + code·scale) and the dot against
    the query literal are one row-local fold; TakeOrderedAndProject
    finishes. At 64 dims the reconstruction error is ~scale/2 per
    component, so recall@10 is near-exact (floor 0.7 in the artifact,
    measured 0.9-1.0) — the family's trade-off ladder is SQ (4×,
    ~lossless) → PQ (32×, shortlist+rerank) → IVF-PQ (32× + partition
    pruning)."""
    mins, maxs = sq_stats(spark, sf_dir)
    scales = _sq_scales(mins, maxs)
    qvec = _query_embedding(spark, sf_dir, query_id)
    from labs_stream_processing_examples_scala_spark.operators.similarity import _norm_py

    qn = _norm_py(qvec) or 1.0
    mn_lit = F.array(*[F.lit(v) for v in mins])
    sc_lit = F.array(*[F.lit(v) for v in scales])
    deq = F.zip_with(
        F.zip_with(F.col("codes").cast("array<double>"), sc_lit, lambda c, sc: c * sc),
        mn_lit,
        lambda x, mn: x + mn,
    )
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    dn = norm(deq)
    # ANSI guard: a reconstruction that is exactly zero (e.g. an
    # all-zero row over non-negative dims, every code 0) must score
    # 0.0, not raise DIVIDE_BY_ZERO
    sim = F.when(dn == 0.0, F.lit(0.0)).otherwise(dot(deq, qlit) / (dn * F.lit(qn)))
    return (
        sq_encode(spark, sf_dir)
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )
