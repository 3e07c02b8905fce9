"""Extension operators: dedup, similarity, text, multimodal.

Oracle parity runs via tests/test_relational.py (parametrized over all
queries()); here: the properties an oracle can't state — ANN recall vs
brute force, approximation sanity, pandas-UDF plumbing determinism.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.multimodal import binary_documents, extract_features
from labs_stream_processing_examples_scala_spark.operators import dedup as DD
from labs_stream_processing_examples_scala_spark.operators import similarity as SIM
from labs_stream_processing_examples_scala_spark.session import cache_info, invalidate
from tests.conftest import SF_SMOKE


def test_exact_dups_have_jaccard_one(spark):
    """Documents with identical text must surface as LSH pairs with
    jaccard == 1.0 (MinHash of equal shingle sets collides in every
    band)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dup_groups = (
        docs.groupBy("text").agg(F.collect_list("doc_id").alias("ids"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    )
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in DD.lsh_candidate_pairs(spark, SF_SMOKE).collect()}
    for g in dup_groups:
        ids = sorted(g.ids)
        for i in range(len(ids) - 1):
            key = (ids[i], ids[i + 1])
            assert key in pairs and abs(pairs[key] - 1.0) < 1e-9, f"missing exact dup pair {key}"


def test_minhash_jaccard_estimate_tracks_exact(spark):
    """Signature agreement rate ≈ exact Jaccard for verified pairs."""
    sig = DD.minhash_signatures(spark, SF_SMOKE)
    exact = DD.ngram_jaccard_pairs(spark, SF_SMOKE, threshold=0.4)
    cols_a = [F.col(f"a.m{i:02d}") for i in range(16)]
    cols_b = [F.col(f"b.m{i:02d}") for i in range(16)]
    agree = sum((ca == cb).cast("int") for ca, cb in zip(cols_a, cols_b)) / 16.0
    joined = (
        exact.join(sig.alias("a"), exact.doc_a == F.col("a.doc_id"))
        .join(sig.alias("b"), exact.doc_b == F.col("b.doc_id"))
        .select("jaccard", agree.alias("est"))
        .collect()
    )
    assert joined, "fixture should contain near-dup pairs"
    for r in joined:
        assert abs(r.est - r.jaccard) <= 0.45  # 16 perms → coarse but correlated


def test_lsh_topk_recall_and_pruning(spark):
    """Fixture embeddings are near-random (top cosine ≈ 0.33, θ≈70°), the
    hard case for sign-LSH: assert both that recall beats the scanned
    fraction (it's finding signal, not just sampling) and that the scan
    actually pruned."""
    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    ann = [r.vec_id for r in SIM.lsh_topk(spark, SF_SMOKE, k=10).collect()]
    recall = len(set(brute) & set(ann)) / 10
    b = SIM.lsh_buckets(spark, SF_SMOKE)
    q = b.filter(F.col("vec_id") == 0).select("table", F.col("bucket").alias("qbucket"))
    n_cand = (
        b.join(q, ["table"]).filter(F.col("bucket") == F.col("qbucket")).select("vec_id").distinct().count()
    )
    total = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    frac = n_cand / total
    assert frac <= 0.6, f"LSH is not pruning: scanned {frac:.0%}"
    assert recall >= 0.2, f"LSH recall too low: {recall} (scanned {frac:.0%})"
    assert recall > frac * 0.5, "recall should beat random sampling at this scan fraction"


def test_lsh_topk_multiprobe_dominates(spark):
    """Margin-based multiprobe (Lv et al. 2007) must strictly add
    candidates where near neighbours live: recall at n_probes=4 must
    (a) beat single-probe recall and (b) beat the random-sampling line
    at its own candidate fraction (recall > frac), i.e. the margin
    ranking targets signal, not just more buckets. Also pins the probe
    sequence itself: probe #1 per table is the exact bucket and probe
    counts are exactly n_tables × n_probes."""
    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    one = {r.vec_id for r in SIM.lsh_topk(spark, SF_SMOKE, k=10).collect()}
    multi = {r.vec_id for r in SIM.lsh_topk(spark, SF_SMOKE, k=10, n_probes=4).collect()}
    r1 = len(set(brute) & one) / 10
    r4 = len(set(brute) & multi) / 10
    assert r4 >= r1, f"multiprobe recall {r4} below single-probe {r1}"
    assert r4 >= 0.5, f"multiprobe recall too low: {r4}"

    qvec = SIM._query_embedding(spark, SF_SMOKE, 0)
    probes = SIM._probe_buckets(qvec, SIM.N_TABLES, SIM.BITS_PER_TABLE, 4)
    assert len(probes) == SIM.N_TABLES * 4
    exact = SIM._probe_buckets(qvec, SIM.N_TABLES, SIM.BITS_PER_TABLE, 1)
    assert [p for p in probes if p in exact] == exact, "probe #1 must be the exact bucket"

    b = SIM.lsh_buckets(spark, SF_SMOKE)
    pdf = spark.createDataFrame(probes, "table int, bucket long")
    n_cand = b.join(F.broadcast(pdf), ["table", "bucket"]).select("vec_id").distinct().count()
    total = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    frac = n_cand / total
    assert frac < 0.7, f"multiprobe stopped pruning: scanned {frac:.0%}"
    assert r4 > frac, f"recall {r4} no better than random sampling at {frac:.0%}"


def test_lsh_neardup_pairs_subset_of_exact_with_recall(spark):
    """lsh_neardup_pairs = bucket candidates + exact verify, so every
    returned pair MUST be in the exact set (precision 1.0 by
    construction) at BOTH probe settings; single-probe recall on the
    near-random fixture (θ≈72° at thr=0.3) should land near the
    sign-LSH theory value 1-(1-p^bits)^tables ≈ 0.32, and the
    round-8 multiprobe default must DOMINATE it (a strict superset of
    caught pairs — every single-probe candidate key is in the probe
    set by construction) and clear the ≥0.7 floor the registry pins."""
    thr = 0.3
    exact = {
        (r.vec_a, r.vec_b)
        for r in SIM.cosine_neardup_pairs(spark, SF_SMOKE, thr).collect()
    }
    single = {
        (r.vec_a, r.vec_b)
        for r in SIM.lsh_neardup_pairs(spark, SF_SMOKE, thr, n_probes=1).collect()
    }
    multi = {
        (r.vec_a, r.vec_b) for r in SIM.lsh_neardup_pairs(spark, SF_SMOKE, thr).collect()
    }
    assert exact, "fixture should have pairs at thr=0.3"
    assert single <= exact, "verified candidates can never be false positives"
    assert multi <= exact, "verified candidates can never be false positives"
    assert single <= multi, "multiprobe must dominate single-probe pair-for-pair"
    r1 = len(single) / len(exact)
    r4 = len(multi) / len(exact)
    assert r1 >= 0.2, f"single-probe near-dup recall too low: {r1:.2f}"
    assert r4 >= 0.7, f"multiprobe near-dup recall below floor: {r4:.2f}"
    # high threshold on near-random vectors: both must agree on "none"
    assert SIM.lsh_neardup_pairs(spark, SF_SMOKE, 0.9).count() == 0


def test_ivf_topk_recall_vs_brute_force(spark):
    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    ann = [r.vec_id for r in SIM.ivf_topk(spark, SF_SMOKE, k=10, nprobe=4).collect()]
    recall = len(set(brute) & set(ann)) / 10
    assert recall >= 0.2, f"IVF recall too low: {recall}"


def test_ivf_plans_are_narrow_and_pruned(spark):
    """The round-4 plan defect, pinned fixed: (a) nearest-centroid
    assignment is a row-local argmax over a constant centroid literal —
    NO Exchange of any kind between the embeddings scan and the cell
    column; (b) the probe reads only the nprobe nearest cells'
    partitions of the materialized inverted file — PartitionFilters in
    the scan, zero Exchange in the whole probe plan."""
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    cents = SIM._seed_centroids(spark, SF_SMOKE, 16)
    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", SIM._dvec("embedding").alias("vec")
    )
    assign_plan = (
        e.withColumn("cell", SIM._assign_cell(cents))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in assign_plan
    assert "row_number" not in assign_plan

    probe = SIM.ivf_topk(spark, SF_SMOKE, query_id=0, k=10, nprobe=4)
    probe_plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in probe_plan
    assert "PartitionFilters: [cell" in probe_plan
    # the filter actually prunes: exactly nprobe cells named in the scan
    pf = probe_plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "IN (" in pf and len(pf.split("IN (", 1)[1].rstrip(")").split(",")) == 4


def test_topk_self_excluded_and_bounded(spark):
    rows = SIM.brute_force_topk(spark, SF_SMOKE, query_id=0, k=10).collect()
    assert len(rows) == 10
    assert all(r.vec_id != 0 for r in rows)
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_feature_plumbing(spark):
    """Schema, batch shape, determinism of the stubbed decode path."""
    feats = extract_features(binary_documents(spark, SF_SMOKE))
    assert feats.schema.simpleString() == "struct<doc_id:bigint,n_bytes:bigint,features:array<double>>"
    rows = feats.orderBy("doc_id").limit(20).collect()
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)
    rows2 = extract_features(binary_documents(spark, SF_SMOKE)).orderBy("doc_id").limit(20).collect()
    assert rows == rows2
    # n_bytes must equal the metadata's byte count (plumbing consistency)
    meta = binary_documents(spark, SF_SMOKE).select("doc_id", F.col("meta.n_bytes").alias("nb"))
    mismatch = feats.join(meta, "doc_id").filter(F.col("n_bytes") != F.col("nb")).count()
    assert mismatch == 0


def test_multimodal_corrupt_containers_degrade_not_fail(spark):
    """A payload whose magic bytes promise BMP/P6/WAV but whose body is
    garbage (or truncated) must fall back to the byte-feature path, not
    kill the Spark job (ADVICE round-4 finding). Covers all three UDF
    surfaces: features, resize, frames."""
    from labs_stream_processing_examples_scala_spark.multimodal import (
        resize_images,
        sample_frames,
    )

    bad = [
        (1, b"BM this is actually text that sniffs as a bitmap"),
        (2, b"P6 not really a ppm header at all"),
        (3, b"RIFF\x00\x00\x00\x00WAVEtruncated-mid-header"),
        (4, b"BM"),  # 2-byte payload: magic only, nothing to parse
    ]
    docs = spark.createDataFrame(bad, "doc_id long, payload binary")

    feats = extract_features(docs).orderBy("doc_id").collect()
    assert len(feats) == 4
    assert all(len(r.features) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r.features)

    thumbs = resize_images(docs, width=4, height=4).orderBy("doc_id").collect()
    assert len(thumbs) == 4
    assert all(len(r.thumb) == 16 for r in thumbs)  # byte-thumbnail size

    frames = sample_frames(docs, n_frames=8, every=2).collect()
    assert frames and all(r.frame for r in frames)


def test_simhash_near_for_exact_dups(spark):
    """Identical texts → identical simhash (hamming 0)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sh = DD.simhash(spark, SF_SMOKE)
    joined = (
        docs.alias("a").join(docs.alias("b"), (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .join(sh.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .filter(F.col("sa.simhash") != F.col("sb.simhash"))
        .count()
    )
    assert joined == 0


def test_multimodal_resize_plumbing(spark):
    """Resize: fixed output size regardless of input size, deterministic,
    1:1 rows, no shuffle in the plan."""
    from labs_stream_processing_examples_scala_spark.multimodal import resize_images

    src = binary_documents(spark, SF_SMOKE)
    thumbs = resize_images(src, width=4, height=4)
    assert thumbs.schema.simpleString() == (
        "struct<doc_id:bigint,thumb:binary,thumb_w:int,thumb_h:int>"
    )
    rows = thumbs.orderBy("doc_id").limit(20).collect()
    assert all(len(r.thumb) == 16 for r in rows)
    assert thumbs.count() == src.count()
    rows2 = resize_images(src, width=4, height=4).orderBy("doc_id").limit(20).collect()
    assert rows == rows2
    assert "Exchange" not in thumbs._jdf.queryExecution().executedPlan().toString()


def test_multimodal_frame_sampling(spark):
    """Frame sampling: bounded fan-out (≤ ceil(16/4) per doc), sampled
    indices are every 4th, frames are non-empty."""
    from labs_stream_processing_examples_scala_spark.multimodal import sample_frames

    src = binary_documents(spark, SF_SMOKE)
    frames = sample_frames(src, n_frames=16, every=4)
    per_doc = frames.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert per_doc <= 4
    idxs = {r.frame_idx for r in frames.select("frame_idx").distinct().collect()}
    assert idxs <= {0, 4, 8, 12}
    assert frames.filter(F.octet_length("frame") == 0).count() == 0


def test_lsh_dedup_groups_are_components(spark):
    """Labels are canonical: rep ≤ id, rep is its own rep (closure), and
    every near-dup pair lands in one component."""
    groups = DD.lsh_dedup_groups(spark, SF_SMOKE)
    g = {r.doc_id: r.rep_id for r in groups.collect()}
    assert all(rep <= d for d, rep in g.items())
    assert all(g[rep] == rep for rep in g.values())
    for p in DD.lsh_candidate_pairs(spark, SF_SMOKE).collect():
        assert g[p.doc_a] == g[p.doc_b]
    # keep-first drops exactly the non-representatives
    kept = DD.lsh_dedup_keep_first(spark, SF_SMOKE).count()
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    dropped = sum(1 for d, rep in g.items() if d != rep)
    assert kept == total - dropped


def test_hash_split_proportions_and_stability(spark):
    from labs_stream_processing_examples_scala_spark.operators import sampling as SMP

    split = SMP.hash_split(spark, SF_SMOKE)
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert 0.7 < counts["train"] / total < 0.9
    assert counts.get("valid", 0) > 0 and counts.get("test", 0) > 0
    # assignment is a pure function of doc_id: re-run identical
    again = {r.doc_id: r.split for r in SMP.hash_split(spark, SF_SMOKE).collect()}
    for r in split.collect():
        assert again[r.doc_id] == r.split
    # stratified: dropped stratum absent, full strata complete
    samp = SMP.stratified_sample(spark, SF_SMOKE)
    langs = {r.lang for r in samp.select("lang").distinct().collect()}
    assert "zh" not in langs
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_de = docs.filter(F.col("lang") == "de").count()
    assert samp.filter(F.col("lang") == "de").count() == n_de


def test_shingle_edge_cases(spark):
    """Docs with <3 words produce zero shingles (no garbage indices);
    shingle count = n_distinct among (n_words - 2) positions."""
    rows = [
        (1, ""),
        (2, "one"),
        (3, "one two"),
        (4, "one two three"),
        (5, "a b c d e"),
        (6, "x x x x"),  # repeated words → duplicate shingles collapse
        (7, "  padded   spaces  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", F.size(DD.shingles("text")).alias("n")).collect()
    }
    assert got[1] == 0 and got[2] == 0 and got[3] == 0
    assert got[4] == 1
    assert got[5] == 3
    assert got[6] == 1  # 'x x x' twice, distinct → 1
    assert got[7] == 0  # 3 real words? 'padded spaces' = 2 words → 0

def _cached_dirs(name: str) -> set[str]:
    return {k[1] for k in cache_info(name).keys}


def test_cache_invalidation_unpersists(spark):
    """invalidate(sf_dir) drops + unpersists every session-cache entry
    built from that dir — persisted frames (shingle arrays, signatures),
    temp-dir entries (the IVF index) and plain Python values (trained
    centroids) alike — so a changed fixture dir can't serve stale rows.
    A dropped temp dir stays on disk for frames already handed out."""
    arrs = DD.shingle_hash_arrays(spark, SF_SMOKE)
    SIM.lsh_buckets(spark, SF_SMOKE)
    index = SIM.build_ivf_index(spark, SF_SMOKE, SIM._seed_centroids(spark, SF_SMOKE, 4), "inv")
    SIM.kmeans_train(spark, SF_SMOKE, n_cells=4, n_iter=1)
    names = ("shingle_arrays", "lsh_signatures", "ivf_index", "kmeans")
    assert all(SF_SMOKE in _cached_dirs(n) for n in names)
    invalidate(SF_SMOKE)
    assert not any(SF_SMOKE in _cached_dirs(n) for n in names)
    assert arrs.storageLevel.useMemory is False  # unpersisted
    assert os.path.isdir(index)
    # rebuild works and re-caches
    misses = cache_info("shingle_arrays").misses
    DD.shingle_hash_arrays(spark, SF_SMOKE)
    assert SF_SMOKE in _cached_dirs("shingle_arrays")
    assert cache_info("shingle_arrays").misses == misses + 1

def test_pack_sequences_partition_invariants(spark):
    """Every doc packed exactly once; within a (shard, seq) the docs are
    contiguous in doc_id order; a sequence never starts past the budget
    boundary it belongs to (running-sum chunking semantics)."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    packed = CP.pack_sequences(spark, SF_SMOKE, budget=100, n_shards=8)
    rows = packed.orderBy("shard", "doc_id").collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        cum = 0
        for r in rs:
            assert r.doc_id % 8 == shard
            assert r.seq_id == cum // 100, (shard, r.doc_id, cum, r.seq_id)
            cum += r.n_tokens
        # seq ids are non-decreasing within the shard
        seqs = [r.seq_id for r in rs]
        assert seqs == sorted(seqs)


def test_decontamination_partitions_corpus(spark):
    """clean ∪ contaminated = all non-benchmark docs (disjoint), and
    benchmark docs appear in neither."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_bench = CP.BENCHMARK_DOCS
    clean = {r.doc_id for r in CP.decontaminate(spark, SF_SMOKE).collect()}
    dirty = {r.doc_id for r in CP.contamination_report(spark, SF_SMOKE).collect()}
    non_bench = {r.doc_id for r in docs.filter(F.col("doc_id") >= n_bench).collect()}
    assert clean | dirty == non_bench
    assert not (clean & dirty)
    assert all(d >= n_bench for d in clean | dirty)


def test_embed_normalize_unit_bounds(spark):
    """Norms are positive and the normalized head component is in
    [-1, 1] (it is one coordinate of a unit vector)."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP

    rows = CP.embed_normalize(spark, SF_SMOKE).collect()
    assert rows and all(r.l2_norm > 0 for r in rows)
    assert all(-1.0 <= r.u0 <= 1.0 for r in rows)

def test_twostar_components_equal_propagation(spark):
    """Two-star connected components == min-label propagation on the
    real LSH pair graph, and on a synthetic deep chain (the case
    propagation is slow at and two-star exists for)."""
    got = {(r.doc_id, r.rep_id) for r in DD.lsh_dedup_groups_twostar(spark, SF_SMOKE).collect()}
    want = {(r.doc_id, r.rep_id) for r in DD.lsh_dedup_groups(spark, SF_SMOKE).collect()}
    assert got == want

    # chain 0-1-2-...-40 plus a disjoint triangle {100,101,102}
    chain = [(i, i + 1) for i in range(40)]
    tri = [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(chain + tri, "doc_a long, doc_b long")
    comp = {r.doc_id: r.rep_id for r in DD.connected_components_twostar(pairs).collect()}
    assert all(comp[i] == 0 for i in range(41))
    assert all(comp[i] == 100 for i in (100, 101, 102))

def test_twostar_components_match_union_find_property(spark):
    """Property check: on random graphs, two-star components equal a
    pure-Python union-find ground truth (few examples — each runs a
    Spark iterative job)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
            min_size=1,
            max_size=40,
        )
    )
    def check(edge_list):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edge_list:
            union(a, b)
        want = {x: find(x) for x in parent}
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edge_list], "doc_a long, doc_b long"
        )
        got = {r.doc_id: r.rep_id for r in DD.connected_components_twostar(pairs).collect()}
        assert got == want, (sorted(got.items()), sorted(want.items()))

    check()


# --- round-2 additions: pii, vocab, chunks, spans, resample, filter ---


def test_pii_redact_matches_python_re(spark):
    """Independent check: Python's re module (third engine) must agree
    with Spark on counts AND on the md5 of the fully redacted string."""
    import hashlib
    import re

    from labs_stream_processing_examples_scala_spark.functions import text as TX

    docs = {r.doc_id: r.text for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()}
    got = {r.doc_id: r for r in TX.pii_redact(spark, SF_SMOKE).collect()}
    assert set(got) == set(docs)
    for doc_id, text in list(docs.items())[:50]:
        s = (
            f"{text} contact user{doc_id}@example.com call 555-"
            f"{doc_id % 10000:04d} from 10.0.{doc_id % 256}.7"
        )
        r = got[doc_id]
        assert r.n_email == len(re.findall(TX.EMAIL_RE, s)) >= 1
        assert r.n_phone == len(re.findall(TX.PHONE_RE, s)) >= 1
        assert r.n_ip == len(re.findall(TX.IP_RE, s)) >= 1
        red = re.sub(TX.IP_RE, "<IP>", re.sub(TX.PHONE_RE, "<PHONE>", re.sub(TX.EMAIL_RE, "<EMAIL>", s)))
        assert r.redacted_md5 == hashlib.md5(red.encode()).hexdigest()
        assert "@" not in red and not re.search(r"\d{3}-\d{4}", red)


def test_vocab_topk_matches_counter(spark):
    from collections import Counter

    from labs_stream_processing_examples_scala_spark.functions import text as TX

    rows = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    tf, df_ = Counter(), Counter()
    for r in rows:
        toks = [w for w in r.text.split(" ") if w]
        tf.update(toks)
        df_.update(set(toks))
    got = TX.vocab_topk(spark, SF_SMOKE, k=10).collect()
    want = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.token, r.tf, r.df_docs) for r in got] == [
        (t, n, df_[t]) for t, n in want
    ]


def test_chunk_documents_tiles_and_covers(spark):
    """Chunk grid: starts at 1, 1+stride, ...; every token of every doc
    appears in at least one chunk; chunk sizes follow the slice rule."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP

    docs = {r.doc_id: [w for w in r.text.split(" ") if w]
            for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()}
    out = CP.chunk_documents(spark, SF_SMOKE, chunk=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, toks in docs.items():
        n = len(toks)
        if n == 0:
            assert doc_id not in by_doc
            continue
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        want_starts = list(range(1, n + 1, 48))
        assert len(chunks) == len(want_starts)
        for c, s in zip(chunks, want_starts):
            assert c.n_chunk_tokens == min(64, n - s + 1)
        # coverage: last chunk reaches the last token
        assert want_starts[-1] + chunks[-1].n_chunk_tokens - 1 == n


def test_dup_span_stats_matches_python_ground_truth(spark):
    """Third engine: pure-Python span counting on token tuples (no
    hashing at all) must reproduce n_grams / n_dup_pos per doc."""
    from collections import Counter

    from labs_stream_processing_examples_scala_spark.operators import dedup as DD

    k = 8
    docs = {r.doc_id: [w for w in r.text.split(" ") if w]
            for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()}
    grams = {
        d: [tuple(t[i:i + k]) for i in range(len(t) - k + 1)]
        for d, t in docs.items() if len(t) >= k
    }
    gram_docs = Counter()
    for d, gs in grams.items():
        gram_docs.update(set(gs))
    got = {r.doc_id: r for r in DD.dup_span_stats(spark, SF_SMOKE).collect()}
    assert set(got) == set(grams)
    for d, gs in grams.items():
        dup = sum(1 for g in gs if gram_docs[g] >= 2)
        assert got[d].n_grams == len(gs)
        assert got[d].n_dup_pos == dup, d


def test_importance_resample_invariants(spark):
    from labs_stream_processing_examples_scala_spark.operators import sampling as SMP

    out = SMP.importance_resample(spark, SF_SMOKE).collect()
    assert out, "resample kept nothing"
    for r in out:
        assert r.bucket < r.keep_pct
        want = 100 if r.n_chars >= 400 else 75 if r.n_chars >= 300 else \
            50 if r.n_chars >= 200 else 25 if r.n_chars >= 100 else 10
        assert r.keep_pct == want
    # deterministic: second run identical
    again = SMP.importance_resample(spark, SF_SMOKE).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)


def test_quality_filter_is_top_half_per_shard(spark):
    import pandas as pd

    from labs_stream_processing_examples_scala_spark.functions import text as TX

    scored = TX.quality_score(spark, SF_SMOKE).toPandas()
    meta = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "source"
    ).toPandas()
    df = scored.merge(meta, on="doc_id").sort_values(["quality", "doc_id"])
    df["pr"] = df.groupby(["lang", "source"])["quality"].rank(method="first") \
        .sub(1).div(df.groupby(["lang", "source"])["doc_id"].transform("size").sub(1))
    want = set(df[df.pr >= 0.5].doc_id)
    got = {r.doc_id for r in TX.quality_filter(spark, SF_SMOKE).collect()}
    assert got == want


def test_corpus_pipeline_stages_compose(spark):
    """Pipeline output ⊆ each stage's standalone output: every surviving
    doc is decontaminated, exact-unique, top-half quality, and passes
    its resample band."""
    from labs_stream_processing_examples_scala_spark.operators import corpus as CP
    from labs_stream_processing_examples_scala_spark.operators import sampling as SMP

    out = {r.doc_id for r in CP.corpus_pipeline(spark, SF_SMOKE).collect()}
    clean = {r.doc_id for r in CP.decontaminate(spark, SF_SMOKE).collect()}
    keep_first = {r.keep_id for r in DD.exact_dedup(spark, SF_SMOKE).collect()}
    resampled = {r.doc_id for r in SMP.importance_resample(spark, SF_SMOKE).collect()}
    assert out, "pipeline kept nothing at smoke scale"
    assert out <= clean
    assert out <= keep_first
    assert out <= resampled


def test_kmeans_step_matches_numpy(spark):
    """Third engine: numpy recomputes the Lloyd step (argmax cosine
    assignment with cell tie-break, then per-cell means) and must agree
    on member counts, updated-centroid first component, and norm."""
    import numpy as np

    rows = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    cents = {c: vecs[c] for c in ids[:16]}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assign = {}
    for v in ids:
        best = max(cents, key=lambda c: (cos(vecs[v], cents[c]), -c))
        assign.setdefault(best, []).append(v)
    got = {r.cell: r for r in SIM.kmeans_step(spark, SF_SMOKE).collect()}
    assert set(got) == set(assign)
    for cell, members in assign.items():
        m = np.mean([vecs[v] for v in members], axis=0)
        assert got[cell].n_members == len(members)
        assert abs(got[cell].c0 - round(m[0], 6)) < 2e-6
        assert abs(got[cell].new_norm - round(float(np.linalg.norm(m)), 6)) < 2e-6


def test_tfidf_matches_python(spark):
    """Third engine: Counter + math.log reproduce the per-doc top terms."""
    import math
    from collections import Counter

    from labs_stream_processing_examples_scala_spark.functions import text as TX

    rows = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    docs = {r.doc_id: [w for w in r.text.split(" ") if w] for r in rows}
    n_docs = len(docs)
    df_ = Counter()
    for toks in docs.values():
        df_.update(set(toks))
    got = {}
    for r in TX.tfidf_top_terms(spark, SF_SMOKE).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.token, r.tfidf))
    for doc_id, toks in docs.items():
        if not toks:
            assert doc_id not in got
            continue
        tf = Counter(toks)
        scored = sorted(
            ((round(c / len(toks) * math.log(n_docs / df_[t]), 6), t) for t, c in tf.items()),
            key=lambda st: (-st[0], st[1]),
        )[:3]
        want = [(i + 1, t, s) for i, (s, t) in enumerate(scored)]
        assert sorted(got[doc_id]) == want, doc_id


# --- real multimodal decode: stdlib codecs + third-engine oracles ---


def _det_pixels(w, h, seed=7):
    """Deterministic test pixels (no RNG: affine byte pattern)."""
    import numpy as np

    n = w * h * 3
    return ((np.arange(n) * 31 + seed * 17) % 256).astype(np.uint8).reshape(h, w, 3)


def test_bmp_roundtrip_and_layout():
    """encode→decode identity, and the bytes are a real BMP: 'BM' magic,
    54-byte header, bottom-up BGR rows padded to 4 bytes."""
    import struct

    from labs_stream_processing_examples_scala_spark.multimodal import codecs

    for w, h in [(8, 8), (5, 3), (1, 1)]:
        px = _det_pixels(w, h)
        raw = codecs.encode_bmp(px)
        assert raw[:2] == b"BM"
        (offset,) = struct.unpack_from("<I", raw, 10)
        assert offset == 54
        stride = w * 3 + (4 - (w * 3) % 4) % 4
        assert len(raw) == 54 + stride * h
        # bottom-up: first stored row is the image's last, in BGR
        assert raw[54 : 54 + 3] == bytes(px[h - 1, 0, ::-1])
        assert (codecs.decode_bmp(raw) == px).all()


def test_ppm_roundtrip_stream_and_wav_roundtrip():
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import codecs

    px1, px2 = _det_pixels(4, 2, 1), _det_pixels(4, 2, 2)
    assert (codecs.decode_ppm(codecs.encode_ppm(px1)) == px1).all()
    frames = codecs.decode_ppm_stream(codecs.encode_ppm(px1) + codecs.encode_ppm(px2))
    assert len(frames) == 2
    assert (frames[0] == px1).all() and (frames[1] == px2).all()
    samples = ((np.arange(64) * 997) % 65536 - 32768).astype(np.int16)
    nch, rate, got = codecs.decode_wav(codecs.encode_wav(samples, framerate=8000))
    assert (nch, rate) == (1, 8000)
    assert (got == samples).all()


def test_mixed_features_match_independent_oracle(spark):
    """Third engine: expected features computed straight from the known
    synthesis rule (text bytes cycled into pixels / samples) WITHOUT the
    engine's decoders — so encode→sniff→decode→feature must all be
    right for this to pass."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import (
        extract_features,
        synthesize_mixed,
    )

    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60).collect()
    }
    src = binary_documents(spark, SF_SMOKE).filter(F.col("doc_id").isin(*texts))
    got = {
        r.doc_id: r.features
        for r in extract_features(synthesize_mixed(src)).collect()
    }
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        raw = text.encode("utf-8") or b"\x00"
        if doc_id % 3 == 1:  # image: 8x8 RGB, pixels = bytes cycled
            n = 8 * 8 * 3
            buf = (raw * (-(-n // len(raw))))[:n]
            flat = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
            want = [
                8.0,
                8.0,
                round(float(flat[:, 0].mean()) / 255.0, 6),
                round(float(flat[:, 1].mean()) / 255.0, 6),
                round(float(flat[:, 2].mean()) / 255.0, 6),
                round(float(flat.std()) / 255.0, 6),
                round(float(flat.min()) / 255.0, 6),
                round(float(flat.max()) / 255.0, 6),
            ]
        elif doc_id % 3 == 2:  # audio: 128 int16 samples = (byte-128)*256
            buf = (raw * (-(-128 // len(raw))))[:128]
            x = ((np.frombuffer(buf, dtype=np.uint8).astype(np.int16) - 128) * 256).astype(
                np.float64
            )
            zc = float(np.count_nonzero(np.diff(np.signbit(x)))) / 127
            want = [
                1.0,
                8000.0,
                128.0,
                round(float(np.abs(x).mean()) / 32768.0, 6),
                round(float(np.sqrt((x**2).mean())) / 32768.0, 6),
                round(float(np.abs(x).max()) / 32768.0, 6),
                round(zc, 6),
                round(128 / 8000.0, 6),
            ]
        else:  # text: stride means
            arr = np.frombuffer(raw, dtype=np.uint8)
            stride = max(len(arr) // 8, 1)
            want = []
            for i in range(8):
                chunk = arr[i * stride : (i + 1) * stride]
                if chunk.size == 0:
                    chunk = arr[-stride:]
                want.append(round(float(chunk.mean()) / 255.0, 6))
        assert got[doc_id] == want, f"doc {doc_id} ({doc_id % 3})"


def test_image_resize_exact_nearest_neighbor(spark):
    """A known 2x2 BMP resized to 4x4 must be the exact nearest-neighbor
    expansion (each source pixel becomes a 2x2 block), as raw RGB."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import codecs, resize_images

    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    df = spark.createDataFrame([(1, bytearray(codecs.encode_bmp(px)))], "doc_id long, payload binary")
    row = resize_images(df, width=4, height=4).first()
    want = px[np.array([0, 0, 1, 1])][:, np.array([0, 0, 1, 1])]
    assert bytes(row.thumb) == want.tobytes()
    assert (row.thumb_w, row.thumb_h) == (4, 4)


def test_video_frames_decoded_from_ppm_stream(spark):
    """A concatenated-P6 'video' yields real decoded frames: every 2nd
    frame, raw RGB bytes equal to the source pixels."""
    from labs_stream_processing_examples_scala_spark.multimodal import codecs, sample_frames

    frames_px = [_det_pixels(3, 2, s) for s in range(5)]
    payload = b"".join(codecs.encode_ppm(p) for p in frames_px)
    df = spark.createDataFrame([(9, bytearray(payload))], "doc_id long, payload binary")
    rows = sample_frames(df, n_frames=16, every=2).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    for r in rows:
        assert bytes(r.frame) == frames_px[r.frame_idx].tobytes()


def test_audio_frames_are_decoded_pcm(spark):
    """A WAV payload's frames chunk the DECODED sample stream (not the
    container bytes): reassembling all chunks re-yields the samples."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import codecs, sample_frames

    samples = ((np.arange(160) * 113) % 65536 - 32768).astype(np.int16)
    df = spark.createDataFrame(
        [(3, bytearray(codecs.encode_wav(samples)))], "doc_id long, payload binary"
    )
    rows = sample_frames(df, n_frames=4, every=1).orderBy("frame_idx").collect()
    got = b"".join(bytes(r.frame) for r in rows)
    assert got == samples.tobytes()


def test_quadratic_baselines_guarded(spark, tmp_path):
    """The two intentionally-quadratic oracle baselines must fail fast
    on a candidate explosion instead of launching an all-pairs shuffle:
    a synthetic hot-shingle corpus (every doc shares one sentence) and
    a vector table over the cap both trip CandidateExplosionError."""
    import pytest

    # hot-shingle corpus: 80 docs, identical text → every shingle has
    # doc-frequency 80 → sum C(80,2) per shingle ≫ a cap of 1000
    hot = tmp_path / "hot"
    hot.mkdir()
    spark.createDataFrame(
        [(i, "the same hot sentence repeated in every single document here") for i in range(80)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(hot / "documents.parquet"))
    with pytest.raises(DD.CandidateExplosionError, match="candidate"):
        DD.ngram_jaccard_pairs(spark, str(hot), max_candidate_pairs=1000)
    invalidate(str(hot))

    # fixture embeddings (2000 vecs at sf0.001? use smoke dir) over a tiny cap
    with pytest.raises(DD.CandidateExplosionError, match="pairs"):
        SIM.cosine_neardup_pairs(spark, SF_SMOKE, max_candidate_pairs=100)

    # under the cap (or bypassed) the operators still build
    assert SIM.cosine_neardup_pairs(spark, SF_SMOKE, max_candidate_pairs=None) is not None
    assert DD.ngram_jaccard_pairs(spark, SF_SMOKE) is not None


def test_kmeans_train_matches_numpy_lloyd(spark):
    """Third engine: the distributed Lloyd loop must match a pure-numpy
    implementation run on the collected vectors — same seeds, same
    cosine assignment with cell-id tie-break, same means, same
    empty-cell carry-over — after the same number of iterations."""
    import numpy as np

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    X = np.array([list(map(float, r.embedding)) for r in rows])
    n_cells, n_iter = 8, 3
    cents, it_run = SIM.kmeans_train(spark, SF_SMOKE, n_cells=n_cells, n_iter=n_iter)
    assert it_run <= n_iter

    C = X[:n_cells].copy()
    for _ in range(it_run):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
        )
        # argmax with lowest-cell tie-break == row_number over (desc sim, asc cell)
        assign = np.argmax(sims, axis=1)
        newC = C.copy()
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
        C = newC
    got = np.array(cents)
    assert got.shape == C.shape
    assert np.allclose(got, C, atol=1e-9), np.abs(got - C).max()


def test_ivf_trained_recall_not_worse_than_seeded(spark):
    """Trained centroids must not lose recall vs raw seeds at equal
    nprobe (on the fixture corpus they typically gain)."""
    truth = {r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, query_id=3, k=10).collect()}
    seeded = {r.vec_id for r in SIM.ivf_topk(spark, SF_SMOKE, query_id=3, k=10).collect()}
    trained = {r.vec_id for r in SIM.ivf_topk_trained(spark, SF_SMOKE, query_id=3, k=10).collect()}
    r_seed = len(seeded & truth) / 10
    r_train = len(trained & truth) / 10
    assert r_train >= r_seed - 0.101, (r_train, r_seed)
    assert r_train >= 0.2


def test_mixture_sample_flattens_sources(spark):
    """T=0.5 mixture: scarce sources keep a HIGHER fraction of their
    docs than common ones (that is the point of temperature < 1), and
    realized keep rates track each source's keep_pct within hash noise."""
    from labs_stream_processing_examples_scala_spark.operators.sampling import mixture_sample

    base = {
        r.source: r.n
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    kept = mixture_sample(spark, SF_SMOKE)
    rates = {
        r.source: (r.keep_pct, r.kept)
        for r in kept.groupBy("source", "keep_pct").agg(F.count("*").alias("kept")).collect()
    }
    scarcest = min(base, key=base.get)
    commonest = max(base, key=base.get)
    assert rates[scarcest][0] >= rates[commonest][0]
    for src, (pct, n_kept) in rates.items():
        assert abs(n_kept / base[src] - pct / 100.0) < 0.15, (src, pct, n_kept, base[src])


def test_codec_roundtrips_hypothesis():
    """Property: BMP and WAV encode→decode is identity for arbitrary
    dimensions/content (hypothesis; pure Python, no Spark)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from labs_stream_processing_examples_scala_spark.multimodal import codecs

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(1, 17),
        h=st.integers(1, 13),
        seed=st.integers(0, 2**31 - 1),
    )
    def check_bmp(w, h, seed):
        n = w * h * 3
        px = ((np.arange(n) * 2654435761 + seed) % 256).astype(np.uint8).reshape(h, w, 3)
        assert (codecs.decode_bmp(codecs.encode_bmp(px)) == px).all()
        assert (codecs.decode_ppm(codecs.encode_ppm(px)) == px).all()

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(1, 400),
        seed=st.integers(0, 2**31 - 1),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def check_wav(n, seed, rate):
        samples = (((np.arange(n) * 48271 + seed) % 65536) - 32768).astype(np.int16)
        nch, r, got = codecs.decode_wav(codecs.encode_wav(samples, framerate=rate))
        assert (nch, r) == (1, rate)
        assert (got == samples).all()

    check_bmp()
    check_wav()


# --- product quantization (operators/quantization.py) ---


def test_pq_train_matches_numpy(spark):
    """Third engine: the distributed per-subspace Lloyd loop must match
    a pure-numpy PQ implementation on the collected vectors — same
    normalization, same seeds, same L2 assignment with lowest-code
    tie-break, same means, same empty-code carry-over."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    X = np.array([list(map(float, r.embedding)) for r in rows])
    X = X / np.linalg.norm(X, axis=1)[:, None]
    m, k, n_iter = 4, 8, 3
    d = X.shape[1] // m
    cb, it_run = QZ.pq_train(spark, SF_SMOKE, m=m, k_codes=k, n_iter=n_iter)
    assert it_run <= n_iter

    C = [X[:k, s * d : (s + 1) * d].copy() for s in range(m)]
    for _ in range(it_run):
        for s in range(m):
            sub = X[:, s * d : (s + 1) * d]
            d2 = ((sub[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # argmin ties -> lowest code
            newC = C[s].copy()
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    newC[c] = members.mean(axis=0)
            C[s] = newC
    got = np.array(cb)
    want = np.stack(C)
    assert got.shape == want.shape
    assert np.allclose(got, want, atol=1e-9), np.abs(got - want).max()


def test_pq_codes_match_numpy_encode(spark):
    """Given the trained codebooks, Spark's row-local argmin encoding
    must equal numpy's wherever the best/second-best margin is real
    (FP fold order may differ on exact ties)."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    m, k = 4, 8
    cb, _ = QZ.pq_train(spark, SF_SMOKE, m=m, k_codes=k, n_iter=3)
    got = {
        r.vec_id: list(r.codes)
        for r in QZ.pq_encode(spark, SF_SMOKE, m=m, k_codes=k, n_iter=3).collect()
    }
    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    X = np.array([list(map(float, r.embedding)) for r in rows])
    X = X / np.linalg.norm(X, axis=1)[:, None]
    d = X.shape[1] // m
    C = np.array(cb)
    checked = 0
    for i, r in enumerate(rows):
        for s in range(m):
            d2 = ((X[i, s * d : (s + 1) * d][None, :] - C[s]) ** 2).sum(axis=1)
            order = np.sort(d2)
            if order[1] - order[0] > 1e-9:  # real margin -> must agree
                assert got[r.vec_id][s] == int(np.argmin(d2))
                checked += 1
    assert checked > 0.95 * len(rows) * m  # ties are the rare exception


def test_pq_topk_rerank_dominates_adc(spark):
    """The refinement stage can only help: recall(rerank=50) >= recall
    of raw ADC, and must clear the artifact floor."""
    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    adc = {r.vec_id for r in QZ.pq_topk(spark, SF_SMOKE, k=10).collect()}
    rr = {r.vec_id for r in QZ.pq_topk(spark, SF_SMOKE, k=10, rerank=50).collect()}
    r_adc = len(set(brute) & adc) / 10
    r_rr = len(set(brute) & rr) / 10
    assert r_rr >= r_adc, f"re-rank lost recall: {r_rr} < {r_adc}"
    assert r_rr >= 0.5, f"PQ+rerank recall too low: {r_rr}"


def test_pq_encode_plan_is_narrow(spark):
    """Encoding must be a pure projection over the scan: zero Exchange
    of any kind (the codebook is a plan literal, the argmin row-local)."""
    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    df = QZ.pq_encode(spark, SF_SMOKE, m=4, k_codes=8, n_iter=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ivfpq_probe_pruned_zero_exchange_with_recall(spark):
    """The billion-scale composition: the IVF-PQ probe must read only
    the nprobe cells' partitions of the CODE table (PartitionFilters),
    contain no Exchange anywhere in the shortlist plan, and clear the
    recall floor after exact re-rank."""
    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    sl = QZ.ivfpq_topk(spark, SF_SMOKE, rerank=0)
    plan = sl._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    assert "Exchange" not in plan, plan

    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    ann = {r.vec_id for r in QZ.ivfpq_topk(spark, SF_SMOKE, k=10).collect()}
    recall = len(set(brute) & ann) / 10
    assert recall >= 0.5, f"IVF-PQ recall too low: {recall}"


def test_pq_zero_vector_and_missing_query_guards(spark, tmp_path):
    """Robustness (round-5 review findings): an all-zero embedding must
    encode to VALID codes (not the -1 poison that crashes the 1-based
    ADC lookup), and a query_id absent from the table must raise a
    clear ValueError, not AttributeError."""
    import pytest

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    src = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    dim = len(src.first().embedding)
    zero = spark.createDataFrame(
        [(999999, [0.0] * dim, 0)], "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path)
    src.unionByName(zero).write.parquet(f"{sf}/embeddings.parquet")

    codes = {r.vec_id: list(r.codes) for r in QZ.pq_encode(spark, sf, m=4, k_codes=8, n_iter=2).collect()}
    assert all(0 <= c < 8 for c in codes[999999]), codes[999999]
    # ADC scoring over the corpus containing the zero vector must run
    got = QZ.pq_topk(spark, sf, k=5, m=4, k_codes=8, n_iter=2, rerank=20).collect()
    assert len(got) == 5
    # rerank with the zero row FORCED into the shortlist (ANSI mode:
    # the exact-cosine stage must guard its norm(vec)==0 division)
    big = QZ.pq_topk(spark, sf, k=600, m=4, k_codes=8, n_iter=2, rerank=601).collect()
    assert any(r.vec_id == 999999 for r in big)
    # scalar quantization over the same corpus: dequantized-cosine must
    # also guard (a zero reconstruction scores 0.0, never raises)
    sq = QZ.sq_topk(spark, sf, k=5).collect()
    assert len(sq) == 5

    with pytest.raises(ValueError, match="not found"):
        SIM._query_embedding(spark, sf, query_id=123456789)


def test_sq_codes_match_numpy_and_recall(spark):
    """Scalar quantization third engine: per-dim min/max affine codes
    must equal numpy's (same expression order; boundary rounding may
    flip a code by at most 1), reconstruction must stay within half a
    step per dimension, and dequantized-cosine recall must be
    near-exact on the fixture."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ

    rows = sorted(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    X = np.array([list(map(float, r.embedding)) for r in rows])
    mins, maxs = QZ.sq_stats(spark, SF_SMOKE)
    assert np.allclose(mins, X.min(axis=0), atol=1e-12)
    assert np.allclose(maxs, X.max(axis=0), atol=1e-12)
    sc = np.array([(mx - mn) / 255.0 or 1.0 for mn, mx in zip(mins, maxs)])
    want = np.rint((X - np.array(mins)) / sc).astype(int)
    got = {r.vec_id: np.array(r.codes) for r in QZ.sq_encode(spark, SF_SMOKE).collect()}
    for i, r in enumerate(rows):
        diff = np.abs(got[r.vec_id] - want[i])
        assert diff.max() <= 1, f"vec {r.vec_id}: code diff {diff.max()}"
        assert (diff > 0).mean() < 0.05  # boundary flips are the rare exception
        recon = got[r.vec_id] * sc + np.array(mins)
        assert np.abs(recon - X[i]).max() <= sc.max() * 0.51 + 1e-9

    brute = [r.vec_id for r in SIM.brute_force_topk(spark, SF_SMOKE, k=10).collect()]
    ann = {r.vec_id for r in QZ.sq_topk(spark, SF_SMOKE, k=10).collect()}
    assert len(set(brute) & ann) / 10 >= 0.7


def test_multimodal_augment_matches_numpy_oracle(spark):
    """Augmentations are byte-exact against independent numpy ops on
    the decoded fixtures: hflip/crop for images, integer-halved PCM
    for audio; non-container payloads pass through unchanged."""
    import numpy as np

    from labs_stream_processing_examples_scala_spark.multimodal import codecs
    from labs_stream_processing_examples_scala_spark.multimodal.columns import augment, synthesize_mixed

    src = synthesize_mixed(binary_documents(spark, SF_SMOKE))
    inputs = {r["doc_id"]: bytes(r["payload"]) for r in src.collect()}
    out: dict[tuple, bytes] = {}
    for r in augment(src).collect():
        out[(r["doc_id"], r["op"])] = bytes(r["augmented"])

    n_img = n_aud = n_none = 0
    for doc_id, payload in inputs.items():
        if payload[:2] == b"BM":
            px = codecs.decode_bmp(payload)
            h, w = px.shape[0], px.shape[1]
            assert out[(doc_id, "hflip")] == codecs.encode_bmp(px[:, ::-1])
            crop = px[h // 4 : h // 4 + max(h // 2, 1), w // 4 : w // 4 + max(w // 2, 1)]
            assert out[(doc_id, "crop")] == codecs.encode_bmp(crop)
            # flip is an involution on the decoded pixels
            flipped = codecs.decode_bmp(out[(doc_id, "hflip")])
            assert np.array_equal(flipped[:, ::-1], px)
            n_img += 1
        elif codecs.sniff_modality(payload) == "audio":
            # (n_channels, framerate, samples) — the oracle used to
            # repeat the implementation's slot swap, green-lighting
            # 1 Hz output (round-12 self-review)
            _, rate, samples = codecs.decode_wav(payload)
            assert out[(doc_id, "gain")] == codecs.encode_wav(samples // 2, rate)
            round_trip = codecs.decode_wav(out[(doc_id, "gain")])
            assert round_trip[1] == rate, "gain clip must keep the framerate"
            n_aud += 1
        elif (doc_id, "none") in out:
            assert out[(doc_id, "none")] == payload
            n_none += 1
    assert n_img > 0 and n_aud > 0 and n_none > 0, (n_img, n_aud, n_none)


def test_broadcast_hint_policy_catches_fact_join(spark):
    """The forced-broadcast audit is fixed-cardinality-only (round-5
    verdict #1/#3): a deliberately-hinted fact join must be detected by
    the AST scan, and an allowlist entry can only be justified by one
    of the closed CARDINALITY_CATEGORIES — an SF-scaled frame has no
    valid category, so the loosening path (q65's round-5 hint) now
    fails the audit mechanically instead of being whitelisted."""
    from pyspark.sql import functions as F

    from tools.plan_audit import (
        BROADCAST_ALLOWED,
        CARDINALITY_CATEGORIES,
        audit_broadcast_policy,
        broadcast_hint_args,
    )

    def bad_fact_join(cust, orders):
        # deliberately wrong: orders is SF-scaled, never hintable
        return cust.join(F.broadcast(orders), "c_custkey")

    hints = broadcast_hint_args(bad_fact_join)
    assert hints == {"orders"}  # the AST scan sees the illegal hint
    # ...and no query's allowlist would admit it
    assert all("orders" not in allowed for allowed in BROADCAST_ALLOWED.values())

    # a loosening attempt with a merely-asserted justification fails
    bad = audit_broadcast_policy({"q65_merge_scd2": {"upd": "small by contract"}})
    assert bad and "q65_merge_scd2" in bad[0]
    # the shipped allowlist itself is clean, and every justification is
    # from the closed category set
    assert audit_broadcast_policy(BROADCAST_ALLOWED) == []
    for allowed in BROADCAST_ALLOWED.values():
        assert all(cat in CARDINALITY_CATEGORIES for cat in allowed.values())
    # the MERGE family is hint-free (the round-5 scale defect)
    assert BROADCAST_ALLOWED["q65_merge_scd2"] == {}
    assert BROADCAST_ALLOWED["q66_merge_delete"] == {}
    import labs_stream_processing_examples_scala_spark.operators.merge as MG

    assert broadcast_hint_args(MG.scd2_merge) == set()
    assert broadcast_hint_args(MG.merge_with_delete) == set()


def test_fuzzy_join_length_window_is_lossless(spark, tmp_path):
    """Round-5 ADVICE: a pure-insertion pair with edit distance exactly
    FUZZY_MAX_DIST has length difference FUZZY_MAX_DIST too — a length
    window tighter than the distance bound silently drops it. The
    window is now pinned to the bound, and this fixture (which the
    old window=2 filter rejected) proves the pre-filter is lossless."""
    import labs_stream_processing_examples_scala_spark.operators.dedup as DD

    assert DD.FUZZY_LEN_WINDOW == DD.FUZZY_MAX_DIST
    rows = [
        (1, "green floral", "B#1"),       # +3 pure insertions vs key 2
        (2, "green floralxyz", "B#1"),    # dist 3, len diff 3
        (3, "green flora", "B#1"),        # dist 1 vs key 1
        (4, "totally different", "B#1"),  # beyond the bound
        (5, "green floral", "B#2"),       # other block: never compared
    ]
    spark.createDataFrame(rows, "p_partkey long, p_name string, p_brand string") \
        .write.parquet(f"{tmp_path}/part.parquet")
    got = {
        (r.key_a, r.key_b, r.edit_distance)
        for r in DD.fuzzy_name_pairs(spark, str(tmp_path)).collect()
    }
    assert (1, 2, 3) in got, "length-diff-3 / dist-3 pair must survive the window"
    assert (1, 3, 1) in got and (2, 3, 4) not in got
    assert all(k not in {a for a, _, _ in got} or True for k in ())  # no cross-block
    assert not any(5 in (a, b) for a, b, _ in got)


def test_scd2_merge_cow_rewrites_only_touched_partitions(spark, tmp_path):
    """Copy-on-write MERGE (operators/merge.py scd2_merge_cow): over a
    mktsegment-partitioned SCD2 customer table, an update batch
    touching a single segment rewrites ONLY that partition — every
    other partition's files are byte-identical on disk (names, sizes,
    mtimes: hardlinked into the new generation, round 7) — and the
    table read back equals scd2_apply of the pre-merge table with the
    same updates. Also pins the bridge
    scd2_apply(scd2_init(t), u) ≡ scd2_merge(t, u) tying the
    maintenance form to q65's oracled one-shot form (round-5 verdict
    task #5). The legacy plain-partitioned target is migrated in place
    by the merge (cow_table.ensure_generational)."""
    import os

    from pyspark.sql import functions as F

    import labs_stream_processing_examples_scala_spark.operators.cow_table as CT
    import labs_stream_processing_examples_scala_spark.operators.merge as MG
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    upd_all = MG._updates(spark, SF_SMOKE)

    # bridge: applying to the initialized history == the one-shot merge
    via_apply = {
        (r.c_custkey, r.c_name, round(r.c_acctbal, 6), r.valid_from, r.valid_to, r.is_current)
        for r in MG.scd2_apply(
            MG.scd2_init(cust.drop("c_mktsegment")), upd_all,
            "c_custkey", "u_key", "c_acctbal", "new_bal",
        ).collect()
    }
    via_merge = {
        (r.c_custkey, r.c_name, round(r.c_acctbal, 6), r.valid_from, r.valid_to, r.is_current)
        for r in MG.scd2_merge(
            cust.drop("c_mktsegment"), upd_all, "c_custkey", "u_key",
            "c_acctbal", "new_bal", ["c_name"],
        ).collect()
    }
    assert via_apply == via_merge

    # the COW target: SCD2-shaped, partitioned by mktsegment
    target_path = str(tmp_path / "customer_scd2")
    MG.scd2_init(cust).write.partitionBy("c_mktsegment").parquet(target_path)
    pre = spark.read.parquet(target_path)

    # updates touch ONLY the BUILDING segment, plus one brand-new key
    # (the insert arm → null partition)
    seg_keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    upd = (
        upd_all.join(seg_keys, F.col("u_key") == F.col("c_custkey"), "left_semi")
        .unionByName(
            spark.createDataFrame([(10_000_001, 42.5)], "u_key long, new_bal double")
        )
    )

    def snapshot(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snapshot(target_path)
    want = {
        tuple(r)
        for r in MG.scd2_apply(
            pre, upd, "c_custkey", "u_key", "c_acctbal", "new_bal"
        ).collect()
    }
    stats = MG.scd2_merge_cow(
        spark, target_path, upd, "c_custkey", "u_key", "c_acctbal", "new_bal",
        partition_col="c_mktsegment",
    )
    assert stats["touched"] == ["BUILDING"]
    assert any("BUILDING" in d for d in stats["swapped"])
    assert stats["null_rewritten"]  # the synthetic insert forces it

    # after the commit the live table is the manifest-named generation
    live = os.path.join(target_path, f"gen_v{CT.read_manifest(target_path)['version']}")
    after = snapshot(live)
    def untouched(s):
        return {
            k: v for k, v in s.items()
            if "c_mktsegment=BUILDING" not in k and "HIVE_DEFAULT" not in k
            and not k.startswith("_") and not os.path.basename(k).startswith("._")
        }
    assert untouched(after) == untouched(before), "untouched partitions were rewritten"
    assert any("c_mktsegment=BUILDING" in k and k not in before for k in after), (
        "touched partition was not rewritten"
    )

    got = {
        tuple(r)
        for r in CT.read_cow(spark, target_path)
        .select(*[f.name for f in pre.schema.fields])
        .collect()
    }
    # `want` rows follow scd2_apply's column order (key, carried...,
    # versioned, validity) — realign to the read-back order
    apply_cols = MG.scd2_apply(pre, upd, "c_custkey", "u_key", "c_acctbal", "new_bal").columns
    idx = [apply_cols.index(f.name) for f in pre.schema.fields]
    want_aligned = {tuple(r[i] for i in idx) for r in want}
    assert got == want_aligned
    # the synthetic insert landed as an open version
    assert any(r[0] == 10_000_001 for r in got)


def test_merge_cow_cdc_delete_arm_prunes_and_tombstones(spark, tmp_path):
    """CDC COW MERGE (operators/merge.py merge_cow_cdc): named delete
    keys close the current version WITHOUT opening a new one (SCD2
    tombstone), upserts explode as usual, and only the partitions of
    affected current rows are rewritten — deletes in AUTOMOBILE plus
    updates in BUILDING leave the other three segments' files
    byte-identical. A key in both sets takes the delete."""
    import os

    from pyspark.sql import functions as F

    import labs_stream_processing_examples_scala_spark.operators.cow_table as CT
    import labs_stream_processing_examples_scala_spark.operators.merge as MG
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    target_path = str(tmp_path / "customer_scd2")
    MG.scd2_init(cust).write.partitionBy("c_mktsegment").parquet(target_path)
    pre = spark.read.parquet(target_path)

    bld = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    upd = (
        MG._updates(spark, SF_SMOKE)
        .join(bld, F.col("u_key") == F.col("c_custkey"), "left_semi")
    )
    # three deletes, one of which ALSO appears in the update set via a
    # synthetic row — delete must win
    dels = auto.orderBy("c_custkey").limit(3).select(F.col("c_custkey").alias("d_key"))
    first_del = dels.first()[0]
    upd = upd.unionByName(
        spark.createDataFrame([(first_del, 1.0)], "u_key long, new_bal double")
    )

    def snapshot(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snapshot(target_path)
    want_df = MG.scd2_apply_cdc(
        pre, upd, dels, "c_custkey", "u_key", "d_key", "c_acctbal", "new_bal"
    )
    want_cols = want_df.columns
    want = {tuple(r) for r in want_df.collect()}

    stats = MG.merge_cow_cdc(
        spark, target_path, upd, dels, "c_custkey", "u_key", "d_key",
        "c_acctbal", "new_bal", partition_col="c_mktsegment",
    )
    assert stats["touched"] == ["AUTOMOBILE", "BUILDING"]

    live = os.path.join(target_path, f"gen_v{CT.read_manifest(target_path)['version']}")
    after = snapshot(live)
    touched_frag = ("c_mktsegment=AUTOMOBILE", "c_mktsegment=BUILDING")
    def untouched(s):
        return {
            k: v for k, v in s.items()
            if not any(t in k for t in touched_frag)
            and "HIVE_DEFAULT" not in k and not k.startswith("_")
            and not os.path.basename(k).startswith("._")
        }
    assert untouched(after) == untouched(before)

    got_df = CT.read_cow(spark, target_path)
    idx = [want_cols.index(f.name) for f in got_df.schema.fields]
    got = {tuple(r) for r in got_df.collect()}
    want_aligned = {tuple(r[i] for i in idx) for r in want}
    assert got == want_aligned

    # tombstone semantics: each deleted key has exactly one closed row
    # and NO open version — including the delete+update overlap key
    for dk in [r[0] for r in dels.collect()]:
        rows = [r for r in got if r[0] == dk]
        assert len(rows) == 1
        r = dict(zip([f.name for f in got_df.schema.fields], rows[0]))
        assert r["is_current"] is False and r["valid_to"] is not None


def test_pq_arrow_encode_matches_catalyst_reference(spark):
    """The Arrow-vectorized PQ encode (quantization._encode_map) must
    agree with the Catalyst literal-fold reference (_codes_expr) on
    every non-tied assignment — the two implementations differ only in
    FP summation order, so any disagreement beyond ties is a bug in
    the vectorized path (round-6: the hot path moved to Arrow after
    the interpreted fold measured ~60 µs/row)."""
    import numpy as np

    from pyspark.sql import functions as F

    from labs_stream_processing_examples_scala_spark.operators import quantization as QZ
    from labs_stream_processing_examples_scala_spark.operators.similarity import _dvec
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    m, k = 4, 8
    cb, _ = QZ.pq_train(spark, SF_SMOKE, m=m, k_codes=k, n_iter=2)
    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", _dvec("embedding").alias("vec")
    )
    arrow = {
        r.vec_id: list(r.codes)
        for r in e.mapInArrow(
            QZ._encode_map(cb), schema="vec_id long, codes array<int>"
        ).collect()
    }
    u = e.select("vec_id", QZ._unit_vec().alias("vec"))
    catalyst = {
        r.vec_id: list(r.codes)
        for r in u.select("vec_id", QZ._codes_expr(cb, F.col("vec")).alias("codes")).collect()
    }
    assert set(arrow) == set(catalyst)
    C = np.asarray(cb)
    d = C.shape[2]
    rows = {r.vec_id: np.array(list(map(float, r.vec))) for r in u.collect()}
    agreed = disagreements = 0
    for vid, a_codes in arrow.items():
        x = rows[vid]
        for s in range(m):
            d2 = ((x[s * d : (s + 1) * d][None, :] - C[s]) ** 2).sum(axis=1)
            srt = np.sort(d2)
            if srt[1] - srt[0] > 1e-9:  # real margin → must agree exactly
                assert a_codes[s] == catalyst[vid][s], (vid, s)
                agreed += 1
            elif a_codes[s] != catalyst[vid][s]:
                disagreements += 1  # FP-tie only
    assert agreed > 0.9 * len(arrow) * m
