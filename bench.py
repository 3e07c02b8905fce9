"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through the noop sink (full materialization on the
JVM side, no driver collect) — the honest cost of the whole plan.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod
from labs_stream_processing_examples_scala_spark import get_spark

# Headline set: every big plan family — scan, filter, agg, joins, windows,
# top-k, the flagship enrichment, the errors split, and (as added)
# dedup / similarity / text extensions.
HEADLINE = [
    "p3_enrich_full",
    "p4_errors_main",
    "q1_scan_project",
    "q2_filter",
    "q4_agg_tpch_q1",
    "q6_rollup",
    "q7_join_revenue",
    "q8_outer_join",
    "q10_window_rank",
    "q12_topk",
    "q25_array_hof",
    "q30_tpch_q3",
    "q48_tpch_q7",
    "x_pack_sequences",
    "x_corpus_contamination",
    "x_dedup_exact",
    "x_dedup_minhash_sig",
    "x_dedup_lsh_pairs",
    "x_dedup_simhash",
    "x_sim_bruteforce_topk",
    "x_sim_lsh_topk",
    "x_text_quality",
    "x_text_langid",
    "x_multimodal_features",
    # round-2 batch 2: sessionization (keyed window + rollup), span
    # dedup (inverted-index shape), and the end-to-end corpus pipeline
    "q58_sessionize",
    "x_dedup_spans",
    # round 8: the matching removal transform (Lee et al. rewrite)
    "x_dedup_span_removal",
    "x_corpus_pipeline",
    # round-5 expansion (VERDICT r4 #5): the round-4 surface — IVF ANN
    # probe (cell-partitioned index build + pruned read), temperature
    # mixture sampling, LATERAL top-n, recursive date spine, funnel,
    # cohort — plus the round-5 sub-day range join
    "x_sim_ivf_topk",
    # round 12: steady-state probe over the materialized inverted file
    # (rides the build the line above already paid — the IVF mirror of
    # x_sim_nsw_probe below)
    "x_sim_ivf_probe",
    # round 7: x_sim_lsh_topk (above) is now the MULTIPROBE form — the
    # old default's timing slot; the single-probe baseline rides here
    "x_sim_lsh_topk_sp",
    "x_sim_sq_topk",
    # round 8: the graph ANN tier (sharded NSW build + probe)
    "x_sim_nsw_topk",
    # round 9: the steady-state probe over the MATERIALIZED on-disk
    # index (zero-Exchange) and the batched 4-query probe (one scan
    # amortized across queries — 170 ms/query at sf10); both ride the
    # build the line above already paid (shared graph cache)
    "x_sim_nsw_probe",
    "x_sim_nsw_batch",
    "x_sample_mixture",
    "q60_lateral_topn",
    "q61_date_spine",
    "q62_funnel",
    "q63_cohort",
    "q64_range_hourly",
    # round-5 batch 2: MERGE upsert, reservoir sample, Misra-Gries
    # heavy hitters, BPE segmentation (includes its training loop)
    "q65_merge_scd2",
    "q66_merge_delete",
    "q68_merge_evolve",
    # round 7: the same MERGE through the merge-on-read tier (deletion
    # vectors + vector anti-join read) — q65's storage-strategy twin
    "q70_merge_mor",
    "x_sample_reservoir",
    "x_freq_heavy_hitters",
    "x_bpe_segment",
    "x_text_lm_score",
    "x_validate_orders",
    "x_drift_events",
    # round-6 sweep (VERDICT r5 #8): PageRank rides the signature/pair
    # caches x_dedup_lsh_pairs warms above (listed after it on
    # purpose); the fuzzy join is self-contained (blocked equi join)
    "x_graph_pagerank",
    "x_dedup_fuzzy_names",
]


def _calibrate() -> dict:
    """Fixed single-core work, timed — a machine-speed reference
    recorded in the JSON so a contaminated measurement window (noisy
    neighbours, thermal throttling) is detectable FROM THE ARTIFACT
    instead of by cross-query forensics (round-8 verdict task #3:
    BENCH_r07 carried a uniform ~1.31× host factor that took
    per-query archaeology to attribute). Two probes:

    - ``calib_py_ms``: a pure-Python integer loop (~10M ops) — CPython
      single-core speed, immune to numpy/BLAS thread counts.
    - ``calib_np_ms``: fixed elementwise passes over a 20M-double
      array — single-core MEMORY BANDWIDTH, the resource noisy
      neighbours actually steal (deliberately not a BLAS matmul, whose
      thread pool made the probe itself contention-noisy).

    Reference on this host class (measured over repeated probes while
    building round 8): ~430 ms / ~200 ms, both ±10%. A run whose
    calibration is k× that baseline explains a uniform k× query
    inflation; per-query regressions show up as NON-uniform movers.

    Round 10 adds a third probe recorded by main(): ``job_ms`` — the
    median wall of 5 trivial Spark jobs (spark.range(1).count()). The
    round-10 windows showed a failure mode the single-core probes
    MISS: CPU steal that leaves numpy bandwidth clean (~1.05×) but
    inflates per-JOB scheduler latency 1.5-1.8×, hitting exactly the
    job-count-heavy queries (merge family, date spine, funnel,
    iterative pagerank) while scan-bound queries stay flat. Compare
    start/end within a run and across runs — the absolute value is
    host-and-session dependent (measured ~135-250 ms in the round-10
    windows)."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i & 1023
    py_ms = (time.perf_counter() - t0) * 1000
    rng = np.random.default_rng(0)
    a = rng.random(20_000_000)
    b = a * 1.0001 + 0.5  # untimed warm pass (page faults, allocator)
    t0 = time.perf_counter()
    for _ in range(5):
        # in-place: fresh 160 MB allocations made the probe measure the
        # allocator/THP, not bandwidth (alternated 0.5 s / 2.4 s)
        np.multiply(a, 1.0001, out=b)
        b += 0.5
    np_ms = (time.perf_counter() - t0) * 1000
    return {
        "calib_py_ms": round(py_ms, 1),
        "calib_np_ms": round(np_ms, 1),
        "calib_mt_ms": _mt_probe_ms(),
        "_calib_sink": float(b[0]) + acc,  # defeat dead-code elimination
    }


def _mt_probe_ms() -> float:
    """Sustained ALL-CORES compute probe (round 11). The single-core
    probes miss a contention class found while re-anchoring sf10:
    episodic external CPU pressure that leaves a ~40 ms single-thread
    burst clean but inflates sustained 32-core numpy stages (the NSW
    build measured 38-46 s isolated and 76-86 s in-run across two
    rounds, with per-query single-thread probes reading clean either
    way; an interleaved BLAS-pinning A/B ruled out oversubscription).
    Fixed work split across $SPARK_GRAFT_CPUS threads of GIL-releasing
    elementwise numpy — the same resource shape as the Arrow-batched
    UDF stages. One untimed warm lap (allocator, page faults), one
    timed. Reference on this host class: ~150-210 ms clean (measured
    253 ms = 1.6× under a deliberate 16-thread hog that left the py/np
    probes FLAT); a k× reading explains a k× inflation of the
    numpy-heavy tier (ANN builds, multimodal decode, LM scoring)
    specifically."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    n = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    rng = np.random.default_rng(0)
    bufs = [rng.random(1_000_000) for _ in range(n)]
    outs = [b.copy() for b in bufs]

    def work(i: int) -> None:
        a, o = bufs[i], outs[i]
        for _ in range(30):
            np.multiply(a, 1.0001, out=o)
            o += 0.5

    with ThreadPoolExecutor(n) as ex:
        list(ex.map(work, range(n)))  # warm lap, untimed
    t0 = time.perf_counter()
    with ThreadPoolExecutor(n) as ex:
        list(ex.map(work, range(n)))
    return round((time.perf_counter() - t0) * 1000, 1)


def _job_probe_ms(spark) -> float:
    """Median wall of 5 trivial jobs — per-job scheduler latency."""
    import statistics

    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        samples.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(samples), 1)


_PROBE_BUF = None


def _light_probe_ms() -> float:
    """One in-place pass over the calibration array (~1/5 of the np
    probe, ≈40 ms clean) — cheap enough to run AFTER EVERY QUERY, so a
    dirty measurement window is localized to the specific queries it
    contaminated instead of being inferred from cross-artifact
    forensics (round-10 verdict task #3: three of four rounds shipped a
    contaminated BENCH_r* that read as a fake regression)."""
    global _PROBE_BUF
    import numpy as np

    if _PROBE_BUF is None:
        rng = np.random.default_rng(0)
        a = rng.random(20_000_000)
        _PROBE_BUF = (a, a * 1.0001)
    a, b = _PROBE_BUF
    t0 = time.perf_counter()
    np.multiply(a, 1.0001, out=b)
    b += 0.5
    return (time.perf_counter() - t0) * 1000


# a query's window is DIRTY when its post-query probe exceeds this
# multiple of the run's cleanest observed probe
DIRTY_PROBE_RATIO = 1.5

# families that additionally carry a PER-QUERY all-cores probe
# (round-12 verdict task #3): the ~45 ms single-thread light probe
# reads clean under the episodic all-cores contention that doubled the
# sf10 NSW number two rounds running; only a sustained multi-thread
# probe sees that class, so the sim family pays ~400 ms of probe per
# query to make a contaminated ANN number self-evident in-artifact
# (and retried/annotated like every other dirty window)
MT_PROBE_PREFIXES = ("x_sim_",)

# query families that warm SESSION CACHES on first run (dedup shingle/
# banded frames, similarity signature caches, NSW graph cache, BPE
# merge tables, LM model, corpus shingle reuse — the memo/memo_dir
# calls in operators/ and streaming/): their retry re-runs WARM, so a retry time can
# unfairly undercut a legitimate cold first run. For these, the FIRST
# run stays the defended number (its probe stamp tells the reader how
# dirty its window was); the retry is recorded alongside as evidence.
CACHE_WARM_PREFIXES = (
    "x_dedup_",
    "x_sim_",
    "x_graph_",
    "x_corpus_",
    "x_pack_",
    "x_bpe_",
    "x_text_lm",
    # round 15 (r14 verdict task #2c): the MERGE family materializes
    # its base/target tables into the session on first run, so a retry
    # re-runs warm — r13's q70_merge_mor published a 0.64 s warm retry
    # against a 5.4 s cold first run, and the round-over-round diff
    # read the next cold run as a fake 5× regression. Defend first-run
    # here like every other cache-warming family.
    "q65_",
    "q66_",
    "q68_",
    "q70_",
    # x_freq_heavy_hitters memoizes its per-partition Misra-Gries
    # summaries (frequency.mg_summaries) on first run, so a retry
    # re-runs warm like the families above
    "x_freq_",
)


def _self_heal(
    run_query, names, timings, probes, errors, mt_probes=None, mt_floor_hint=None
) -> dict:
    """Self-healing against dirty measurement windows (round-10 verdict
    task #3): each query carries a post-query bandwidth probe; queries
    whose probe exceeded DIRTY_PROBE_RATIO x the run's cleanest probe
    are re-run ONCE (bounded). Both values + probes land in the
    artifact; the cleaner-probe run is the defended number published in
    `queries` — EXCEPT for cache-warming families (CACHE_WARM_PREFIXES),
    where the retry is evidence only.

    ``mt_probes`` (round 12): per-query all-cores probe readings for
    the MT_PROBE_PREFIXES family. A query whose mt reading exceeds
    DIRTY_PROBE_RATIO × the mt floor (the cleaner of the run-start
    calibration ``mt_floor_hint`` and the cleanest in-run reading) is
    flagged exactly like a light-probe-dirty query — so the sustained
    contention class the single-thread probe misses is annotated and
    retried in-artifact."""
    retries: dict[str, dict] = {}
    if not probes:
        return retries
    mt_probes = mt_probes or {}
    floor = min(probes.values())
    mt_candidates = list(mt_probes.values())
    if mt_floor_hint is not None:
        mt_candidates.append(mt_floor_hint)
    mt_floor = min(mt_candidates) if mt_candidates else None
    dirty = [
        n
        for n in names
        if n in timings
        and (
            probes[n] > DIRTY_PROBE_RATIO * floor
            or (
                n in mt_probes
                and mt_floor is not None
                and mt_probes[n] > DIRTY_PROBE_RATIO * mt_floor
            )
        )
    ]
    for name in dirty:
        warm_risk = name.startswith(CACHE_WARM_PREFIXES)
        t0 = time.perf_counter()
        try:
            run_query(name)
            retry_sec = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — harness boundary
            # the retry is OPTIONAL evidence-gathering: its failure must
            # not fail a run whose defended first-run timing succeeded
            # (self-review finding, round 11 — errors[] flips the exit
            # code and made the artifact claim q both timed and errored)
            retries[name] = {
                "first_sec": timings[name],
                "first_probe_ms": probes[name],
                "retry_error": f"{type(e).__name__}: {e}"[:300],
                "defended": "first",
                "cache_warm_risk": warm_risk,
            }
            continue
        retry_probe = round(_light_probe_ms(), 1)
        use_retry = retry_probe < probes[name] and not warm_risk
        retries[name] = {
            "first_sec": timings[name],
            "first_probe_ms": probes[name],
            "retry_sec": retry_sec,
            "retry_probe_ms": retry_probe,
            "defended": "retry" if use_retry else "first",
            "cache_warm_risk": warm_risk,
        }
        if name in mt_probes:
            retries[name]["first_mt_ms"] = mt_probes[name]
            retries[name]["retry_mt_ms"] = _mt_probe_ms()
        if use_retry:
            timings[name] = retry_sec
    return retries


def sidecar_name(sf: float, cpus: int, only_slice: bool) -> str:
    """Sidecar selection — qualified by CPU COUNT when the run is
    throttled below the machine (round 15, r14 verdict task #2b: the
    driver's 8-core scaling run clobbered the only full 32-core record
    of round 14). BENCH_LAST.json is reserved for full-machine sf0.1
    runs; a reduced-core run writes BENCH_LAST_c{N}.json."""
    throttled = cpus != (os.cpu_count() or cpus)
    if only_slice:
        return "BENCH_LAST_SLICE.json"
    if sf == 0.1:
        return f"BENCH_LAST_c{cpus}.json" if throttled else "BENCH_LAST.json"
    return "BENCH_LAST_LOCAL.json"


def compact_line(record, timings, retries, errors, sidecar, sf, cpus) -> str:
    """The ONE stdout JSON line the driver parses. Round 15 (r14 verdict
    task #2a): it now carries EVERY query at 2 dp with compact
    separators — the 5-slowest-only form made the driver's
    round-over-round diff see 3 common queries and 35 phantom
    drops/news each round. 53 entries at ~25 chars ≈ 1.4 KB;
    calibration ms rounded to ints; the whole line must stay under the
    driver's 2000-char tail capture (pinned by
    tests/test_round15_opt.py with the real HEADLINE names). Full
    precision + per-query probes still live in the sidecar."""
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "queries_n": len(timings),
        "queries": {
            k: round(v, 2) for k, v in sorted(timings.items(), key=lambda kv: -kv[1])
        },
        "calibration": {k: int(round(v)) for k, v in record["calibration"].items()},
        "retries_n": len(retries),
        "errors_n": len(errors),
        "detail": sidecar,
    }
    if errors:  # name the first few so a red run is diagnosable from the line
        compact["errors"] = {k: errors[k][:80] for k in sorted(errors)[:3]}
    return json.dumps(compact, separators=(",", ":"))


def warmup(spark, sf_dir: str) -> None:
    """JVM/codegen/python-worker warm-up on NEUTRAL plans. Warming on
    the run's own first query (the pre-round-11 form) silently
    pre-warmed that query's session caches — for a `--only` slice whose
    first query is a CACHE_WARM family, the 'defended first run' was
    then measured WARM, the exact unfair number the first-run-defended
    policy exists to prevent (self-review finding, round 11). Three
    plans that touch the expensive machinery without touching any
    operator cache: a codegen'd range aggregate, a parquet footer read
    through the noop sink, and a one-row mapInArrow (starts the Arrow
    python workers)."""
    from pyspark.sql import functions as F

    try:
        spark.range(1_000).select(F.sum("id")).write.format("noop").mode(
            "overwrite"
        ).save()
        from labs_stream_processing_examples_scala_spark.sources.batch import load_table

        load_table(spark, sf_dir, "region").limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.range(8).mapInArrow(lambda it: it, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass  # the timed loop records real errors per-query


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    calib_start = _calibrate()
    spark = get_spark(app_name="bench")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] or sorted(qs)
    # --only a,b,c : run a slice (clean-window sf10 re-anchoring is done
    # in slices so each slice carries its own calibration stamps)
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in only if n not in qs]
        if unknown:
            raise SystemExit(f"--only: unknown queries {unknown}")
        names = only

    warmup(spark, sf_dir)

    start_job_ms = _job_probe_ms(spark)

    # a single failing query must not lose the whole run's timings
    # (round 3: one AnalysisException at query 25/27 → rc=1, zero
    # timings recorded). Record the error per query, keep going, and
    # always print the JSON line; exit non-zero if anything failed.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    probes: dict[str, float] = {}
    mt_probes: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — harness boundary
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        probes[name] = round(_light_probe_ms(), 1)
        if name.startswith(MT_PROBE_PREFIXES):
            mt_probes[name] = _mt_probe_ms()

    retries = _self_heal(
        lambda name: qs[name](spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        names,
        timings,
        probes,
        errors,
        mt_probes=mt_probes,
        mt_floor_hint=calib_start["calib_mt_ms"],
    )

    end_job_ms = _job_probe_ms(spark)
    calib_end = _calibrate()  # re-probe: catches contention starting mid-run
    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration": {
            "start_py_ms": calib_start["calib_py_ms"],
            "start_np_ms": calib_start["calib_np_ms"],
            "start_mt_ms": calib_start["calib_mt_ms"],
            "end_py_ms": calib_end["calib_py_ms"],
            "end_np_ms": calib_end["calib_np_ms"],
            "end_mt_ms": calib_end["calib_mt_ms"],
            "start_job_ms": start_job_ms,
            "end_job_ms": end_job_ms,
        },
        "probes": probes,
    }
    if mt_probes:
        record["mt_probes"] = mt_probes
    if retries:
        record["retries"] = retries
    if errors:
        record["errors"] = errors
    # Sidecar FIRST (writing a file emits no WARN lines and survives a
    # cleanup crash), cleanup SECOND and GUARDED (the unpersist sweep
    # emits "locally checkpointed" WARNs — in round 8 they landed after
    # the JSON and pushed it out of the driver's tail capture; and a
    # cleanup exception must not lose a fully-measured run), stdout
    # print LAST so the headline JSON is the final output line.
    #
    # The stdout line is COMPACT (round-12 verdict task #1): the fat
    # record's 52-query dict + per-query probes outgrew the driver's
    # 2000-char tail capture in round 11 (BENCH_r11.json parsed:null —
    # ironically caused by round 9's parse-proofing probes). The full
    # record lives in the sidecar; stdout carries the headline value,
    # run-level calibration, the 5 slowest queries, and a pointer.
    # three sidecar names so no run class clobbers another's reference
    # (round-12 self-review: an --only slice overwrote the full-smoke
    # record the BENCH_LOCAL_r{N} round artifacts are copied from —
    # the same hole the round-11 fix closed for BENCH_LAST.json):
    #   BENCH_LAST.json        full sf0.1 run (the driver diff reference)
    #   BENCH_LAST_LOCAL.json  full run at any other SF (smoke record)
    #   BENCH_LAST_SLICE.json  any --only slice (throwaway)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sidecar = sidecar_name(sf, cpus, "--only" in sys.argv)
    record["cpus"] = cpus
    try:
        (Path(__file__).resolve().parent / sidecar).write_text(
            json.dumps(record) + "\n"
        )
    except OSError:
        sidecar = None  # sidecar is best-effort; stdout line is the contract
    line = compact_line(record, timings, retries, errors, sidecar, sf, cpus)
    try:
        from labs_stream_processing_examples_scala_spark.session import (
            invalidate,
            release_persisted_rdds,
        )

        invalidate()
        release_persisted_rdds(spark)
        spark.stop()
    except Exception as e:  # noqa: BLE001 — cleanup must not eat the record
        print(f"bench cleanup failed (record intact): {e}", file=sys.stderr)
    sys.stderr.flush()
    print(line, flush=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
