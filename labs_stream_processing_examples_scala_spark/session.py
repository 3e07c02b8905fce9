"""SparkSession factory tuned for this engine, and the session-cache
registry every operator memoizes its per-session artifacts through.

Local testing runs on a single JVM (local[N]); the configs below are the
ones that matter for correctness (UTC timestamps vs the DuckDB oracle,
Arrow for pandas UDFs) and for scale posture (AQE on, shuffle partitions
sized to cores, skew-join handling). On a real cluster the same builder is
used with a different master and shuffle-partition count.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "labs_stream_processing_examples_scala_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults follow the project harness: ``local[$SPARK_GRAFT_CPUS]``
    (32 on the driver box) and shuffle partitions = cores. AQE is on so
    runtime statistics can re-plan joins (broadcast switch, skew split) —
    the 100 TB posture relies on it.
    """
    # before the JVM launches: put a host protobuf runtime (if any) on
    # PYTHONPATH so transformWithStateInPandas workers can import it
    from labs_stream_processing_examples_scala_spark.protobuf_host import ensure_protobuf

    ensure_protobuf()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert (sources.batch.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- session-cache registry ---------------------------------------------
#
# Every operator artifact that is built once per (session, sf_dir,
# params) — persisted frames, trained models, on-disk indexes and
# tables — lives here, so building, bounding, releasing and
# invalidating a session cache is decided in one place.

#: LRU size of a ``bounded=True`` entry name (frames that persist a
#: full corpus copy per parameter set: a sweep must evict, not pile up)
BOUNDED_ENTRIES = 4

_ENTRIES: dict[str, dict[tuple, object]] = {}
_COUNTS: dict[str, list[int]] = {}  # name -> [hits, misses]
_TMP_DIRS: list[str] = []


class CacheInfo(NamedTuple):
    keys: list[tuple]  # (applicationId, sf_dir, *params), LRU order
    hits: int
    misses: int


def _release(value) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


def memo(
    spark: SparkSession, sf_dir: str, name: str, params: tuple, build, bounded: bool = False
):
    """``build()``'s value, built once per (session, sf_dir, name,
    *params). A DataFrame value (or each DataFrame in a tuple value) is
    unpersisted when its entry is evicted or invalidated. ``bounded``
    keeps at most :data:`BOUNDED_ENTRIES` entries under ``name``,
    evicting the least recently used."""
    key = (spark.sparkContext.applicationId, sf_dir, *params)
    entries = _ENTRIES.setdefault(name, {})
    counts = _COUNTS.setdefault(name, [0, 0])
    if key in entries:
        counts[0] += 1
        entries[key] = entries.pop(key)  # most recently used goes last
        return entries[key]
    counts[1] += 1
    value = build()
    if bounded:
        while len(entries) >= BOUNDED_ENTRIES:
            _release(entries.pop(next(iter(entries))))
    entries[key] = value
    return value


def memo_dir(spark: SparkSession, sf_dir: str, prefix: str, params: tuple, build) -> str:
    """A fresh temp dir filled by ``build(path)``, built once per
    (session, sf_dir, prefix, *params); returns the path. The dir is
    removed at interpreter exit — not on invalidation, because frames
    already handed out may still read it."""

    def make() -> str:
        path = tempfile.mkdtemp(prefix=f"{prefix}_")
        _TMP_DIRS.append(path)
        build(path)
        return path

    return memo(spark, sf_dir, prefix, params, make)


def invalidate(sf_dir: str | None = None) -> None:
    """Drop (and unpersist) every session-cache entry, or only those
    built from ``sf_dir``. Call when the parquet under a cached dir
    changes: entries otherwise serve the old rows for the session's
    lifetime."""
    for entries in _ENTRIES.values():
        for key in [k for k in entries if sf_dir is None or k[1] == sf_dir]:
            _release(entries.pop(key))


def cache_info(name: str) -> CacheInfo:
    """The live entry keys of ``name`` and its hit/miss counts so far."""
    hits, misses = _COUNTS.get(name, (0, 0))
    return CacheInfo(list(_ENTRIES.get(name, ())), hits, misses)


@atexit.register
def _remove_tmp_dirs() -> None:
    for path in _TMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def release_persisted_rdds(spark: SparkSession) -> int:
    """Unpersist every RDD the context still holds and return how many
    were released. The session caches are dropped by
    :func:`invalidate`; what remains afterwards is localCheckpoint
    generations (e.g. the two-star component loop), whose storage
    otherwise lives until context shutdown. Call at suite/bench
    teardown so nothing persisted outlives the run."""
    scala_sc = spark.sparkContext._jsc.sc()
    it = scala_sc.getPersistentRDDs().iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n


def cluster_conf(
    total_cores: int = 4000,
    executor_mem_gb: int = 32,
    target_partition_mb: int = 192,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """Recommended conf for running this engine on a real cluster at
    ~``input_tb`` TB — the scale posture of the local builder
    (:func:`get_spark`) made explicit and sized.

    Rationale per key (all are plain Spark confs — nothing proprietary):

    - shuffle partitions ≈ max(2×cores, input/target_partition_size):
      every wide edge in this engine keys on a real join/agg key, so
      partition count is the only sizing lever; 100 TB / 192 MB ≈ 550k
      is capped by AQE coalescing to what the stage actually needs.
    - AQE on (+coalesce/skew): the engine's no-hint joins rely on the
      runtime broadcast/shuffle decision and skew split (PLANS_AQE.md
      demonstrates both); initialPartitionNum gives AQE headroom.
    - maxPartitionBytes = target_partition_mb: scan tasks sized so a
      row-group batch plus shuffle write buffers fit executor memory.
    - Arrow batch cap: bounds the pandas-UDF (multimodal/ANN) batch
      memory — the engine's only Python crossings are Arrow-batched.
    - checkpoint compression + RocksDB state store with changelog
      checkpointing: the streaming state (gather, windows, dedup)
      commits incrementally instead of full-snapshot per batch.
    """
    est_input_mb = int(input_tb * 1024 * 1024)
    shuffle_parts = max(2 * total_cores, est_input_mb // target_partition_mb)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(shuffle_parts),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{target_partition_mb}m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.checkpoint.compress": "true",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
