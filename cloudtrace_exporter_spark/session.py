"""SparkSession factory.

One shared builder so every entry point (driver contract, bench, tests)
runs with the same scale-aware defaults:

- **AQE on** (runtime coalesce + skew-join splitting) — at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from runtime stats.
- **UTC session timezone** — the reference forces UTC for its window
  math (``/root/reference/pkg/adapter/adapter.go:93-94``); also required
  for DuckDB-oracle comparability (DuckDB timestamps are UTC-naive).
- **Arrow on** — every Pandas-UDF operator ships batches, not rows.
- **shuffle.partitions ≈ cores** locally; on a real cluster this is
  superseded by AQE's coalescing from ``advisoryPartitionSizeInBytes``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def set_state_store(spark: SparkSession, provider: str) -> None:
    """Select the streaming state store tier for queries started AFTER
    this call (``providerClass`` is a runtime SQL conf read at query
    start).

    - ``"hdfs"`` (Spark default): state lives on the executor JVM heap,
      snapshotted to the checkpoint. O(keys) heap — the r7 probe
      measured 5.4 GB at 10M dedup keys, an OOM at the 100× tier.
    - ``"rocksdb"``: state lives in per-partition RocksDB instances
      (native memory + local SST files, changelog to the checkpoint) —
      the standard large-state tier; heap stays O(1) in key count.

    The reference's core loop is exactly this stateful dedup path
    (``pkg/adapter/adapter.go:158-210`` ticker ingest + the MERGE dedup
    semantics of ``pkg/neo4j/client.go:10-21``), so the state tier is
    the one 100×-scale knob its workload needs.
    """
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
        # changelog checkpointing ships per-batch deltas instead of full
        # SST snapshots — the commit-latency half of the RocksDB tier
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # round-11 tuning pass (r10 verdict order #5 — the 2x wall vs
        # heap at 10M keys):
        # - trackTotalNumberOfRows=false: with tracking on, EVERY put
        #   issues a point read first so numRowsTotal stays exact; a
        #   dedup/ingest workload is write-dominated, so this halves the
        #   per-key RocksDB work. numRowsTotal then reads 0/-1 in
        #   telemetry — documented trade, probes don't assert on it for
        #   this tier.
        # - blockCacheSizeMB: default is 8 MB per store instance; the
        #   watermark-dedup access pattern re-reads recent keys (the
        #   dup window), so 64 MB keeps the hot range in cache. Bounded:
        #   n_partitions x 64 MB native (2 GB at local[32]).
        # - writeBufferSizeMB 64: fewer memtable flushes per micro-batch
        #   at 10M-key scale.
        for k, v in (
            ("trackTotalNumberOfRows", "false"),
            ("blockCacheSizeMB", "64"),
            ("writeBufferSizeMB", "64"),
        ):
            spark.conf.set(
                f"spark.sql.streaming.stateStore.rocksdb.{k}",
                os.environ.get(f"SPARK_GRAFT_ROCKSDB_{k.upper()}", v),
            )
    elif provider == "hdfs":
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        raise ValueError(f"unknown state store provider {provider!r}")


def get_spark(app_name: str = "cloudtrace_exporter_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode ``spark.driver.memory`` is the only memory knob; it must
    be set before the JVM starts, so tests/bench should call this before
    touching any other Spark API.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # dims (region/nation/customer at test SF; REGION/TENANT at prod) are
        # broadcast-join candidates; 64 MB covers every dimension table while
        # fact-fact joins still sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Generated classes are cached by source text in an LRU split into
        # 4 segments of maxEntries/4. At the default 100, the streaming
        # ingest path (~110 classes) overflowed a segment on some runs and
        # not others, and recompiled 1-51 classes a tick; at 256 every run
        # compiles the same classes, and a steady tick compiles one.
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # Python workers get 15 s by default to connect back to the JVM;
        # under box contention (several Spark sessions sharing the host)
        # fork+exec of the daemon can exceed that, failing whole tasks with
        # "Python worker failed to connect back". 120 s makes the suite
        # contention-proof without masking real hangs (task reaper still
        # applies).
        .config("spark.python.authenticate.socketTimeout", "120s")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # SPARK_GRAFT_STATE_STORE=rocksdb flips streaming state off the JVM
    # heap (see set_state_store) — an env knob so child processes (the
    # kill -9 probes) inherit the tier without code changes
    env_provider = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if env_provider:
        set_state_store(spark, env_provider)
    return spark


# One session artifact store for every build-once/serve-many artifact:
# index DataFrames (LSH/MinHash/IVF/PQ), frozen centroids, pools and BM25
# stats, and partition counts. Keyed by (applicationId, name, sf_dir);
# applicationId rather than id(spark), because CPython can recycle a dead
# session's id() and hand a new session a DataFrame bound to a stopped
# context.
_ARTIFACTS: dict[tuple[str, Hashable, str | None], Any] = {}


def artifact(spark: SparkSession, name: Hashable, sf_dir: str | None, build: Callable[[], Any]) -> Any:
    """Build-on-miss memo of one session artifact. Every DataFrame in the
    built value (a DataFrame, or a tuple holding some) is cached before it
    is stored. A miss first evicts what can no longer be hit, unpersisting
    evicted DataFrames:

    - the same application's ``name`` under another ``sf_dir`` (a sweep
      over several scale factors never accumulates cached storage);
    - every other application's entry (a process has one live
      SparkContext, so those entries are dead).
    """
    app_id = spark.sparkContext.applicationId
    key = (app_id, name, sf_dir)
    if key in _ARTIFACTS:
        return _ARTIFACTS[key]
    for old in [k for k in _ARTIFACTS if k[0] != app_id or k[1] == name]:
        value = _ARTIFACTS.pop(old)
        for item in value if isinstance(value, tuple) else (value,):
            if isinstance(item, DataFrame):
                try:  # a dead application's frames cannot be unpersisted
                    item.unpersist()
                except Exception:
                    pass
    built = build()
    if isinstance(built, tuple):
        built = tuple(v.cache() if isinstance(v, DataFrame) else v for v in built)
    elif isinstance(built, DataFrame):
        built = built.cache()
    _ARTIFACTS[key] = built
    return built


def invalidate(spark: SparkSession) -> int:
    """Drop every stored artifact and clear Spark's CacheManager, which
    unpersists the artifacts' DataFrames and the ``cache_once`` frames, so
    the next invocation of any query pays its full cold build. Returns the
    number of entries dropped."""
    n = len(_ARTIFACTS)
    _ARTIFACTS.clear()
    spark.catalog.clearCache()
    return n


def rdd_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical RDD, stored as the artifact
    ``("rdd_partitions", df.semanticHash())``. The direct probe forces
    physical planning plus an RDD conversion through py4j (~0.1 s), and
    the under-partitioned-input guards (_spread, the bm25 fan-out)
    re-probe the same logical plan on every invocation. A 32-bit hash
    collision could only mis-steer the spread-vs-not heuristic (plan
    shape, never results). The count goes stale if a scanned directory
    gains files; ``invalidate`` drops it. Falls back to the direct probe
    if the hash is unavailable."""
    try:
        name = ("rdd_partitions", df.semanticHash())
    except Exception:
        return df.rdd.getNumPartitions()
    return artifact(df.sparkSession, name, None, lambda: df.rdd.getNumPartitions())


def _cached_entry(df: DataFrame):
    """The CacheManager's ``CachedData`` for ``df``'s plan, or None when
    the plan is not cached. The JVM lookup is Dataset-based
    (`cacheManager().lookupCachedData`); if the private API moves this
    also returns None."""
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        entry = cm.lookupCachedData(df._jdf)
        return entry.get() if entry.isDefined() else None
    except Exception:
        return None


def cache_once(df: DataFrame) -> DataFrame:
    """``df.cache()`` with ONE caching owner per logical plan: if an
    identical plan is already in the CacheManager (e.g. a helper cached
    the shared frame, or a prior invocation of the same query built the
    same tree), return ``df`` untouched instead of re-registering it.

    Spark's CacheManager already dedups identical plans, so the
    re-``cache()`` was harmless — but it WARNs (`Asked to cache already
    cached data`), polluting the logs the plan audits read. Correctness
    never depends on this helper.
    """
    return df if _cached_entry(df) is not None else df.cache()


def row_count(df: DataFrame) -> int:
    """Row count of ``df``. For a cached ``df`` whose every partition is
    materialized it is read from the cache builder's row counter, with no
    job; otherwise ``df`` is counted."""
    entry = _cached_entry(df)
    if entry is not None:
        try:
            builder = entry.cachedRepresentation().cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                return int(builder.rowCountStats().value())
        except Exception:
            pass
    return df.count()


def right_sized(df: DataFrame) -> DataFrame:
    """A ``coalesce(k)`` view of a cached, materialized ``df``, where k is
    its cached bytes over ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    (rounded up): the size AQE aims a shuffle partition at. A batch that
    fits one such partition then plans each ``dropDuplicates`` with no
    exchange and writes one file. ``df`` itself is returned when k would
    not cut its partition count, or when it is not cached."""
    entry = _cached_entry(df)
    if entry is None:
        return df
    spark = df.sparkSession
    try:
        sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
        advisory = spark._jsparkSession.sessionState().conf().getConf(
            sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
        )
        relation = entry.cachedRepresentation()
        k = max(1, -(-relation.computeStats().sizeInBytes() // advisory))
        n = relation.cacheBuilder().cachedColumnBuffers().getNumPartitions()
    except Exception:
        return df
    return df.coalesce(k) if k < n else df
