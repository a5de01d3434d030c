"""SparkSession factory with scale-aware defaults.

Tuned for local[32] testing but every setting is chosen to also be the
right default on a 1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the single most important knob at scale.
- Arrow on for every Python<->JVM columnar hop (pandas UDFs, toPandas).
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  byte-for-byte.
- codegen class cache sized to the session's working set: whole-stage
  codegen compiles one class per fused stage, and one pass over
  bench.py's 13 keys needs 153 of them, more than Spark's default cap
  of 100, so the LRU evicted each class before its next use and every
  repeat recompiled (and re-JITted) about 120 classes. The conf is
  static, so it holds only in sessions that get_spark creates.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# Every session-scoped derived value (fixture DataFrames, indexes, edge
# lists, written scratch layouts), keyed (applicationId, kind, *rest).
# Keyed by applicationId, not id(spark): CPython can reuse a stopped
# session's id() for a new one, which would hand back DataFrames bound
# to the dead session.
_memo: dict[tuple, object] = {}


def memo(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """build() once per (session, key); later calls with an equal key in
    the same session return the stored value. key[0] names the kind of
    value, which forget() drops by. Nothing is stored when build raises,
    so a failed build runs again on the next call. Threads that miss
    together may each build; the first value stored is the one every
    caller gets."""
    k = (spark.sparkContext.applicationId, *key)
    try:
        return _memo[k]
    except KeyError:
        return _memo.setdefault(k, build())


def forget(*kinds: str) -> None:
    """Drop the memo entries of these kinds in every session, and
    unpersist the DataFrames they hold, also those inside tuples."""
    for k in [k for k in _memo if k[1] in kinds]:
        value = _memo.pop(k)
        for df in value if isinstance(value, tuple) else (value,):
            if isinstance(df, DataFrame):
                try:
                    df.unpersist()
                except Exception:  # a stopped session's DataFrame
                    pass


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def spread_width(n32: int) -> int:
    """Scale a local[32]-tuned fixture-spread width to this host's
    measured parallelism (SPARK_GRAFT_CPUS — the bench/driver contract
    knob, falling back to the machine's core count): identical layout
    at 32 cores, proportionally fewer tiny tasks when the driver
    benches at lower core counts, proportionally wider with more. The
    spread exists to fan a single-split fixture scan across cores
    before per-row-heavy work (decoders, hash folds); at real scale
    the input arrives already split and the repartition re-keys
    cheaply. Floor 2 keeps the spread real on local[1]."""
    return max(2, n32 * default_parallelism() // 32)


def get_spark(app_name: str = "basis-spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the shared tuned SparkSession."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # memory only applies if we are the one launching the JVM
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.default.parallelism", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # events.ts is parquet TIMESTAMP(NANOS): read as long, convert in io.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    return builder.getOrCreate()


@contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n_rows: int, rows_per_partition: int = 500_000):
    """Scale-adaptive shuffle width for driver-side iterative loops
    (BFS/SSSP/PageRank/star-CC...), r11 guide §2: the per-round state of
    these loops is graph-sized, usually orders of magnitude below the
    table data the session's shuffle.partitions is sized for, so each
    round at session width is all task-launch overhead. Pin the width to
    the measured state size (n_rows, typically the checkpointed edge
    count — a cheap count on materialized data), never above the session
    value: at 100 TB the row count keeps the width at the session
    setting and AQE coalesces the shrinking tail, locally a 4-to-8-wide
    loop replaces a 64-wide one. Restores the session conf on exit; the
    DataFrame a caller returns executes later under the restored session
    width, so only the loop's internal actions are affected."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(4, min(int(saved), n_rows // rows_per_partition + 4))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
