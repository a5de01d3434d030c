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
- a class-data-sharing archive for the driver JVM (JEP 350), so later
  sessions map the ~12k classes Spark loads at start-up instead of
  parsing and verifying them again. It lives at
  .scratch/cds/<digest>.jsa, the digest covering the java binary and
  version, the Spark jar list and the driver JVM options. When
  get_spark launches the JVM and no archive exists, that JVM dumps one
  to a part file when it exits; a later get_spark promotes the part
  once that JVM is gone. The JVM falls back silently on an archive
  that does not match (-Xshare:auto), and a Spark conf dir that holds
  real files gets no archive, since the JDK dumps no classpath with a
  non-empty directory on it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Any, Callable

from pyspark import SparkContext
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


JAVA_OPTS = "-Duser.timezone=UTC"  # of the driver and executor JVMs


def get_spark(app_name: str = "basis-spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the shared tuned SparkSession."""
    n = cpus or default_parallelism()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    try:  # a checkout whose .scratch is not writable starts without an archive
        archive = _cds_archive(JAVA_OPTS, mem) if launches else None
        cds_flag, part = _cds_flag(archive) if archive else ("", None)
    except OSError:
        cds_flag, part = "", None
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # memory only applies if we are the one launching the JVM
        .config("spark.driver.memory", mem)
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
        .config("spark.driver.extraJavaOptions", f"{JAVA_OPTS} {cds_flag}".strip())
        .config("spark.executor.extraJavaOptions", JAVA_OPTS)
    )
    spark = builder.getOrCreate()
    if part:  # a later session promotes the part once this JVM has exited
        with open(part[: -len(".part")] + ".pid", "w") as fh:
            fh.write(str(spark._jvm.ProcessHandle.current().pid()))
    return spark


# The JVM logs every class it cannot archive to stdout while dumping
# (~570 lines); stdout is the caller's, so CDS logging is off.
_CDS_QUIET = "-Xlog:cds*=off"
# First bytes of a dynamic archive. The JVM writes the header last, so
# a dump that was cut short does not start with them.
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def _cds_archive(java_opts: str, mem: str) -> str | None:
    """The path of the class-data archive for a driver JVM launched with
    java_opts and mem, or None when that JVM gets none: when no java
    binary is found, or the Spark conf dir, which Spark puts first on the
    classpath, is not empty. An unset SPARK_CONF_DIR whose default dir
    holds only *.template files is pointed at an empty dir instead."""
    from pyspark.find_spark_home import _find_spark_home

    from basis_spark.io import scratch_dir

    cds = scratch_dir("cds")
    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR")
    if conf is None:
        if any(not f.endswith(".template") for f in _ls(os.path.join(home, "conf"))):
            return None
        conf = os.path.join(cds, "conf")
        os.makedirs(conf, exist_ok=True)
        os.utime(conf)
        os.environ["SPARK_CONF_DIR"] = conf
    elif _ls(conf):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java) or any(c.isspace() for c in cds):
        return None  # Spark splits extraJavaOptions on whitespace
    java = os.path.realpath(java)
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release")) as fh:
            version = fh.read()
    except OSError:
        version = ""
    jars = os.path.join(home, "jars")
    jar_sizes = sorted((f, os.path.getsize(os.path.join(jars, f))) for f in _ls(jars))
    key = repr((java, version, jar_sizes, os.path.realpath(conf), java_opts, mem))
    return os.path.join(cds, hashlib.sha256(key.encode()).hexdigest()[:16] + ".jsa")


def _cds_flag(archive: str) -> tuple[str, str | None]:
    """The JVM flag that maps archive, or dumps it to a new part file,
    and that part file (None unless the JVM dumps). No flag while
    another JVM is dumping the same archive."""
    dumping = _promote_parts(archive)
    if os.path.exists(archive):
        os.utime(archive)  # scratch_dir's age-GC keeps an archive in use
        return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", None
    if dumping:
        return "", None
    part = f"{archive}.{uuid.uuid4().hex[:8]}.part"
    return f"-XX:ArchiveClassesAtExit={part} {_CDS_QUIET}", part


def _promote_parts(archive: str) -> bool:
    """Move each finished part of archive to the archive's path with
    os.replace, once the JVM that dumps it has exited, and drop parts
    that JVM never finished. True while such a JVM is still running.
    Liveness reads /proc (Linux): the pid must still run a JVM that
    dumps to this part, so a reused pid or a zombie counts as exited."""
    running = False
    for pid_file in glob.glob(glob.escape(archive) + ".*.pid"):
        part = pid_file[: -len(".pid")] + ".part"
        try:
            with open(pid_file) as fh:
                pid = int(fh.read())
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                alive = f"-XX:ArchiveClassesAtExit={part}".encode() in fh.read()
        except (OSError, ValueError):
            alive = False
        if alive:
            running = True
            continue
        try:
            with open(part, "rb") as fh:
                whole = fh.read(4) == _DYNAMIC_MAGIC
            if whole:
                os.replace(part, archive)
            else:
                os.remove(part)
        except OSError:
            pass  # that JVM never dumped, or another session promoted it first
        try:
            os.remove(pid_file)
        except OSError:
            pass
    return running


def _ls(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


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
