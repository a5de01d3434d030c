"""Fixture/table IO.

All inputs are the driver-generated parquet fixtures (TESTDATA.md /
FIXTURES.md). At 100 TB the same `spark.read.parquet` path applies —
parquet scans get predicate pushdown, column pruning, and partition
pruning from Catalyst for free as long as callers express filters and
projections declaratively (verified in tests/test_plans.py).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_spark.session import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame, memoized per (session,
    sf_dir, table): fixtures are immutable, and reuse saves the parquet
    footer read and schema analysis on every later call.

    events.ts is parquet TIMESTAMP(NANOS). How Spark scans it varies by
    version: ≤4.0 refuses natively (PARQUET_TYPE_ILLEGAL) unless
    `legacy.parquet.nanosAsLong` makes it a raw int64; 4.1+ reads it
    natively as TIMESTAMP_NTZ and ignores that conf. Dispatch on the
    actual scanned type so both work (lossless either way — fixture
    values carry only µs precision, FIXTURES.md): long → integer-divide
    to µs; ntz → cast to session-TZ timestamp (_pin_utc pins the
    session to UTC, so wall-clock values are unchanged).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return memo(spark, ("fixture", os.path.abspath(sf_dir), name),
                lambda: _read_fixture(spark, sf_dir, name))


def _pin_utc(spark: SparkSession) -> bool:
    # Declared semantics are UTC (the oracle compares timestamp values;
    # DuckDB timestamps are naive), but a session the caller built runs
    # in the JVM's default timezone, which shifts every date
    # extraction. Both confs are runtime-settable, so they are enforced
    # at the data boundary, once per session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return True


def _read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    memo(spark, ("utc_conf",), lambda: _pin_utc(spark))
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Not persisted by default: plan tests assert pushed filters and
    # pruning on the raw parquet scan, and at scale the scan is wanted,
    # not an InMemoryRelation. SPARK_GRAFT_CACHE_FIXTURES=1 (bench.py
    # sets it) persists once per memo entry, never per call: per-call
    # persists of an identical plan stack nested InMemoryRelations.
    if os.environ.get("SPARK_GRAFT_CACHE_FIXTURES"):
        df = df.persist()
    return df


# The checkout's scratch area (gitignored); everything scratch_dir hands out lives under it.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scratch_dir(subdir: str = "") -> str:
    """A writable scratch area inside the repo (gitignored) for sinks.

    Session-scoped scratch (scratch_path) isolates concurrent sessions but
    accumulates one copy per session; every call age-GCs entries in the
    requested subdir untouched for 24 h (far longer than any session
    here lives), so the area is self-cleaning without ever touching a
    live concurrent session's files."""
    path = os.path.join(SCRATCH, subdir) if subdir else SCRATCH
    os.makedirs(path, exist_ok=True)
    if subdir:
        gc_stale_siblings(path, prefix="", keep="")
    return path


def scratch_path(
    spark: SparkSession, subdir: str, sf_dir: str | None = None, tag: str = "", ext: str = ""
) -> str:
    """Session-scoped scratch path for a derived dataset — the one way
    the library names its scratch files, dirs and tables:
    scratch_dir(subdir)/<basename>_<digest>[_<tag>]_<applicationId><ext>.

    The applicationId keeps concurrent sessions apart: a shared path
    and mode('overwrite') would let another process (pytest alongside
    a sweep) delete files this session is mid-read on. The 8-hex digest
    of sf_dir's absolute path keeps two SF dirs with one basename apart
    within a session. Without sf_dir (data that does not depend on
    the fixtures) the name is <tag>_<applicationId><ext>. Data written
    once per session goes through scratch_once, which names it here."""
    parts = []
    if sf_dir is not None:
        apath = os.path.abspath(sf_dir)
        parts += [os.path.basename(apath), hashlib.md5(apath.encode()).hexdigest()[:8]]
    if tag:
        parts.append(tag)
    parts.append(spark.sparkContext.applicationId)
    return os.path.join(scratch_dir(subdir), "_".join(parts) + ext)


def scratch_once(
    spark: SparkSession,
    write: Callable[[str], None],
    subdir: str,
    sf_dir: str | None = None,
    tag: str = "",
    ext: str = "",
) -> str:
    """Write a session-scoped scratch artifact once; returns its path
    (scratch_path's name for subdir, sf_dir, tag, ext).

    The first call in a session removes whatever is at the path (a file
    or a dir a failed write left behind), then calls write(path), which
    writes the artifact straight to path. Later calls with the same name
    return the path without touching disk. A write that raises stores
    nothing, so the next call clears the path and writes again. No
    marker file and no temp-file rename are needed: the applicationId in
    the name means only this session reads the path, and it reads only
    after scratch_once returns. memo holds no lock, so two threads must
    not build one path at once; a write may call scratch_once for
    another path."""

    def build() -> str:
        path = scratch_path(spark, subdir, sf_dir, tag, ext)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.lexists(path):
            os.remove(path)
        write(path)
        return path

    sf_key = None if sf_dir is None else os.path.abspath(sf_dir)
    return memo(spark, ("scratch", subdir, sf_key, tag, ext), build)


def gc_stale_siblings(parent: str, prefix: str, keep: str, ttl_s: int = 86400) -> None:
    """Best-effort GC for applicationId-scoped scratch dirs/tables.

    appId scoping isolates concurrent sessions (no overwrite races) at
    the cost of one copy per session; without collection those copies
    accumulate forever. Siblings of `keep` under `parent` that share
    `prefix` and have been untouched for ttl_s (default 24 h — far
    longer than any session here lives) are deleted. Age-gated so a
    LIVE concurrent session's scratch is never touched; errors are
    swallowed (another process may be collecting the same dir)."""
    import time

    try:
        entries = os.listdir(parent)
    except OSError:
        return
    now = time.time()
    for name in entries:
        if not name.startswith(prefix) or name == keep:
            continue
        path = os.path.join(parent, name)
        try:
            if now - os.path.getmtime(path) > ttl_s:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
        except OSError:
            pass
