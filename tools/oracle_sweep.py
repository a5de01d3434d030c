#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: runs every queries()
entry against its oracle_sql() in DuckDB and compares row-count, schema
(column names), ARROW OUTPUT TYPES (r5 hardening — the driver's value
hash is type-tagged, so decimal128-vs-int64 fails there even when the
values match; see basis_spark/typecheck.py), and order-insensitive
values (floats rounded to 6, timestamps via isoformat, rows sorted by
repr so NULLs sort fine).

Usage:
    python tools/oracle_sweep.py [sf_dir]            # default sf0.01
    python tools/oracle_sweep.py /root/testdata/sf0.001 key1 key2 ...

Env:
    SWEEP_HOSTILE=1   use a deliberately untuned non-UTC SparkSession
                      (simulates the driver's own session) instead of
                      the tuned factory.
    SWEEP_BENCH_PROFILE=1   apply bench.py's small-SF profile
                      (shuffle.partitions=8, AQE off) on top of the
                      tuned session — the r10-verdict #4 ratchet that
                      re-proves the profile is result-invariant every
                      close-out instead of asserting it from the
                      one-time r10 A/B run.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_row(row) -> tuple:
    out = []
    for v in row:
        if isinstance(v, float):
            out.append(round(v, 6))
        elif hasattr(v, "isoformat"):
            out.append(v.isoformat()[:26])
        elif isinstance(v, (list, tuple)):
            out.append(tuple(round(x, 6) if isinstance(x, float) else x for x in v))
        else:
            out.append(v)
    return tuple(out)


def main() -> int:
    # Pin the PROCESS timezone to UTC (the driver container's TZ):
    # PySpark's plain collect() converts TimestampType through
    # datetime.fromtimestamp — the HOST tz, independent of
    # spark.sql.session.timeZone — while DuckDB emits the naive UTC
    # wall clock from parquet. On a non-UTC dev host every raw-
    # timestamp key would false-fail by the UTC offset (measured:
    # 19 keys under TZ=America/Chicago). SWEEP_HOSTILE still covers
    # session-TZ hostility, which this does not mask.
    import time as _time

    os.environ["TZ"] = "UTC"
    _time.tzset()
    # TOLERANCE.json freshness (r9 advice): the sidecar is gitignored
    # per-run output, so a fresh clone has none and a stale working-tree
    # copy can predate the code being swept. Warn (non-fatal — the sweep
    # itself is independent of the sidecar) when it is missing or older
    # than PYTEST_SUMMARY.txt, the last full-suite marker.
    _tol = f"{REPO}/TOLERANCE.json"
    _summ = f"{REPO}/PYTEST_SUMMARY.txt"
    if not os.path.exists(_tol):
        print(
            "WARNING: TOLERANCE.json missing - run the full pytest suite "
            "to regenerate the rows-only bounds sidecar",
            file=sys.stderr,
        )
    elif os.path.exists(_summ) and os.path.getmtime(_tol) < os.path.getmtime(_summ):
        print(
            "WARNING: TOLERANCE.json predates PYTEST_SUMMARY.txt - the "
            "bounds sidecar is stale; rerun the full pytest suite",
            file=sys.stderr,
        )
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # Must precede the module import: a few oracles (scan_binaryfile)
    # bind file-path literals to this env var at import time — without
    # it, sweeping a non-default SF false-fails those keys.
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf)
    sys.path.insert(0, REPO)
    spec = importlib.util.spec_from_file_location("__spark_entry__", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from basis_spark.typecheck import arrow_type_mismatches, spark_arrow_schema

    if os.environ.get("SWEEP_HOSTILE"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.session.timeZone", "America/Chicago")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from basis_spark.session import get_spark

        spark = get_spark()
    if os.environ.get("SWEEP_BENCH_PROFILE"):
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    # DuckDB's default limit is 80% of RAM, too much beside Spark's JVM
    # in one process: cap it at half of physical memory.
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    con = duckdb.connect(config={"memory_limit": f"{half_mb}MB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    queries, oracles = mod.queries(), mod.oracle_sql()
    keys = sorted(only or queries)
    fails, rows_only = [], []
    t0 = time.time()
    for k in keys:
        try:
            sdf = queries[k](spark, sf)
            srows = [tuple(r) for r in sdf.collect()]
            if k not in oracles:
                rows_only.append((k, len(srows)))
                continue
            # ONE execution serves schema, columns and rows (some
            # oracles are O(n^2) self-joins / recursive CTEs — running
            # them twice doubled the sweep's DuckDB cost)
            tbl = con.execute(oracles[k]).fetch_arrow_table()
            duck_schema = tbl.schema
            dcols = list(tbl.schema.names)
            drows = [tuple(row[c] for c in dcols) for row in tbl.to_pylist()]
            if sorted(sdf.columns) != sorted(dcols):
                fails.append((k, f"SCHEMA spark={sorted(sdf.columns)} duck={sorted(dcols)}"))
                continue
            bad_types = arrow_type_mismatches(spark_arrow_schema(sdf), duck_schema)
            if bad_types:
                fails.append((k, f"TYPES {'; '.join(bad_types)}"))
                continue
            if len(srows) != len(drows):
                fails.append((k, f"ROWCOUNT spark={len(srows)} duck={len(drows)}"))
                continue
            sidx = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
            didx = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s = sorted((repr(_norm_row(tuple(r[i] for i in sidx))) for r in srows))
            d = sorted((repr(_norm_row(tuple(r[i] for i in didx))) for r in drows))
            if s != d:
                first = next((i for i, (a, b) in enumerate(zip(s, d)) if a != b), -1)
                fails.append((k, f"VALUES n={len(srows)} first_diff_at={first}"))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            fails.append((k, f"EXC {type(e).__name__}: {str(e)[:140]}"))
    dt = time.time() - t0
    print(f"{len(keys)} keys in {dt:.0f}s; {len(fails)} fails, {len(rows_only)} rows-only")
    for k, why in fails:
        print(f"  FAIL {k}: {why}")
    for k, n in rows_only:
        print(f"  ROWSONLY {k}: {n} rows")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
