"""Scans, sources, sinks (SURVEY.md §2.A).

Scale notes: projection and predicate both reach the parquet reader
(ReadSchema / PushedFilters — asserted in tests/test_plans.py), so at
100 TB these scans read only the needed columns/row-groups. Sinks write
partitioned parquet (partition pruning for downstream readers).
`source_jdbc` runs against embedded Derby (bundled with Spark) with a
partitioned parallel read — no external DB service needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from basis_spark.io import load, scratch_once, scratch_path
from basis_spark.registry import register


@register(
    "scan_parquet",
    oracle="""
    SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS s
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")
    )


@register(
    "scan_projection_pushdown",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem",
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 of 11 columns — ReadSchema must show only these (test_plans.py).
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


@register(
    "scan_predicate_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-02-01'
    """,
)
def scan_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-02-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


_RECORDS = [
    (1, "alpha", 1.5),
    (2, "beta", 2.5),
    (3, "gamma", 3.75),
    (4, "delta", -1.25),
]

_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@register(
    "source_records",
    oracle="""
    SELECT CAST(rid AS BIGINT) AS rid, name, CAST(score AS DOUBLE) AS score
    FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5),
                 (3, 'gamma', 3.75), (4, 'delta', -1.25)) AS t(rid, name, score)
    """,
)
def source_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basis `import_records` equivalent: in-memory records -> DataFrame.
    return spark.createDataFrame(_RECORDS, _RECORDS_SCHEMA)


_CSV_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"
)


@register(
    "source_csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basis `import_csv` + CSV storage format: write CSV, read back typed.
    # Java Double.toString round-trips exactly, so values hash-match parquet.
    out = scratch_path(spark, "csv_roundtrip", sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(_CSV_SCHEMA).option("header", True).csv(out)


@register(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value, props, event_type
    FROM events
    """,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partitioned parquet sink (hive-style) then read back with partition column.
    out = scratch_path(spark, "parquet_roundtrip", sf_dir)
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.select("event_id", "ts", "user_id", "value", "props", "event_type")


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """events written hive-partitioned by event_type (write-once per
    session; fixtures are immutable). This is the layout a 100 TB event
    lake uses — partition column drives pruning for every reader."""

    def write(out: str) -> None:
        load(spark, sf_dir, "events").write.partitionBy("event_type").parquet(out)

    return scratch_once(spark, write, "events_parted", sf_dir)


@register(
    "scan_partition_pruning_dynamic",
    oracle="""
    SELECT e.event_type, count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES ('click', 'billable'), ('purchase', 'billable'),
                 ('view', 'internal'), ('signup', 'internal'),
                 ('error', 'internal')) d(event_type, category)
      ON e.event_type = d.event_type
    WHERE d.category = 'billable'
    GROUP BY 1
    """,
)
def scan_partition_pruning_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: join-driven partition elimination.

    The fact side is the event lake partitioned by event_type; the dim
    side is a small table whose filter (category = 'billable') selects
    2 of 5 event types. No literal predicate on the fact scan exists at
    plan time — Spark's DPP turns the dim-side filter into a runtime
    subquery on the fact's partition column (`dynamicpruningexpression`
    in the physical plan, asserted in tests/test_plans.py), so only the
    matching partitions' files are ever read. At 100 TB this is the #1
    scan optimization for date/type-partitioned lakes: scan cost tracks
    the selected partitions, not the table.

    Two Spark subtleties pinned here: the dim filter must be an
    expression Catalyst's isLikelySelective() recognizes (EqualTo
    qualifies; a bare boolean column does NOT — tried, DPP never fired),
    and the dim must be the broadcast build side (hinted; otherwise the
    planner may broadcast the locally-tiny fact and there is no
    broadcast to reuse for pruning).
    """
    fact = spark.read.parquet(_partitioned_events(spark, sf_dir))
    dim = spark.createDataFrame(
        [("click", "billable"), ("purchase", "billable"), ("view", "internal"),
         ("signup", "internal"), ("error", "internal")],
        "event_type string, category string",
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("category") == "billable")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "source_stream",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events consumed as an incremental file-source stream (§2.A/§2.J).

    The fixture is split into ordered parquet chunk files (one basis-style
    block each); readStream feeds them one file per micro-batch into an
    append-mode memory sink. The accumulated result must equal the batch
    scan — the oracle checks exactly that (stream ≡ batch).
    """
    from basis_spark.streaming.jobs import stream_accumulate

    return stream_accumulate(spark, sf_dir)


@register(
    "source_jdbc",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def source_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DB-table storage (basis Postgres/SQLite storages) via JDBC.

    No DB service exists in this environment, but Spark ships embedded
    Derby (it backs the Hive metastore), so the JDBC source/sink path is
    exercised for real: write customer to a Derby table, read it back
    with a partitioned parallel read (4 concurrent range queries on
    c_custkey — the exact shape a production Postgres read uses). At
    scale only the URL changes. Derby DOUBLEs are IEEE 754, so values
    hash-match the parquet originals.
    """
    # Embedded Derby is single-process (file lock on the DB dir): the
    # session-scoped path keeps concurrent processes (pytest beside an
    # oracle sweep) off each other's lock, and its sf_dir digest keeps
    # /a/sf0.1 and /b/sf0.1 apart within one session, where a shared DB
    # would feed the first call's still-lazy DataFrame the second
    # fixture's rows.
    db = scratch_path(spark, "derby", sf_dir)
    url = f"jdbc:derby:{db};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    lo, hi = 0, cust.count()
    (
        cust.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_jdbc")
        .option("driver", drv)
        .save()
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_jdbc")
        .option("driver", drv)
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(max(hi, 1)))
        .option("numPartitions", "4")
        .load()
    )


@register(
    "source_json_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON lines storage format (basis records-on-disk). Schema applied on
    # read: JSON carries no types, exactly like the CSV path.
    out = scratch_path(spark, "json_roundtrip", sf_dir)
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    nat.write.mode("overwrite").json(out)
    return spark.read.schema("n_nationkey long, n_name string, n_regionkey long").json(out)


@register(
    "sink_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORC storage format (the other columnar sink Spark ships natively);
    # types round-trip without a declared schema.
    out = scratch_path(spark, "orc_roundtrip", sf_dir)
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    sup.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "schema_infer_conform",
    oracle="""
    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
           CAST(n_regionkey AS INTEGER) AS n_regionkey
    FROM nation
    """,
)
def schema_infer_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basis schema inference + conform-to-declared-schema: write CSV,
    read it back with inferSchema (types recovered from data, like
    basis inferring a schema for untyped records), then cast to the
    DECLARED schema — the infer-then-conform path every basis import
    runs. Conforming is explicit casts, so drift between inferred and
    declared types is a visible plan step, not a silent coercion.
    """
    out = scratch_path(spark, "infer_conform", sf_dir)
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    nat.write.mode("overwrite").option("header", True).csv(out)
    inferred = spark.read.option("header", True).option("inferSchema", True).csv(out)
    declared = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return inferred.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in declared.fields]
    )


@register("sample_stratified")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class) sampling — the class-rebalancing primitive
    for training-data construction: keep 50% of clicks/views, 100% of
    the rare classes. Seeded Bernoulli per stratum (sampleBy); RNG
    streams differ across engines so this is rows-only checked, with
    per-stratum binomial bounds asserted in tests/test_tolerance.py.
    """
    ev = load(spark, sf_dir, "events")
    fractions = {"click": 0.5, "view": 0.5, "purchase": 1.0, "signup": 1.0, "error": 1.0}
    return ev.sampleBy("event_type", fractions=fractions, seed=42).select(
        "event_id", "event_type", "user_id"
    )


@register(
    "scan_file_metadata",
    oracle="""
    SELECT event_type, count(*) AS n_rows, 1 AS n_files
    FROM events GROUP BY event_type
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-lineage scan over the hidden `_metadata` struct every parquet
    reader exposes (file_path/file_name/file_size/row_index): group rows
    by the partition directory parsed out of their physical file path and
    count rows + distinct files. The provenance primitive for a data
    lake — "which files fed this training shard" — with zero extra scan
    cost (the struct is populated from split metadata, not data pages).

    The layout is written once per session with repartition(event_type),
    which hash-routes each partition value to exactly one task, so the
    oracle can pin n_files = 1 per partition — and the distinct-count
    would catch a layout regression (e.g. dropping the repartition would
    produce one file per (task, value) pair)."""

    def write(out: str) -> None:
        load(spark, sf_dir, "events").repartition("event_type").write.partitionBy(
            "event_type"
        ).parquet(out)

    back = spark.read.parquet(scratch_once(spark, write, "events_filemeta", sf_dir))
    return (
        back.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1).alias(
                "event_type"
            ),
            F.col("_metadata.file_name").alias("file_name"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("file_name").cast("int").alias("n_files"),
        )
    )


@register(
    "maintenance_compact_files",
    oracle="""
    SELECT 'before' AS phase, 32 AS n_files, count(*) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events
    UNION ALL
    SELECT 'after', 2, count(*), round(sum(value), 2) FROM events
    """,
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the bread-and-butter lake maintenance job
    (streaming ingest writes thousands of tiny files; scans then pay a
    per-file open/footer cost that dwarfs the data read).

    Simulates the problem with a repartition(32) write (exactly 32
    files: one per shuffle task), compacts with a repartition(2)
    rewrite, and reports (phase, file count via the `_metadata` struct,
    rows, checksum) — the oracle pins the file counts (deterministic
    task->file mapping) and verifies the rewrite moved every row
    untouched. At 100 TB the same job runs per partition-dir with the
    target count = dir_bytes / 128 MB, and the repartition shuffle is
    the unavoidable cost of re-clustering."""

    def write(out: str) -> None:
        small, big = os.path.join(out, "small"), os.path.join(out, "big")
        load(spark, sf_dir, "events").repartition(32).write.parquet(small)
        spark.read.parquet(small).repartition(2).write.parquet(big)

    out = scratch_once(spark, write, "compact", sf_dir)
    small, big = os.path.join(out, "small"), os.path.join(out, "big")

    def stats(path: str, phase: str) -> DataFrame:
        df = spark.read.parquet(path)
        return df.select(
            F.col("_metadata.file_name").alias("f"), "value"
        ).agg(
            F.lit(phase).alias("phase"),
            F.countDistinct("f").cast("int").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    return stats(small, "before").unionByName(stats(big, "after"))


@register(
    "source_csv_permissive",
    oracle="""
    WITH raw AS (
        SELECT CAST(range AS BIGINT) AS id,
               CASE WHEN range % 97 = 0 THEN NULL
                    ELSE CAST(range AS DOUBLE) * 1.5 END AS v,
               range % 97 = 0 AS is_corrupt
        FROM range(1000))
    SELECT CASE WHEN is_corrupt THEN 'corrupt' ELSE 'ok' END AS status,
           count(*) AS n, round(sum(v), 2) AS sum_v
    FROM raw GROUP BY 1
    """,
)
def source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record capture: rows whose
    typed parse fails land in _corrupt_record instead of failing the
    read (mode=FAILFAST) or silently vanishing (DROPMALFORMED) — the
    raw-feed counterpart of parse_try_cast_quarantine.

    The malformed file is synthesized deterministically (every 97th row
    has text where a DOUBLE belongs) so the good/bad split and the
    valid-row checksum are oracle-checkable. The oracle recomputes from
    the same arithmetic — the CSV is the thing under test, not the
    data."""
    import csv as _csv

    def write(out: str) -> None:
        with open(out, "w", newline="") as fh:
            w = _csv.writer(fh)
            for i in range(1000):
                w.writerow([i, "oops" if i % 97 == 0 else i * 1.5])

    out = scratch_once(spark, write, "csv_permissive", tag="rows", ext=".csv")
    schema = "id BIGINT, v DOUBLE, _corrupt_record STRING"
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(out)
    # Spark refuses plans that reference ONLY _corrupt_record from a raw
    # CSV (column pruning can reduce a downstream count() to exactly
    # that). cache() is the documented workaround; at scale you persist
    # the parsed+flagged frame to a table instead of caching the input.
    df = df.cache()
    status = F.when(F.col("_corrupt_record").isNotNull(), "corrupt").otherwise("ok")
    return df.select(status.alias("status"), "v").groupBy("status").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("sum_v")
    )


@register(
    "ts_calendar_dim",
    oracle="""
    SELECT CAST(range AS DATE) AS d,
           CAST(isodow(CAST(range AS DATE)) AS INT) AS dow_iso,
           CAST(week(CAST(range AS DATE)) AS INT) AS week_iso,
           CAST(month(CAST(range AS DATE)) AS INT) AS month,
           CAST(quarter(CAST(range AS DATE)) AS INT) AS quarter,
           isodow(CAST(range AS DATE)) >= 6 AS is_weekend
    FROM range(DATE '1997-01-01', DATE '1998-01-01', INTERVAL 1 DAY)
    """,
)
def ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (one year of days with ISO dow/week,
    month, quarter, weekend flag) — the standard conformed date dim every
    warehouse joins against; also the spine generator the gap-fill ops
    build on. sequence+explode, no input table at all; dialect trap
    pinned: Spark weekday() is 0=Monday, DuckDB isodow() is 1=Monday,
    and both engines' ISO week-of-year agree."""
    days = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(DATE '1997-01-01', DATE '1997-12-31', INTERVAL 1 DAY)"
            )
        ).alias("d")
    )
    return days.select(
        "d",
        (F.weekday("d") + 1).cast("int").alias("dow_iso"),
        F.weekofyear("d").cast("int").alias("week_iso"),
        F.month("d").cast("int").alias("month"),
        F.quarter("d").cast("int").alias("quarter"),
        (F.weekday("d") >= 5).alias("is_weekend"),
    )


def _schema_evolution_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two file generations of the events lake: gen=0 predates the
    event_type column, gen=1 carries it. Written once per session;
    shared by scan_schema_evolution_merge and schema_drift_report."""

    def write(out: str) -> None:
        ev = load(spark, sf_dir, "events")
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.parquet(
            os.path.join(out, "gen=0")
        )
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "value", "event_type"
        ).write.parquet(os.path.join(out, "gen=1"))

    out = scratch_once(spark, write, "schema_evolution", sf_dir)
    return os.path.join(out, "gen=0"), os.path.join(out, "gen=1")


@register(
    "scan_schema_evolution_merge",
    oracle="""
    SELECT CASE WHEN event_id % 2 = 0 THEN '<pre-schema>' ELSE event_type END
               AS event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def scan_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: a lake dir whose early files predate a
    column (here event_type) must still scan as one table. Two file
    generations (see _schema_evolution_dirs) are read back with
    mergeSchema=true — Spark unions the footer schemas and null-fills
    the missing column for old files; the oracle recomputes the same
    split from the source arithmetic. At 100 TB mergeSchema's footer
    sweep is the cost to watch: production pins the schema from the
    metastore and only new-column reads pay it."""
    g0, g1 = _schema_evolution_dirs(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(g0, g1)
    return merged.groupBy(
        F.coalesce(F.col("event_type"), F.lit("<pre-schema>")).alias("event_type")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


@register(
    "incremental_backfill_partition",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(CASE WHEN event_type = 'click' THEN value * 2
                          ELSE value END), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def incremental_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill: recompute ONE partition of a
    hive-partitioned lake table and INSERT OVERWRITE just that
    partition (partitionOverwriteMode=dynamic), leaving every other
    partition's files untouched — the correction-job pattern (reprocess
    yesterday, never rewrite the table).

    Here the 'click' partition is backfilled with doubled values; the
    read-back aggregate proves clicks changed and the other four
    partitions didn't. STATIC overwrite mode (the default) would have
    dropped them — that distinction is the whole operator. At 100 TB
    dynamic overwrite scopes the commit to the touched partitions, so
    backfill cost tracks the correction, not the table.
    Written once per session."""

    def write(out: str) -> None:
        ev = load(spark, sf_dir, "events").select("event_id", "value", "event_type")
        ev.write.partitionBy("event_type").parquet(out)
        fixed = ev.filter(F.col("event_type") == "click").withColumn(
            "value", F.col("value") * 2
        )
        fixed.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("event_type").parquet(out)

    back = spark.read.parquet(scratch_once(spark, write, "backfill", sf_dir))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def _zorder_terms_sql() -> str:
    terms = []
    for i in range(8):
        terms.append(f"(((user_id % 256) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(
            f"(((CAST(floor(value) AS BIGINT) % 256) >> {i}) & 1) * {1 << (2 * i + 1)}"
        )
    return " + ".join(terms)


@register(
    "maintenance_zorder_cluster",
    oracle=f"""
    SELECT ({_zorder_terms_sql()}) // 1024 AS z_bucket,
           count(*) AS n,
           CAST(min(user_id % 256) AS BIGINT) AS min_x,
           CAST(max(user_id % 256) AS BIGINT) AS max_x,
           CAST(min(CAST(floor(value) AS BIGINT) % 256) AS BIGINT) AS min_y,
           CAST(max(CAST(floor(value) AS BIGINT) % 256) AS BIGINT) AS max_y
    FROM events GROUP BY 1
    """,
)
def maintenance_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multi-dimension clustering — the lake layout
    trick behind Delta/Iceberg OPTIMIZE ZORDER BY: interleaving the
    bits of two bucketed dimensions gives ONE sort key whose contiguous
    ranges are small bounding boxes in BOTH dimensions, so min/max
    file stats prune scans filtered on either column. The oracle
    hash-checks the Morton arithmetic (per-z-bucket counts and
    bounding boxes); the layout benefit itself — per-FILE bounding-box
    area after repartitionByRange(z) vs a single-column sort — is
    asserted in tests/test_property.py (file boundaries are invisible
    to DuckDB). At 100 TB this runs as the compaction job's sort key:
    same one range shuffle maintenance_compact_files pays anyway."""
    ev = load(spark, sf_dir, "events")
    bx = F.pmod(F.col("user_id"), 256)
    by = F.pmod(F.floor(F.col("value")).cast("long"), 256)
    z = None
    for i in range(8):
        tx = F.shiftright(bx, i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        ty = F.shiftright(by, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1))
        z = tx + ty if z is None else z + tx + ty
    return (
        ev.select(bx.alias("x"), by.alias("y"), z.alias("z"))
        .groupBy((F.col("z") / 1024).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


@register(
    "source_arrow_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def source_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow interchange roundtrip (the reference's dcp converts blocks
    along a records <-> DataFrame <-> Arrow <-> storage graph; this is
    the Arrow leg): DataFrame -> pyarrow.Table (df.toArrow) -> back via
    createDataFrame. Arrow is the CLIENT/interchange format — toArrow
    materializes on the driver by design, so this is the typed,
    zero-copy-ish analogue of source_records, not a lake sink; the
    parquet/orc/json ops cover the distributed storage legs. Value
    fidelity (int64/double/string) is what the oracle hash pins."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    return spark.createDataFrame(cust.toArrow())


@register(
    "schema_drift_report",
    oracle="""
    SELECT * FROM (VALUES
        ('event_id', 'bigint', 'bigint', 'kept'),
        ('value', 'double', 'double', 'kept'),
        ('event_type', NULL, 'string', 'added'))
        AS t(column_name, gen0_type, gen1_type, status)
    """,
)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift between two file generations of the same table:
    per column, its type in each generation and an added / removed /
    type_changed / kept status — the report a lake catalog runs before
    deciding whether a merge/evolution is safe or breaking. Pure
    metadata work (two parquet footer reads), so it is driver-side by
    nature; the oracle pins the expected report for the evolution the
    fixture generations encode."""
    g0, g1 = _schema_evolution_dirs(spark, sf_dir)
    s0 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(g0).schema}
    s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(g1).schema}
    rows = []
    for c in sorted(set(s0) | set(s1)):
        t0, t1 = s0.get(c), s1.get(c)
        status = (
            "added" if t0 is None
            else "removed" if t1 is None
            else "kept" if t0 == t1
            else "type_changed"
        )
        rows.append((c, t0, t1, status))
    return spark.createDataFrame(
        rows, "column_name string, gen0_type string, gen1_type string, status string"
    )


@register(
    "maintenance_table_stats",
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_nulls,
           count(DISTINCT l_quantity) AS ndv,
           printf('%.2f', min(l_quantity)) AS min_s,
           printf('%.2f', max(l_quantity)) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           printf('%.2f', min(l_extendedprice)), printf('%.2f', max(l_extendedprice))
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           count(DISTINCT l_shipdate),
           strftime(min(l_shipdate), '%Y-%m-%d'), strftime(max(l_shipdate), '%Y-%m-%d')
    FROM lineitem
    """,
)
def maintenance_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics (row count, null count, exact
    NDV, min/max) for a representative column set — the stats table a
    cost-based optimizer feeds on, and the first maintenance job any
    warehouse schedules. One pass per SQL shape: Spark fuses the four
    per-column aggregate branches over the same scan (count(DISTINCT x)
    is the expand-based exact form; at 100 TB you swap NDV to
    approx_count_distinct and keep the rest identical). Numeric bounds
    are printf('%.2f')-formatted and dates strftime'd so both engines
    render bounds byte-identically (str_pad_format pins this subset)."""
    li = load(spark, sf_dir, "lineitem")

    def stat(col: str, minmax_fmt):
        return li.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("ndv"),
            minmax_fmt(F.min(col)).alias("min_s"),
            minmax_fmt(F.max(col)).alias("max_s"),
        )

    num = lambda c: F.format_string("%.2f", c)  # noqa: E731
    out = stat("l_quantity", num)
    out = out.unionByName(stat("l_extendedprice", num))
    out = out.unionByName(stat("l_returnflag", lambda c: c))
    out = out.unionByName(stat("l_shipdate", lambda c: F.date_format(c, "yyyy-MM-dd")))
    return out


@register(
    "source_xml_parse",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS total
    FROM orders
    """,
)
def source_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 ships spark-xml's from_xml as a
    built-in): serialize each order to an XML fragment, parse it back
    with a declared schema, and emit the parsed fields. The oracle
    recomputes from the base columns, so the check pins the full
    serialize->parse roundtrip value-exactly (same contract as
    source_csv_roundtrip). Map-only: both directions are JVM
    expressions, no shuffle, and at scale the parse cost is the
    per-row schema projection XML sources actually pay."""
    o = load(spark, sf_dir, "orders")
    xml = F.format_string(
        "<order key=\"%d\"><status>%s</status><total>%.2f</total></order>",
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    parsed = F.expr(
        "from_xml(xml_doc, '_key BIGINT, status STRING, total DOUBLE')"
    )
    return (
        o.select(xml.alias("xml_doc"))
        .select(parsed.alias("p"))
        .select(
            F.col("p._key").alias("o_orderkey"),
            F.col("p.status").alias("status"),
            F.round(F.col("p.total"), 2).alias("total"),
        )
    )


# The oracle SQL is a static string, so the blob glob binds at import
# time to the dir the oracle harness compares at (driver default
# sf0.01; override with SPARK_GRAFT_ORACLE_SF_DIR when sweeping another
# SF so both engines list the same files).
_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@register(
    "scan_binaryfile",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(size AS BIGINT) AS n_bytes
    FROM read_blob('{_ORACLE_SF_DIR}/*.parquet')
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via Spark's binaryFile source — the entry
    point for multimodal corpora (images/audio/archives land as whole
    files, not records). Each file becomes one row (path, length,
    modificationTime, content BinaryType); downstream decode runs as
    mapInPandas over the content column (operators/multimodal.py). The
    source parallelizes at file granularity and prunes on path — at
    100 TB you partition the lake by shard directory so a path glob is
    partition pruning. The oracle (DuckDB read_blob over the same glob)
    pins names + byte sizes; content equality is pinned byte-for-byte
    in tests/test_corpus_ops.py via md5 against the local filesystem.
    Projecting only (name, length) — not content — keeps the scan
    metadata-only; the driver's compare never ships the payloads."""
    df = spark.read.format("binaryFile").load(os.path.join(sf_dir, "*.parquet"))
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
        F.col("length").alias("n_bytes"),
    )


@register(
    "source_python_datasource",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 999)) AS id)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(id % 7 AS BIGINT) AS bucket,
           md5(CAST(id AS VARCHAR)) AS payload,
           round(CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0, 6) AS metric
    FROM g
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API — the
    direct analogue of a basis source node: a pure-Python reader that
    declares its schema, splits itself into partitions, and yields
    rows per partition (here 4 deterministic range splits; a real one
    would page an API or read a proprietary format). The executor runs
    each partition's generator in parallel Python workers — batch-
    friendly, no driver-side collect, and the same registration works
    for streaming readers. The oracle regenerates the identical rows
    (md5-derived payload/metric, so content is engine-checkable, not
    just counted)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _SyntheticReader(DataSourceReader):
        def partitions(self):
            step = 250
            return [_RangePartition(s, s + step) for s in range(0, 1000, step)]

        def read(self, part):
            import hashlib

            for i in range(part.start, part.end):
                h = hashlib.md5(str(i).encode()).hexdigest()
                yield (i, i % 7, h, round(int(h[:8], 16) / 4294967296.0, 6))

    class _SyntheticSource(DataSource):
        @classmethod
        def name(cls):
            return "basis_synthetic"

        def schema(self):
            return "id bigint, bucket bigint, payload string, metric double"

        def reader(self, schema):
            return _SyntheticReader()

    try:
        spark.dataSource.register(_SyntheticSource)
    except Exception as e:
        # Tolerate ONLY re-registration; a genuine registration failure
        # must surface here, not later as a misleading
        # DATA_SOURCE_NOT_FOUND on the read.
        if "ALREADY_EXISTS" not in str(e).upper():
            raise
    return spark.read.format("basis_synthetic").load()


@register(
    "source_csv_multiline",
    oracle="""
    WITH r AS (
        SELECT i.range AS id,
               CASE WHEN i.range % 3 = 0
                    THEN 'line one
line two ' || CAST(i.range AS VARCHAR)
                    ELSE 'plain ' || CAST(i.range AS VARCHAR) END AS note
        FROM range(300) i)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN note LIKE '%' || chr(10) || '%'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline,
           CAST(sum(len(note)) AS BIGINT) AS total_chars,
           CAST(sum(id) AS BIGINT) AS sum_id
    FROM r
    """,
)
def source_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-multiline CSV ingestion — the parser surface PERMISSIVE
    mode (source_csv_permissive) does not touch: RFC-4180 quoted fields
    containing embedded newlines and escaped quotes. multiLine=true is
    the one CSV option with a real SCALE consequence: the file can no
    longer be split on raw newlines, so each FILE becomes the parallel
    unit instead of each byte range. The 100 TB posture is therefore
    many medium files (the fixture writes one; a production feed
    shards) — documented trade, asserted behavior: every third row's
    note spans two lines, and the aggregate proves no row was split or
    lost. Written with csv.writer (QUOTE_MINIMAL quotes exactly the
    embedded-newline fields), read back typed."""
    import csv as _csv

    def write(out: str) -> None:
        with open(out, "w", newline="") as fh:
            # LF row terminator: univocity (Spark's multiLine parser)
            # normalizes embedded line breaks to the detected record
            # separator, so CRLF rows would silently grow every quoted
            # field by one byte per break (measured: +2 chars/row).
            w = _csv.writer(fh, lineterminator="\n")
            for i in range(300):
                note = f"line one\nline two {i}" if i % 3 == 0 else f"plain {i}"
                w.writerow([i, note])

    out = scratch_once(spark, write, "csv_multiline", tag="rows", ext=".csv")
    df = spark.read.schema("id BIGINT, note STRING").option(
        "multiLine", "true"
    ).csv(out)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("note").contains("\n"), 1).otherwise(0)
        ).alias("n_multiline"),
        F.sum(F.length("note")).alias("total_chars"),
        F.sum("id").alias("sum_id"),
    )


@register(
    "source_text_lines",
    oracle="""
    WITH r AS (
        SELECT i.range AS id,
               'evt|' || CAST(i.range AS VARCHAR) || '|' ||
               CAST(i.range * 7 % 100 AS VARCHAR) AS line
        FROM range(400) i)
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(string_split(line, '|')[3] AS BIGINT)) AS BIGINT)
               AS sum_metric,
           CAST(sum(len(line)) AS BIGINT) AS total_chars
    FROM r
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line-oriented text ingestion (spark.read.text) + regexp
    field extraction — the log-file path that predates every
    structured format, completing the source matrix (parquet / ORC /
    CSV / JSON / XML / Arrow / JDBC / binaryfile / Python data source
    / text). Each line is one row with a single `value` column;
    structure is imposed AFTER the scan with regexp_extract, so
    malformed lines surface as nulls to quarantine rather than read
    failures. Scale posture: text splits on newlines at byte-range
    boundaries (unlike multiLine CSV), so a single huge log file still
    parallelizes; compression choice (splittable bzip2/zstd-seekable
    vs unsplittable gzip) is the real 100 TB lever, documented here."""

    def write(out: str) -> None:
        with open(out, "w") as fh:
            for i in range(400):
                fh.write(f"evt|{i}|{i * 7 % 100}\n")

    df = spark.read.text(scratch_once(spark, write, "text_lines", tag="rows", ext=".txt"))
    metric = F.regexp_extract("value", r"^evt\|(\d+)\|(\d+)$", 2).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(metric).alias("sum_metric"),
        F.sum(F.length("value")).alias("total_chars"),
    )


@register(
    "source_generate_series",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(i * i) AS BIGINT) AS sum_sq,
           CAST(min(i) AS BIGINT) AS lo,
           CAST(max(i) AS BIGINT) AS hi
    FROM range(1, 20001) t(i)
    GROUP BY 1
    """,
)
def source_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-series generator source (spark.range) — the table-free
    input every engine needs for spines, calendars, and synthetic
    benchmarks. spark.range is a true distributed relation: the Range
    physical node splits [start, end) across partitions with NO data
    movement and NO driver materialization, so a 10-billion-row spine
    costs nothing but arithmetic on 1000 executors. Grouped here to a
    bounded 7-row summary so the oracle pins every generated value
    (sum of squares catches any off-by-one at either boundary)."""
    r = spark.range(1, 20001).select(F.col("id").alias("i"))
    return (
        r.groupBy((F.col("i") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("i") * F.col("i")).alias("sum_sq"),
            F.min("i").alias("lo"),
            F.max("i").alias("hi"),
        )
    )


@register(
    "source_fixed_width",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM customer
    """,
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source — the mainframe/COBOL exchange format the
    reference's CSV reader family sits next to: no delimiters, fields
    live at byte offsets. Spark has no fixed-width reader, but it does
    not need one: read.text gives one row per line (splittable at line
    boundaries, so a 100 TB extract parallelizes like any text scan)
    and typed columns are pure substring/cast JVM expressions — no
    Python, no UDF, whole-stage codegen end to end.

    Layout (33 bytes): custkey %010d | mktsegment %-10s |
    acctbal-cents %+013d. Cents are floor(bal*100) so the roundtrip is
    integer-exact (no double-rounding-mode trap between engines).
    """

    def write(out: str) -> None:
        cust = load(spark, sf_dir, "customer").select(
            F.concat(
                F.lpad(F.col("c_custkey").cast("string"), 10, "0"),
                F.rpad(F.col("c_mktsegment"), 10, " "),
                F.when(F.floor(F.col("c_acctbal") * 100) < 0, F.lit("-"))
                .otherwise(F.lit("+")),
                F.lpad(
                    F.abs(F.floor(F.col("c_acctbal") * 100)).cast("string"),
                    12,
                    "0",
                ),
            ).alias("value")
        )
        cust.write.text(out)

    raw = spark.read.text(scratch_once(spark, write, "fixed_width", sf_dir))
    sign = F.when(F.substring("value", 21, 1) == "-", -1).otherwise(1)
    return raw.select(
        F.substring("value", 1, 10).cast("bigint").alias("c_custkey"),
        F.trim(F.substring("value", 11, 10)).alias("c_mktsegment"),
        (sign * F.substring("value", 22, 12).cast("bigint")).alias(
            "acctbal_cents"
        ),
    )


@register(
    "sink_python_datasource",
    oracle="""
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    GROUP BY c_nationkey
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource writer API — the
    write-side sibling of source_python_datasource and the analogue of
    a basis sink node targeting a system Spark has no connector for.
    Executors stream each partition's rows through write() into a
    temp file and return a commit MESSAGE; the driver's commit() then
    renames every temp into place — the standard two-phase protocol,
    so a failed/speculated task (abort()) leaves no partial output
    and the sink is exactly-once per job even though writers are
    plain Python. Verified by reading the files back with the JSON
    reader and re-aggregating against the source-of-truth oracle."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, tmp: str):
            self.tmp = tmp

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, it):
            os.makedirs(self.path, exist_ok=True)
            tmp = os.path.join(
                self.path, f"part-{_uuid.uuid4().hex}.jsonl.tmp"
            )
            with open(tmp, "w") as fh:
                for row in it:
                    fh.write(
                        _json.dumps(
                            {
                                "nationkey": row["c_nationkey"],
                                "acctbal": row["c_acctbal"],
                            }
                        )
                        + "\n"
                    )
            return _Msg(tmp)

        def commit(self, messages):
            for m in messages:
                os.replace(m.tmp, m.tmp[: -len(".tmp")])

        def abort(self, messages):
            for m in messages:
                if os.path.exists(m.tmp):
                    os.unlink(m.tmp)

    class _JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "basis_jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options["path"])

    try:
        spark.dataSource.register(_JsonlSink)
    except Exception as e:
        if "already" not in str(e).lower():
            raise

    def write(out: str) -> None:
        load(spark, sf_dir, "customer").select(
            "c_nationkey", "c_acctbal"
        ).write.format("basis_jsonl_sink").mode("append").option(
            "path", out
        ).save()

    out = scratch_once(spark, write, "pysink_jsonl", sf_dir)
    back = spark.read.schema("nationkey long, acctbal double").json(
        os.path.join(out, "*.jsonl")
    )
    return back.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("acctbal"), 2).alias("sum_bal"),
    )


@register(
    "scan_gzip_text",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(i * 13 % 1000) AS BIGINT) AS sum_metric,
           CAST(sum(length('rec|' || CAST(i AS VARCHAR) || '|'
                           || CAST(i * 13 % 1000 AS VARCHAR))) AS BIGINT)
               AS total_chars
    FROM range(500) t(i)
    """,
)
def scan_gzip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed text source — Spark decompresses .gz
    transparently through the Hadoop codec chain, so ingesting vendor
    log drops needs no pre-processing step. The 100 TB caveat IS the
    operator's documentation: gzip is NOT splittable, so one .gz file
    = one task no matter its size — a single 500 GB .gz is a straggler
    by construction. The production layout is many ~128 MB-1 GB .gz
    objects (parallelism from file count, as here conceptually), or
    zstd/bzip2 when within-file splits are required."""
    import gzip

    def write(out: str) -> None:
        with gzip.open(out, "wt") as fh:
            for i in range(500):
                fh.write(f"rec|{i}|{i * 13 % 1000}\n")

    df = spark.read.text(scratch_once(spark, write, "gzip_text", tag="rows", ext=".txt.gz"))
    metric = F.regexp_extract("value", r"^rec\|(\d+)\|(\d+)$", 2).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(metric).alias("sum_metric"),
        F.sum(F.length("value")).alias("total_chars"),
    )


@register(
    "source_json_multiline",
    oracle="""
    SELECT CAST(i % 5 AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(i * 3) AS BIGINT) AS sum_metric
    FROM range(300) t(i)
    GROUP BY 1
    """,
)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file JSON ARRAY source (multiLine=true) — the shape REST
    APIs and config exports actually produce, as opposed to the
    line-delimited JSONL that source_json_roundtrip covers. The scale
    contract is the caveat: a multiLine JSON document cannot be split
    (the parser needs the whole token tree), so one file = one task —
    the same straggler physics as gzip; production either converts to
    JSONL at ingest (then every line splits) or keeps API dumps small
    and many."""
    import json as _json

    def write(out: str) -> None:
        with open(out, "w") as fh:
            _json.dump(
                [{"i": i, "grp": i % 5, "metric": i * 3} for i in range(300)],
                fh,
                indent=1,  # pretty-printed: rows span many lines
            )

    out = scratch_once(spark, write, "json_multiline", tag="payload", ext=".json")
    df = spark.read.option("multiLine", "true").schema(
        "i long, grp long, metric long"
    ).json(out)
    return df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("metric").alias("sum_metric")
    )


@register(
    "maintenance_stats_sampled",
    oracle="""
    WITH s AS (
      SELECT l_quantity, l_extendedprice,
             CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-'
                       || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 16 = 0 AS in_sample
      FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) * 16 AS BIGINT)
               AS n_estimated,
           round(abs(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) * 16.0
                     - count(*)) / count(*), 6) AS count_rel_error,
           CAST(floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           AS DOUBLE) * CAST(100 AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
               / CAST(10000 AS DOUBLE) AS avg_exact,
           CAST(floor(CAST(sum(CASE WHEN in_sample
                                    THEN CAST(round(l_extendedprice * 100)
                                              AS BIGINT) END)
                           AS DOUBLE) * CAST(100 AS DOUBLE)
                      / CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
                             AS DOUBLE) + 0.5) AS BIGINT)
               / CAST(10000 AS DOUBLE) AS avg_sampled,
           round(abs(avg(CASE WHEN in_sample THEN l_extendedprice END)
                     - avg(l_extendedprice)) / avg(l_extendedprice), 6)
               AS avg_rel_error
    FROM s
    """,
)
def maintenance_stats_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based table profiling with its error HONESTLY measured:
    a deterministic 1/16 hash sample (md5 of the row key — the
    reproducible-sample convention) estimates row count and column
    mean, and the report carries the relative error against the exact
    pass computed alongside. At 100 TB the exact columns are what you
    STOP computing — the point of this key is that the error readout
    was measured once per table family before trusting the shortcut,
    which is how production stats jobs (ANALYZE ... SAMPLE) earn their
    configuration. Single pass: the sample flag is a map-side
    expression, both estimates and both exact stats ride one
    aggregation (no second scan even while calibrating)."""
    li = load(spark, sf_dir, "lineitem")
    in_sample = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("-"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 16
        == 0
    )
    s = li.select("l_extendedprice", in_sample.alias("in_sample"))
    n_est = F.sum(F.when(F.col("in_sample"), 1).otherwise(0)) * 16
    avg_s = F.avg(F.when(F.col("in_sample"), F.col("l_extendedprice")))
    avg_x = F.avg("l_extendedprice")
    return s.agg(
        F.count(F.lit(1)).alias("n_exact"),
        n_est.cast("long").alias("n_estimated"),
        F.round(
            F.abs(n_est.cast("double") - F.count(F.lit(1)))
            / F.count(F.lit(1)),
            6,
        ).alias("count_rel_error"),
        # exact-cents floor-half-up means (join_broadcast class, r9):
        # a money mean can land exactly on a 4dp midpoint where the
        # engines' round() semantics diverge. The rel-error columns keep
        # the raw avgs: their ratios are non-terminating rationals that
        # cannot sit on a 6dp midpoint.
        (
            F.floor(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("double")
                * 100.0
                / F.count(F.lit(1)).cast("double")
                + 0.5
            ).cast("long")
            / 10000.0
        ).alias("avg_exact"),
        (
            F.floor(
                F.sum(
                    F.when(
                        F.col("in_sample"),
                        F.round(F.col("l_extendedprice") * 100).cast("long"),
                    )
                )
                .cast("double")
                * 100.0
                / F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).cast("double")
                + 0.5
            ).cast("long")
            / 10000.0
        ).alias("avg_sampled"),
        F.round(F.abs(avg_s - avg_x) / avg_x, 6).alias("avg_rel_error"),
    )


@register(
    "scan_nested_struct_pruning",
    oracle="""
    SELECT k % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k
    FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events) t
    GROUP BY 1
    """,
)
def scan_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct parquet with SCHEMA PRUNING: events re-land with a
    typed meta STRUCT column (k plus two decoy fields), and the reader
    selects only meta.k — Spark's nested-schema pruning pushes the
    projection INSIDE the struct, so the parquet scan reads one leaf
    column, not the whole struct (ReadSchema shows
    struct<k:bigint> only; asserted in tests/test_plans.py). At 100 TB
    with wide metadata structs (multimodal payload descriptors,
    provenance blobs) this is the difference between reading one leaf
    and reading every nested field — the nested sibling of flat column
    pruning, and the reason typed structs beat JSON strings for hot
    fields (json_variant_extract's trade-off documented from the other
    side)."""

    def write(out: str) -> None:
        ev = load(spark, sf_dir, "events")
        nested = ev.select(
            "event_id",
            "event_type",
            F.struct(
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
                F.lit("decoy").alias("tag"),
                F.md5(F.col("props")).alias("blob"),
            ).alias("meta"),
        )
        nested.write.parquet(out)

    back = spark.read.parquet(scratch_once(spark, write, "events_nested", sf_dir))
    return back.select((F.col("meta.k") % 10).alias("k_bucket"), "meta.k").groupBy(
        "k_bucket"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))


@register(
    "scan_parquet_rowgroup_stats",
    oracle=f"""
    SELECT CAST(row_group_id AS BIGINT) AS row_group,
           path_in_schema AS column_name,
           CAST(num_values AS BIGINT) AS num_values,
           stats_min_value AS min_val,
           stats_max_value AS max_val
    FROM parquet_metadata('{_ORACLE_SF_DIR}/orders.parquet')
    WHERE path_in_schema IN ('o_orderkey', 'o_custkey')
    """,
)
def scan_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection: per-row-group column-chunk stats
    (value counts, min/max zone maps) for the integer key columns —
    the metadata every data-skipping decision reads BEFORE any data
    byte moves, surfaced as a queryable relation (the storage-layout
    audit: 'are my row groups sorted/sized so predicates can skip?').

    Footers are metadata: this reads ONE footer driver-side via
    pyarrow and emits a bounded (row_groups x columns) relation. The
    100 TB posture is the same plumbing fanned out — list files, read
    footers in a mapInPandas over the file list (the binaryFile-source
    shape scan_binaryfile already demonstrates) — the per-file work
    and output stay footer-sized. The DuckDB oracle reads the same
    footer with parquet_metadata(), so min/max stringification is
    pinned cross-engine (int64 stats render identically)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata
    want = {"o_orderkey", "o_custkey"}
    rows = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in want:
                continue
            st = col.statistics
            rows.append(
                (
                    rg,
                    name,
                    col.num_values,
                    str(st.min) if st is not None else None,
                    str(st.max) if st is not None else None,
                )
            )
    return spark.createDataFrame(
        rows,
        "row_group long, column_name string, num_values long, "
        "min_val string, max_val string",
    )


def sniff_csv_dialect(path: str, candidates: str = ",;|\t") -> str:
    """Infer the delimiter of a CSV file from its first lines: for each
    candidate, parse a sample with the csv module (so quoted fields
    hide their embedded delimiters, exactly as the real read will see
    them) and score by (consistent field count across lines, field
    count > 1); highest consistent field count wins, ties to the
    candidates' declared order. Driver-side over a bounded sample —
    dialect detection is metadata work, the read itself is distributed."""
    import csv as _csv
    import io as _io

    with open(path, newline="") as fh:
        sample = [next(fh, "") for _ in range(20)]
    text = "".join(sample)
    best = (1, candidates[0])
    for cand in candidates:
        try:
            rows = list(_csv.reader(_io.StringIO(text), delimiter=cand))
        except _csv.Error:
            continue
        widths = {len(r) for r in rows if r}
        if len(widths) == 1:
            (w,) = widths
            if w > best[0]:
                best = (w, cand)
    return best[1]


@register(
    "source_csv_sniffed_dialect",
    oracle="""
    WITH r AS (
        SELECT i.range AS id,
               'name' || repeat(', extra', CAST(i.range % 3 AS INT))
                      || ' ' || CAST(i.range AS VARCHAR) AS label,
               round((i.range * 13 % 997) / 100.0, 2) AS val
        FROM range(200) i)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(id) AS BIGINT) AS sum_id,
           CAST(sum(len(label)) AS BIGINT) AS label_chars,
           round(sum(val), 2) AS sum_val
    FROM r
    """,
)
def source_csv_sniffed_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect sniffing — the ingestion-time inference every
    schema-on-read tool performs (DuckDB's read_csv auto-detect,
    pandas' Sniffer): the fixture file is semicolon-delimited while
    label fields contain a VARYING number of commas (0-2 per row), so
    a naive comma assumption parses ragged rows and fails the
    consistency score; the sniffer scores candidate delimiters by
    field-count consistency over a bounded sample and picks ';'.
    Detection is driver-side metadata work (20 lines); the
    actual read stays a distributed spark.read.csv with the chosen
    separator. The oracle recomputes the aggregate from the same
    deterministic generator — a wrong sniff cannot hash-match (comma
    parsing would triple the column count and mangle every value)."""
    import csv as _csv

    def write(out: str) -> None:
        with open(out, "w", newline="") as fh:
            w = _csv.writer(fh, delimiter=";", lineterminator="\n")
            for i in range(200):
                label = "name" + ", extra" * (i % 3) + f" {i}"
                w.writerow([i, label, round((i * 13 % 997) / 100.0, 2)])

    out = scratch_once(spark, write, "csv_sniffed", tag="rows", ext=".csv")
    sep = sniff_csv_dialect(out)
    df = spark.read.schema("id BIGINT, label STRING, val DOUBLE").option(
        "sep", sep
    ).csv(out)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.sum(F.length("label")).alias("label_chars"),
        F.round(F.sum("val"), 2).alias("sum_val"),
    )


@register(
    "maintenance_clustering_depth",
    oracle=f"""
    WITH rg AS (
      SELECT CAST(row_group_id AS BIGINT) AS rg,
             CAST(stats_min_value AS BIGINT) AS lo,
             CAST(stats_max_value AS BIGINT) AS hi
      FROM parquet_metadata('{_ORACLE_SF_DIR}/orders.parquet')
      WHERE path_in_schema = 'o_orderkey')
    SELECT a.rg AS row_group, a.lo AS min_key, a.hi AS max_key,
           CAST(count(*) AS BIGINT) AS depth
    FROM rg a JOIN rg b ON b.lo <= a.hi AND b.hi >= a.lo
    GROUP BY a.rg, a.lo, a.hi
    """,
)
def maintenance_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit from footer zone maps — the metric an
    OPTIMIZE/Z-ORDER scheduler reads to decide whether a table is
    worth re-clustering: for each row group, how many row groups'
    [min, max] key ranges overlap it (depth 1 = perfectly clustered,
    every range-predicate scan touches the minimum set; high depth =
    interleaved writes have destroyed skipping). Pure metadata: the
    interval self-join runs on the footer-sized (row_groups) relation,
    never on data — at 100 TB the same audit is footers-in,
    #files-sized relation out (the scan_parquet_rowgroup_stats
    fan-out posture), and the overlap join can bucketize by key range
    if #files itself gets large."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata
    rows = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            if col.path_in_schema == "o_orderkey" and col.statistics is not None:
                rows.append((rg, int(col.statistics.min), int(col.statistics.max)))
    rgdf = spark.createDataFrame(rows, "rg long, lo long, hi long")
    b = rgdf.select(
        F.col("rg").alias("rg_b"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b")
    )
    return (
        rgdf.join(
            F.broadcast(b),
            (F.col("lo_b") <= F.col("hi")) & (F.col("hi_b") >= F.col("lo")),
        )
        .groupBy(
            F.col("rg").alias("row_group"),
            F.col("lo").alias("min_key"),
            F.col("hi").alias("max_key"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("depth"))
    )


@register(
    "scan_parquet_encoding_stats",
    oracle=f"""
    SELECT CAST(row_group_id AS BIGINT) AS row_group,
           path_in_schema AS column_name,
           compression,
           array_to_string(list_sort(string_split(encodings, ', ')), ',')
               AS encodings,
           CAST(total_compressed_size AS BIGINT) AS compressed_bytes,
           CAST(total_uncompressed_size AS BIGINT) AS uncompressed_bytes,
           round(CAST(total_uncompressed_size AS DOUBLE)
                 / total_compressed_size, 6) AS compression_ratio
    FROM parquet_metadata('{_ORACLE_SF_DIR}/orders.parquet')
    """,
)
def scan_parquet_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-encoding audit from the parquet footer: per column
    chunk, the page encodings actually used (did the writer fall out
    of dictionary encoding into PLAIN on a high-cardinality column?),
    the codec, and the realized compression ratio — the numbers a
    storage-layout review reads to decide re-encoding/re-sorting work,
    companions to the zone-map audits (rowgroup_stats,
    clustering_depth). Encodings are sorted before comparison so
    reader-specific footer ordering cannot flake the contract.

    Same metadata posture as the other footer keys: one footer read
    driver-side here, the binaryFile + mapInPandas fan-out at 100 TB;
    output stays (row_groups x columns)-sized either way."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata
    rows = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            rows.append(
                (
                    rg,
                    col.path_in_schema,
                    col.compression,
                    ",".join(sorted(col.encodings)),
                    col.total_compressed_size,
                    col.total_uncompressed_size,
                    round(col.total_uncompressed_size / col.total_compressed_size, 6),
                )
            )
    return spark.createDataFrame(
        rows,
        "row_group long, column_name string, compression string,"
        " encodings string, compressed_bytes long, uncompressed_bytes long,"
        " compression_ratio double",
    )
