"""Window functions (SURVEY.md §2.E).

Every window partitions on a real key (user_id, o_custkey, nation…) so
state is bounded per partition at scale. The two single-partition
windows (ntile over orders, moving avg over daily revenue) operate on
pre-aggregated or bounded inputs — documented where used. Spark ≥3.5's
WindowGroupLimit pushes rank<=k filters down (checked in test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load
from basis_spark.registry import register


def _range_sorted(df: DataFrame, keys, adds) -> DataFrame:
    """`df` range-partitioned on `keys` into P = spark.sql.shuffle.partitions
    partitions, sorted within each, tagged with its partition id `__pid`,
    and materialized once (a lazy local checkpoint).

    Both passes of a two-pass scan read this one materialization: the
    P-row offset table and the data pass. Two separately planned range
    exchanges may cut at different bounds (RangePartitioner seeds its
    sample with the RDD id, and column pruning keeps the two plans from
    being reused as one exchange), and then a row would be offset by
    another partition's prefix. `adds` names the columns the scan adds;
    none may already be an input column."""
    for col in ("__pid", *adds):
        if col in df.columns:
            raise ValueError(f"global scan would clobber input column {col!r}")
    P = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartitionByRange(P, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )


# op -> (per-partition and running aggregate, NULL-skipping combine of
# a local running value with the prefix of all earlier partitions).
_SCANS = {
    "sum": (F.sum, lambda a, b: F.coalesce(a + b, a, b)),
    "max": (F.max, F.greatest),
}


def _offsets(loc: DataFrame, op: str, vals: dict) -> DataFrame:
    """The P-row offset table of `_range_sorted` output `loc`: for each
    name -> value column in `vals`, `__off_<name>` is the `op` over all
    EARLIER partitions (NULL for the first), and a sum also carries the
    grand total `<name>_total`. Metadata-sized: one row per partition."""
    agg = _SCANS[op][0]
    part = loc.groupBy("__pid").agg(*[agg(v).alias(n) for n, v in vals.items()])
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    cols = [agg(n).over(before).alias(f"__off_{n}") for n in vals]
    if op == "sum":
        everyone = Window.partitionBy(F.lit(1))
        cols += [F.sum(n).over(everyone).alias(f"{n}_total") for n in vals]
    return part.select("__pid", *cols)


def global_rank(df: DataFrame, *keys: str) -> DataFrame:
    """Exact global row-number over a unique sort key, computed WITHOUT
    an Exchange SinglePartition — the distributed two-pass form:

      1. `_range_sorted`: partition p holds a contiguous key range, ids
         ascending with the ranges, sorted locally — a P-way parallel
         local sort, never a global one — and materialized once.
      2. local ordinal via monotonically_increasing_id's low 33 bits
         (the per-partition counter). Deterministic because the
         materialized partitions are fixed. A row_number window over
         the pid would cost a data-sized hashpartitioning(pid)
         exchange (Spark cannot prove the range partitions already
         co-locate each pid).
      3. per-partition counts (P rows) -> prefix offsets + grand total
         (`_offsets`), broadcast-joined back.
      4. global rank = offset[pid] + local ordinal + 1.

    P follows spark.sql.shuffle.partitions, so parallelism scales with
    the cluster. The caller's key list must be a total order (include
    a unique id) so rank is deterministic and tie-free.

    Returns the input columns plus `rank` (1-based, gapless) and
    `n_total` (grand total, same on every row).
    """
    loc = _range_sorted(df, keys, ("rank", "n_total", "__lr", "__off_c"))
    offs = _offsets(loc, "sum", {"c": F.lit(1)}).withColumnRenamed("c_total", "n_total")
    lr = F.monotonically_increasing_id() % F.lit(1 << 33) + 1
    return (
        loc.withColumn("__lr", lr)
        .join(F.broadcast(offs), "__pid")
        .withColumn("rank", F.col("__lr") + F.coalesce("__off_c", F.lit(0)))
        .drop("__pid", "__lr", "__off_c")
    )


def global_scan(
    df: DataFrame, op: str, cols: dict[str, str], *keys: str, exclusive: bool = False
) -> DataFrame:
    """Distributed EXACT prefix scan over the global total order `keys`
    (Blelloch's two-pass form): for each out -> value column in `cols`,
    `out` is the running `op` ("sum" or "max") of the value up to and
    including each row, or strictly before it with `exclusive`. A sum
    scan also returns `<out>_total`, the grand total on every row.

    One range partition + local sort materialized once
    (`_range_sorted`), the P-row offset table broadcast back
    (`_offsets`), and a local running aggregate per partition. That
    local window costs one hash exchange on `__pid` (Catalyst cannot
    prove the range partitions already co-locate each pid) — a
    PARALLEL data-sized shuffle, never a SinglePartition sort. Like SQL
    window aggregates, NULL values are skipped, and a row with no
    earlier non-NULL value gets NULL. The key list must be a total
    order for determinism."""
    agg, combine = _SCANS[op]
    totals = [f"{o}_total" for o in cols] if op == "sum" else []
    loc = _range_sorted(df, keys, (*cols, *totals, *(f"__off_{o}" for o in cols)))
    offs = _offsets(loc, op, {o: F.col(v) for o, v in cols.items()})
    run = Window.partitionBy("__pid").orderBy(*keys).rowsBetween(
        Window.unboundedPreceding, -1 if exclusive else 0
    )
    return loc.join(F.broadcast(offs), "__pid").select(
        *df.columns,
        *[combine(agg(v).over(run), F.col(f"__off_{o}")).alias(o) for o, v in cols.items()],
        *totals,
    )


def exact_ntile(rank, n, buckets: int):
    """SQL-exact ntile(buckets) as pure arithmetic on (global rank, N):
    the first N mod b buckets get ceil(N/b) rows, the rest floor(N/b).
    Matches DuckDB/Spark ntile bit-for-bit given a tie-free rank."""
    q, r = (n / buckets).cast("long"), n % buckets
    return (
        F.when((rank - 1) < r * (q + 1), F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - 1 - r * (q + 1)) / q) + 1)
        .cast("int")
    )


# B4a — top-3 orders per customer.
@register(
    "win_row_number_topk",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) t WHERE rn <= 3
    """,
)
def win_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT s_nationkey, s_suppkey, s_acctbal,
           rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk,
           dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
               AS drnk
    FROM supplier
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return load(spark, sf_dir, "supplier").select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_ntile_pctile",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
           round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           round(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd
    FROM orders
    """,
)
def win_ntile_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile/percent_rank/cume_dist WITHOUT a single-partition sort.

    A bare `Window.orderBy(...)` collapses the whole table into one task —
    the classic window scale-killer. Uses the exact distributed two-pass
    rank (`global_rank`, above): ntile/pr/cd are then pure arithmetic
    on (rank, N). The sort key includes the unique o_orderkey, so rank
    is tie-free (DuckDB's oracle orders the same way).
    """
    ranked = global_rank(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice",
        "o_orderkey",
    )
    rank, n = F.col("rank"), F.col("n_total")
    # n == 1 guard: (rank-1)/(n-1) is 0/0 -> NULL in Spark, while SQL
    # percent_rank returns 0 for a single-row partition.
    pr = F.when(n == 1, F.lit(0.0)).otherwise((rank - 1).cast("double") / (n - 1))
    return ranked.select(
        "o_orderkey",
        exact_ntile(rank, n, 4).alias("quartile"),
        F.round(pr, 6).alias("pr"),
        F.round(rank.cast("double") / n, 6).alias("cd"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           date_diff('microsecond',
               lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id),
               CAST(ts AS TIMESTAMP)) AS gap_us,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


# B4b — running spend frame.
@register(
    "win_running_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend
    FROM orders
    """,
)
def win_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("run_spend"),
    )


@register(
    "win_moving_avg",
    oracle="""
    SELECT d, CAST(floor(CAST(sum(cents) OVER w AS DOUBLE)
                         / CAST(count(*) OVER w AS DOUBLE) + 0.5) AS BIGINT)
                  / CAST(100 AS DOUBLE) AS ma7
    FROM (SELECT CAST(l_shipdate AS DATE) AS d,
                 CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS cents
          FROM lineitem GROUP BY 1) daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-aggregate to daily revenue (bounded cardinality ≈ 2500 days at any
    # SF), then a single-partition 7-row centered frame is safe.
    # ma7 over exact integer cents with floor-half-up: the edge frames
    # (2/4/5 rows) divide an exact-cents sum by small n, which can land
    # exactly on a 2dp midpoint where the engines' round() semantics
    # diverge (join_broadcast class, r9).
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.round(F.sum("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    return daily.select(
        "d",
        (
            F.floor(
                F.sum("cents").over(w).cast("double")
                / F.count(F.lit(1)).over(w).cast("double")
                + 0.5
            ).cast("long")
            / 100.0
        ).alias("ma7"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT d, epoch_day,
           round(sum(rev) OVER (ORDER BY epoch_day
                 RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING), 2) AS rev_5d
    FROM (SELECT CAST(l_shipdate AS DATE) AS d,
                 date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS epoch_day,
                 sum(l_extendedprice) AS rev
          FROM lineitem GROUP BY 1, 2) daily
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_shipdate").cast("date").alias("d"),
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("epoch_day"),
        )
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    w = Window.orderBy("epoch_day").rangeBetween(-2, 2)
    return daily.select(
        "d", "epoch_day", F.round(F.sum("rev").over(w), 2).alias("rev_5d")
    )


@register(
    "win_first_last_value",
    oracle="""
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
           first_value(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_et,
           last_value(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_et
    FROM events
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    w = (
        Window.partitionBy("user_id", "d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            "d",
            F.first("event_type").over(w).alias("first_et"),
            F.last("event_type").over(w).alias("last_et"),
        )
        .distinct()
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_highest
    FROM orders
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nth_value needs the full-frame spec in both engines: the default
    # frame stops at CURRENT ROW, which would yield NULL until row n.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.nth_value("o_totalprice", 2).over(w).alias("second_highest"),
        )
        .distinct()
    )


def _user_day_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (user x day) grid shared by ts_gap_fill and
    ts_interpolate_linear: users and observed daily values from the
    user_id < 30 slice, date bounds from the UNFILTERED events table —
    matching both oracles' `bounds ... FROM events` CTE. (An earlier
    version derived bounds from the filtered slice; it agreed with the
    oracles on current fixtures only because users < 30 happen to span
    the global date range.) Returns (user_id, d, v) with v NULL on
    unobserved days. The calendar side is pinned broadcast: at scale
    the days spine is always the tiny side and the hint must not
    depend on AQE noticing."""
    ev_all = load(spark, sf_dir, "events")
    ev = ev_all.filter(F.col("user_id") < 30)
    bounds = ev_all.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    users = ev.select("user_id").distinct()
    actual = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    spine = users.crossJoin(F.broadcast(days))
    return spine.join(actual, ["user_id", "d"], "left")


@register(
    "ts_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
    days AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 30),
    actual AS (
        SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
        FROM events WHERE user_id < 30 GROUP BY 1, 2),
    spine AS (SELECT u.user_id, days.d FROM users u CROSS JOIN days)
    SELECT s.user_id, s.d,
           CAST(a.v IS NOT NULL AS BOOLEAN) AS observed,
           round(coalesce(last_value(a.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 2) AS v_filled
    FROM spine s LEFT JOIN actual a ON s.user_id = a.user_id AND s.d = a.d
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill (the hypertable/training-data
    densification primitive): build the complete (user x day) spine from
    a generated date sequence, left-join observed daily values, and
    carry the last observation forward with last(ignorenulls); leading
    gaps coalesce to 0.

    Scale: the spine is sequence+explode (no driver loop), the ffill
    window partitions on user_id — one shuffle, state = one row per
    partition. Restricted to 30 users so the oracle stays small; the
    plan shape is cardinality-independent.
    """
    joined = _user_day_spine(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "d",
        F.col("v").isNotNull().alias("observed"),
        F.round(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 2
        ).alias("v_filled"),
    )


@register(
    "win_range_interval",
    oracle="""
    SELECT user_id, event_id,
           count(*) OVER w AS n_1h,
           round(sum(value) OVER w, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True time-interval RANGE frame (trailing 1-hour window per user)
    directly over the timestamp order key — no epoch-seconds conversion;
    both engines bound the frame by ts >= current_ts - INTERVAL 1 HOUR.
    The per-user trailing-window aggregate is the streaming-feature shape
    (rate limiting, rolling engagement) computed batch-side.
    """
    return spark.sql(
        """
        SELECT user_id, event_id,
               count(*) OVER w AS n_1h,
               round(sum(value) OVER w, 2) AS sum_1h
        FROM {events}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        events=load(spark, sf_dir, "events"),
    )


@register(
    "win_cume_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(floor(cume_dist() OVER w * CAST(1000000 AS DOUBLE) + 0.5)
                AS BIGINT) / CAST(1000000 AS DOUBLE) AS cd,
           CAST(floor(percent_rank() OVER w * CAST(1000000 AS DOUBLE) + 0.5)
                AS BIGINT) / CAST(1000000 AS DOUBLE) AS pr
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution-rank windows: cume_dist / percent_rank are VALUE-based
    # (all peers share a rank), so ties are deterministic across engines
    # without a unique-key tie-break. Partitioned on nation — the window
    # shuffles on the partition key, never a global sort.
    #
    # Released via floor-half-up, not engine round(): cd = k/n is ONE
    # deterministic division, so both engines hold the identical double
    # — but k/n can terminate exactly on a 6dp midpoint (the r9 sf0.1
    # sweep caught nation 11 at n=640: 41/640 = .0640625), where
    # Spark's HALF_UP and DuckDB's binary round() disagree. Identical
    # double + identical floor formula agree at every knife edge.
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        (F.floor(F.cume_dist().over(w) * 1e6 + 0.5).cast("long") / 1e6).alias("cd"),
        (F.floor(F.percent_rank().over(w) * 1e6 + 0.5).cast("long") / 1e6).alias(
            "pr"
        ),
    )


# ------------------------------------------------------- time series ----


@register(
    "ts_interpolate_linear",
    oracle="""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
    days AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 30),
    actual AS (
        SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
        FROM events WHERE user_id < 30 GROUP BY 1, 2),
    grid AS (
        SELECT s.user_id, s.d, a.v,
               last_value(a.v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN a.v IS NOT NULL THEN s.d END IGNORE NULLS)
                   OVER w_prev AS pd,
               first_value(a.v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN a.v IS NOT NULL THEN s.d END IGNORE NULLS)
                   OVER w_next AS nd
        FROM (SELECT u.user_id, days.d FROM users u CROSS JOIN days) s
        LEFT JOIN actual a ON s.user_id = a.user_id AND s.d = a.d
        WINDOW w_prev AS (PARTITION BY s.user_id ORDER BY s.d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY s.user_id ORDER BY s.d
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, d,
           CAST(v IS NOT NULL AS BOOLEAN) AS observed,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL OR nv IS NULL THEN NULL
               ELSE pv + (nv - pv) * CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)
           END, 4) AS v_interp
    FROM grid
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a daily per-user grid: missing days get
    the straight line between the surrounding observed values, edges
    (before first / after last observation) stay NULL. Complements
    ts_gap_fill's forward-fill.

    One shuffle on user_id; both fill directions come from ONE window
    sort (the following-frame first_value runs over the same ascending
    order), so the whole op is spine-join + single windowed pass —
    no per-row Python, no iteration, scales with the grid size.
    """
    j = _user_day_spine(spark, sf_dir)
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("v").isNotNull(), F.col("d"))
    pv = F.last("v", ignorenulls=True).over(w_prev)
    pd_ = F.last(obs_d, ignorenulls=True).over(w_prev)
    nv = F.first("v", ignorenulls=True).over(w_next)
    nd = F.first(obs_d, ignorenulls=True).over(w_next)
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(pv.isNull() | nv.isNull(), F.lit(None))
        .otherwise(
            pv
            + (nv - pv)
            * F.datediff(F.col("d"), pd_).cast("double")
            / F.datediff(nd, pd_).cast("double")
        )
    )
    return j.select(
        "user_id",
        "d",
        F.col("v").isNotNull().alias("observed"),
        F.round(interp, 4).alias("v_interp"),
    )


@register(
    "win_ewma",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 20),
    r AS (
        SELECT user_id, ts, value, rn, value AS ewma FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.ts, e.value, e.rn,
               CAST(floor((0.9 * r.ewma + 0.1 * e.value)
                          * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT)
                   / CAST(10000 AS DOUBLE)
        FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
    SELECT user_id, ts, value, ewma FROM r
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value
    (alpha = 0.1, adjust=False: y_1 = x_1, y_t = 0.9*y_{t-1} + 0.1*x_t)
    with PER-STEP 1e-4 fixed-point quantization: every y_t is snapped
    to the 1e-4 grid by the shared floor-half-up before feeding the
    next step — the replayable-state discipline a production stream
    processor applies to checkpointed accumulators.

    A sequential recurrence has no single-pass window form, so this is
    the documented Pandas-UDF path: applyInPandas per user_id (one
    shuffle), the fold vectorized per Arrow batch. Like any per-key
    history op, a power-law key bounds the batch (same caveat as
    udtf_explode_sessions); the streaming-state alternative is
    applyInPandasWithState with the running (y, t) pair as state.

    The quantized recursion is also what makes the key strict-oracle
    checkable (r9): the old release — pandas .ewm fold vs the oracle's
    quadratic closed form, both rounded at 4dp — held two DIFFERENT
    doubles per row, and the sf0.1 sweep caught a row whose exact
    decimal terminated on a 4dp midpoint, where the straddling doubles
    rounded apart. Per-step quantization makes every step start from
    the IDENTICAL double in both engines (the oracle mirrors the fold
    as a recursive CTE), so each step's single fused expression
    resolves every knife edge identically by construction."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20).select(
        "user_id", "ts", "value", "event_id"
    )

    def ewm(pdf):
        import numpy as np

        # (ts, event_id) tie-break: EWMA is order-sensitive and bare-ts
        # sorting is nondeterministic on equal timestamps — same pin as
        # every other ordered op in this module (oracle orders the same).
        pdf = pdf.sort_values(["ts", "event_id"])
        x = pdf["value"].to_numpy()
        y = np.empty_like(x)
        if len(x):
            y[0] = x[0]
            for i in range(1, len(x)):
                # identical op order to the oracle's recursive step
                y[i] = np.floor((0.9 * y[i - 1] + 0.1 * x[i]) * 10000.0 + 0.5) / 10000.0
        pdf["ewma"] = y
        return pdf.drop(columns=["event_id"])

    return ev.groupBy("user_id").applyInPandas(
        ewm, "user_id long, ts timestamp, value double, ewma double"
    )


@register(
    "win_moving_median",
    oracle="""
    SELECT event_id,
           round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS med
    FROM events
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-row moving median per user — the robust-smoothing
    counterpart of win_moving_avg (outlier-resistant, so the standard
    anomaly baseline on noisy metrics).

    Spark's exact `percentile` runs as a window aggregate over the
    bounded ROWS frame (4 values buffered per row — constant state, no
    sort amplification); DuckDB's quantile_cont uses the same linear
    interpolation, so the oracle is value-exact. Ordering ties broken
    by event_id on both sides."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med"),
    )


@register(
    "ts_pct_change",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
        FROM events GROUP BY 1, 2)
    SELECT user_id, d, v,
           round((v - lag(v) OVER (PARTITION BY user_id ORDER BY d))
                 / lag(v) OVER (PARTITION BY user_id ORDER BY d), 6) AS pct_change
    FROM daily
    """,
)
def ts_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change of per-user daily value — the
    returns/deltas primitive every time-series pipeline starts from.

    Aggregate first (shrinks the window input to one row per (user,
    day)), then one lag window over the same user_id partitioning the
    groupBy already established — Catalyst reuses the exchange. The
    pre-aggregation rounds to the cent grid so the cross-engine quotient
    is bit-identical."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    prev = F.lag("v").over(w)
    return daily.select(
        "user_id", "d", "v",
        F.round((F.col("v") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "win_percent_of_total",
    oracle="""
    WITH nat AS (
        SELECT c_nationkey, round(sum(c_acctbal), 2) AS bal
        FROM customer GROUP BY c_nationkey)
    SELECT c_nationkey, bal,
           round(bal / sum(bal) OVER (), 6) AS share
    FROM nat
    """,
)
def win_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (percent-of-report): each nation's balance as a
    fraction of the grand total — the ratio-to-report window every BI
    layer emits.

    The unpartitioned window runs AFTER the groupBy has reduced the
    input to one row per nation (≤25 rows at any SF), so the
    single-partition window is metadata-sized — the same bounded-spine
    argument as the moving-average ops. The cent-grid pre-round makes
    the cross-engine quotient bit-identical."""
    cust = load(spark, sf_dir, "customer")
    nat = cust.groupBy("c_nationkey").agg(F.round(F.sum("c_acctbal"), 2).alias("bal"))
    w = Window.partitionBy()
    return nat.select(
        "c_nationkey", "bal",
        F.round(F.col("bal") / F.sum("bal").over(w), 6).alias("share"),
    )


@register(
    "win_rolling_regression",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS x
        FROM events)
    SELECT event_id,
           round(regr_slope(value, x) OVER (
               PARTITION BY user_id ORDER BY x
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS slope
    FROM seq
    """,
)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling linear-regression slope (value vs per-user event ordinal)
    over the last 7 events per user — trend detection as a windowed
    aggregate, no iteration and no UDF: regr_slope runs inside the
    bounded ROWS frame on both engines with the identical covariance
    formula.

    The x-axis is the event SEQUENCE NUMBER (row_number over the same
    total order the frame uses), not wall-clock hours — deliberately,
    for conditioning: the r9 sf0.001 sweep caught a user whose 7-event
    frame spanned seconds, making var(x-in-hours) ~ 1e-7 h^2; both
    engines' co-moment accumulators are stable but not bit-identical,
    and the ~1e-9 relative disagreement amplified through the tiny
    denominator to 3e-5 on a |slope| ~ 6.9e3 — past the 6dp round. With
    consecutive small-integer x the frame's var(x) is exactly 4.0 (full
    frames), the x sums are exact in both engines, slopes stay O(value
    scale), and the 6dp round sits far outside cross-engine noise at
    every SF and every event spacing. (A per-hour trend on irregular
    near-simultaneous events is statistically degenerate anyway; the
    ordinal trend is the robust screen.) Ordering is total (event_id
    tie-break), so x is deterministic. One user_id exchange serves both
    the row_number and the regression frame."""
    ev = load(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_id", "user_id", "value", F.row_number().over(order_w).alias("x")
    )
    frame_w = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-6, Window.currentRow)
    )
    return seq.select(
        "event_id",
        F.round(F.expr("regr_slope(value, x)").over(frame_w), 6).alias("slope"),
    )


@register(
    "win_zscore_normalize",
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
    FROM events
    """,
)
def win_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization (z = (x - mu_g) / sigma_g) as an
    unordered analytic window — the ML feature-normalization staple.
    One event_type shuffle; the whole-partition frame computes mu and
    sigma in the same pass as the projection, no separate stats join.
    (When the group count is small, the groupBy-stats + broadcast-join
    form agg_mad_robust uses is the alternative; the window form wins
    when groups are many and a second scan is the cost to avoid.)"""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return ev.select("event_id", "user_id", F.round(z, 6).alias("z"))


@register(
    "win_topk_with_ties",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               CAST(rank() OVER (PARTITION BY o_custkey
                                 ORDER BY round(o_totalprice, 2) DESC) AS INT) AS rk
        FROM orders) t
    WHERE rk <= 3
    """,
)
def win_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer INCLUDING ties (rank(), not
    row_number()) — the WITH TIES semantics of FETCH FIRST: a customer
    with four orders tied at rank 3 keeps all four. Ranks over the
    2dp-rounded price so tie groups are identical across engines.
    Spark pushes the rank()<=k filter into WindowGroupLimit exactly as
    it does for row_number (win_row_number_topk), so per-group state
    stays k-ish rows map-side even with ties."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc(F.round("o_totalprice", 2)))
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "win_match_recognize_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
        GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           len(regexp_extract_all(seq, 'v+c+p+')) > 0 AS converted,
           CAST(len(regexp_extract_all(seq, 'v+c+p+')) AS BIGINT)
               AS n_funnels
    FROM s
    """,
)
def win_match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern matching (SQL:2016), the
    feature Spark lacks natively, compiled to the portable form: per
    user, project the funnel-relevant events to a symbol stream
    (ordered by ts with the event_id tie-break), then run the regex
    automaton `v+c+p+` (one-or-more views, then clicks, then purchases
    — non-overlapping greedy matches, identical semantics in Java
    regex and RE2) over the symbol string. Reports per user: stream
    length, whether any complete funnel matched, and the match count.
    One user_id shuffle; the symbol string is bounded by the user's
    funnel-event count, which is the same per-key state bound every
    sessionizer here carries — the documented hot-user remedy is the
    streaming automaton form (applyInPandasWithState keeps only the
    NFA state, not the string). A DFA over symbols is exactly how
    Flink's CEP and Snowflake's MATCH_RECOGNIZE execute this."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id").alias("ord"),
            F.substring("event_type", 1, 1).alias("sym"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "sym"))),
                    lambda s: s["sym"],
                ),
            ).alias("seq")
        )
    )
    matches = F.expr("regexp_extract_all(seq, 'v+c+p+', 0)")
    return seq.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        (F.size(matches) > 0).alias("converted"),
        F.size(matches).cast("long").alias("n_funnels"),
    )


@register(
    "win_gaps_islands_ranges",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_n
        FROM events),
    g AS (
        SELECT user_id, day_n,
               day_n - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day_n) AS grp
        FROM d)
    SELECT user_id,
           CAST(min(day_n) AS BIGINT) AS start_day,
           CAST(max(day_n) AS BIGINT) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM g GROUP BY user_id, grp
    """,
)
def win_gaps_islands_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over INTEGER consecutiveness: collapse each
    user's active DAYS into maximal runs of consecutive days
    ([start, end], length) — the classic streak/coverage primitive
    (login streaks, sensor uptime ranges, contiguous id-range
    compaction for storage manifests). Distinct from the time-gap
    sessionizers: the island rule here is day_n - row_number() being
    constant within a run — one subtraction, no lag, no conditional
    sum. Epoch-day numbering (days since 1970-01-01) keeps the
    arithmetic integer-exact and engine-identical. One user_id
    shuffle for the distinct, the window rides the same partitioning,
    and the island groupBy re-uses the key — three logical steps, one
    exchange."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_n")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_n")
    g = d.withColumn("grp", F.col("day_n") - F.row_number().over(w))
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("day_n").cast("long").alias("start_day"),
            F.max("day_n").cast("long").alias("end_day"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .drop("grp")
    )


@register(
    "ts_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
      FROM events GROUP BY 1)
    SELECT d,
           CAST(count(*) OVER w AS BIGINT) AS n_days,
           round(corr(x, y) OVER w, 6) AS roll_corr
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day correlation between two daily metric series (click
    value vs purchase value) — the co-movement monitor that catches a
    decoupling (tracking pixel broke; one funnel stage regressed) long
    before either single-series anomaly detector fires.

    corr() is an algebraic aggregate, so Spark evaluates it OVER the
    moving frame with streaming co-moment state — no per-frame
    re-scan, no UDF. The daily rollup is a hash agg (~|days| rows),
    after which the single ordered window over a calendar-bounded
    series is a declared-safe single partition (the same bounded-spine
    justification as ts_decompose_trend_seasonal); at 100 TB the raw
    scan dominates, never this window. n_days < 7 rows at the head are
    the window warm-up, emitted (corr over fewer points) exactly as
    both engines define the frame."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            ).alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n_days"),
        F.round(F.corr("x", "y").over(w), 6).alias("roll_corr"),
    )


@register(
    "win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                      PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events),
    run AS (
      SELECT user_id, ts, event_type,
             sum(first_seen) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS distinct_so_far
      FROM flagged)
    SELECT user_id,
           CAST(max(distinct_so_far) AS BIGINT) AS final_distinct,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(distinct_so_far) AS BIGINT) AS area_under_curve
    FROM run GROUP BY user_id
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered stream — the window
    Spark (and the SQL standard) refuse to evaluate directly, unlocked
    by the first-occurrence decomposition: flag each row that is the
    first of its (user, event_type), then a running SUM of flags IS
    the running distinct count. Per user the output pins the final
    distinct count, event total, and the area under the
    distinct-growth curve (which detects WHEN variety arrived — two
    users with identical finals differ if one explored early). Both
    windows order on the TOTAL key (ts, event_id): a ts-only order
    leaves tied rows' prefix sums engine-dependent, which the area
    column would expose.

    Two windows, both on the same user-keyed exchange (the
    first-occurrence window sub-partitions by event_type — same
    hash-partition family, no second shuffle at the exchange level
    after AQE reuse); the rollup reuses the partitioning again. The
    same decomposition is the 100 TB answer whenever 'distinct so far'
    is asked of any stream."""
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    ).select(
        "user_id", F.sum("first_seen").over(w_run).alias("distinct_so_far")
    )
    return run.groupBy("user_id").agg(
        F.max("distinct_so_far").alias("final_distinct"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("distinct_so_far").alias("area_under_curve"),
    )


@register(
    "win_skyline_pareto_2d",
    oracle="""
    WITH pts AS (
      SELECT l_extendedprice AS x, max(l_discount) AS y
      FROM lineitem GROUP BY 1),
    m AS (
      SELECT x, y,
             max(y) OVER (ORDER BY x DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pm
      FROM pts)
    SELECT round(x, 2) AS price, round(y, 2) AS discount
    FROM m WHERE pm IS NULL OR y > pm
    """,
)
def win_skyline_pareto_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): the line items not DOMINATED in
    (price, discount) — no other item has both ≥ with one strictly
    greater. The classic multi-criteria shortlist operator (best
    tradeoffs, not best single metric), and the 2-D case has an exact
    O(n log n) distributed form: collapse same-x points to their max y
    (anything below is dominated at equal x), then a single
    exclusive prefix-max scan in x-descending order keeps exactly the
    points whose y beats every higher-x point.

    The scan is the exclusive max `global_scan` — the two-pass
    range-partition prefix pattern (P-way parallel local sorts, P-row
    offset table) — so no data-sized single-partition window exists in
    the plan, unlike the textbook OVER (ORDER BY x) formulation the
    oracle is allowed to use. Higher dimensions switch to the
    block-nested-loop skyline with local-front pruning (documented,
    not needed for the 2-D contract)."""
    li = load(spark, sf_dir, "lineitem")
    pts = li.groupBy(F.col("l_extendedprice").alias("x")).agg(
        F.max("l_discount").alias("y")
    )
    neg = pts.withColumn("negx", -F.col("x"))
    scanned = global_scan(neg, "max", {"pm": "y"}, "negx", exclusive=True)
    return (
        scanned.filter(F.col("pm").isNull() | (F.col("y") > F.col("pm")))
        .select(
            F.round("x", 2).alias("price"), F.round("y", 2).alias("discount")
        )
    )


@register(
    "win_bollinger_bands",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    b AS (
      SELECT day, cents / CAST(100 AS DOUBLE) AS rev,
             count(*) OVER w AS n_win,
             CAST(floor(CAST(sum(cents) OVER w AS DOUBLE)
                        / CAST(count(*) OVER w AS DOUBLE) + 0.5) AS BIGINT)
                 / CAST(100 AS DOUBLE) AS mid,
             round(coalesce(stddev_samp(cents / CAST(100 AS DOUBLE)) OVER w,
                            0.0), 2) AS sd
      FROM d
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day, rev, n_win, mid,
           round(mid + 2 * sd, 2) AS upper_band,
           round(mid - 2 * sd, 2) AS lower_band,
           CASE WHEN n_win >= 7 AND rev > mid + 2 * sd THEN 1
                WHEN n_win >= 7 AND rev < mid - 2 * sd THEN -1
                ELSE 0 END AS breakout
    FROM b
    """,
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily revenue series: 7-day rolling
    mean ± 2 rolling sample-stddevs, with a breakout flag only once
    the window is full — the volatility-envelope primitive behind
    anomaly bands on any KPI series. Precision staging (r9): daily
    totals carry as EXACT integer cents; mid is the floor-half-up
    cents mean (a money mean can land exactly on a decimal midpoint);
    sd and the bands release at 2dp, because at the series' ~2e7
    magnitude a 6dp round demands 13-14 agreeing significant digits —
    past the engines' ~1e-12 cross-agreement on windowed moments (the
    r9 sf0.1 sweep caught sd@6dp landing on DIFFERENT grid points) —
    while 2dp sits four orders above the noise floor. One days-sized
    rollup, one calendar-bounded window — declared in the
    single-partition ratchet like every global daily-series op."""
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    b = d.select(
        "day",
        (F.col("cents") / 100.0).alias("rev"),
        F.count(F.lit(1)).over(w).alias("n_win"),
        (
            F.floor(
                F.sum("cents").over(w).cast("double")
                / F.count(F.lit(1)).over(w).cast("double")
                + 0.5
            ).cast("long")
            / 100.0
        ).alias("mid"),
        F.round(
            F.coalesce(F.stddev_samp(F.col("cents") / 100.0).over(w), F.lit(0.0)), 2
        ).alias("sd"),
    )
    full = F.col("n_win") >= 7
    return b.select(
        "day",
        "rev",
        "n_win",
        "mid",
        F.round(F.col("mid") + 2 * F.col("sd"), 2).alias("upper_band"),
        F.round(F.col("mid") - 2 * F.col("sd"), 2).alias("lower_band"),
        F.when(full & (F.col("rev") > F.col("mid") + 2 * F.col("sd")), 1)
        .when(full & (F.col("rev") < F.col("mid") - 2 * F.col("sd")), -1)
        .otherwise(0)
        .alias("breakout"),
    )


@register(
    "win_rsi_sma",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             round(sum(o_totalprice), 6) AS rev
      FROM orders GROUP BY 1),
    ch AS (
      SELECT day, rev,
             round(rev - lag(rev) OVER (ORDER BY day), 6) AS chg
      FROM d),
    gl AS (
      SELECT day, rev, chg,
             greatest(chg, 0.0) AS gain, greatest(-chg, 0.0) AS loss
      FROM ch WHERE chg IS NOT NULL),
    sma AS (
      SELECT day, rev,
             count(*) OVER w AS n_win,
             round(avg(gain) OVER w, 6) AS avg_gain,
             round(avg(loss) OVER w, 6) AS avg_loss
      FROM gl
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT day, rev, avg_gain, avg_loss,
           round(CASE WHEN avg_loss = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
                 END, 4) AS rsi
    FROM sma WHERE n_win >= 14
    """,
)
def win_rsi_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day SMA-form RSI (relative strength index) on daily revenue:
    average gain vs average loss over the trailing fortnight, mapped to
    the 0-100 oscillator — the mean-reversion signal in its simple-
    moving-average form (Wilder's recursive smoothing is the EWMA
    variant; the SMA form is the one that stays a pure window
    expression). Emitted only once the 14-sample window is full; both
    engines round the day-over-day change before averaging so the SMA
    sees identical inputs."""
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    wlag = Window.orderBy("day")
    ch = d.withColumn(
        "chg", F.round(F.col("rev") - F.lag("rev").over(wlag), 6)
    ).filter(F.col("chg").isNotNull())
    gl = ch.select(
        "day",
        "rev",
        F.greatest("chg", F.lit(0.0)).alias("gain"),
        F.greatest(-F.col("chg"), F.lit(0.0)).alias("loss"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    sma = gl.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(F.avg("gain").over(w), 6).alias("avg_gain"),
        F.round(F.avg("loss").over(w), 6).alias("avg_loss"),
    ).filter(F.col("n_win") >= 14)
    rsi = F.when(F.col("avg_loss") == 0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1.0 + F.col("avg_gain") / F.col("avg_loss"))
    )
    return sma.select(
        "day", "rev", "avg_gain", "avg_loss", F.round(rsi, 4).alias("rsi")
    )


@register(
    "win_moving_distinct",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             list(DISTINCT user_id) AS us
      FROM events GROUP BY 1)
    SELECT day,
           CAST(len(us) AS BIGINT) AS dau,
           CAST(len(list_distinct(flatten(
               list(us) OVER (ORDER BY day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))))
                AS BIGINT) AS wau_7d
    FROM d
    """,
)
def win_moving_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 7-day DISTINCT user count per day (rolling WAU) — the
    window nobody can write directly because COUNT(DISTINCT) OVER a
    frame is unsupported on every engine: the standard rewrite
    aggregates each day's distinct-user SET first, then unions the
    sets across the moving frame and measures the union. The per-day
    set is DAU-sized (bounded by the population), so the window slides
    over days-sized rows carrying set payloads — never over raw
    events; at 100 TB the same rewrite swaps the exact sets for HLL
    sketches (sketch_hll_rollup's register-max merge) with the window
    body unchanged."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.collect_set("user_id").alias("us"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        "day",
        F.size("us").cast("long").alias("dau"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("us").over(w)))
        ).cast("long").alias("wau_7d"),
    )


_TOP_PCT = 0.10


@register(
    "win_top_percent_per_group",
    oracle=f"""
    WITH r AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               percent_rank() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS pr
        FROM orders)
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(pr, 6) AS pct_rank
    FROM r WHERE pr <= {_TOP_PCT}
    """,
)
def win_top_percent_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p% per group — the proportional cousin of top-k: keep every
    order in the highest {_TOP_PCT:.0%} of its priority class by
    price. Unlike a fixed k, the cut adapts to group size, which is
    what tiering/outreach/audit-sampling policies actually specify.
    percent_rank = (rank-1)/(n-1) is deterministic here because the
    ordering carries the unique key as tie-break; the filter compares
    the UNROUNDED rank on both engines (exact integer ratio), with
    6dp rounding only on output. One exchange on the group key; the
    window never sees more than a group's rows per task, and there is
    no global sort anywhere."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pr"),
        )
        .filter(F.col("pr") <= _TOP_PCT)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round("pr", 6).alias("pct_rank"),
        )
    )
