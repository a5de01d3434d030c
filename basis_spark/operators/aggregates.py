"""Aggregation operators (SURVEY.md §2.D).

All aggregations are expressed with built-in pyspark.sql.functions so the
whole pipeline stays inside whole-stage codegen and gets automatic
partial (map-side) aggregation. At 100 TB the groupBy shuffle is keyed on
the grouping columns; AQE coalesces/splits post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load
from basis_spark.registry import register


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


# B1 — the flagship pricing summary (TPC-H Q1 shape). SURVEY §6 B1.
@register(
    "agg_groupby_multi",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc), 2).alias("sum_disc"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, round(sum(o_totalprice), 2) AS spend, count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING sum(o_totalprice) > 1500000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .filter(F.col("_raw_spend") > 1500000)
        .drop("_raw_spend")
    )


# B5 — daily distinct users per event_type.
@register(
    "agg_count_distinct",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, event_type,
           count(DISTINCT user_id) AS u, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.countDistinct("user_id").alias("u"), F.count(F.lit(1)).alias("n"))
    )


# Approximate distinct: never hash-matched (SURVEY §5.6) — rows-only check;
# tests/test_tolerance.py asserts ±5% vs exact.
@register("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        )
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        )
    )


# B7 — rollup with grouping() flags to disambiguate subtotal rows (R5).
@register(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
           count(*) AS n, round(sum(o_totalprice), 2) AS s
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n", "s")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, n_name,
           CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(grouping(n_name) AS BIGINT) AS g_nat,
           count(*) AS n, round(sum(c_acctbal), 2) AS bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL front-end (this key pins the SQL
    surface; agg_rollup/agg_cube pin the DataFrame API)."""
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(grouping(n_name) AS BIGINT) AS g_nat,
               count(*) AS n, round(sum(c_acctbal), 2) AS bal
        FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """,
        customer=load(spark, sf_dir, "customer"),
        nation=load(spark, sf_dir, "nation"),
    )


# Collections must be sorted — bag order is engine-dependent (SURVEY App. B5).
# Output is serialized to a CSV string: the external correctness gate
# canonicalizes rows in pandas, and array-typed cells are unhashable there
# (CORRECTNESS_r01: TypeError unhashable type 'list'). Sort NUMERICALLY
# first, then stringify — string-sorting longs would order "10" < "2".
@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_partkey)), ',') AS parts,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_partkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# B12 — conditional aggregation pivot.
@register(
    "agg_conditional_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 2)
               AS purchase_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    LIMIT 100
    """,
)
def agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("purchase_value"),
        )
        .orderBy("user_id")
        .limit(100)
    )


# max_by / arg_max — latest event value per user (ties impossible: sub-second ts).
@register(
    "agg_first_last_by",
    oracle="""
    SELECT user_id,
           arg_max(value, ts) AS latest_value,
           arg_min(value, ts) AS first_value,
           CAST(max(ts) AS TIMESTAMP) AS latest_ts
    FROM events
    GROUP BY user_id
    """,
)
def agg_first_last_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max_by("value", "ts").alias("latest_value"),
            F.min_by("value", "ts").alias("first_value"),
            F.max("ts").alias("latest_ts"),
        )
    )


@register("sketch_hll_distinct")
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL).

    Per event_type, build an HLL sketch of user_id; estimate each, then
    merge ALL the sketches with hll_union_agg and estimate the global
    distinct from the merged sketch (emitted as the event_type IS NULL
    row). Mergeability is the point: at 100 TB you sketch per
    partition/day ONCE and answer any rollup (day → week → global) by
    unioning binaries — no re-scan, no exact-distinct shuffle of raw ids.
    Approximate, so rows-only check; tests/test_tolerance.py asserts
    every estimate within 5% of exact.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    per_est = per.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_users"),
    )
    merged = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("est_users")
    ).select(F.lit(None).cast("string").alias("event_type"), "est_users")
    return per_est.unionByName(merged)


@register(
    "agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM orders GROUP BY o_orderstatus, o_orderpriority) t
    WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mode via count + deterministic tie-break (both engines' built-in
    # mode() picks an ARBITRARY value on ties — not oracle-safe).
    from pyspark.sql import Window as W

    counts = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@register(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 2) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Built-in linear-regression aggregates (slope/intercept/r2) — both
    # engines implement the same covariance formulas; probe-verified to
    # agree to full precision on small inputs, rounded per R1 for the
    # 600k-row summation-order delta.
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 2).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").cast("long").alias("n"),
    )


@register(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1.00 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2))))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue_exact,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money arithmetic in DECIMAL, no floating point anywhere:
    price and discount cast to DECIMAL(18,2), the per-row product is a
    scale-4 decimal, and the sum is hash-compared as the exact scale-4
    string. The result is kept at scale 4 deliberately — a final cast to
    scale 2 diverges across engines because Spark rounds decimal casts
    HALF_UP while DuckDB rounds HALF_EVEN (probed: 1003322369.8990 ->
    .90 vs .89). Closes the SURVEY §1.3 decimal-coverage gap: at 100 TB
    this is the ledger-grade aggregation path (unlike DOUBLE, decimal
    sums are order-independent, so partial aggregation is exact)."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.expr(
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))"
        " AS DECIMAL(38,4))"
    )
    return li.groupBy("l_returnflag").agg(
        rev.cast("string").alias("revenue_exact"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS covs,
           round(covar_pop(l_extendedprice, l_quantity), 2) AS covp
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlation/covariance aggregates — identical single-pass
    # (mergeable) formulas in both engines, so partial aggregation at
    # scale stays exact up to float summation order (rounded per R1).
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covs"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 2).alias("covp"),
    )


@register(
    "ts_resample_ohlc",
    oracle="""
    SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           first(value ORDER BY ts, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           count(*) AS volume,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (series, hour bucket) open/high/low/close
    — the hypertable/financial-rollup shape.

    open/close are min_by/max_by on a (ts, event_id) struct key, so tie
    handling is total-ordered and engine-independent (the oracle uses
    DuckDB's ordered-aggregate first/last with the same composite sort).
    One hash aggregation, no window: at 100 TB this partial-aggregates
    map-side like any groupBy, which a row_number-window formulation
    would not."""
    ev = load(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@register(
    "sketch_topk_frequent",
    oracle="""
    SELECT event_type, cnt FROM (
        SELECT event_type, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, event_type) AS rk
        FROM events GROUP BY event_type) t
    WHERE rk <= 3
    """,
)
def sketch_topk_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items sketch: approx_top_k (Spark 4's
    DataSketches-backed heavy-hitters aggregate), exploded back to rows.

    In this fixture regime the tracked-item budget exceeds the domain,
    so the sketch is exact and the oracle pins real counts (fixture
    event_type counts are tie-free at every SF — verified, so the k-cut
    is deterministic). At 100 TB the same expression keeps a bounded
    sketch per partition and merges — that mergeability is the point;
    the exact GROUP BY it replaces needs a full shuffle of all distinct
    keys."""
    ev = load(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("event_type"), F.col("e.count").alias("cnt"))
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6)
               AS wavg_price,
           round(avg(l_extendedprice), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag (vs the naive
    mean, reported alongside). sum(w*x)/sum(w) — two partial-aggregable
    sums, so map-side combine applies where a built-in 'weighted_avg'
    would need a custom UDAF."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity"), 6
        ).alias("wavg_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


@register("sketch_kll_quantiles")
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL).

    Per event_type, build a KLL sketch of value and read p50/p95/p99
    from it; then MERGE the per-type sketches with kll_merge_agg_double
    and read the same quantiles globally (the event_type IS NULL row).
    Mergeability is the point, exactly like the HLL op: sketch each
    partition/day once, answer any rollup's percentiles by merging
    binaries — an exact-percentile at 100 TB needs a full sort per
    question. Approximate (KLL rank error ~1.7% at k=200), so
    rows-only check; tests/test_tolerance.py bounds each estimate
    against the exact percentile.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value, 200)").alias("sk")
    )

    def qs(sk: str) -> list:
        return [
            F.round(F.expr(f"kll_sketch_get_quantile_double({sk}, {q})"), 2).alias(n)
            for q, n in [(0.5, "p50"), (0.95, "p95"), (0.99, "p99")]
        ]

    per_q = per.select("event_type", *qs("sk"))
    merged = per.agg(F.expr("kll_merge_agg_double(sk)").alias("msk")).select(
        F.lit(None).cast("string").alias("event_type"), *qs("msk")
    )
    return per_q.unionByName(merged)


@register("sketch_theta_set_ops")
def sketch_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET ALGEBRA on Theta sketches — the capability HLL
    lacks: besides union, Theta supports intersection and difference,
    so "users who clicked AND purchased" is sketch math, not a join.

    Builds a user_id Theta sketch per event_type, then emits estimates
    for click, purchase, click ∪ purchase, click ∩ purchase, and
    click \\ purchase. At 100 TB each shard sketches once; every
    audience-overlap question afterwards is driver-side binary algebra.
    Approximate -> rows-only check; tests/test_tolerance.py bounds all
    five estimates against exact distinct counts.
    """
    ev = load(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    wide = per.groupBy().pivot("event_type", ["click", "purchase"]).agg(F.first("sk"))
    est = lambda e: F.expr(f"cast(theta_sketch_estimate({e}) as long)")  # noqa: E731
    return wide.select(
        est("click").alias("n_click"),
        est("purchase").alias("n_purchase"),
        est("theta_union(click, purchase)").alias("n_union"),
        est("theta_intersection(click, purchase)").alias("n_intersect"),
        est("theta_difference(click, purchase)").alias("n_click_only"),
    )


@register(
    "agg_bool_any_all",
    oracle="""
    SELECT event_type,
           bool_or(value > 300) AS any_large,
           bool_and(value > 0) AS all_positive,
           count(*) FILTER (WHERE value > 300) AS n_large
    FROM events
    GROUP BY event_type
    """,
)
def agg_bool_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean quantifier aggregates (ANY/ALL): short-circuiting
    existence checks as partial-aggregable bools — the cheap form of
    "does any row violate X" that otherwise gets written as a count
    comparison."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_or(F.col("value") > 300).alias("any_large"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.count_if(F.col("value") > 300).alias("n_large"),
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer) t
    GROUP BY c_nationkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the report
    formatter's aggregate. WITHIN GROUP (ORDER BY) makes the concat
    deterministic — an unordered listagg is partitioning-dependent and
    would fail any cross-engine compare. Distinct first so the output
    is bounded by the (nation × segment) domain, not row count."""
    cust = load(spark, sf_dir, "customer")
    return (
        cust.select("c_nationkey", "c_mktsegment")
        .distinct()
        .groupBy("c_nationkey")
        .agg(
            F.expr(
                "listagg(c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)"
            ).alias("segs")
        )
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
               AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING()/grouping_id disambiguation: a NULL key in
    rollup output is ambiguous (real NULL vs subtotal row) — the
    grouping id is how downstream code tells them apart. Same two-phase
    expanded aggregation as agg_rollup, plus the bitmask column."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            "gid",
            "n",
        )
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT event_type,
           round(quantile_disc(value, 0.5), 2) AS p50_disc,
           round(quantile_cont(value, 0.5), 6) AS p50_cont
    FROM events
    GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentile side by side: percentile_disc
    returns an actual data value (what you want for 'a real example
    row at the median'); percentile/quantile_cont interpolates. Both
    engines implement both semantics — pinning them together documents
    the difference and guards against silently swapping one for the
    other."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 2).alias(
            "p50_disc"
        ),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_cont"),
    )


@register(
    "agg_mad_robust",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY 1)
    SELECT e.event_type,
           round(any_value(m), 6) AS median_value,
           round(quantile_cont(abs(e.value - m), 0.5), 6) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY 1
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread measure
    outlier pipelines use where stddev is poisoned by the outliers
    themselves. Two chained aggregations on the SAME event_type key
    (median, then median of |x - m|), so the second groupBy reuses the
    first's partitioning; the 5-row median table broadcasts back.
    Exact percentile here; approx_percentile is the documented swap-in
    at 100 TB (same shape, sketch-mergeable)."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("m"), 6).alias("median_value"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)), 6
            ).alias("mad"),
        )
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY 1)
    SELECT e.event_type,
           round(avg(e.value), 6) AS raw_mean,
           round(avg(least(greatest(e.value, lo), hi)), 6) AS winsorized_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY 1
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group (values clipped at p05/p95 before
    averaging) next to the raw mean — agg_mad_robust's companion for
    outlier-tolerant pipelines. Same shape: exact per-group percentile
    boundaries (5 rows) broadcast back, clip + avg in one reused
    event_type aggregation; approx_percentile is the 100 TB swap-in."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("raw_mean"),
            F.round(F.avg(clipped), 6).alias("winsorized_mean"),
        )
    )


_CMS_ORACLE = """
    WITH rows_ AS (SELECT unnest(range(4)) AS r),
    cells AS (
        SELECT r.r,
               CAST(('0x' || substring(
                   md5(CAST(r.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 256 AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM events e CROSS JOIN rows_ r
        GROUP BY 1, 2),
    probe AS (
        SELECT k.user_id, r.r,
               CAST(('0x' || substring(
                   md5(CAST(r.r AS VARCHAR) || ':' || CAST(k.user_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 256 AS b
        FROM (SELECT DISTINCT user_id FROM events) k CROSS JOIN rows_ r)
    SELECT p.user_id, min(c.c) AS est
    FROM probe p JOIN cells c ON c.r = p.r AND c.b = p.b
    GROUP BY p.user_id
    """


@register("sketch_count_min", oracle=_CMS_ORACLE)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode/Muthukrishnan) per-user event counts:
    d=4 hash rows x w=256 counters, est(k) = min_d counter[d][h_d(k)].
    Always >= the true count; excess is bounded by ~N/w per row w.h.p.
    (the Markov bound is asserted in tests/test_tolerance.py).

    The sketch itself is the scale story: the counter table is d*w rows
    TOTAL regardless of stream size (one map-side-combined shuffle on
    (row, bucket) builds it), so merging per-partition/per-day sketches
    is a d*w-sized union — the mergeable-summaries contract that lets a
    100 TB stream keep heavy-hitter counts in KBs of state. The probe
    joins the distinct-key table to the broadcast counter table and
    takes the min across rows.

    Promoted from the rows-only tier in r9 (the r8 LSH precedent): the
    row hashes are md5-derived — h_r(k) = first 8 hex digits of
    md5(r || ':' || k) mod w — which DuckDB recomputes bit-identically,
    so the ENTIRE sketch (counter table, probe, min) is strict
    hash-checked; the error-bound pytest remains as quality evidence.
    (xxhash64 would be cheaper per row, but it has no DuckDB twin; the
    hash cost is per-event map-side and amortizes into the scan.)"""
    D, W = 4, 256
    ev = load(spark, sf_dir, "events")
    rows = F.explode(F.array(*[F.lit(i) for i in range(D)])).alias("r")

    def bucket(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"), F.lit(":"), key_col.cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % W
        )

    cells = (
        ev.select("user_id", rows)
        .select("user_id", "r", bucket(F.col("user_id")).alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = ev.select("user_id").distinct()
    probe = keys.select("user_id", rows).select(
        "user_id", "r", bucket(F.col("user_id")).alias("b")
    )
    return (
        probe.join(F.broadcast(cells), ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est"))
    )


@register("sketch_hll_rollup")  # approximate -> rows-only; algebra pinned in pytest
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical HLL rollup — the hypertable/continuous-aggregate
    pattern: sketch distinct users per (event_type, day) ONCE, then
    answer the per-type rollup by UNIONING the day sketches, never
    re-scanning raw events. Emits both the merged-estimate and (from
    the same day sketches) the finest-grain day count, proving the
    sketch algebra: tests/test_tolerance.py asserts the merged estimate
    EQUALS the direct whole-range sketch estimate exactly — HLL union
    is register-wise max, so rollup order cannot change the answer.
    At 100 TB the day-sketch table is days x types rows of ~10 KB
    binaries; every coarser rollup (week, month, global) is a
    metadata-sized merge."""
    ev = load(spark, sf_dir, "events")
    day_sk = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    )
    return (
        day_sk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("est_users"),
        )
    )


@register(
    "agg_ols_multivar",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               round(sum(l_quantity), 2) AS s1,
               round(sum(l_discount), 2) AS s2,
               round(sum(l_extendedprice), 2) AS sy,
               round(sum(l_quantity * l_quantity), 2) AS s11,
               round(sum(l_discount * l_discount), 2) AS s22,
               round(sum(l_quantity * l_discount), 2) AS s12,
               round(sum(l_quantity * l_extendedprice), 2) AS s1y,
               round(sum(l_discount * l_extendedprice), 2) AS s2y
        FROM lineitem GROUP BY l_returnflag),
    c AS (
        SELECT l_returnflag, n, s1, s2, sy,
               s11 - s1 * s1 / n AS c11,
               s22 - s2 * s2 / n AS c22,
               s12 - s1 * s2 / n AS c12,
               s1y - s1 * sy / n AS c1y,
               s2y - s2 * sy / n AS c2y
        FROM s)
    SELECT l_returnflag,
           round((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12), 6) AS beta_qty,
           round((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12), 6) AS beta_disc,
           round((sy - (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * s1
                     - (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * s2) / n,
                 6) AS intercept
    FROM c
    """,
)
def agg_ols_multivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS (price ~ quantity + discount, per returnflag)
    solved in closed form from sufficient statistics — the
    normal-equations pattern that turns any distributed aggregate
    engine into a regression fitter: ONE map-side-combined pass
    accumulates the 9 sums, Cramer's rule on the centered moments runs
    on the P-group result. The raw sums are rounded to 2dp before the
    solve and the solve expressions are written term-for-term
    identically on both engines, so the betas are bit-identical
    doubles, not just close. Extending to k regressors is the same
    pattern with a k x k Gramian (embeddings_pca_power already builds
    exactly that)."""
    li = load(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(q), 2).alias("s1"),
        F.round(F.sum(d), 2).alias("s2"),
        F.round(F.sum(y), 2).alias("sy"),
        F.round(F.sum(q * q), 2).alias("s11"),
        F.round(F.sum(d * d), 2).alias("s22"),
        F.round(F.sum(q * d), 2).alias("s12"),
        F.round(F.sum(q * y), 2).alias("s1y"),
        F.round(F.sum(d * y), 2).alias("s2y"),
    )
    c = s.select(
        "l_returnflag",
        "n",
        "s1",
        "s2",
        "sy",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    return c.select(
        "l_returnflag",
        F.round(b1, 6).alias("beta_qty"),
        F.round(b2, 6).alias("beta_disc"),
        F.round((F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@register(
    "agg_moments_skew_kurtosis",
    oracle="""
    WITH s AS (
        SELECT o_orderstatus,
               CAST(count(*) AS DOUBLE) AS n,
               round(sum(o_totalprice), 2) AS s1,
               round(sum(o_totalprice * o_totalprice), 2) AS s2,
               round(sum(o_totalprice * o_totalprice * o_totalprice / 1e6), 2) AS s3,
               round(sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice / 1e12), 2) AS s4
        FROM orders GROUP BY o_orderstatus),
    m AS (
        SELECT o_orderstatus, n,
               s1 / n AS m1,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 * 1e6 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 * 1e12 / n - 4 * (s1 / n) * (s3 * 1e6 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM s)
    SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
           round(m3 / pow(m2, 1.5), 6) AS skewness_g1,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_g2
    FROM m
    """,
)
def agg_moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis from RAW MOMENTS — deliberately not
    the built-ins: Spark's skewness() and DuckDB's skewness() use
    different bias corrections (population g1 vs sample G1), so an
    engine-portable moment pipeline computes central moments from one
    pass of power sums and applies ONE declared definition (population
    g1/g2) term-for-term identically on both engines. The s3/s4 sums
    are pre-scaled (1e6/1e12) so the 2dp rounding that pins
    cross-engine float identity doesn't destroy their precision. Same
    sufficient-statistics contract as agg_ols_multivar: one
    map-combined aggregation, arithmetic on the P-group result."""
    o = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(x), 2).alias("s1"),
        F.round(F.sum(x * x), 2).alias("s2"),
        F.round(F.sum(x * x * x / 1e6), 2).alias("s3"),
        F.round(F.sum(x * x * x * x / 1e12), 2).alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = F.col("s3") * 1e6 / F.col("n") - 3 * m1 * (F.col("s2") / F.col("n")) + 2 * m1 * m1 * m1
    m4 = (
        F.col("s4") * 1e12 / F.col("n")
        - 4 * m1 * (F.col("s3") * 1e6 / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * m1 * m1 * m1 * m1
    )
    return s.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness_g1"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_g2"),
    )


@register("agg_histogram_numeric")
def agg_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in approximate histogram_numeric(col, nb) — the
    streaming-mergeable bin sketch (Ben-Haim/Tom-Tova decision-tree
    histogram) behind ANALYZE-style distribution summaries: each task
    keeps nb (center, height) pairs, merging closest pairs as values
    stream through, and partials merge associatively — one partial agg
    + one 1-row combine at any scale. Bin placement is data-order
    dependent, hence approximate → rows-only check; the exact-sum and
    range invariants are pinned in tests/test_corpus_ops.py::
    test_histogram_numeric_invariants (heights sum to the row count,
    centers lie within [min, max])."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.explode(
                F.expr("histogram_numeric(l_extendedprice, 10)")
            ).alias("bin")
        )
        .select(
            F.round(F.col("bin.x"), 4).alias("bin_center"),
            F.col("bin.y").alias("height"),
        )
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT NULL AS event_type, CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via Spark's bitmap aggregate
    family (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count) — the
    deterministic counterpart of sketch_hll_distinct: same
    sketch-once-rollup-anywhere algebra (bitmaps OR-merge exactly like
    HLL sketches union), but zero error, at the cost of bitmap size
    scaling with the id range instead of O(1). The right tool when ids
    are dense integers (user_id here) and rollups must be exact —
    billing, not telemetry.

    Shape: ids split into 32k-bit buckets; per (group, bucket) one
    bitmap_construct_agg (map-side partial like any hash agg), counts
    sum per group; the global row OR-merges the per-type bucket
    bitmaps BEFORE counting — double counting across types is
    impossible by construction, which is the algebra the oracle's two
    plain COUNT(DISTINCT)s verify."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("b"),
        F.expr("bitmap_bit_position(user_id)").alias("p"),
    )
    per_bucket = ev.groupBy("event_type", "b").agg(
        F.expr("bitmap_construct_agg(p)").alias("bm")
    )
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )
    global_row = (
        per_bucket.groupBy("b")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
        .select(F.lit(None).cast("string").alias("event_type"), "n_users")
    )
    return per_type.unionByName(global_row)


@register(
    "agg_count_distinct_multi",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
           CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE different COUNT(DISTINCT) columns in one aggregation —
    the query shape that forces Catalyst's multi-distinct rewrite: a
    single distinct agg dedups inside one hash aggregate, but several
    over different columns require the Expand operator (one row
    replicated per distinct group, null-padded, gid-tagged) before a
    two-phase aggregate. Worth a key because the rewrite changes the
    SCALE shape: shuffle volume multiplies by the number of distinct
    columns (x3 here) — on a 100 TB fact table you pre-aggregate or
    switch the wide ones to approx_count_distinct/HLL instead, which
    is exactly the trade the sketch_* keys implement. The plan is
    asserted to contain Expand (tests/test_plans.py companion)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.countDistinct("o_orderdate").alias("n_days"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_weighted_percentile",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(sum(l_quantity) AS DOUBLE) AS w
        FROM lineitem GROUP BY 1, 2),
    c AS (
        SELECT l_returnflag, price, w,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM g)
    SELECT l_returnflag,
           round(min(CASE WHEN cw >= 0.5 * tw THEN price END), 2) AS wp50,
           round(min(CASE WHEN cw >= 0.9 * tw THEN price END), 2) AS wp90,
           round(max(tw), 2) AS total_weight
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED percentiles (quantity-weighted price distribution per
    return flag) — the aggregate Spark has no built-in for, defined as
    the discrete lower weighted quantile: the smallest value whose
    cumulative weight reaches p of the total. Engine-identical by
    construction (no interpolation, no midpoint formula — the
    ulp-divergence trap event_interarrival_stats documents cannot
    arise). Shape: collapse duplicates with one (flag, value) hash agg
    FIRST — the cumulative window then runs over distinct values, not
    rows — then a per-flag ordered prefix sum and a conditional-min
    combine. The per-flag window is an ordinary hash exchange; past
    the per-group scale limit the same two-pass range-partition prefix
    sum the stats module uses (two_group_value_cum) is the documented
    drop-in, and percentile_approx does NOT apply (it has no weight
    parameter — this op exists precisely because of that gap)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("price"), "l_quantity"
    )
    g = li.groupBy("l_returnflag", "price").agg(
        F.sum("l_quantity").cast("double").alias("w")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("price")
    wtot = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cw") >= 0.5 * F.col("tw"), F.col("price"))), 2
        ).alias("wp50"),
        F.round(
            F.min(F.when(F.col("cw") >= 0.9 * F.col("tw"), F.col("price"))), 2
        ).alias("wp90"),
        F.round(F.max("tw"), 2).alias("total_weight"),
    )


@register(
    "agg_product",
    oracle="""
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(product(l_linenumber)) AS BIGINT) AS line_product
    FROM lineitem
    WHERE l_orderkey <= 2000
    GROUP BY l_orderkey
    """,
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT aggregate — the one classical reduction Spark has no
    built-in for. Expressed as exp(sum(ln x)): sum is the associative
    combiner, so it partial-aggregates map-side like any sum (the
    standard log-domain trick every engine without product() uses).
    Inputs here are small positive integers (line numbers 1..7, group
    product <= 7!), so snapping exp's float back with round() makes the
    result INTEGER-EXACT — fp drift is ~1e-13 relative, twelve orders
    of magnitude inside the snap. For general doubles the same shape
    returns the log-domain value directly (documented; sign/zero
    handling = count zeros + sum sign bits, two more cheap aggs)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.exp(F.sum(F.log("l_linenumber"))))
        .cast("bigint")
        .alias("line_product"),
    )


@register(
    "agg_geo_harmonic_mean",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(avg(ln(o_totalprice))), 4) AS geo_mean,
           round(count(*) / sum(1.0 / o_totalprice), 4) AS harm_mean,
           CAST(floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS DOUBLE) * CAST(100 AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
               / CAST(10000 AS DOUBLE) AS arith_mean
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_geo_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per order priority, next to the
    arithmetic mean (AM >= GM >= HM — the Pythagorean-means readout for
    rate/ratio metrics where the arithmetic mean is simply the wrong
    statistic: growth factors, price relatives, per-token rates).

    Both are single-pass associative reductions — exp(avg(ln x)) and
    n/sum(1/x) — so they partial-aggregate map-side exactly like sum;
    one priority-keyed exchange total. Positive-domain contract
    (o_totalprice > 0 in the fixture and in TPC-H); geo/harm are
    rounded at 4 decimals, ~1e-11 above the cross-engine libm/
    summation-order noise floor (transcendental values never sit ON a
    decimal midpoint); the ARITHMETIC mean of 2dp money CAN land
    exactly on a 4dp midpoint, so it uses the exact-cents
    floor-half-up form (the join_broadcast divergence class, r9)."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.exp(F.avg(F.log("o_totalprice"))), 4).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("o_totalprice")), 4
        ).alias("harm_mean"),
        (
            F.floor(
                F.sum(cents).cast("double") * 100.0
                / F.count(F.lit(1)).cast("double")
                + 0.5
            ).cast("long")
            / 10000.0
        ).alias("arith_mean"),
    )


@register(
    "sketch_bloom_prefilter",
    oracle="""
    WITH member_bits AS (
      SELECT DISTINCT
             CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                         || ':' || CAST(h.range AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 16384 AS bit
      FROM customer, range(3) h),
    probes AS (
      SELECT o_custkey AS probe, 1 AS is_member FROM orders
      WHERE o_orderkey <= 1000
      UNION ALL
      SELECT o_custkey + 1000000, 0 FROM orders WHERE o_orderkey <= 1000),
    probe_bits AS (
      SELECT p.probe, p.is_member,
             sum(CASE WHEN mb.bit IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM (SELECT probe, is_member,
                   CAST(('0x' || substring(md5(CAST(probe AS VARCHAR)
                                               || ':' || CAST(h.range AS VARCHAR)),
                                           1, 8)) AS BIGINT) % 16384 AS bit
            FROM probes, range(3) h) p
      LEFT JOIN member_bits mb ON p.bit = mb.bit
      GROUP BY p.probe, p.is_member)
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN hits = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hits,
           CAST(sum(CASE WHEN hits = 3 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           CAST(sum(CASE WHEN hits < 3 AND is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
    FROM probe_bits
    """,
)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter, built and probed entirely in
    SQL expressions: the member set (customer keys) hashes into a
    16384-bit space with k=3 md5-derived hash functions; a probe is a
    bloom HIT only if all three of its bits are set. Probes are half
    true members, half synthetic non-members, so the report pins the
    sketch's defining contract numerically: n_false_negatives MUST be
    0 (Bloom filters never miss a member), n_false_positives is the
    tunable cost. Deterministic hashes (the house md5 convention) make
    even the FP SET reproducible cross-engine — which is what lets a
    100 TB join planner TRUST the prefilter's selectivity estimate.

    Scale shape: the bit set is at most 16384 distinct values — a
    broadcastable side regardless of member-set size (the point of the
    sketch); probe evaluation is map-side hashing + a broadcast
    membership check; the report is a 1-row combine. This is the
    manual form of what join_runtime_prefilter gets from Spark's
    InSubquery bloom rewrite."""
    m = 16384
    k = 3

    def bits(col: F.Column) -> F.Column:
        return F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                col.cast("string"), F.lit(":"), F.lit(str(i))
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % m
                for i in range(k)
            ]
        )

    member_bits = (
        load(spark, sf_dir, "customer")
        .select(F.explode(bits(F.col("c_custkey"))).alias("bit"))
        .distinct()
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    probes = o.select(
        F.col("o_custkey").alias("probe"), F.lit(1).alias("is_member")
    ).unionAll(
        o.select(
            (F.col("o_custkey") + 1000000).alias("probe"),
            F.lit(0).alias("is_member"),
        )
    )
    pb = probes.select(
        "probe", "is_member", F.explode(bits(F.col("probe"))).alias("bit")
    )
    hits = (
        pb.join(
            F.broadcast(member_bits.withColumn("present", F.lit(1))),
            "bit",
            "left",
        )
        .groupBy("probe", "is_member")
        .agg(F.sum(F.coalesce("present", F.lit(0))).alias("hits"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("is_member").alias("n_true_members"),
        F.sum(F.when(F.col("hits") == k, 1).otherwise(0)).alias("n_bloom_hits"),
        F.sum(
            F.when((F.col("hits") == k) & (F.col("is_member") == 0), 1).otherwise(0)
        ).alias("n_false_positives"),
        F.sum(
            F.when((F.col("hits") < k) & (F.col("is_member") == 1), 1).otherwise(0)
        ).alias("n_false_negatives"),
    )


@register(
    "agg_percentile_exact_scaffold",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice AS v,
             row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS r,
             count(*) OVER () AS n
      FROM lineitem),
    targets AS (
      SELECT p.p, greatest(CAST(1 AS BIGINT),
                           CAST(ceil(p.p * (SELECT max(n) FROM ranked))
                                AS BIGINT)) AS target
      FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                   (CAST(0.99 AS DOUBLE))) p(p))
    SELECT t.p AS pctile,
           CAST(max(rk.n) AS BIGINT) AS n,
           round(max(rk.v), 4) AS value
    FROM targets t JOIN ranked rk ON rk.r = t.target
    GROUP BY t.p
    """,
)
def agg_percentile_exact_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles (p50/p90/p99, lower discrete) computed
    the way a 100 TB engine must: Spark's exact `percentile` buffers
    every value in ONE aggregation state (the users-sized-combine
    failure mode SCALE.md flags), and approx_percentile trades away
    exactness. This key does neither — the two-pass range-partition
    rank scaffold (windows.global_rank, P-way parallel local sorts +
    a P-row offset table) assigns every row its exact global rank, and
    the percentiles are then a 3-row broadcast-joined rank lookup.
    Exactness at any scale, no data-sized state anywhere, ~one shuffle
    — the missing top rung of the percentile ladder (exact-per-group /
    approx-sketch / exact-global-distributed).

    Ties: rank keys include the row id, so the selected value is the
    canonical lower discrete percentile on both engines."""
    from basis_spark.operators.windows import global_rank

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
    )
    ranked = global_rank(li, "v", "l_orderkey", "l_linenumber")
    # n_total is by contract the plain row count — take it from a cheap
    # count over the input rather than a second full run of the
    # two-pass rank scaffold (guide §1.2: don't compute what you throw
    # away; the scaffold subtree is NOT reused across the two branches).
    targets = spark.createDataFrame(
        [(0.5,), (0.9,), (0.99,)], "p double"
    ).crossJoin(
        F.broadcast(li.agg(F.count(F.lit(1)).alias("n")))
    ).select(
        "p",
        F.greatest(
            F.lit(1).cast("long"), F.ceil(F.col("p") * F.col("n")).cast("long")
        ).alias("target"),
        F.col("n"),
    )
    return (
        ranked.join(
            F.broadcast(targets), F.col("rank") == F.col("target")
        )
        .groupBy(F.col("p").alias("pctile"))
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("v"), 4).alias("value"),
        )
    )
