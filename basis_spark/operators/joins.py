"""Joins (SURVEY.md §2.C): equi, multiway, outer, semi/anti, broadcast,
theta/range, interval self-join, as-of, cross.

Scale posture:
- Dimension tables (region/nation/supplier at any SF) are broadcast —
  explicitly via F.broadcast or implicitly via AQE + the 64 MB threshold.
- Big-big equi joins shuffle on the join key; AQE handles skew.
- The theta/range join keeps the small side broadcast (nested-loop over
  a broadcast relation, never a shuffled cartesian).
- The as-of join avoids a range join entirely: union + one window pass
  (single shuffle on user_id) — the classic scalable as-of formulation.
- The interval self-join is an equi-join on user_id with a range
  residual; at 100 TB you'd additionally bucket time (SURVEY §4) — the
  residual-filter shape here already co-locates by key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_path
from basis_spark.registry import register
from basis_spark.session import memo, pinned_shuffle_partitions


@register(
    "join_inner_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


# B2 — 5-way star join, revenue by nation (ASIA, 1996).
@register(
    "join_multiway_star",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           round(coalesce(spend, 0), 2) AS spend
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
        FROM orders GROUP BY o_custkey
    ) o ON c_custkey = o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("spend"))
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.round(F.coalesce(F.col("spend"), F.lit(0.0)), 2).alias("spend"),
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(a.k, b.k) AS k, a.n_cust, b.n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer
          WHERE c_nationkey < 15 GROUP BY c_nationkey) a
    FULL JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier
               WHERE s_nationkey >= 10 GROUP BY s_nationkey) b
    ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 15)
        .groupBy(F.col("c_nationkey").alias("ak"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    b = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 10)
        .groupBy(F.col("s_nationkey").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return a.join(b, a.ak == b.bk, "full").select(
        F.coalesce(F.col("ak"), F.col("bk")).alias("k"), "n_cust", "n_supp"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# B8 — anti join: customers with no RECENT orders, by segment. The slice
# matters: every customer has SOME order at sf0.01, so an unsliced anti
# join returns 0 rows and 0 == 0 would pass even with a wrong join type
# (VERDICT r1). The >= 2000 cut leaves ~27 customers per segment.
@register(
    "join_anti",
    oracle="""
    SELECT c_mktsegment, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT n_name, count(*) AS n_cust,
           CAST(sign(sum(CAST(round(c_acctbal * 100) AS BIGINT)))
                * floor(abs(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                            / CAST(count(*) AS DOUBLE)) + 0.5)
                AS BIGINT) / 100.0 AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit broadcast hint — plan asserted in tests/test_plans.py.
    # avg_bal is computed over EXACT integer cents with a sign-aware
    # floor-based half-up, not engine round(avg(...), 2): the r9
    # sf0.001 sweep caught a group whose float avg landed exactly on a
    # 2dp midpoint (4201.315), where Spark's shortest-decimal HALF_UP
    # said .32 and DuckDB's binary-value rounding said .31. The
    # sign-aware form (r9 advice) keeps half-up AWAY FROM ZERO for
    # negative means too — c_acctbal can be negative in TPC-H, and the
    # bare floor(x+0.5) form would round a negative midpoint toward
    # +inf, diverging from Spark's own round() semantics. Exact cents
    # also makes the money sum order-independent — the right posture
    # at any SF.
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    mean_cents = F.sum(cents).cast("double") / F.count(F.lit(1)).cast("double")
    half_up = F.signum(F.sum(cents).cast("double")) * F.floor(
        F.abs(mean_cents) + 0.5
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (half_up.cast("long") / 100.0).alias("avg_bal"),
        )
    )


@register(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, c_custkey, round(c_acctbal - s_acctbal, 2) AS bal_gap
    FROM supplier JOIN customer
      ON c_acctbal > s_acctbal AND c_acctbal <= s_acctbal + 10
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    cond = (c.c_acctbal > s.s_acctbal) & (c.c_acctbal <= s.s_acctbal + 10)
    # Broadcast the small side: BroadcastNestedLoopJoin, never a shuffled
    # cartesian. At 100 TB a band join would first bucket acctbal into
    # width-10 bins and equi-join bins (same rewrite as the interval join).
    return F.broadcast(s).join(c, cond).select(
        "s_suppkey", "c_custkey", F.round(c.c_acctbal - s.s_acctbal, 2).alias("bal_gap")
    )


@register(
    "join_interval_self",
    oracle="""
    SELECT a.event_id AS i, b.event_id AS j, a.user_id,
           date_diff('microsecond', CAST(a.ts AS TIMESTAMP), CAST(b.ts AS TIMESTAMP)) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 MINUTE
    """,
)
def join_interval_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The equi key (user_id) carries the join: Spark hash/merge-joins on it
    # and evaluates the range predicate inside each user's bucket, so there
    # is no cross-user nested loop. The coarse-time-bucket rewrite (§4) is
    # only needed when an interval join has NO equi key at all.
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = ev.alias("a")
    b = ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 MINUTE"))
    )
    return a.join(b, cond).select(
        F.col("a.event_id").alias("i"),
        F.col("b.event_id").alias("j"),
        F.col("a.user_id").alias("user_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )


@register(
    "join_asof",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, click_ts
    FROM (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        FROM events
    ) w
    WHERE event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join via the union+window trick (SURVEY §2.C join_asof):
    # one shuffle on user_id, no range join. Scales linearly.
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    return (
        ev.withColumn("click_ts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "click_ts")
    )


@register(
    "join_cross_small",
    oracle="""
    SELECT r_name, p_brand, n_parts
    FROM region
    CROSS JOIN (SELECT p_brand, count(*) AS n_parts FROM part
                GROUP BY p_brand ORDER BY n_parts DESC, p_brand LIMIT 5) b
    """,
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").select("r_name")
    top_brands = (
        load(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc("n_parts"), F.asc("p_brand"))
        .limit(5)
    )
    return r.crossJoin(F.broadcast(top_brands)).select("r_name", "p_brand", "n_parts")


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_custkey, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS spend,
           max(c.c_mktsegment) AS seg
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both sides pre-bucketed on the join key.

    `bucketBy(16, key).saveAsTable` writes hash-bucketed files with bucket
    metadata in the catalog; a join of two tables bucketed on the same key
    with the same bucket count needs NO exchange on either side — the
    100 TB pattern for repeatedly-joined fact/dim pairs (pay the shuffle
    once at write time, never at read time). tests/test_plans.py asserts
    the executed plan has zero Exchange operators under the join.
    """
    import re
    from urllib.parse import urlparse

    # Session-scoped table names (scratch_path's name, as an identifier):
    # the warehouse dir is shared across processes, and an un-scoped
    # name lets a concurrent harness's mode("overwrite") delete bucket
    # files this session is mid-read on.
    name = re.sub(r"\W", "_", os.path.basename(scratch_path(spark, "", sf_dir))).lower()
    ot, ct = f"orders_bkt_{name}", f"customer_bkt_{name}"
    cat = spark.catalog
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # collect other sessions' bucketed copies once they age out (the
    # appId scoping that prevents overwrite races also means each
    # session writes fresh tables; without GC the warehouse grows
    # forever). A stale dir under THIS session's name can't exist —
    # appIds are unique — and mode("overwrite") clears any partial
    # write from a crashed earlier attempt in this same session.
    from basis_spark.io import gc_stale_siblings

    gc_stale_siblings(wh, prefix="orders_bkt_", keep=ot)
    gc_stale_siblings(wh, prefix="customer_bkt_", keep=ct)
    if not cat.tableExists(ot):
        (
            load(spark, sf_dir, "orders")
            .select("o_custkey", "o_totalprice")
            .write.bucketBy(16, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(ot)
        )
    if not cat.tableExists(ct):
        (
            load(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.bucketBy(16, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(ct)
        )
    o, c = spark.table(ot), spark.table(ct)
    # merge hint: AQE would otherwise broadcast the small side and never
    # touch the buckets; on same-bucketed tables SMJ runs with no exchange
    # and no sort on either side (asserted in tests/test_plans.py).
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.max("c_mktsegment").alias("seg"),
        )
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n, round(sum(o.o_totalprice), 2) AS s
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salting — the AQE-independent answer to join skew.

    The build (small) side is exploded SALT ways; the probe side tags each
    row with hash(row_id) % SALT; the join key becomes (key, salt) so one
    hot key spreads over SALT reducers. AQE's skew-join split handles most
    real skew automatically (enabled in session.py); this operator keeps
    the manual pattern tested for the cases AQE can't see (skew created
    mid-plan, or deterministic-partitioning requirements). Values are
    identical to the plain join — the oracle checks exactly that.
    """
    salt_n = 8
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", (F.pmod(F.xxhash64("o_orderkey"), F.lit(salt_n))).cast("int")
    )
    c = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))))
    )
    return (
        o.join(
            c,
            (F.col("o_custkey") == F.col("c_custkey")) & (o.salt == c.salt),
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s"))
    )


@register(
    "join_lateral",
    oracle="""
    SELECT n.n_name, top.s_name, top.s_acctbal
    FROM nation n, LATERAL (
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier s
        WHERE s.s_nationkey = n.n_nationkey
        ORDER BY s.s_acctbal DESC, s.s_suppkey
        LIMIT 1) top
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (SQL surface parity): per nation, the
    top supplier by account balance via a correlated ORDER BY LIMIT 1
    subquery. Catalyst decorrelates this into a ranked window join —
    same physical shape as win_row_number_topk, written the way a SQL
    user would.
    """
    return spark.sql(
        """
        SELECT n.n_name, top.s_name, top.s_acctbal
        FROM {nation} n, LATERAL (
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal
            FROM {supplier} s
            WHERE s.s_nationkey = n.n_nationkey
            ORDER BY s.s_acctbal DESC, s.s_suppkey
            LIMIT 1) top
        """,
        nation=load(spark, sf_dir, "nation"),
        supplier=load(spark, sf_dir, "supplier"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN click_ts >= CAST(ts AS TIMESTAMP) - INTERVAL 1 HOUR
                THEN click_ts END AS click_ts
    FROM (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        FROM events
    ) w
    WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a lookback tolerance (pandas merge_asof
    `tolerance=`, kdb wj): each purchase gets the latest prior click
    only if it happened within the last hour — stale matches become
    NULL instead of silently attributing week-old clicks.

    Same union+window plan as join_asof (one user_id shuffle, no range
    join, linear at any scale); the tolerance is a post-window NULL-out,
    not a join predicate, so the plan is unchanged."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    return (
        ev.withColumn("click_ts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(
                F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"),
                F.col("click_ts"),
            ).alias("click_ts"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_nationkey END AS nk
        FROM customer),
    n AS (
        SELECT n_nationkey AS nk, n_name FROM nation
        UNION ALL SELECT NULL, 'UNKNOWN')
    SELECT c.c_custkey, n.n_name
    FROM c JOIN n ON c.nk IS NOT DISTINCT FROM n.nk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    a designated NULL dimension row instead of silently dropping — the
    standard "unknown member" dimensional-modeling pattern.

    NULLs are injected deterministically (every 50th customer) and the
    dim gains an UNKNOWN row. Spark plans eqNullSafe as an ordinary
    hash join (null-safe keys hash like values), so the dim still
    broadcasts — no fallback to nested loops."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 50 == 0, F.lit(None)).otherwise(
            F.col("c_nationkey")
        ).alias("nk"),
    )
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    unknown = nation.sparkSession.createDataFrame(
        [(None, "UNKNOWN")], "nk INT, n_name STRING"
    )
    dim = nation.unionByName(unknown)
    return cust.join(F.broadcast(dim), cust.nk.eqNullSafe(dim.nk)).select(
        "c_custkey", "n_name"
    )


@register(
    "join_existence_flag",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderdate >= TIMESTAMP '2000-01-01') AS has_recent
    FROM customer c
    """,
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag ("mark") join: keep EVERY left row and add a
    boolean for subquery match — what SQL EXISTS in a SELECT list
    compiles to. Neither semi nor anti alone does this; the
    distinct-keys left join is the scalable form (the flag side
    shuffles only distinct customer keys, and broadcast applies when
    small)."""
    cust = load(spark, sf_dir, "customer")
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return cust.join(recent, "c_custkey", "left_outer").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("_hit", F.lit(False)).alias("has_recent"),
    )


@register(
    "join_runtime_prefilter",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9000
    GROUP BY 1
    """,
)
def join_runtime_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: a selective dim predicate becomes a bucket
    prefilter on the fact BEFORE the real join — the hand-rolled form
    of Spark's runtime bloom/semi filters (this build doesn't register
    bloom_filter_agg as a SQL function).

    Build side: distinct xxhash64-bucket ids of the qualifying customer
    keys (a few-KB int set regardless of fact size). The fact stream
    broadcast-SEMI-joins on its own key's bucket — a map-side probe
    that discards most non-qualifying orders before they reach the real
    join's shuffle/build. The prefilter passes a superset (bucket
    collisions), so the exact equi-join after it keeps semantics
    identical to the plain join the oracle runs; at 100 TB the win is
    shuffle width, cut to ~selectivity of the dim predicate. The bucket
    space scales with the build side (next power of two >= 32x the
    qualifying-key count, floor 2^13): a FIXED space saturates once the
    build side outgrows it and the prefilter passes ~everything while
    still charging a hash per fact row. The broadcast stays small
    either way — it is the <= n distinct bucket ids, not the space."""
    cust_hi = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_mktsegment")
    )
    n_keys = cust_hi.count()  # dim-sized count, one cheap job
    M = 1 << max(13, (32 * max(n_keys, 1) - 1).bit_length())
    buckets = cust_hi.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(M)).alias("b")
    ).distinct()
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    pre = o.withColumn("b", F.pmod(F.xxhash64("o_custkey"), F.lit(M))).join(
        F.broadcast(buckets), "b", "left_semi"
    )
    return (
        pre.join(F.broadcast(cust_hi), pre.o_custkey == cust_hi.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_band_bucketed",
    oracle="""
    SELECT s_suppkey, c_custkey, round(c_acctbal - s_acctbal, 2) AS bal_gap
    FROM supplier JOIN customer
      ON c_acctbal > s_acctbal AND c_acctbal <= s_acctbal + 10
    """,
)
def join_band_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band join's SCALE form (join_theta_range documents this
    rewrite; this key implements it): bucket the band column into
    band-width bins and EQUI-join on the bin, then refine with the
    exact predicate. A row of s can only match c rows in its own bin or
    the next (c in (s, s+10] with width-10 bins), so the supplier side
    explodes x2 and the join becomes a plain shuffled equi-join —
    candidate width is band occupancy, not |S|x|C|, and no side needs
    to broadcast. Same rows as the nested-loop form, plan-asserted
    shuffle join (tests/test_plans.py)."""
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s2 = s.withColumn(
        "bin",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / 10),
                F.floor(F.col("s_acctbal") / 10) + 1,
            )
        ),
    )
    c2 = c.withColumn("bin", F.floor(F.col("c_acctbal") / 10))
    cond = (F.col("c_acctbal") > F.col("s_acctbal")) & (
        F.col("c_acctbal") <= F.col("s_acctbal") + 10
    )
    return (
        s2.hint("shuffle_hash")
        .join(c2, "bin")
        .filter(cond)
        .select(
            "s_suppkey",
            "c_custkey",
            F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias("bal_gap"),
        )
    )


@register(
    "join_point_in_time_state",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type <> 'purchase' THEN event_type END AS state,
               CASE WHEN event_type = 'purchase' THEN event_id END AS purchase_id
        FROM events),
    x AS (
        SELECT user_id, ts, event_id, purchase_id,
               last_value(state IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS state_at
        FROM u)
    SELECT purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts, state_at
    FROM x WHERE purchase_id IS NOT NULL AND state_at IS NOT NULL
    """,
)
def join_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join of facts to an SCD2-style state
    stream: each purchase is joined to the browsing state (last
    non-purchase event type) the user was in strictly before it — the
    ML-feature-store rule that forbids looking into the future.

    Same union + ignore-nulls-last window shape as join_asof: both
    sides land in ONE user_id shuffle and a streaming frame resolves
    every fact against the interval covering it — no range join, no
    per-fact dim probe. Equivalent to joining the materialized
    incremental_scd2 intervals on valid_from <= ts < valid_to, but the
    fused form never builds the interval table."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("state"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias(
            "purchase_id"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = u.withColumn("state_at", F.last("state", ignorenulls=True).over(w))
    return x.filter(
        F.col("purchase_id").isNotNull() & F.col("state_at").isNotNull()
    ).select("purchase_id", "user_id", "ts", "state_at")


@register(
    "join_asof_forward_nearest",
    oracle="""
    WITH w AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS back_ts,
               min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fwd_ts
        FROM events)
    SELECT user_id, event_id, ts, back_ts, fwd_ts,
           CASE WHEN back_ts IS NULL THEN fwd_ts
                WHEN fwd_ts IS NULL THEN back_ts
                WHEN epoch(ts - back_ts) <= epoch(fwd_ts - ts) THEN back_ts
                ELSE fwd_ts END AS nearest_ts
    FROM w WHERE event_type = 'purchase'
    """,
)
def join_asof_forward_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join direction variants (pandas merge_asof direction=
    'backward'|'forward'|'nearest' parity) in ONE pass: the backward
    match is the running max over the preceding frame (join_asof's
    shape), the forward match is the running min over the FOLLOWING
    frame on the same sort — both frames are streaming aggregates over
    one user_id sort, so adding the forward direction costs zero extra
    shuffles — and 'nearest' is arithmetic over the two. Ties (equal
    gap both sides) resolve backward, matching pandas."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    order = [F.col("ts"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.max(click_ts).over(wb).alias("back_ts"),
        F.min(click_ts).over(wf).alias("fwd_ts"),
    )
    # Exact integer microseconds, not double casts: a double holds 2024
    # epochs to only ~0.5us ulp, enough to flip the backward tie-break
    # on an exactly-equidistant pair. Same pattern as join_asof above.
    back_gap = F.unix_micros("ts") - F.unix_micros("back_ts")
    fwd_gap = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    nearest = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(back_gap <= fwd_gap, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    return w.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "back_ts", "fwd_ts", nearest.alias("nearest_ts")
    )


@register(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer)
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 4) AS dist
    FROM pts a JOIN pts b
      ON a.c_custkey < b.c_custkey
     AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 100.0
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial self-join: all customer pairs within
    euclidean distance 10 on a deterministic 1000x1000 plane (coords
    md5-derived from custkey, so both engines see identical points —
    the fixture has no geo columns).

    The scale pattern every spatial engine uses: hash each point into a
    d-sized grid cell, replicate the LEFT side into its 3x3 neighbor
    cells (a bounded x9 fan-out, not a cross join), equi-join on cell
    id, then the exact distance filter. The oracle is the brute-force
    O(n^2) pair join — feasible at sf0.01 (1500 points), quadratic-dead
    at 100 TB, which is exactly the gap the grid join closes: cost is
    O(n x density per cell) with one shuffle on cell id. Distances
    compare as squared doubles on identical inputs, so the candidate
    set and the 4dp-rounded output match the oracle bit-for-bit."""
    pairs = _grid_close_pairs(spark, sf_dir, d_max=10.0)
    return pairs.select(
        F.col("u").alias("cust_a"),
        F.col("v").alias("cust_b"),
        F.round(F.sqrt("d2"), 4).alias("dist"),
    )


def _grid_close_pairs(spark: SparkSession, sf_dir: str, d_max: float) -> DataFrame:
    """All customer pairs within euclidean distance d_max on the
    deterministic md5 plane, as (u, v, d2) with u < v — the ONE
    implementation of the coord scheme / cell packing / 3x3 neighbor
    explode, shared by join_spatial_grid (d_max=10) and the proximity
    graph family (d_max=15) so the plane geometry can never silently
    diverge between them. One shuffle on cell id; the x9 left-side
    fan-out is bounded, never a cross join. The 1024 cell-packing
    multiplier is safe for any d_max >= 1 on the 1000x1000 plane
    (cell ordinates stay below 1001)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")

    def coord(salt: str):
        v = F.conv(
            F.substring(F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt))), 1, 13),
            16,
            10,
        ).cast("long")
        return (v % 1000000) / 1000.0

    pts = cust.select("c_custkey", coord("x").alias("x"), coord("y").alias("y"))
    cell = lambda c: F.floor(c / d_max).cast("long")  # noqa: E731
    right = pts.select(
        F.col("c_custkey").alias("v"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        (cell(F.col("x")) * 1024 + cell(F.col("y"))).alias("cell"),
    )
    neigh = F.explode(
        F.array(
            *[
                (cell(F.col("x")) + dx) * 1024 + (cell(F.col("y")) + dy)
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    left = pts.select(
        F.col("c_custkey").alias("u"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        neigh.alias("cell"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        left.join(right, "cell")
        .filter((F.col("u") < F.col("v")) & (d2 <= d_max * d_max))
        .select("u", "v", d2.alias("d2"))
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer),
    e AS (SELECT a.k AS u, b.k AS v FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0),
    tri AS (SELECT e1.u, e1.v, e2.v AS w
            FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT node, count(*) AS n_tri FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri) t
    GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the distance-15 proximity graph
    (same deterministic md5 plane as join_spatial_grid) — the clustering
    primitive behind community/cohesion metrics.

    Distributed triangle enumeration with DEGREE ordering
    (node-iterator++): edges are oriented low-degree endpoint →
    high-degree endpoint, wedges form only at each triangle's
    minimum-degree vertex, and the closing equi-join runs against the
    undirected edge list. All stages are hash joins on edge-sized
    relations — never a cartesian — and per-vertex wedge fan-out is
    capped at O(sqrt(|E|)) even on power-law graphs (a hub's edges all
    point INTO it, so it emits no wedges; property-tested with a
    1000-edge hub in tests/test_graph_cc.py). Edge generation reuses
    the grid-bucketed spatial join, so no O(n^2) stage anywhere."""
    e = proximity_edges(spark, sf_dir)
    return triangles_per_node(e)


def proximity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected u < v edge list of the distance-15 proximity graph
    over the deterministic md5 plane (shared by graph_triangle_count,
    graph_degree_distribution and graph_jaccard_neighbors). Grid-
    bucketed candidate join — each point probes its 3x3 neighbor cells
    — so edge generation is an equi-join on cell, never O(n^2).
    Memoized per (session, sf_dir): three operators call this, and the
    eager localCheckpoint at the end runs a full Spark job at
    DataFrame-construction time — without the memo a sweep pays the
    md5/grid/join computation three times and pins three copies of the
    checkpoint blocks."""
    return memo(
        spark,
        ("proximity_edges", os.path.abspath(sf_dir)),
        lambda: _grid_close_pairs(spark, sf_dir, d_max=15.0)
        .select("u", "v")
        .localCheckpoint(),  # edges reused by the degree + closing joins
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer),
    e AS (SELECT a.k AS u, b.k AS v FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0),
    deg AS (SELECT n, count(*) AS d FROM (
              SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
            GROUP BY n)
    SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
           min(n) AS min_node
    FROM deg GROUP BY d
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the proximity graph — the first diagnostic
    run on any real-world graph, because its tail DECIDES the physical
    strategy for everything downstream (a power-law tail means the
    wedge joins must be degree-ordered and the hot vertices salted;
    see degree_oriented_edges). Two hash aggregations over the
    edge-sized relation: per-node degree, then nodes per degree —
    both map-side-combinable, no window, no skew amplification (the
    second groupBy key is the degree, whose cardinality is tiny)."""
    e = proximity_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("n").alias("min_node")
    )


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """Orient an undirected edge list (u, v) from its LOWER-degree
    endpoint to its higher-degree endpoint (ties broken by node id).

    This is the node-iterator++ orientation: every wedge is generated at
    its lowest-degree vertex, so per-vertex fan-out is bounded by
    O(sqrt(|E|)) on ANY graph — a hub with d neighbors never becomes a
    wedge center, because all its edges point INTO it. With the naive
    u < v orientation a power-law hub of degree d would emit C(d, 2)
    wedges; degree ordering is what makes triangle counting survive
    skewed real-world graphs (see tests/test_graph_cc.py hub test)."""
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ed.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def triangles_per_node(e: DataFrame) -> DataFrame:
    """Per-node triangle counts of an undirected u < v edge list.

    Wedges form at the degree-ordered low endpoint (src, b, c with
    b < c), then close against the undirected edge set (b, c) — one
    shuffle-join keyed on src for wedges, one on (b, c) to close. Each
    triangle is found exactly once (at its minimum-degree vertex), and
    no stage is quadratic in any vertex's degree."""
    oriented = degree_oriented_edges(e).localCheckpoint()
    w2 = oriented.select("src", F.col("dst").alias("dst2"))
    wedges = oriented.join(w2, "src").filter(F.col("dst") < F.col("dst2"))
    tri = wedges.join(
        e.select(F.col("u").alias("dst"), F.col("v").alias("dst2")),
        ["dst", "dst2"],
    ).select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst2").alias("c")
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


@register(
    "graph_jaccard_neighbors",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer),
    e AS (SELECT a.k AS u, b.k AS v FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0),
    adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT a AS n, count(*) AS d FROM adj GROUP BY 1),
    cmn AS (SELECT e.u, e.v, count(*) AS common
            FROM e JOIN adj a1 ON a1.a = e.u JOIN adj a2 ON a2.a = e.v AND a2.b = a1.b
            GROUP BY e.u, e.v)
    SELECT e.u, e.v, CAST(coalesce(c.common, 0) AS BIGINT) AS common,
           round(CAST(coalesce(c.common, 0) AS DOUBLE)
                 / (du.d + dv.d - coalesce(c.common, 0)), 6) AS jaccard
    FROM e LEFT JOIN cmn c ON e.u = c.u AND e.v = c.v
    JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity for every edge — the classic
    link-prediction / tie-strength score (|N(u) ∩ N(v)| over the union).
    Common neighbors come from ONE wedge equi-join (adjacency joined to
    itself on the shared endpoint), never a set-intersection per pair:
    each common neighbor w of an edge contributes exactly one row to
    the count. All relations are edge-sized; per-vertex fan-out is the
    degree, so on a power-law graph this inherits the same remedy the
    triangle counter uses (degree-ordering/salting the hub side; the
    fixture's proximity graph is benign, dq_key_skew_report is the
    gate that decides)."""
    e = proximity_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    cmn = (
        e.join(adj.select(F.col("a").alias("u"), F.col("b").alias("w")), "u")
        .join(adj.select(F.col("a").alias("v"), F.col("b").alias("w")), ["v", "w"])
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    c = F.coalesce(F.col("common"), F.lit(0))
    return (
        e.join(cmn, ["u", "v"], "left")
        .join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            c.cast("long").alias("common"),
            F.round(c.cast("double") / (F.col("du") + F.col("dv") - c), 6).alias(
                "jaccard"
            ),
        )
    )


@register(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SHUFFLE_HASH join hint — the steering wheel for 100 TB
    joins where the optimizer's default is wrong: a sort-merge join
    pays two sorts it doesn't need when one side hashes into memory per
    partition, and a broadcast would OOM the driver. The hint forces
    ShuffledHashJoin (plan-asserted in tests/test_plans.py) while the
    result stays identical to the unhinted plan — which is exactly what
    the oracle checks. Hints are plan DIRECTIVES, not semantics; this
    key pins both halves of that contract."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
    )


@register(
    "join_fuzzy_name",
    oracle="""
    WITH n AS (SELECT p_name, count(*) AS cnt, string_split(p_name, ' ')[1] AS blk
               FROM part GROUP BY 1),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             CAST(a.cnt AS BIGINT) AS n_a, CAST(b.cnt AS BIGINT) AS n_b
      FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3)
    SELECT * FROM pairs
    """,
)
def join_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: candidate names within Levenshtein
    3, generated per BLOCK (shared first token) over the DEDUPLICATED
    name dictionary — the standard two-level ER shape. Order matters at
    scale: dedup to distinct names FIRST (the dictionary is vocabulary-
    sized, orders of magnitude smaller than the records), block with an
    equi-join key so candidate generation is a hash join (never
    all-pairs), and only then pay the edit-distance — a JVM builtin —
    on candidates. Record counts ride along so the match pairs can be
    expanded back to record space by a cheap keyed join."""
    p = load(spark, sf_dir, "part")
    n = (
        p.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("blk", F.split("p_name", " ")[0])
    )
    a = n.select(
        F.col("p_name").alias("name_a"), F.col("cnt").alias("n_a"), "blk"
    )
    b = n.select(
        F.col("p_name").alias("name_b"), F.col("cnt").alias("n_b"), "blk"
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= 3)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("dist"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
        )
    )


# Proximity-graph pts/e CTE shared with the other graph oracles (kept
# verbatim so DuckDB computes the identical md5-plane edge list).
_PROX_E_CTE = """
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer),
    e AS MATERIALIZED (SELECT a.k AS u, b.k AS v FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0)"""

_KCORE_K = 3
_KCORE_ORACLE_ROUNDS = 10  # peeling is idempotent after convergence, so
# unrolling MORE rounds than the fixpoint needs cannot change the
# answer; tests/test_graph_cc.py pins convergence <= this at sf0.01.


def _kcore_oracle() -> str:
    """Unrolled peeling: each round drops nodes with degree < k and the
    edges touching them. A recursive CTE cannot express 'recompute the
    whole relation per round' (it only appends), so the oracle unrolls
    a fixed number of rounds — sound because peeling is monotone and
    idempotent at the fixpoint."""
    parts = [_PROX_E_CTE]
    prev = "e"
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (SELECT node, count(*) AS c FROM (
            SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) t
            GROUP BY node),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {_KCORE_K}),
    g{i} AS MATERIALIZED (SELECT u, v FROM {prev}
             WHERE u IN (SELECT node FROM k{i})
               AND v IN (SELECT node FROM k{i}))"""
        )
        prev = f"g{i}"
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS deg_in_core FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) t
    GROUP BY node"""
    )


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the proximity graph: iteratively peel nodes of degree
    < k until the survivor set is stable, then report each surviving
    node's degree within the core — the standard cohesion filter that
    strips hair/tendrils off a graph before community or fraud
    analysis.

    Distributed shape: each peel round is one edge-sized degree
    aggregation plus two semi-joins of the edge list against the
    surviving-node set — all hash operations, no cartesian, no
    data-sized collect. The fixpoint test is an edge COUNT per round
    (a scalar). Rounds are O(peel depth), typically <= ~10 on
    real graphs; each round's result is localCheckpoint-ed so lineage
    (and thus plan size) stays constant across iterations — the same
    iterate-with-checkpoint contract as graph_pagerank and
    dedup_cluster_cc. At 100 TB the edge list shrinks monotonically
    per round, so later rounds are cheaper than earlier ones."""
    cur = proximity_edges(spark, sf_dir)
    n_edges = cur.count()
    for _ in range(32):  # safety cap far above any real peel depth
        if n_edges == 0:
            break
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = deg.filter(F.col("c") >= _KCORE_K).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        n_next = nxt.count()
        if n_next == n_edges:
            break
        cur, n_edges = nxt, n_next
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg_in_core"))
    )


@register(
    "join_geo_haversine_grid",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 * 0.06 - 30.0 AS lat,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 * 0.12 - 60.0 AS lon
        FROM customer),
    d AS (
        SELECT a.k AS u, b.k AS v,
               2 * 6371.0 * asin(sqrt(
                   sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
                   + cos(radians(a.lat)) * cos(radians(b.lat))
                     * sin(radians(b.lon - a.lon) / 2)
                     * sin(radians(b.lon - a.lon) / 2))) AS km
        FROM pts a JOIN pts b ON a.k < b.k)
    SELECT u, v, round(km, 3) AS km FROM d WHERE km <= 150.0
    """,
)
def join_geo_haversine_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical proximity join: all customer pairs within 150 km
    GREAT-CIRCLE distance on deterministic md5-derived coordinates
    (lat in [-30, 30), lon in [-60, 60)) — the geo twin of
    join_spatial_grid, which is planar. Candidates come from a
    2-degree lat/lon grid with a 3x3 neighbor probe, sized so the
    150 km threshold is covered at the worst-case latitude (150 km of
    longitude at lat 30 is 1.56 degrees < 2), then the exact haversine
    re-ranks — grid prunes, NEVER decides, the same
    candidates-then-exact contract as every dedup/similarity operator
    here. One equi-join shuffle on cell id, bounded x9 fan-out, no
    cartesian anywhere; the brute-force DuckDB oracle proves the grid
    missed nothing at sf0.01."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")

    def coord(salt: str):
        v = F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        return (v % 1000000) / 1000.0

    pts = cust.select(
        "c_custkey",
        (coord("x") * 0.06 - 30.0).alias("lat"),
        (coord("y") * 0.12 - 60.0).alias("lon"),
    )
    cell_lat = lambda c: F.floor(c / 2.0).cast("long")  # noqa: E731
    cell_lon = lambda c: F.floor(c / 2.0).cast("long")  # noqa: E731
    pack = lambda la, lo: (la + 64) * 4096 + (lo + 64)  # noqa: E731
    right = pts.select(
        F.col("c_custkey").alias("v"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        pack(cell_lat(F.col("lat")), cell_lon(F.col("lon"))).alias("cell"),
    )
    neigh = F.explode(
        F.array(
            *[
                pack(cell_lat(F.col("lat")) + dy, cell_lon(F.col("lon")) + dx)
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    )
    left = pts.select(
        F.col("c_custkey").alias("u"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
        neigh.alias("cell"),
    )
    dlat = F.radians(F.col("blat") - F.col("alat")) / 2
    dlon = F.radians(F.col("blon") - F.col("alon")) / 2
    km = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.sin(dlat) * F.sin(dlat)
                + F.cos(F.radians("alat"))
                * F.cos(F.radians("blat"))
                * F.sin(dlon)
                * F.sin(dlon)
            )
        )
    )
    return (
        left.join(right, "cell")
        .filter(F.col("u") < F.col("v"))
        .withColumn("km", km)
        .filter(F.col("km") <= 150.0)
        .select("u", "v", F.round("km", 3).alias("km"))
    )


_BFS_HOPS = 4  # bounded-depth BFS: "within H hops" is the declared
# semantics on BOTH engines, so the oracle unrolls exactly H rounds —
# no convergence question, unlike the kcore peel.


def _bfs_oracle() -> str:
    """Multi-source BFS min-hop distances, unrolled H rounds over the
    shared proximity-graph CTE. Round i's relation is exactly
    'min hops <= i', so H MATERIALIZED rounds compute the bounded-depth
    answer; expanding from ALL settled nodes (not just the frontier)
    is redundant work but identical output — and it keeps every round
    the same two-line shape."""
    parts = [
        _PROX_E_CTE,
        """nbr AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    d0 AS MATERIALIZED (
        SELECT k AS node, 0 AS d FROM pts WHERE k % 97 = 0)""",
    ]
    prev = "d0"
    for i in range(1, _BFS_HOPS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
        SELECT node, min(d) AS d FROM (
            SELECT node, d FROM {prev}
            UNION ALL
            SELECT nb.v AS node, p.d + 1 AS d
            FROM {prev} p JOIN nbr nb ON nb.u = p.node
        ) t GROUP BY node)"""
        )
        prev = f"d{i}"
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT node, CAST(d AS BIGINT) AS hops FROM {prev}"""
    )


def _relax_min(
    dist: DataFrame, nbr: DataFrame, hops: int, step, width_rows: int,
    *keys: str, rows_per_partition: int = 500_000,
) -> DataFrame:
    """`hops` rounds of min-relaxation of `dist` (*keys, node, d) over
    the neighbor list `nbr` (u, v, ...): each round joins the settled
    table to `nbr`, offers d + `step` to every neighbor v, and keeps the
    min d per (*keys, node). min() makes re-expanding settled nodes
    idempotent, so no frontier is tracked; localCheckpoint cuts the
    lineage every round. The state is graph-sized, so the loop's
    shuffle width is pinned to `width_rows` instead of paying
    session-width task launches every round."""
    spark = dist.sparkSession
    with pinned_shuffle_partitions(spark, width_rows, rows_per_partition):
        for _ in range(hops):
            expanded = dist.join(nbr, dist["node"] == nbr["u"]).select(
                *keys, F.col("v").alias("node"), (F.col("d") + step).alias("d")
            )
            dist = (
                dist.unionAll(expanded)
                .groupBy(*keys, "node")
                .agg(F.min("d").alias("d"))
                .localCheckpoint()
            )
    return dist


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search: min hop distance from any
    seed node (custkey % 97 == 0) within _BFS_HOPS hops of the
    proximity graph — the reachability primitive behind influence
    radii, blast-radius analysis, and feature generation ("distance
    to nearest flagged account"). Each round is ONE hash join of the
    settled-distance table against the neighbor list plus a min-
    aggregation — no frontier bookkeeping needed because min() makes
    re-expansion idempotent; localCheckpoint per round cuts lineage
    exactly as the kcore/pagerank/cc loops do. Bounded depth is the
    declared contract (at 100 TB an unbounded BFS is a diameter-many
    barrier chain; bounded-H is what production feature pipelines
    ship), which also makes the unrolled SQL oracle exact rather than
    convergence-dependent."""
    edges = proximity_edges(spark, sf_dir)
    nbr = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    dist = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("node"), F.lit(0).alias("d"))
    )
    dist = _relax_min(dist, nbr, _BFS_HOPS, F.lit(1), edges.count())
    return dist.select("node", F.col("d").cast("long").alias("hops"))


@register(
    "graph_local_clustering",
    oracle=_PROX_E_CTE
    + """,
    tri AS (SELECT e1.u, e1.v, e2.v AS w
            FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    tcnt AS (SELECT node, count(*) AS n_tri FROM (
                 SELECT u AS node FROM tri
                 UNION ALL SELECT v FROM tri
                 UNION ALL SELECT w FROM tri) t
             GROUP BY node),
    deg AS (SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
            GROUP BY node)
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_tri,
           round(2.0 * coalesce(tcnt.n_tri, 0) / (deg.d * (deg.d - 1)), 6)
               AS lcc
    FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    WHERE deg.d >= 2
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: closed wedges / possible
    wedges = 2*triangles / (deg*(deg-1)) — the node-level cohesion
    metric (global triangle counts say a graph HAS communities; lcc
    says WHICH nodes sit inside one vs bridge between them).

    Composition of two already-scale-shaped pieces over the shared
    proximity edge list: the degree-ordered triangle enumeration
    (each triangle found exactly once, wedge fan-out bounded
    O(sqrt|E|)) and the two-hash-agg degree count, joined node-keyed.
    Restricted to deg >= 2 where the coefficient is defined — no
    divide-by-zero row to special-case in either engine."""
    e = proximity_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri = triangles_per_node(e)
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.round(
                2.0
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("lcc"),
        )
    )


_WSSSP_HOPS = 4  # bounded-depth relaxation: same contract as _BFS_HOPS


def _wsssp_oracle() -> str:
    """Bounded Bellman-Ford, unrolled _WSSSP_HOPS relax rounds over the
    weighted proximity edges. Each round re-mins over (settled UNION
    settled+edge), so the unrolled form is exactly 'min cost over paths
    of <= H edges' — convergence-free, hence SQL-exact. Weights are
    sqrt() of the same doubles both engines derive from md5, and every
    candidate cost is built by the identical left-to-right add chain,
    so min() sees bit-identical candidates (rounded at 6dp anyway)."""
    parts = [
        _PROX_E_CTE,
        """ew AS MATERIALIZED (
        SELECT a.k AS u, b.k AS v,
               sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS w
        FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0),
    nbrw AS MATERIALIZED (
        SELECT u, v, w FROM ew UNION ALL SELECT v AS u, u AS v, w FROM ew),
    d0 AS MATERIALIZED (
        SELECT k AS node, CAST(0 AS DOUBLE) AS d FROM pts WHERE k % 97 = 0)""",
    ]
    prev = "d0"
    for i in range(1, _WSSSP_HOPS + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
        SELECT node, min(d) AS d FROM (
            SELECT node, d FROM {prev}
            UNION ALL
            SELECT nb.v AS node, p.d + nb.w AS d
            FROM {prev} p JOIN nbrw nb ON nb.u = p.node
        ) t GROUP BY node)"""
        )
        prev = f"d{i}"
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT node, round(d, 6) AS cost FROM {prev}"""
    )


@register("graph_sssp_weighted_bounded", oracle=_wsssp_oracle())
def graph_sssp_weighted_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest path (bounded Bellman-Ford):
    min Euclidean path cost from any seed (custkey % 97 == 0) within
    _WSSSP_HOPS edges of the proximity graph — the weighted sibling of
    graph_bfs_distance (min COST vs min HOPS; routing cost, trust
    propagation, weighted blast radius).

    Each round relaxes every settled node through the weighted
    neighbor list: one hash join + one min-aggregation, re-relaxation
    made idempotent by min() (no frontier set to track), lineage cut
    per round with localCheckpoint. Bounded H is the declared contract
    (production feature pipelines ship bounded-depth costs; unbounded
    SSSP is a diameter-length barrier chain) and is what makes the
    unrolled oracle exact rather than convergence-dependent."""
    ew = _grid_close_pairs(spark, sf_dir, d_max=15.0).select(
        "u", "v", F.sqrt("d2").alias("w")
    )
    nbrw = ew.unionAll(
        ew.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()
    dist = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("node"), F.lit(0.0).alias("d"))
    )
    dist = _relax_min(dist, nbrw, _WSSSP_HOPS, F.col("w"), nbrw.count())
    return dist.select("node", F.round("d", 6).alias("cost"))


_LPA_ROUNDS = 2  # bounded synchronous rounds: deterministic, SQL-exact


def _lpa_label_ctes() -> tuple[list[str], str]:
    """CTE chain producing the final (node, label) table of bounded
    synchronous label propagation — shared by graph_label_propagation's
    oracle and graph_community_modularity's (which scores the SAME
    partition, so the two oracles can never drift apart). Returns the
    CTE parts and the name of the final label CTE."""
    parts = [
        _PROX_E_CTE,
        """nbr AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    l0 AS MATERIALIZED (
        SELECT DISTINCT u AS node, u AS label FROM nbr)""",
    ]
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
        SELECT nb.u AS node, l.label, count(*) AS c
        FROM nbr nb JOIN {prev} l ON l.node = nb.v
        GROUP BY nb.u, l.label),
    l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label) AS rnk
            FROM c{i}) t WHERE rnk = 1)"""
        )
        prev = f"l{i}"
    return parts, prev


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: every node starts
    labeled with its own id; each round it adopts the most frequent
    label among its neighbors, ties to the smallest label. Bounded
    rounds (not convergence) is the declared contract — synchronous
    LPA can oscillate, so production runs fix the round budget, which
    is also exactly what makes the unrolled oracle well-defined."""
    parts, prev = _lpa_label_ctes()
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS min_node
    FROM {prev} GROUP BY label"""
    )


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by bounded synchronous label propagation
    over the proximity graph — the near-linear community algorithm
    (Raghavan et al. 2007) that needs no modularity objective and no
    edge weights: start every node at its own label, repeat 'adopt
    your neighbors' majority label (ties to the smallest)' for a fixed
    round budget, then read communities off the surviving labels.
    Completes the graph family's community axis next to the
    CONNECTIVITY axis (dedup_cluster_cc) and the COHESION axis
    (k-core, clustering coefficient).

    Each round is one hash join of the |2E| neighbor list against the
    |V| label table, a (node, label)-keyed count, and a
    WindowGroupLimit-shaped argmax per node — two shuffles per round,
    lineage cut with localCheckpoint exactly like the kcore/BFS/SSSP
    loops. Synchronous rounds (not async convergence) keep the result
    deterministic and the unrolled SQL oracle exact."""
    labels = _lpa_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_node"),
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final (node, label) assignment of the bounded synchronous LPA —
    the Spark twin of _lpa_label_ctes, shared by
    graph_label_propagation and graph_community_modularity."""
    e = proximity_edges(spark, sf_dir)
    nbr = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = nbr.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # r11: graph-sized loop — pin the per-round shuffle width to the
    # (checkpointed) neighbor-list volume (guide §2).
    with pinned_shuffle_partitions(spark, nbr.count()):
        for _ in range(_LPA_ROUNDS):
            counts = (
                nbr.join(labels, nbr["v"] == labels["node"])
                .select(F.col("u").alias("n2"), "label")
                .groupBy("n2", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = Window.partitionBy("n2").orderBy(F.col("c").desc(), F.col("label"))
            labels = (
                counts.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") == 1)
                .select(F.col("n2").alias("node"), "label")
                .localCheckpoint()
            )
    return labels


def _modularity_oracle() -> str:
    """Newman modularity of the LPA partition, on the same unrolled
    label chain: Q_c = intra_c/m - (deg_c/(2m))^2 per community, where
    m = |E| of the proximity graph restricted to labeled (non-isolated)
    nodes — isolated nodes never enter LPA, so every edge endpoint is
    labeled and m is just |e|."""
    parts, prev = _lpa_label_ctes()
    return (
        ",\n    ".join(parts)
        + f""",
    m AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
    intra AS MATERIALIZED (
        SELECT lu.label AS community, count(*) AS intra_edges
        FROM e JOIN {prev} lu ON lu.node = e.u
               JOIN {prev} lv ON lv.node = e.v
        WHERE lu.label = lv.label GROUP BY lu.label),
    degsum AS MATERIALIZED (
        SELECT l.label AS community, count(*) AS degree_sum
        FROM nbr JOIN {prev} l ON l.node = nbr.u GROUP BY l.label)
    SELECT d.community,
           CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           CAST(d.degree_sum AS BIGINT) AS degree_sum,
           round(coalesce(i.intra_edges, 0) / m.m
                 - (d.degree_sum / (2 * m.m)) * (d.degree_sum / (2 * m.m)),
                 6) + 0.0 AS contribution
    FROM degsum d LEFT JOIN intra i ON i.community = d.community, m"""
    )


@register("graph_community_modularity", oracle=_modularity_oracle())
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity scorecard of the LPA communities — the
    standard 'did community detection find real structure' check
    (Q = sum_c [intra_c/m - (deg_c/2m)^2]; Q near 0 means the partition
    is no better than random wiring). Reported per community so the
    weak communities are identifiable, not just the total.

    Reuses _lpa_labels verbatim (same bounded synchronous rounds, same
    tie-breaks) so the score is OF the partition the LPA operator
    ships. Work on top of the label table is three edge-sized hash
    joins + two label-keyed aggs; the single-row edge total m joins in
    as a broadcast, never a collect. At 100 TB the label table is
    |V|-sized and the joins shuffle on node/community keys — no stage
    materializes anything denser than the edge list itself."""
    e = proximity_edges(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir)
    nbr = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab_u = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    intra = (
        e.join(lab_u, "u")
        .join(lab_v, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    degsum = (
        nbr.join(lab_u, "u")
        .groupBy(F.col("lu").alias("community"))
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    m = e.agg(F.count(F.lit(1)).cast("double").alias("m"))
    return (
        degsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            (
                F.round(
                    F.coalesce("intra_edges", F.lit(0)) / F.col("m")
                    - (F.col("degree_sum") / (2 * F.col("m")))
                    * (F.col("degree_sum") / (2 * F.col("m"))),
                    6,
                )
                # + 0.0 canonicalizes IEEE negative zero: a tiny negative
                # contribution rounds to -0.0 in DuckDB but 0.0 in Spark,
                # and the gate's repr-compare distinguishes them.
                + F.lit(0.0)
            ).alias("contribution"),
        )
    )


@register(
    "graph_assortativity",
    oracle=_PROX_E_CTE
    + """,
    deg AS (SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
            GROUP BY node),
    pairs AS (
        SELECT du.d AS dx, dv.d AS dy
        FROM e JOIN deg du ON du.node = e.u
               JOIN deg dv ON dv.node = e.v)
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           round((avg((dx + dy) * CAST(dx * dy AS DOUBLE))
                  - avg(dx + dy) * avg(dx * dy))
                 / nullif(stddev_pop(dx + dy) * stddev_pop(dx * dy), 0), 6)
               AS mix_corr,
           round((avg(CAST(dx AS DOUBLE) * dy) - avg(dx) * avg(dy))
                 / nullif(stddev_pop(dx) * stddev_pop(dy), 0), 6)
               AS assortativity
    FROM (SELECT dx, dy FROM pairs
          UNION ALL SELECT dy AS dx, dx AS dy FROM pairs) sym
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the proximity graph: the Pearson
    correlation of endpoint degrees over the SYMMETRIZED edge list
    (Newman 2002) — positive means hubs attach to hubs (social-style),
    negative means hub-and-spoke (infrastructure-style). This single
    number decides salting strategy before any join on the graph: a
    disassortative power-law graph concentrates wedge work at hubs;
    an assortative one concentrates SHUFFLE PAIRS between hot
    partitions. Emitted alongside a secondary mixing correlation so
    the oracle pins more than one moment of the joint distribution.

    Shape: one degree agg (two map-side-combinable passes over the
    edge list), two broadcast-joinable lookups (degree table is
    |V|-sized; at scale it hash-joins on the edge keys), and a 1-row
    corr() combine — co-moment state only, no sort."""
    e = proximity_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = e.join(du, "u").join(dv, "v").select("dx", "dy")
    sym = pairs.unionAll(
        pairs.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    # explicit co-moment formula with a nullif'd denominator on BOTH
    # engines: Spark's corr() under ANSI THROWS on a zero-variance side
    # (a tiny/regular graph has constant degree pairs), where the
    # convention here is a NULL coefficient
    def g_corr(a: F.Column, b: F.Column) -> F.Column:
        cov = F.avg(a.cast("double") * b) - F.avg(a) * F.avg(b)
        denom = F.stddev_pop(a) * F.stddev_pop(b)
        return cov / F.when(denom == 0, None).otherwise(denom)

    return sym.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(
            g_corr(F.col("dx") + F.col("dy"), F.col("dx") * F.col("dy")), 6
        ).alias("mix_corr"),
        F.round(g_corr(F.col("dx"), F.col("dy")), 6).alias("assortativity"),
    )


@register(
    "join_null_skew_isolated",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_custkey END AS k,
             o_totalprice
      FROM orders),
    j AS (
      SELECT l.o_orderkey, l.k, l.o_totalprice, c.c_mktsegment
      FROM l LEFT JOIN customer c ON l.k = c.c_custkey)
    SELECT coalesce(c_mktsegment, '(unmatched)') AS segment,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM j GROUP BY 1
    """,
)
def join_null_skew_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key skew isolation: in a left join, rows with a NULL key can
    never match — but a naive plan still SHUFFLES them, and because
    hash(NULL) is one value, every null row lands on ONE reducer: the
    classic silent straggler in fact tables with optional foreign keys
    (a third of the rows here). The isolation rewrite splits the input
    BEFORE the exchange: non-null rows take the real join, null rows
    bypass it entirely (union back with NULL dim columns), so the
    shuffle carries only joinable rows and no partition inherits the
    null mass. Value-identical to the plain left join the oracle runs —
    isolation is pure physical-plan hygiene, which is exactly why it
    belongs in the engine, not in user code."""
    l = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_totalprice",
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    matched = l.filter(F.col("k").isNotNull()).join(cust, "k", "left")
    nulls = l.filter(F.col("k").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    j = matched.select(
        "o_orderkey", "o_totalprice", "c_mktsegment"
    ).unionAll(nulls.select("o_orderkey", "o_totalprice", "c_mktsegment"))
    return j.groupBy(
        F.coalesce("c_mktsegment", F.lit("(unmatched)")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "join_interval_overlap_fraction",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS e
      FROM events)
    SELECT a.user_id, a.event_id AS i, b.event_id AS j,
           date_diff('microsecond',
                     greatest(a.s, b.s), least(a.e, b.e)) AS overlap_us,
           round(CAST(date_diff('microsecond', greatest(a.s, b.s),
                                least(a.e, b.e)) AS DOUBLE)
                 / date_diff('microsecond', least(a.s, b.s),
                             greatest(a.e, b.e)), 6) AS jaccard
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s < b.e AND b.s < a.e
    WHERE CAST(date_diff('microsecond', greatest(a.s, b.s),
                         least(a.e, b.e)) AS DOUBLE)
           / date_diff('microsecond', least(a.s, b.s),
                       greatest(a.e, b.e)) >= 0.5
    """,
)
def join_interval_overlap_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-Jaccard self-join: pairs of a user's 45-min activity
    envelopes whose temporal IoU (overlap / union) is >= 0.5 — the
    interval-similarity primitive behind duplicate-session detection
    and meeting-conflict scoring (a boolean overlap join says two
    windows touch; the fraction says they're the SAME window).

    The equi key (user_id) carries the join — the IoU predicate
    evaluates inside each user's hash bucket, never a cross-user
    nested loop. For two overlapping intervals union = max(e)-min(s),
    so no interval algebra beyond greatest/least is needed; durations
    are exact integer microseconds on both engines."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTE")).alias("e"),
    )
    a, b = ev.alias("a"), ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.s") < F.col("b.e"))
        & (F.col("b.s") < F.col("a.e"))
    )
    ov = F.unix_micros(F.least("a.e", "b.e")) - F.unix_micros(
        F.greatest("a.s", "b.s")
    )
    un = F.unix_micros(F.greatest("a.e", "b.e")) - F.unix_micros(
        F.least("a.s", "b.s")
    )
    jac = ov.cast("double") / un
    return (
        a.join(b, cond)
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("i"),
            F.col("b.event_id").alias("j"),
            ov.alias("overlap_us"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(jac >= 0.5)
    )


@register(
    "graph_2hop_reach",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer),
    e AS (SELECT a.k AS u, b.k AS v FROM pts a JOIN pts b
          ON a.k < b.k
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 225.0),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    hop2 AS (
      SELECT s1.u AS u, s2.v AS w FROM sym s1 JOIN sym s2
        ON s1.v = s2.u AND s1.u <> s2.v),
    reach AS (
      SELECT u, v AS w FROM sym UNION SELECT u, w FROM hop2),
    d1 AS (SELECT u, count(*) AS n1 FROM sym GROUP BY u)
    SELECT reach.u AS node,
           CAST(max(d1.n1) AS BIGINT) AS n_1hop,
           CAST(count(*) AS BIGINT) AS n_reach2
    FROM reach JOIN d1 ON d1.u = reach.u
    GROUP BY reach.u
    """,
)
def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reach per node of the proximity graph: how many distinct
    nodes sit within distance <= 2 — the friend-of-friend audience size
    under every 'people you may know' and influence-estimate feature.

    Physical shape: symmetrize the edge list, ONE self-join on the
    middle vertex (fan-out = sum of deg^2 — the wedge relation triangle
    counting already walks), then a distinct-union and a per-node
    count. At 100 TB the documented mitigations are the same as the
    triangle kernel's: degree-ordered wedges and hot-vertex salting;
    the fixture graph's max degree is single-digit so the wedge
    relation stays edge-scale here."""
    e = proximity_edges(spark, sf_dir)
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    hop2 = s1.join(
        s2,
        (F.col("s1.v") == F.col("s2.u")) & (F.col("s1.u") != F.col("s2.v")),
    ).select(F.col("s1.u").alias("u"), F.col("s2.v").alias("w"))
    reach = sym.select("u", F.col("v").alias("w")).union(hop2).distinct()
    d1 = sym.groupBy("u").agg(F.count(F.lit(1)).alias("n1"))
    return (
        reach.join(d1, "u")
        .groupBy(F.col("u").alias("node"))
        .agg(
            F.max("n1").cast("long").alias("n_1hop"),
            F.count(F.lit(1)).cast("long").alias("n_reach2"),
        )
    )


@register(
    "geo_grid_density",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS x,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                    for ch in string_split_regex(
                        substring(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 13), '')]),
                   (a, d) -> a * 16 + d) % 1000000) / 1000.0 AS y
        FROM customer)
    SELECT CAST(floor(x / 100) AS BIGINT) AS cell_x,
           CAST(floor(y / 100) AS BIGINT) AS cell_y,
           CAST(count(*) AS BIGINT) AS n_points,
           min(k) AS min_key,
           round(avg(x), 6) AS cx, round(avg(y), 6) AS cy
    FROM pts GROUP BY 1, 2
    """,
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density map over the deterministic md5 point plane
    (the heatmap-tile aggregation every geo dashboard starts from, and
    the occupancy histogram that sizes the spatial joins' grid): 10x10
    fixed cells, per-cell point count and centroid. ONE hash agg keyed
    on the cell id — the exact shape that scales to any point volume
    because the key space is the grid, not the points. Shares the
    point derivation with the proximity-graph family (joins.py), so
    the density map is also the skew diagnostic for those joins."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")

    def coord(salt: str):
        v = F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        return (v % 1000000) / 1000.0

    pts = cust.select(
        F.col("c_custkey").alias("k"), coord("x").alias("x"), coord("y").alias("y")
    )
    return pts.groupBy(
        F.floor(F.col("x") / 100).cast("long").alias("cell_x"),
        F.floor(F.col("y") / 100).cast("long").alias("cell_y"),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("k").alias("min_key"),
        F.round(F.avg("x"), 6).alias("cx"),
        F.round(F.avg("y"), 6).alias("cy"),
    )


@register(
    "graph_connected_components",
    oracle=_PROX_E_CTE.replace("WITH pts", "WITH RECURSIVE pts")
    + """,
    nbr2 AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
    reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM nbr2) t
        UNION
        SELECT reach.node, nb.v FROM reach JOIN nbr2 nb ON nb.u = reach.r),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(max(node) AS BIGINT) AS max_node
    FROM (SELECT c.c_custkey AS node,
                 COALESCE(comp.component, c.c_custkey) AS component
          FROM customer c LEFT JOIN comp ON comp.node = c.c_custkey) t
    GROUP BY component
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the proximity graph — the graph family's
    missing CONNECTIVITY summary (component id = min member, size, max
    member), sibling of dedup_cluster_cc which runs the same algorithm
    on the near-dup pair graph.

    Alternating large-star/small-star via the shared star_cc_labels
    loop: O(log n) rounds regardless of diameter (the proximity graph
    sits near the percolation threshold, so long chains exist and a
    per-hop label propagation would need diameter rounds), every round
    two node-keyed shuffles over a monotonically shrinking edge set.
    Isolated customers label themselves — the report covers the whole
    node universe, not just touched nodes. The oracle is DuckDB's
    recursive-CTE transitive closure over the same md5-plane edges
    (fixture-sized only; closure is O(n*m) and exists to check, not to
    scale)."""
    from basis_spark.operators.llm import star_cc_labels

    nodes = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    lab = star_cc_labels(spark, proximity_edges(spark, sf_dir), nodes)
    return lab.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("node").alias("max_node"),
    )


@register(
    "join_hint_merge",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def join_hint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit MERGE (sort-merge) join hint — the other steering wheel
    next to join_hint_shuffle_hash: when BOTH sides are too large to
    hash per partition (lineitem x orders is the fixture's biggest
    pairing), sort-merge is the shape that spills gracefully instead of
    OOMing, and the hint pins it against an optimizer that might pick
    ShuffledHashJoin from stale size stats. SortMergeJoin is
    plan-asserted in tests/test_plans.py; the oracle asserts the other
    half of the hint contract — directives never change results."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.hint("MERGE")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_DBSCAN_MIN_PTS = 4  # core = >= 4 neighbors within eps (self excluded)


@register(
    "geo_dbscan_clusters",
    oracle=_PROX_E_CTE.replace("WITH pts", "WITH RECURSIVE pts")
    + f""",
    nbrd AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS MATERIALIZED (SELECT u AS node, count(*) AS d FROM nbrd GROUP BY u),
    core AS MATERIALIZED (SELECT node FROM deg WHERE d >= {_DBSCAN_MIN_PTS}),
    cce AS MATERIALIZED (
        SELECT n.u, n.v FROM nbrd n
        WHERE n.u IN (SELECT node FROM core)
          AND n.v IN (SELECT node FROM core)),
    reach(node, r) AS (
        SELECT node, node FROM core
        UNION
        SELECT reach.node, c.v FROM reach JOIN cce c ON c.u = reach.r),
    comp AS MATERIALIZED (
        SELECT node, min(r) AS cluster FROM reach GROUP BY node),
    border AS MATERIALIZED (
        SELECT n.u AS node, min(cp.cluster) AS cluster
        FROM nbrd n JOIN comp cp ON cp.node = n.v
        WHERE n.u NOT IN (SELECT node FROM core)
        GROUP BY n.u)
    SELECT c.c_custkey AS node,
           CASE WHEN cp.node IS NOT NULL THEN 'core'
                WHEN b.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(cp.cluster, b.cluster) AS cluster
    FROM customer c
    LEFT JOIN comp cp ON cp.node = c.c_custkey
    LEFT JOIN border b ON b.node = c.c_custkey
    """,
)
def geo_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the md5 spatial plane (eps=15, minPts=4): core
    points (>= minPts eps-neighbors), clusters = connected components
    of the core-core eps-graph, borders attach to the MINIMUM cluster
    id among their core neighbors, everything else is noise. The
    min-cluster border rule replaces textbook DBSCAN's scan-order-
    dependent border assignment with a deterministic one — the change
    that makes the result well-defined enough to oracle-check at all
    (and reproducible across reruns, which production clustering
    needs anyway).

    Fully composed from the audited spatial/graph primitives:
    neighbor generation is the grid-bucketed candidate join
    (_grid_close_pairs — one cell-keyed shuffle, never O(n^2)), core
    detection one degree count, cluster formation the O(log n)
    star_cc_labels loop on the core-core subgraph (smaller than the
    full graph by construction), border attachment one more
    edge-sized join. The oracle replays it with a recursive-CTE
    closure (fixture-sized only)."""
    from basis_spark.operators.llm import star_cc_labels

    e = proximity_edges(spark, sf_dir)
    nbrd = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = nbrd.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    core = deg.filter(F.col("d") >= _DBSCAN_MIN_PTS).select("node")
    cu = core.select(F.col("node").alias("u"))
    cv = core.select(F.col("node").alias("v"))
    cce = nbrd.join(cu, "u").join(cv, "v").filter(F.col("u") < F.col("v"))
    comp = star_cc_labels(spark, cce, core).withColumnRenamed(
        "component", "cluster"
    )
    border = (
        nbrd.join(core.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(
            comp.select(F.col("node").alias("v"), "cluster"),
            "v",
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("cluster").alias("bcluster"))
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    return (
        cust.join(comp.withColumnRenamed("cluster", "ccluster"), "node", "left")
        .join(border, "node", "left")
        .select(
            "node",
            F.when(F.col("ccluster").isNotNull(), "core")
            .when(F.col("bcluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("ccluster", "bcluster").alias("cluster"),
        )
    )


_HC_HOPS = 3  # bounded-depth harmonic centrality: the same "within H
              # hops" contract as graph_bfs_distance, which keeps both
              # the cluster plan (H barrier rounds) and the unrolled
              # SQL oracle exact instead of convergence-dependent.


def _harmonic_oracle() -> str:
    """All-sources bounded BFS keyed (src, node), unrolled _HC_HOPS
    rounds over the shared proximity-graph CTE, then the harmonic sum
    1/d over settled distances d >= 1 per source."""
    parts = [
        _PROX_E_CTE,
        """nbr AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    h0 AS MATERIALIZED (
        SELECT k AS src, k AS node, 0 AS d FROM pts)""",
    ]
    prev = "h0"
    for i in range(1, _HC_HOPS + 1):
        parts.append(
            f"""h{i} AS MATERIALIZED (
        SELECT src, node, min(d) AS d FROM (
            SELECT src, node, d FROM {prev}
            UNION ALL
            SELECT p.src, nb.v AS node, p.d + 1 AS d
            FROM {prev} p JOIN nbr nb ON nb.u = p.node
        ) t GROUP BY src, node)"""
        )
        prev = f"h{i}"
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT src AS node,
           CAST(count(*) AS BIGINT) AS n_reached,
           round(sum(1.0 / d), 6) AS harmonic
    FROM {prev} WHERE d >= 1 GROUP BY src"""
    )


@register("graph_harmonic_centrality", oracle=_harmonic_oracle())
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth harmonic centrality: for every node, the sum of
    1/d over all nodes within _HC_HOPS hops — the centrality measure
    that (unlike closeness) stays well-defined on disconnected graphs,
    used to rank influence/coverage without a full APSP. Nodes with no
    neighbors within H hops simply emit no row (harmonic mass 0).

    Same distributed shape as graph_bfs_distance but keyed (src,
    node): H rounds of hash-join + min-agg with localCheckpoint
    lineage cuts. State grows with the H-hop neighborhood size —
    bounded by construction on a sparse proximity graph (that is WHY
    the bounded-H contract is declared; an unbounded variant is a
    diameter-long barrier chain whose state is all-pairs in the
    worst case). The final harmonic sum is one (src)-keyed agg."""
    edges = proximity_edges(spark, sf_dir)
    nbr = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"), F.col("c_custkey").alias("node"), F.lit(0).alias("d")
    )
    # (src, node) state fans out with the H-hop neighborhood, so the
    # loop width gets a denser rows-per-partition budget than the
    # node-sized loops.
    dist = _relax_min(
        pts, nbr, _HC_HOPS, F.lit(1), edges.count(), "src", rows_per_partition=20_000
    )
    return (
        dist.filter(F.col("d") >= 1)
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.round(F.sum(1.0 / F.col("d")), 6).alias("harmonic"),
        )
    )


def _adamic_adar_oracle() -> str:
    """Link-prediction candidates = 2-hop pairs (u < w) that share a
    common neighbor but are NOT already edges; score = sum over common
    neighbors v of 1/ln(deg(v))."""
    return (
        _PROX_E_CTE
        + """,
    adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e
                         UNION ALL SELECT v AS a, u AS b FROM e),
    deg AS MATERIALIZED (SELECT a AS n, count(*) AS d FROM adj GROUP BY 1),
    wedge AS (
        SELECT a1.b AS u, a2.b AS w, a1.a AS v
        FROM adj a1 JOIN adj a2 ON a1.a = a2.a AND a1.b < a2.b),
    cand AS (
        SELECT wg.u, wg.w,
               CAST(count(*) AS BIGINT) AS common,
               round(sum(1.0 / ln(deg.d)), 6) AS adamic_adar
        FROM wedge wg JOIN deg ON deg.n = wg.v
        WHERE deg.d >= 2
        GROUP BY wg.u, wg.w)
    SELECT c.u, c.w, c.common, c.adamic_adar
    FROM cand c LEFT JOIN e ON e.u = c.u AND e.v = c.w
    WHERE e.u IS NULL"""
    )


@register("graph_adamic_adar", oracle=_adamic_adar_oracle())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the proximity graph: score
    every NON-edge 2-hop pair (u, w) by sum over their common
    neighbors v of 1/ln(deg(v)) — rare shared neighbors count more
    than hubs, the classic "people you may know" / entity-resolution
    candidate ranker. Complements graph_jaccard_neighbors, which
    scores EXISTING edges.

    Scale: candidates come from wedge enumeration — one self-join of
    the adjacency list on the MIDDLE node (sum-of-deg^2 work, the same
    bound as triangle counting; grid blocking keeps the underlying
    graph sparse), then a (u, w)-keyed agg and an anti-join against
    the edge list to drop already-connected pairs. Hub middles
    (1/ln(deg) small) contribute least, which is also why production
    AA implementations cap or sample super-hub wedges; the fixture
    graph has none. Degree-1 middles are excluded (ln 1 = 0 is a
    division singularity, and a sole neighbor predicts nothing)."""
    edges = proximity_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("a", "n")
    a1 = adj.select(F.col("a").alias("v"), F.col("b").alias("u"))
    a2 = adj.select(F.col("a").alias("v2"), F.col("b").alias("w"))
    wedge = a1.join(a2, (F.col("v") == F.col("v2")) & (F.col("u") < F.col("w")))
    # NB: deg is node-sized — no broadcast hint; size-based strategy
    # (AQE) broadcasts it on the fixture and shuffles it at 100 TB.
    cand = (
        wedge.join(deg.filter(F.col("d") >= 2), F.col("v") == F.col("n"))
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("adamic_adar"),
        )
    )
    return cand.join(
        edges.withColumnRenamed("u", "eu").withColumnRenamed("v", "ev"),
        (F.col("u") == F.col("eu")) & (F.col("w") == F.col("ev")),
        "left_anti",
    )
