"""Incremental / streaming semantics, batch-equivalent forms (SURVEY.md §2.J).

The reference's reactive core is incremental, at-most-once-per-consumer
block processing. Here each op has a *batch* DataFrame form (this module
— what the driver hash-checks against DuckDB) and a Structured Streaming
form (basis_spark.streaming.jobs — pinned equal to the batch form by
tests/test_stream_batch_equiv.py).

Scale: tumbling/sliding windows shuffle once on (window, key); session
windows shuffle on user_id; watermarks bound streaming state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_once, scratch_path
from basis_spark.registry import register

HIGH_WATER_EVENT_ID = 5000  # declared high-watermark constant for the batch form


@register(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1-hour tumbling window — window('ts','1 hour') start == hour trunc.
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


@register(
    "stream_sliding",
    oracle="""
    SELECT make_timestamp(CAST((floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900
                                - g.k * 900) AS BIGINT) * 1000000) AS ws,
           event_type, count(*) AS n
    FROM events, generate_series(0, 3) g(k)
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1-hour window sliding every 15 min: each event lands in 4 windows.
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )


# B6 — sessionization with a 30-minute gap, via native session_window.
@register(
    "stream_session",
    oracle="""
    SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS sess_start, count(*) AS n_events,
           date_diff('microsecond', CAST(min(ts) AS TIMESTAMP),
                     CAST(max(ts) AS TIMESTAMP)) AS dur_us
    FROM (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events) x) s
    GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window end == max(ts) + gap, so max ts = end - 30 min.
    ev = load(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            "n_events",
            (
                F.unix_micros(F.col("w.end") - F.expr("INTERVAL 30 MINUTES"))
                - F.unix_micros(F.col("w.start"))
            ).alias("dur_us"),
        )
    )
    return sess


@register(
    "stream_watermark_late",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >=
          (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
    GROUP BY event_type
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch rendering of "drop events > 10 min behind max ts" (the on-time
    # aggregate). True watermark semantics are pinned stream-side only
    # (tests/test_stream_batch_equiv.py), per SURVEY §2.J.
    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.join(F.broadcast(max_ts))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 10 MINUTES"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 2) AS value
    FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # At-most-once per event_id across overlapping increments: two
    # overlapping slices unioned then deduplicated == the clean table.
    # The slices come from fixed residue classes (0-4 and 3-7 of
    # event_id % 8 — residues 3-4 overlap, union covers all eight), not
    # from a collected data statistic: no driver round trip, no extra
    # job in the plan (round-3 verdict retired the approx-median
    # collect this scaffolding used).
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )
    inc1 = ev.filter(F.col("event_id") % 8 < 5)
    inc2 = ev.filter(F.col("event_id") % 8 >= 3)
    return inc1.unionByName(inc2).dropDuplicates(["event_id"])


@register(
    "accumulate_stream",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def accumulate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basis `accumulator`: fold per-block increments into the full table.
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    chunks = [
        ev.filter((F.col("event_id") % 3) == i)  # three disjoint "blocks"
        for i in range(3)
    ]
    acc = chunks[0]
    for c in chunks[1:]:
        acc = acc.unionByName(c)
    return acc


@register(
    "dedupe_keep_latest",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
                   AS rn
        FROM events) t
    WHERE rn = 1
    """,
)
def dedupe_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basis `dedupe_keep_latest`: one row per key, latest wins.
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


@register(
    "incremental_highwater",
    oracle=f"""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id > {HIGH_WATER_EVENT_ID}
    """,
)
def incremental_highwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basis's one optimization: don't reprocess consumed blocks. Spark
    # equivalent: monotone high-watermark predicate → parquet row-group
    # pushdown (and partition pruning on a partitioned sink).
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") > HIGH_WATER_EVENT_ID).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "stream_stateful_sessions",
    oracle="""
    WITH x AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events),
    s AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x),
    g AS (
        SELECT user_id, sid, min(ts) AS st, max(ts) AS en, count(*) AS n
        FROM s GROUP BY user_id, sid)
    SELECT user_id, CAST(st AS TIMESTAMP) AS sess_start,
           CAST(en AS TIMESTAMP) AS sess_end, CAST(n AS INT) AS n_events
    FROM g
    WHERE sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)
    """,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the applyInPandasWithState streaming sessionizer (see
    basis_spark.streaming.jobs.stream_stateful_sessions) and returns its
    emitted (closed) sessions; the oracle is the batch gaps-and-islands
    SQL minus each user's final (still-open) session."""
    from basis_spark.streaming import jobs

    return jobs.stream_stateful_sessions(spark, sf_dir)


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           round(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution join within a 30-minute window.

    This is the batch form of the watermarked stream-stream join
    (basis_spark.streaming.jobs.stream_click_purchase_join — pinned
    stream ≡ batch by tests/test_stream_batch_equiv.py). Batch plan:
    one shuffle per side on user_id, range predicate applied at the
    join. Streaming plan: both sides watermarked, the time-interval
    condition bounds each side's state retention (a click's state can
    be evicted once the watermark passes click_ts + 30 min) — without
    the interval bound a stream-stream join's state grows without
    limit, the #1 production failure of naive designs.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return clicks.join(purchases, cond).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
    )


@register(
    "rollup_incremental",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (hypertable-style rollup), maintained
    incrementally: events arrive as three high-watermark increments;
    each increment contributes a PARTIAL hourly aggregate fed as the
    next block of a one-source Reactor (append-only, never rewriting
    earlier blocks); the serving query merges partials (sum of counts,
    sum of sums). The oracle is the full recompute over all events —
    incremental maintenance must be indistinguishable from it.

    100 TB shape: partial aggregates are tiny relative to raw events
    (bounded by hours x types), so each refresh shuffles only the new
    increment; the merge re-agg reads blocks, not history.
    """
    import shutil

    from basis_spark.reactive import Reactor

    ev = load(spark, sf_dir, "events")
    # Session-scoped: an unscoped path + the rmtree below would delete
    # blocks a concurrent process is mid-read on.
    base = scratch_path(spark, "rollup_incr", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    r = Reactor(spark, base)
    r.source("partials")
    n = ev.count()
    per = (n + 2) // 3
    for i in range(3):
        inc = ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        )
        partial = inc.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ).agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("psum"))
        r.feed("partials", partial)
    return r.read("partials").groupBy("h", "event_type").agg(
        F.sum("pn").alias("n"), F.round(F.sum("psum"), 2).alias("sum_value")
    )


@register(
    "stream_upsert_cdc",
    oracle="""
    SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
           n_versions
    FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_versions
        FROM events) t
    WHERE rn = 1
    """,
)
def stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert state: treating the event log as keyed change capture,
    the materialized table is latest-write-wins per user_id ((ts,
    event_id) ordered) plus a version count.

    Batch form of the foreachBatch merge appliance
    (streaming.jobs.stream_upsert_foreachbatch — pinned equal by
    tests/test_stream_batch_equiv.py). One shuffle on user_id; both the
    argmax and the count ride the same window partitioning."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_versions", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            "n_versions",
        )
    )


@register(
    "incremental_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus FROM orders
                 WHERE o_orderkey % 10 < 8),
    new AS (SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                       AS o_orderstatus
            FROM orders WHERE o_orderkey % 10 >= 1)
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus <> new.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE NOT (old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
               AND old.o_orderstatus = new.o_orderstatus)
    """,
)
def incremental_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: derive a change feed (added/removed/changed) from
    two full table snapshots — how you bootstrap CDC from sources that
    only hand you daily dumps. The two snapshots are carved
    deterministically from orders (key-range membership + a mutated
    status column) so the diff is oracle-checkable.

    One full-outer join on the key — the same single shuffle
    merge_upsert uses; 'unchanged' rows are filtered so output is
    change-sized, not snapshot-sized (at 100 TB the diff is what you
    ship downstream, not the table)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    old = orders.filter(F.col("o_orderkey") % 10 < 8)
    new = orders.filter(F.col("o_orderkey") % 10 >= 1).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    o = old.select(
        F.col("o_orderkey").alias("ok"), F.col("o_orderstatus").alias("os")
    )
    n = new.select(
        F.col("o_orderkey").alias("nk"), F.col("o_orderstatus").alias("ns")
    )
    j = o.join(n, o.ok == n.nk, "full_outer")
    change = (
        F.when(F.col("ok").isNull(), "added")
        .when(F.col("nk").isNull(), "removed")
        .when(F.col("os") != F.col("ns"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(F.coalesce("ok", "nk").alias("o_orderkey"), change.alias("change"))
        .filter(F.col("change") != "unchanged")
    )


@register(
    "incremental_scd2",
    oracle="""
    WITH chg AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    runs AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS valid_from, event_id
        FROM chg WHERE prev_type IS NULL OR event_type <> prev_type)
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               IS NULL AS is_current
    FROM runs
    """,
)
def incremental_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from an event log: one
    validity-interval row per (user, run of equal event_type), with
    valid_from/valid_to/is_current — the warehouse-dimension complement
    of the type-1 latest-wins ops (merge_upsert, stream_upsert_cdc).

    Two windows on the SAME user_id partitioning (change-point filter
    via lag, interval close via lead) — Catalyst reuses the exchange,
    so the whole build is one shuffle; both frames are streaming, state
    O(1) per user. At 100 TB the change-point filter also collapses the
    data first: output rows = attribute changes, not events."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev_type", F.lag("event_type").over(w))
    runs = chg.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    # (valid_from, event_id) tie-break: two change points on the same
    # microsecond would otherwise close intervals in engine-arbitrary
    # order (the lag window above already tie-breaks; so must the lead).
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    vt = F.lead("valid_from").over(w2)
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        vt.alias("valid_to"),
        vt.isNull().alias("is_current"),
    )


@register(
    "stream_reactive_bridge",
    oracle="""
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE event_type = 'click'
    """,
)
def stream_reactive_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference model in one operator: Structured Streaming
    INGESTION feeding the REACTIVE graph. Each file-source micro-batch
    (one basis-style block) lands in a Reactor source via foreachBatch,
    and poll() propagates it through a transform node into append-only
    output blocks — so the streaming side owns delivery/exactly-once
    bookkeeping (its checkpoint) while the reactive side owns
    at-most-once per-consumer propagation (its consumption
    watermarks). The accumulated downstream state must equal the batch
    recompute the oracle runs. The block store is ingested once per
    session; later calls read it."""
    from basis_spark.reactive import Reactor
    from basis_spark.streaming.jobs import _read_stream, split_events_to_chunks

    def reactor(base: str) -> Reactor:
        r = Reactor(spark, base)
        r.source("raw")
        r.node(
            "clicks",
            lambda inc: inc.filter(F.col("event_type") == "click").select(
                "event_id", "user_id", F.round("value", 2).alias("value")
            ),
            ["raw"],
        )
        return r

    def ingest_all(base: str) -> None:
        r = reactor(base)
        chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
        s = _read_stream(spark, chunk_dir)

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            r.feed("raw", batch_df)
            r.poll()

        q = (
            s.writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout=300)
        if not finished:
            # awaitTermination's timeout does NOT stop the query — kill
            # it so a retry doesn't race a still-appending ingestor.
            q.stop()
            raise RuntimeError("bridge stream timed out (300s)")

    base = scratch_once(spark, ingest_all, "reactive_bridge", sf_dir)
    return reactor(base).read("clicks")


@register(
    "stream_lateness_profile",
    oracle="""
    WITH a AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts,
               max(CAST(ts AS TIMESTAMP)) OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
        FROM events),
    lat AS (
        SELECT epoch(high_water - ts) AS late_s FROM a)
    SELECT CASE WHEN late_s <= 0 THEN 'on_time'
                WHEN late_s <= 3600 THEN 'late<=1h'
                WHEN late_s <= 21600 THEN 'late<=6h'
                ELSE 'late>6h' END AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM lat GROUP BY 1
    """,
)
def stream_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lag profile: for each event, how far behind the
    running event-time high-water mark (over ARRIVAL order = event_id)
    did it arrive — the measurement that tells you what watermark
    delay a streaming job actually needs (stream_watermark_late's 1h
    delay should cover ~all of the mass below 'late<=1h'). The running
    max is the max windows.global_scan — the two-pass distributed
    prefix pattern (range-partition on event_id, per-partition maxima
    broadcast as prefix offsets, local running max per pid) — never a
    single-partition data sort."""
    from basis_spark.operators.windows import global_scan

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    a = global_scan(ev, "max", {"high_water": "ts"}, "event_id")
    late_s = (F.unix_micros("high_water") - F.unix_micros("ts")).cast("double") / 1e6
    bucket = (
        F.when(late_s <= 0, "on_time")
        .when(late_s <= 3600, "late<=1h")
        .when(late_s <= 21600, "late<=6h")
        .otherwise("late>6h")
    )
    return a.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH s AS (
      SELECT user_id, ts,
             ts + CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS ev_end
      FROM events),
    m AS (
      SELECT user_id, ts, ev_end,
             max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, ev_end
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_end
      FROM s),
    f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END
                 AS new_s FROM m),
    g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, ev_end
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM f)
    SELECT user_id, min(ts) AS session_start, max(ev_end) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window with a DYNAMIC gap column — engagement-dependent
    timeouts (clicks cool off in 10 min, everything else in 30) in one
    native operator, where the fixed-gap form (stream_session) would
    need the largest gap for everyone and over-merge. Works identically
    in Structured Streaming (same expression, state evicted by
    watermark). The oracle rebuilds the merge semantics from first
    principles — an event joins the session while it starts AT OR
    before the running max of previous [ts, ts+gap) ends (Spark merges
    at exact boundary equality: verified empirically, an event at
    precisely prev_end extends the session) — so Spark's internal
    merge is pinned against an independent formulation, per-user
    windows only (one shuffle on user_id)."""
    ev = load(spark, sf_dir, "events")
    # session_window's dynamic gap must be CalendarIntervalType;
    # INTERVAL literals are DayTimeIntervalType in Spark 4 — build the
    # gap with make_interval instead.
    gap = F.when(
        F.col("event_type") == "click", F.expr("make_interval(0, 0, 0, 0, 0, 10, 0)")
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT n.n_name,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY 1
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the most common streaming
    join in production (events against a slowly-changing dim table),
    and semantically the EASY one: the static side needs no watermark
    and no state store, each micro-batch simply hash/broadcast-joins
    against it, so at 100 TB the dim broadcast is paid per executor,
    not per event. Batch form here (what the oracle hash-checks);
    the Structured Streaming twin (streaming/jobs.py::
    stream_static_enrich_counts) is pinned equal by
    tests/test_stream_batch_equiv.py. Dim key: user_id % 25 onto the
    SF-independent nation table."""
    ev = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ev.join(F.broadcast(dim), F.pmod("user_id", F.lit(25)) == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "stream_join_left_outer",
    oracle="""
    SELECT c.event_id AS click_id,
           c.user_id,
           p.event_id AS purchase_id,
           round(p.value, 2) AS purchase_value
    FROM events c LEFT JOIN events p
      ON p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER click->purchase attribution within a 30-minute window
    — the outer sibling of stream_stream_join: every click emits, with
    NULL purchase columns when nothing converted (the row an attribution
    pipeline needs to compute conversion RATE, which the inner join
    cannot see).

    Batch plan: one shuffle per side on user_id, interval predicate at
    the join. The streaming twin
    (streaming.jobs.stream_click_purchase_left_join) is the watermarked
    left-outer interval join — Spark emits the NULL row only once the
    watermark proves no match can still arrive, so clicks inside the
    final (delay + 30 min) horizon of a finite stream stay buffered;
    tests/test_stream_batch_equiv.py pins streaming == batch EXACTLY on
    matched rows and on unmatched rows older than that horizon (the
    honest finite-stream contract; on an unbounded stream every click
    eventually emits)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        )
    )
    return clicks.join(purchases, cond, "left").select(
        "click_id", "user_id", "purchase_id", "purchase_value"
    )


@register(
    "stream_topk_per_window",
    oracle="""
    WITH c AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2),
    r AS (SELECT ws, event_type, n,
                 row_number() OVER (PARTITION BY ws
                                    ORDER BY n DESC, event_type) AS rnk
          FROM c)
    SELECT ws, event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour — the 'trending now' query.
    Ranking is not supported INSIDE a streaming aggregation, so the
    production shape (mirrored by streaming.jobs.stream_topk_counts
    and pinned equal by tests/test_stream_batch_equiv.py) is the
    standard two-stage split: the streaming stage maintains the
    (window, key) counts — incremental, watermark-boundable state —
    and the rank-and-prune runs DOWNSTREAM on the emitted aggregate,
    which is windows x event-types sized, not event-sized. This batch
    form is the hash-checked equivalent: one (window, type) agg, one
    WindowGroupLimit rank over the aggregate."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    wr = Window.partitionBy("ws").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("ws", "event_type", F.col("n").cast("long").alias("n"),
                F.col("rnk").cast("int").alias("rnk"))
    )
