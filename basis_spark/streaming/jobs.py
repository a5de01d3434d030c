"""Structured Streaming forms of the §2.J operators.

Each job reads the events fixture as a *file-source stream* (the table
split into K parquet chunk-files fed as micro-batches ≈ basis blocks),
applies the same transformation as the batch operator, and writes to an
in-memory sink. tests/test_stream_batch_equiv.py asserts stream ≡ batch.

Watermarks bound state: the tumbling/session aggregations evict state
once the watermark passes the window end — at 100 TB/day of events this
is what keeps state-store size proportional to the window, not history.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_dir, scratch_once


def split_events_to_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> tuple[str, DataFrame]:
    """Write events as n ordered parquet chunk files; returns (dir, batch_df).

    Chunks are split on event_id (arrival order) — each chunk is one
    basis-style block/increment. Written once per session, tagged with
    n_chunks so a call with a different count gets its own layout.
    """
    ev = load(spark, sf_dir, "events")

    def write(out: str) -> None:
        n = ev.count()
        per = (n + n_chunks - 1) // n_chunks
        # The chunk id is a partition column; repartition on it puts
        # each chunk in exactly one task, so each chunk= dir holds
        # exactly one file.
        (
            ev.filter((F.col("event_id") >= 0) & (F.col("event_id") < n_chunks * per))
            .withColumn("chunk", F.floor(F.col("event_id") / per).cast("int"))
            .repartition(n_chunks, "chunk")
            .write.partitionBy("chunk")
            .parquet(out)
        )
        # The file-source stream processes oldest-mtime first, and the
        # tasks of one write finish in no set order: pin chunk order.
        _set_delivery_order(out, range(n_chunks))

    return scratch_once(spark, write, "stream_chunks", sf_dir, f"c{n_chunks}"), ev


def _set_delivery_order(chunk_dir: str, delivery: Iterable[int]) -> None:
    """Rewrite file mtimes so chunk delivery[0] is oldest, then
    delivery[1], ..."""
    base = time.time()
    for pos, chunk in enumerate(delivery):
        for root, _dirs, files in os.walk(os.path.join(chunk_dir, f"chunk={chunk}")):
            for fn in files:
                os.utime(os.path.join(root, fn), (base + pos * 10, base + pos * 10))


def split_events_to_chunks_shuffled(
    spark: SparkSession, sf_dir: str, delivery: tuple[int, ...]
) -> str:
    """Chunks as above, but DELIVERED out of order: the parquet file
    mtimes are rewritten so chunk `delivery[0]` is oldest, then
    `delivery[1]`, ... Structured Streaming's file source processes
    files oldest-modification-first (latestFirst=false), so with
    maxFilesPerTrigger=1 the micro-batch sequence IS `delivery` — the
    adversarial reordering harness for the watermark tests. Written
    once per session."""
    src, _ = split_events_to_chunks(spark, sf_dir)

    def write(out: str) -> None:
        for chunk in delivery:
            shutil.copytree(os.path.join(src, f"chunk={chunk}"),
                            os.path.join(out, f"chunk={chunk}"), dirs_exist_ok=True)
        _set_delivery_order(out, delivery)

    return scratch_once(spark, write, "stream_chunks_ooo", sf_dir, "-".join(map(str, delivery)))


def _read_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    schema = spark.read.parquet(os.path.join(chunk_dir, "chunk=0")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one chunk-file per micro-batch
        .parquet(os.path.join(chunk_dir, "chunk=*"))
    )


def _await_finite(q) -> None:
    """Wait for an availableNow query; on timeout STOP it and raise.
    awaitTermination's timeout does not stop the query — leaving it
    running would keep appending to the sink a retry then reads — and
    a bare assert would vanish under python -O."""
    if not q.awaitTermination(timeout=300):
        q.stop()
        raise RuntimeError("stream timed out (300s)")


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    name = "mem_" + uuid.uuid4().hex[:8]
    spark = stream_df.sparkSession
    # A streaming query pins shuffle.partitions at start; the session
    # default (2x cores) means that many state-store tasks PER micro-batch.
    # These finite equivalence jobs hold a few hundred keys, so 8 state
    # partitions cut task-launch overhead ~8x. Production jobs size this
    # to state volume instead.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_finite(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour tumbling counts.

    Complete output mode so trailing windows (not yet closed by a
    watermark when the finite input ends) are emitted too — append mode
    would hold them back and stream≠batch for the last hour. Production
    (unbounded) jobs pair append mode with the watermark, as
    stream_watermark_drop_late demonstrates.
    """
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    return _run_to_memory(agg, "complete")


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 30-min-gap session windows (complete mode; see
    stream_tumbling_counts on why the equivalence jobs avoid append)."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
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
    return _run_to_memory(agg, "complete")


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-most-once per event_id across micro-batches."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    dedup = s.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )
    return _run_to_memory(dedup, "append")


def stream_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming accumulator: append-mode fold of increments."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    return _run_to_memory(
        s.select("event_id", "user_id", "event_type", "value"), "append"
    )


def stream_watermark_drop_late(
    spark: SparkSession, sf_dir: str, delivery: tuple[int, ...] | None = None
) -> DataFrame:
    """Watermark semantics demo: out-of-order input with a tight watermark.

    Feeds chunks where one chunk arrives 'late'; the 10-minute watermark
    drops rows older than watermark from the aggregation state. Asserted
    stream-side only (SURVEY §2.J: watermarks have no batch oracle).
    `delivery` reorders chunk arrival (see split_events_to_chunks_shuffled)
    — the adversarial reordering tests pin what gets dropped.
    """
    if delivery is None:
        chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    else:
        chunk_dir = split_events_to_chunks_shuffled(spark, sf_dir, delivery)
    s = _read_stream(spark, chunk_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return _run_to_memory(agg, "append")


def stream_click_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    delivery: tuple[int, ...] | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: clicks joined to purchases
    of the same user within [click_ts, click_ts + 30 min].

    Both sides carry a watermark (required for stream-stream state
    cleanup) and the join carries a time-interval condition, so Spark
    derives per-side state-retention bounds: a buffered click is evicted
    once the purchase-side watermark passes click_ts + 30 min, a
    buffered purchase once the click-side watermark passes purchase_ts.
    The events fixture is ordered (zero observed lateness), so the
    1-hour delay is safely generous and the inner join emits exactly the
    batch result (tests/test_stream_batch_equiv.py). Under `delivery`
    reordering the 1-hour delay is NOT generous (chunks span ~7.5 days
    each) and the watermark drops the late chunk's rows; a `delay`
    covering the actual disorder ("31 days") restores exact batch
    equality — both pinned in the reordering tests.
    """
    if delivery is None:
        chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    else:
        chunk_dir = split_events_to_chunks_shuffled(spark, sf_dir, delivery)
    clicks = (
        _read_stream(spark, chunk_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        _read_stream(spark, chunk_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 2).alias("purchase_value"),
        )
        .withWatermark("purchase_ts", delay)
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = clicks.join(purchases, cond).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
    )
    return _run_to_memory(joined, "append")


def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user sessionizer via
    applyInPandasWithState (the escape hatch for stateful logic that
    session_window can't express — here: emit a session row the moment
    it closes, carrying state across micro-batches).

    State per user = (session start µs, last-seen µs, event count); a
    row whose gap from last-seen exceeds 30 min closes the open session
    (emitted) and starts a new one. Only CLOSED sessions are emitted —
    on a finite stream each user's final open session stays in state,
    so the batch equivalent is "all sessions except each user's last".

    Scale: state is 3 longs per user, bounded; shuffle is one exchange
    on user_id; in production add GroupStateTimeout to evict idle users.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        # Concatenate the group's chunks and sort ONCE: sorting each chunk
        # independently only works if chunks happen to arrive in timestamp
        # order — events for one user split across chunks within a
        # micro-batch would otherwise sessionize out of order. Per-user
        # per-batch volume is bounded, so the concat is small.
        # Session detection is vectorized (guide §4.2 — the per-group
        # overhead of this API is fixed; the per-row Python loop was
        # not): sessions are the maximal runs of the sorted µs array
        # whose adjacent gaps stay <= gap_us, found with one diff +
        # flatnonzero; the first run merges into the carried open
        # session when it continues it.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            import numpy as np

            batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            us = np.sort(batch["ts"].to_numpy().astype("int64")) // 1000
            idx = np.flatnonzero(np.diff(us) > gap_us)
            bounds = np.concatenate(([0], idx + 1, [len(us)]))
            segs = [
                (int(us[bounds[k]]), int(us[bounds[k + 1] - 1]), int(bounds[k + 1] - bounds[k]))
                for k in range(len(bounds) - 1)
            ]
            if last_us is not None:
                if us[0] - last_us <= gap_us:
                    s0 = segs[0]
                    segs[0] = (start_us, s0[1], n + s0[2])
                else:
                    segs.insert(0, (start_us, last_us, n))
            start_us, last_us, n = segs[-1]
            closed = segs[:-1]
        else:
            closed = []
        if last_us is not None:
            state.update((int(start_us), int(last_us), int(n)))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "sess_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "sess_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                }
            )

    res = s.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, sess_start timestamp, sess_end timestamp, n_events int",
        stateStructType="start_us long, last_us long, n int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(res, "append")


def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge appliance: each micro-batch is upserted into a keyed
    state table via foreachBatch — the Structured Streaming pattern for
    MERGE INTO against sinks with no native streaming upsert (JDBC,
    plain parquet/Delta-less lakes).

    Per batch: reduce the batch to latest-per-key + version count, read
    the prior state snapshot, full-outer join, keep the newer side's
    payload ((ts, event_id) ordered — so arrival order never matters),
    sum version counts, write snapshot v{n}. Snapshots are immutable
    dirs (read-then-overwrite of the same path is illegal in Spark and
    unsafe anyway); production swaps the dir-pointer for a Delta/Iceberg
    transaction. State size is O(distinct keys), not O(log)."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    run_dir = os.path.join(scratch_dir("upsert_state"), uuid.uuid4().hex[:8])
    latest: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        inc = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .withColumn("nv", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "value", "ts", "event_id", "nv")
        )
        if latest:
            prev = batch_df.sparkSession.read.parquet(latest[-1])
            inc_r = inc.select(
                F.col("user_id").alias("i_user_id"),
                F.col("event_type").alias("i_event_type"),
                F.col("value").alias("i_value"),
                F.col("ts").alias("i_ts"),
                F.col("event_id").alias("i_event_id"),
                F.col("nv").alias("i_nv"),
            )
            inc_newer = (F.col("i_ts") > F.col("ts")) | (
                (F.col("i_ts") == F.col("ts")) & (F.col("i_event_id") > F.col("event_id"))
            )
            take_inc = F.col("user_id").isNull() | (F.col("i_user_id").isNotNull() & inc_newer)
            merged = prev.join(
                inc_r, prev.user_id == inc_r.i_user_id, "full_outer"
            ).select(
                F.coalesce("user_id", "i_user_id").alias("user_id"),
                F.when(take_inc, F.col("i_event_type")).otherwise(F.col("event_type")).alias("event_type"),
                F.when(take_inc, F.col("i_value")).otherwise(F.col("value")).alias("value"),
                F.when(take_inc, F.col("i_ts")).otherwise(F.col("ts")).alias("ts"),
                F.when(take_inc, F.col("i_event_id")).otherwise(F.col("event_id")).alias("event_id"),
                (F.coalesce("nv", F.lit(0)) + F.coalesce("i_nv", F.lit(0))).alias("nv"),
            )
        else:
            merged = inc
        out = os.path.join(run_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        latest.append(out)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = s.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
        _await_finite(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    final = spark.read.parquet(latest[-1])
    return final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
        F.col("nv").alias("n_versions"),
    )


def stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min: the d x w counter table of
    aggregates.sketch_count_min built as a STREAMING aggregation over
    the chunked event stream — each micro-batch's cell increments merge
    into the running state (CMS is a sum sketch, so micro-batch merge
    order is irrelevant), state is bounded at d*w cells regardless of
    stream length. After the availableNow run drains, estimates are
    probed from the final counter snapshot exactly like the batch op;
    tests/test_stream_batch_equiv.py pins stream == batch EXACTLY
    (deterministic seeded hashes + exact counter sums)."""
    D, W = 4, 256
    chunk_dir, ev = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    rows = F.explode(F.array(*[F.lit(i) for i in range(D)])).alias("r")
    cells = (
        s.select("user_id", rows)
        .select("r", F.pmod(F.xxhash64("user_id", "r"), F.lit(W)).alias("b"))
        .groupBy("r", "b")
        .count()
        .withColumnRenamed("count", "c")
    )
    counters = _run_to_memory(cells, "complete")
    probe = (
        ev.select("user_id")
        .distinct()
        .select("user_id", rows)
        .select("user_id", "r", F.pmod(F.xxhash64("user_id", "r"), F.lit(W)).alias("b"))
    )
    return (
        probe.join(F.broadcast(counters), ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est"))
    )


def stream_session_dynamic_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dynamic-gap session windows (10 min for clicks, 30 min
    otherwise) — same CalendarInterval gap expression as the batch form
    (operators/incremental.py::stream_session_dynamic_gap); complete
    mode for the finite-input equivalence check."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    gap = F.when(
        F.col("event_type") == "click", F.expr("make_interval(0, 0, 0, 0, 0, 10, 0)")
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    agg = (
        s.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of incremental.stream_static_enrich: each
    micro-batch joins against the STATIC nation dim (no state store,
    no watermark — the static side is re-resolvable per batch, which
    is also what makes dim UPDATES visible mid-stream in production).
    Complete mode for the finite-input equivalence contract."""
    from basis_spark.io import load

    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    dim = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        s.join(
            F.broadcast(dim),
            F.pmod("user_id", F.lit(25)) == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "complete")


def stream_click_purchase_left_join(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked LEFT-OUTER stream-stream interval join (the streaming
    twin of incremental.stream_join_left_outer): clicks left-joined to
    same-user purchases within [click_ts, click_ts + 30 min].

    Outer rows are watermark-gated: Spark can only emit (click, NULL)
    once the purchase-side watermark passes click_ts + 30 min — before
    that, a match could still arrive. On a finite availableNow run the
    final watermark rests at max_event_ts - delay, so unmatched clicks
    YOUNGER than (delay + 30 min) from the stream tail remain buffered
    and never emit; the equivalence test pins exactly that horizon.
    Matched rows are not gated and emit as they join."""
    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    clicks = (
        _read_stream(spark, chunk_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        _read_stream(spark, chunk_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 2).alias("purchase_value"),
        )
        .withWatermark("purchase_ts", delay)
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = clicks.join(purchases, cond, "leftOuter").select(
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_value"
    )
    return _run_to_memory(joined, "append")


def stream_topk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of stream_topk_per_window: the stream maintains
    ONLY the (window, event_type) counts (complete mode, same
    trailing-window reasoning as stream_tumbling_counts); the top-3
    rank runs on the emitted aggregate AFTER the stream — ranking
    inside a streaming agg is unsupported, and doing it downstream on
    the windows x types relation is the production two-stage shape."""
    from pyspark.sql import Window

    chunk_dir, _ = split_events_to_chunks(spark, sf_dir)
    s = _read_stream(spark, chunk_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    counts = _run_to_memory(agg, "complete")
    wr = Window.partitionBy("ws").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("ws", "event_type", F.col("n").cast("long").alias("n"),
                F.col("rnk").cast("int").alias("rnk"))
    )
