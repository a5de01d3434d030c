"""Checkpoint restart semantics — the Structured Streaming recovery
contract the in-memory equivalence tests cannot see: a query stopped
after processing part of its input must, when RESTARTED with the same
checkpointLocation, resume from its offset log (never re-reading files
it already processed) and carry its aggregation state forward, so the
final result equals the one-shot batch computation exactly. If restart
re-read the early files, their rows would enter the running counts a
second time and the equality below would fail — the assertion IS the
no-reprocessing proof, not a heuristic."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F

from basis_spark.streaming.jobs import _await_finite, split_events_to_chunks
from tests.conftest import SF_ORACLE


def _start_counts_query(spark, in_dir, schema, ckpt, sink_name):
    counts = (
        spark.readStream.schema(schema)
        .parquet(os.path.join(in_dir, "chunk=*"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_restart_from_checkpoint_resumes_without_reprocessing(spark, tmp_path):
    src, ev = split_events_to_chunks(spark, SF_ORACLE, n_chunks=4)
    schema = spark.read.parquet(os.path.join(src, "chunk=0")).schema
    in_dir = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    # phase 1: only chunks 0-1 have arrived
    for i in (0, 1):
        shutil.copytree(
            os.path.join(src, f"chunk={i}"), os.path.join(in_dir, f"chunk={i}")
        )
    name1 = "rec_" + uuid.uuid4().hex[:8]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q1 = _start_counts_query(spark, in_dir, schema, ckpt, name1)
        _await_finite(q1)  # availableNow: drains what exists, then stops
        partial = {
            r["event_type"]: r["n"] for r in spark.table(name1).collect()
        }
        n_seen = sum(partial.values())
        assert 0 < n_seen < ev.count(), "phase 1 must be a strict prefix"

        # phase 2: the rest arrives while the query is DOWN
        for i in (2, 3):
            shutil.copytree(
                os.path.join(src, f"chunk={i}"), os.path.join(in_dir, f"chunk={i}")
            )
        name2 = "rec_" + uuid.uuid4().hex[:8]
        q2 = _start_counts_query(spark, in_dir, schema, ckpt, name2)
        _await_finite(q2)
        got = {r["event_type"]: r["n"] for r in spark.table(name2).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    expect = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # state carried + old files NOT re-read (re-reading would double-count
    # chunks 0-1 into the recovered state and break this equality)
    assert got == expect
    # the offset log must show the restart began past batch 0
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert len(offsets) >= 2, offsets


def test_checkpoint_is_query_identity_not_decoration(spark, tmp_path):
    """A FRESH checkpoint over the same input recomputes from scratch —
    proving the recovery above came from the checkpoint, not from the
    file source being clever."""
    src, ev = split_events_to_chunks(spark, SF_ORACLE, n_chunks=4)
    schema = spark.read.parquet(os.path.join(src, "chunk=0")).schema
    name = "rec_" + uuid.uuid4().hex[:8]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = _start_counts_query(
            spark, src, schema, str(tmp_path / "fresh_ckpt"), name
        )
        _await_finite(q)
        got = {r["event_type"]: r["n"] for r in spark.table(name).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    expect = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expect
