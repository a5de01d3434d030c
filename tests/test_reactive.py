"""Reactor (basis_spark/reactive.py): the reference's change-propagation
contract — new upstream blocks trigger downstream recomputation of ONLY
the new blocks, each consumed at most once, state surviving restarts."""

from __future__ import annotations

from pyspark.sql import functions as F

from basis_spark.io import load
from basis_spark.reactive import Reactor
from tests.conftest import SF_SMALL


def _events_slice(spark, lo, hi):
    ev = load(spark, SF_SMALL, "events")
    return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).select(
        "event_id", "user_id", "event_type", "value"
    )


def _diamond(spark, base, purchases_fn=None):
    r = Reactor(spark, base)
    r.source("raw")
    # purchases is declared first so that a failing purchases fn comes
    # before clicks in its level.
    r.node(
        "purchases",
        purchases_fn or (lambda inc: inc.filter(F.col("event_type") == "purchase")),
        ["raw"],
    )
    r.node("clicks", lambda inc: inc.filter(F.col("event_type") == "click"), ["raw"])

    def per_user(c, p):
        cu = c.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
        pu = p.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_purch"))
        return cu.join(pu, "user_id", "full").na.fill(0)

    r.node("joined", per_user, ["clicks", "purchases"])
    return r


def test_incremental_propagation_at_most_once(spark, tmp_path):
    r = Reactor(spark, str(tmp_path))
    r.source("raw")

    def clicks_only(inc):
        return inc.filter(F.col("event_type") == "click").withColumn(
            "v2", F.round(F.col("value") * 2, 2)
        )

    r.node("clicks", clicks_only, inputs=["raw"])

    r.feed("raw", _events_slice(spark, 0, 300))
    assert set(r.poll()) == {"clicks"}
    first = r.read("clicks").count()
    exp_first = _events_slice(spark, 0, 300).filter(F.col("event_type") == "click").count()
    assert first == exp_first

    # no new input -> nothing moves, output unchanged (at most once)
    assert r.poll() == {}
    assert r.read("clicks").count() == first

    # second increment processed alone, accumulated output = full recompute
    r.feed("raw", _events_slice(spark, 300, 1000))
    assert set(r.poll()) == {"clicks"}
    total = r.read("clicks").count()
    exp_total = _events_slice(spark, 0, 1000).filter(F.col("event_type") == "click").count()
    assert total == exp_total
    assert r.n_blocks("clicks") == 2


def test_diamond_single_pass_and_block_counts(spark, tmp_path):
    """A diamond (raw -> a, b -> joined) must propagate a fresh source
    block to the sink in ONE poll, with each node appending exactly one
    block per pass."""
    r = _diamond(spark, str(tmp_path))
    r.feed("raw", _events_slice(spark, 0, 500))
    moved = r.poll()
    assert set(moved) == {"clicks", "purchases", "joined"}
    assert r.n_blocks("joined") == 1
    assert r.poll() == {}


def test_restart_resumes_from_persisted_state(spark, tmp_path):
    """A new Reactor over the same base_dir must NOT reprocess blocks a
    previous instance already consumed (metadata-DB parity)."""
    base = str(tmp_path)
    r1 = Reactor(spark, base)
    r1.source("raw")
    r1.node("out", lambda inc: inc.select("event_id"), ["raw"])
    r1.feed("raw", _events_slice(spark, 0, 100))
    r1.poll()
    assert r1.read("out").count() == 100

    r2 = Reactor(spark, base)  # fresh process, same wiring
    r2.source("raw")
    r2.node("out", lambda inc: inc.select("event_id"), ["raw"])
    assert r2.poll() == {}, "restart must not re-consume committed blocks"
    r2.feed("raw", _events_slice(spark, 100, 150))
    assert set(r2.poll()) == {"out"}
    assert r2.read("out").count() == 150  # 100 + 50, nothing duplicated


def test_partial_input_freshness(spark, tmp_path):
    """A node whose inputs advance unevenly receives None for the stale
    input and the increment for the fresh one."""
    r = Reactor(spark, str(tmp_path))
    r.source("a")
    r.source("b")
    seen = []

    def probe(ia, ib):
        seen.append((ia is not None, ib is not None))
        parts = [x.select("event_id") for x in (ia, ib) if x is not None]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    r.node("merged", probe, ["a", "b"])
    r.feed("a", _events_slice(spark, 0, 10))
    r.poll()
    r.feed("b", _events_slice(spark, 10, 30))
    r.poll()
    assert seen == [(True, False), (False, True)]
    assert r.read("merged").count() == 30


def test_crash_between_block_and_commit_replays_not_skips(spark, tmp_path):
    """Recovery contract: consumption state commits AFTER the output
    block lands, so a crash between the two re-processes the increment
    (at-least-once — a duplicate block readers dedupe) but never skips
    one. Simulated by deleting the consumption state a completed poll
    wrote."""
    import os

    r = Reactor(spark, str(tmp_path))
    r.source("raw")
    r.node("out", lambda inc: inc.select("event_id"), ["raw"])
    r.feed("raw", _events_slice(spark, 0, 100))
    r.poll()
    assert r.n_blocks("out") == 1

    os.remove(str(tmp_path / "out" / "_consumed.json"))  # crash before commit
    assert set(r.poll()) == {"out"}, "lost state must trigger replay"
    assert r.n_blocks("out") == 2  # duplicate block, nothing silently merged
    assert r.read("out").count() == 200
    assert r.read("out").dropDuplicates(["event_id"]).count() == 100
    assert r.poll() == {}  # recommitted; no further replay


def test_serve_daemon_propagates_fed_blocks(spark, tmp_path):
    """The persistent runtime shape: a daemon thread running serve()
    must pick up blocks fed by ANOTHER thread (no explicit poll calls)
    and drain them downstream, then exit cleanly when told to stop."""
    import threading

    r = Reactor(spark, str(tmp_path))
    r.source("raw")
    r.node("clicks", lambda inc: inc.filter(F.col("event_type") == "click")
           if inc is not None else None, ["raw"])

    done = threading.Event()
    result: dict = {}

    def daemon():
        result["ret"] = r.serve(stop=done.is_set, poll_interval_s=0.01)

    t = threading.Thread(target=daemon)
    t.start()
    try:
        r.feed("raw", _events_slice(spark, 0, 40))
        deadline = 100
        while r.n_blocks("clicks") < 1 and deadline:
            import time

            time.sleep(0.05)
            deadline -= 1
        assert r.n_blocks("clicks") >= 1, "daemon never propagated the block"
        r.feed("raw", _events_slice(spark, 40, 80))
        deadline = 100
        while r.n_blocks("clicks") < 2 and deadline:
            import time

            time.sleep(0.05)
            deadline -= 1
        assert r.n_blocks("clicks") >= 2
    finally:
        done.set()
        t.join(timeout=30)
    assert not t.is_alive()
    passes, moved = result["ret"]
    assert moved >= 2
    expect = (
        _events_slice(spark, 0, 80).filter(F.col("event_type") == "click").count()
    )
    assert r.read("clicks").count() == expect


def test_serve_lease_excludes_second_daemon(spark, tmp_path):
    """Single-writer contract: while one daemon holds the lease, a
    second serve() on the same reactor dir must refuse to start; an
    ABANDONED lease (stale mtime, holder died without release) is
    stolen after the ttl."""
    import os
    import threading

    import pytest

    r = Reactor(spark, str(tmp_path))
    r.source("raw")
    done = threading.Event()
    t = threading.Thread(target=lambda: r.serve(stop=done.is_set, poll_interval_s=0.01))
    t.start()
    try:
        deadline = 100
        while not os.path.exists(r._lease_path()) and deadline:
            import time

            time.sleep(0.02)
            deadline -= 1
        r2 = Reactor(spark, str(tmp_path))
        with pytest.raises(RuntimeError, match="holds the lease"):
            r2._acquire_lease(lease_ttl_s=600.0)
    finally:
        done.set()
        t.join(timeout=30)
    assert not os.path.exists(r._lease_path()), "lease must be released on exit"
    # abandoned lease: fake a dead holder with an old mtime, then steal
    with open(r._lease_path(), "w") as f:
        f.write("99999")
    os.utime(r._lease_path(), (1, 1))
    r3 = Reactor(spark, str(tmp_path))
    r3._acquire_lease(lease_ttl_s=600.0)  # stale -> stolen, no raise
    r3._release_lease()


# ------------------------------------------------------------------
# Schema pinning and concurrent same-level nodes.


def _jobs(spark, group):
    """Job ids of a job group (None: jobs outside any group), read once
    the listener bus has fed every posted event to the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _clear_job_group(spark):
    sc = spark.sparkContext
    for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(k, None)


def test_poll_jobs_carry_caller_job_group_and_schemas_match_inference(spark, tmp_path):
    """Every job a poll runs, including those of nodes run in worker
    threads, carries the caller's job group; every node's pinned read
    schema equals what plain parquet inference returns."""
    r = _diamond(spark, str(tmp_path))
    r.feed("raw", _events_slice(spark, 0, 500))
    ungrouped = _jobs(spark, None)
    spark.sparkContext.setJobGroup("reactive-poll", "reactive-poll")
    try:
        assert set(r.poll()) == {"clicks", "purchases", "joined"}
    finally:
        _clear_job_group(spark)
    assert _jobs(spark, "reactive-poll"), "poll ran no job under the caller's group"
    assert _jobs(spark, None) - ungrouped == set(), "a poll job lost the job group"
    for n in ("raw", "clicks", "purchases", "joined"):
        assert r.read(n).schema == spark.read.parquet(*r._blocks(n)).schema, n


def test_restarted_reactor_reads_increments_without_jobs(spark, tmp_path):
    """A fresh Reactor over an existing dir loads the pinned schemas, so
    building increment and full reads runs no Spark job; inferring the
    same schema does."""
    base = str(tmp_path)
    r1 = Reactor(spark, base)
    r1.source("raw")
    r1.feed("raw", _events_slice(spark, 0, 50))
    r1.feed("raw", _events_slice(spark, 50, 100))

    r2 = Reactor(spark, base)
    r2.source("raw")
    spark.sparkContext.setJobGroup("reactive-pinned", "reactive-pinned")
    try:
        inc = r2._read_increment("raw", 1, r2.n_blocks("raw"))
        full = r2.read("raw")
    finally:
        _clear_job_group(spark)
    assert _jobs(spark, "reactive-pinned") == set()
    assert inc.schema == full.schema == _events_slice(spark, 0, 1).schema

    spark.sparkContext.setJobGroup("reactive-inferred", "reactive-inferred")
    try:
        spark.read.parquet(*r2._blocks("raw"))
    finally:
        _clear_job_group(spark)
    assert _jobs(spark, "reactive-inferred"), "inference ran no job: the count proves nothing"


def test_schema_drift_is_refused_before_any_write(spark, tmp_path):
    import os

    import pytest

    r = Reactor(spark, str(tmp_path))
    r.source("raw")
    widen = {"on": False}

    def out(inc):
        df = inc.select("event_id")
        return df.withColumn("extra", F.lit(1)) if widen["on"] else df

    r.node("out", out, ["raw"])
    r.feed("raw", _events_slice(spark, 0, 10))
    r.poll()
    widen["on"] = True
    r.feed("raw", _events_slice(spark, 10, 20))
    with pytest.raises(ValueError, match="differs from the pinned"):
        r.poll()
    assert r.n_blocks("out") == 1
    assert r._consumed("out") == {"raw": 1}
    assert not [p for p in os.listdir(tmp_path / "out") if p.startswith("_staging")]


def test_failing_node_leaves_siblings_committed(spark, tmp_path):
    """When one node of a level raises, its sibling still lands its
    block and watermark; the failed node and everything downstream are
    left for the next poll, which runs only them."""
    import pytest

    broken = {"on": True}

    def purchases(inc):
        if broken["on"]:
            raise RuntimeError("purchases fn failed")
        return inc.filter(F.col("event_type") == "purchase")

    r = _diamond(spark, str(tmp_path), purchases)
    r.feed("raw", _events_slice(spark, 0, 300))
    with pytest.raises(RuntimeError, match="purchases fn failed"):
        r.poll()
    assert (r.n_blocks("clicks"), r._consumed("clicks")) == (1, {"raw": 1})
    assert (r.n_blocks("purchases"), r._consumed("purchases")) == (0, {})
    assert r.n_blocks("joined") == 0

    broken["on"] = False
    assert set(r.poll()) == {"purchases", "joined"}
    assert r.n_blocks("clicks") == 1
    assert r.poll() == {}


def test_sibling_nodes_get_their_own_local_properties(spark, tmp_path):
    """Sibling nodes run with separate copies of the caller's JVM local
    properties: a property one node's thread sets (as every SQL
    execution sets spark.sql.execution.id) is not seen by the other
    node's thread, nor by the caller."""
    import threading

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=60)
    seen = {}

    def tagged(name):
        def fn(inc):
            sc.setLocalProperty("reactive.test.node", name)
            both_set.wait()
            seen[name] = (
                sc.getLocalProperty("reactive.test.node"),
                sc.getLocalProperty("spark.sql.execution.id"),
            )
            return inc.select("event_id")

        return fn

    r = Reactor(spark, str(tmp_path))
    r.source("raw")
    r.node("a", tagged("a"), ["raw"])
    r.node("b", tagged("b"), ["raw"])
    r.feed("raw", _events_slice(spark, 0, 50))
    assert set(r.poll()) == {"a", "b"}
    assert seen == {"a": ("a", None), "b": ("b", None)}
    assert sc.getLocalProperty("reactive.test.node") is None
    assert sc.getLocalProperty("spark.sql.execution.id") is None


def test_dir_without_pin_file_is_pinned_from_its_blocks(spark, tmp_path):
    """A node dir whose blocks were written without _schema.json is
    pinned from its first block on disk, not from the block being
    appended, so drift is refused there too."""
    import json
    import os

    import pytest

    base = str(tmp_path)
    r1 = Reactor(spark, base)
    r1.source("raw")
    r1.feed("raw", _events_slice(spark, 0, 10))
    pin = tmp_path / "raw" / "_schema.json"
    os.remove(pin)

    r2 = Reactor(spark, base)
    r2.source("raw")
    with pytest.raises(ValueError, match="differs from the pinned"):
        r2.feed("raw", _events_slice(spark, 10, 20).select("event_id"))
    assert r2.n_blocks("raw") == 1
    assert not pin.exists()

    r2.feed("raw", _events_slice(spark, 10, 20))
    inferred = spark.read.parquet(*r2._blocks("raw")).schema
    assert r2.read("raw").schema == inferred
    assert json.loads(pin.read_text()) == inferred.jsonValue()
