"""Transaction-log table format semantics (operators/table_log.py):
time travel must return pre-update rows even after the update has
committed, snapshot reads must never touch removed objects, and the
log replay must be strict about unknown actions."""

from __future__ import annotations

import os

import pytest

from basis_spark.io import scratch_path
from basis_spark.operators import table_log
from tests.conftest import SF_ORACLE


def test_time_travel_sees_pre_update_prices(spark):
    """After v1 (reprice x2 of odd-key orders) exists on disk, the
    as-of-v0 read must still return the ORIGINAL prices — the defining
    property of immutable objects + versioned log."""
    table_dir = table_log._build_table(spark, SF_ORACLE)
    assert os.path.exists(os.path.join(table_dir, "log", "00000001.json"))
    v0 = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in table_log.table_log_time_travel(spark, SF_ORACLE).collect()
    }
    latest = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in table_log.table_log_snapshot(spark, SF_ORACLE).collect()
    }
    assert set(v0) == set(latest)  # update rewrites rows, never deletes
    odd = [k for k in v0 if k % 2 == 1]
    even = [k for k in v0 if k % 2 == 0]
    assert odd and even, "fixture must exercise both objects"
    for k in odd:
        assert latest[k] == v0[k] * 2
    for k in even:
        assert latest[k] == v0[k]


def test_snapshot_scans_only_live_objects(spark):
    table_dir = table_log._build_table(spark, SF_ORACLE)
    live = table_log._live_objects(table_dir)
    assert [os.path.basename(p) for p in live] == ["p0", "p2"]
    v0_live = table_log._live_objects(table_dir, as_of=0)
    assert [os.path.basename(p) for p in v0_live] == ["p0", "p1"]


def test_replay_rejects_unknown_action(tmp_path):
    table_log._commit(str(tmp_path), 0, [{"op": "truncate", "path": "x"}])
    with pytest.raises(ValueError, match="unknown log action"):
        table_log._live_objects(str(tmp_path))


def test_commit_is_atomic_no_tmp_residue(spark):
    """The temp+rename write must leave no .tmp files a log lister
    could mistake for commits."""
    table_dir = table_log._build_table(spark, SF_ORACLE)
    log_dir = os.path.join(table_dir, "log")
    assert all(not n.endswith(".tmp") for n in os.listdir(log_dir))
    versions = [rec["version"] for rec in table_log._read_log(table_dir)]
    assert versions == [0, 1]


def test_merge_cow_leaves_unmatched_objects_untouched(spark):
    """The defining COW property: MERGE rewrites only objects holding
    matched keys. The odd-key object p2 has no matched rows, so after
    the v2 merge commit it must still be live under its ORIGINAL path
    (same bytes, no rewrite), while p0 is replaced and an insert object
    appears."""
    table_log.table_log_merge_cow(spark, SF_ORACLE).count()  # builds v2
    table_dir = scratch_path(spark, "txn_log_merge", SF_ORACLE)
    names = [os.path.basename(p) for p in table_log._live_objects(table_dir)]
    assert "p2" in names, "untouched object must survive under its old path"
    assert "p0" not in names, "matched object must be replaced"
    assert "m2_0" in names and "m2_ins" in names
    versions = [rec["version"] for rec in table_log._read_log(table_dir)]
    assert versions == [0, 1, 2]


def test_checkpoint_replay_skips_folded_commits(spark):
    """Replay through a checkpoint must seed from the manifest and
    apply ONLY the commits after it — and agree exactly with full
    replay. Full replay must still work (a checkpoint is never the
    source of truth)."""
    table_log.table_log_checkpoint(spark, SF_ORACLE).count()  # builds all
    table_dir = scratch_path(spark, "txn_log_ckpt", SF_ORACLE)
    live_full = table_log._live_objects(table_dir)
    live_ckpt, replayed = table_log._live_objects_ckpt(table_dir)
    assert sorted(live_full) == sorted(live_ckpt)
    assert replayed == 1  # v2 only; v0+v1 folded into the manifest
    # as-of BEFORE the checkpoint: manifest at v1 is ineligible, full
    # replay of v0 must kick in (checkpoint-aware read of history)
    v0_live, v0_replayed = table_log._live_objects_ckpt(table_dir, as_of=0)
    assert [os.path.basename(p) for p in v0_live] == ["p0", "p1"]
    assert v0_replayed == 1  # v0 itself


def test_schema_evolution_never_rewrites_old_objects(spark):
    """Add-column evolution: pre-evolution objects keep their original
    footprint (no rewrite), post-evolution rows carry the column, old
    rows surface NULL."""
    df = table_log.table_log_schema_evolution(spark, SF_ORACLE)
    table_dir = scratch_path(spark, "txn_log_schema", SF_ORACLE)
    names = [os.path.basename(p) for p in table_log._live_objects(table_dir)]
    assert set(names) == {"p0", "p2", "s2"}
    rows = df.collect()
    old = [r for r in rows if r["o_orderpriority"] is None]
    new = [r for r in rows if r["o_orderpriority"] is not None]
    assert old and new, "both generations must be present"


def test_vacuum_deletes_only_unreferenced_and_is_idempotent(spark):
    """Vacuum with floor v1 must delete exactly p1 (referenced only by
    v0), leave the latest snapshot intact, and find nothing more on a
    second pass. Time travel past the floor must now fail — the
    documented retention trade."""
    table_log.table_log_vacuum(spark, SF_ORACLE).count()
    table_dir = scratch_path(spark, "txn_log_vacuum", SF_ORACLE)
    files = sorted(os.listdir(os.path.join(table_dir, "files")))
    assert files == ["p0", "p2"], files
    assert table_log._vacuum(table_dir, retain_from_version=1) == []
    with pytest.raises(Exception):  # v0 references the deleted p1
        spark.read.parquet(
            *table_log._live_objects(table_dir, as_of=0)
        ).count()


def test_commit_is_create_if_absent(tmp_path):
    """The log's mutual-exclusion primitive: a second commit of the
    SAME version must raise CommitConflict and leave the winner's
    content byte-identical (r1-r5's os.replace would have silently
    clobbered it — a lost update in the transaction log itself)."""
    d = str(tmp_path / "tbl")
    table_log._commit(d, 0, [{"op": "add", "path": "files/a"}])
    before = open(os.path.join(d, "log", "00000000.json")).read()
    with pytest.raises(table_log.CommitConflict):
        table_log._commit(d, 0, [{"op": "add", "path": "files/b"}])
    assert open(os.path.join(d, "log", "00000000.json")).read() == before
    # no staging residue from either attempt
    leftovers = [n for n in os.listdir(os.path.join(d, "log")) if ".tmp" in n]
    assert leftovers == []
    # the loser retries at the next version and lands
    table_log._commit(d, 1, [{"op": "add", "path": "files/b"}])
    assert [r["version"] for r in table_log._read_log(d)] == [0, 1]


def test_change_feed_is_empty_for_verbatim_rewrite(spark):
    """A commit that rewrites an object's rows VERBATIM (compaction /
    OPTIMIZE) must produce an EMPTY change feed: file movement is not
    data change — the exceptAll cancellation claimed in
    table_log_change_feed's contract, exercised directly."""
    table_dir = table_log._build_table(spark, SF_ORACLE)
    pre_objs = [p for p in table_log._live_objects(table_dir)]
    pre = spark.read.parquet(*pre_objs).select(*table_log._COLS)
    post = spark.read.parquet(*pre_objs).select(*table_log._COLS)
    # a verbatim rewrite's removed-set == added-set as ROWS, so both
    # directions of the feed cancel exactly
    assert pre.exceptAll(post).count() == 0
    assert post.exceptAll(pre).count() == 0


def test_branch_commit_does_not_change_main(spark):
    """Branch isolation, asserted structurally: materializing the 'exp'
    branch (table_log_branch) must leave main's log untouched — same
    commit files, same live object set, byte-identical log entries."""
    import json as _json

    from basis_spark.registry import QUERIES

    table_dir = table_log._build_table(spark, SF_ORACLE)
    log_dir = os.path.join(table_dir, "log")
    before = {
        n: open(os.path.join(log_dir, n)).read()
        for n in sorted(os.listdir(log_dir))
        if n.endswith(".json")
    }
    QUERIES["table_log_branch"](spark, SF_ORACLE).collect()
    after = {
        n: open(os.path.join(log_dir, n)).read()
        for n in sorted(os.listdir(log_dir))
        if n.endswith(".json")
    }
    assert before == after
    # and the branch ref + its own log exist independently
    assert os.path.exists(os.path.join(table_dir, "refs", "exp.json"))
    assert os.path.exists(os.path.join(table_dir, "log-exp", "00000000.json"))
    ref = _json.load(open(os.path.join(table_dir, "refs", "exp.json")))
    assert ref["base_version"] == 0


def test_file_skipping_prunes_files_and_preserves_semantics(spark):
    """Zone-map pruning must (a) actually skip files — the [0.4m, 0.6m]
    custkey predicate intersects exactly 2 of the 4 range files — and
    (b) never change results: the pruned+filtered read equals the
    unpruned+filtered read row for row."""
    from pyspark.sql import functions as F

    from basis_spark.io import load
    from basis_spark.operators.table_log import (
        _build_skipping_table,
        _skipping_pruned_files,
    )
    from tests.conftest import SF_ORACLE

    table_dir = _build_skipping_table(spark, SF_ORACLE)
    m = (
        load(spark, SF_ORACLE, "orders")
        .agg(F.max("o_custkey").alias("m"))
        .first()["m"]
    )
    lo, hi = (2 * m) // 5, (3 * m) // 5
    kept, total = _skipping_pruned_files(table_dir, lo, hi)
    assert total == 4
    assert len(kept) == 2, kept
    pruned = sorted(
        tuple(r)
        for r in spark.read.parquet(*kept)
        .filter(F.col("o_custkey").between(lo, hi))
        .collect()
    )
    all_files, _ = _skipping_pruned_files(table_dir, 0, m)
    unpruned = sorted(
        tuple(r)
        for r in spark.read.parquet(*all_files)
        .filter(F.col("o_custkey").between(lo, hi))
        .collect()
    )
    assert pruned == unpruned and pruned
