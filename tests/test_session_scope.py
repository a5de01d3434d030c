"""Session scope of derived data: the memo in basis_spark/session.py,
the scratch names from basis_spark/io.scratch_path and the session's
codegen class cache."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import basis_spark.operators  # noqa: F401  (registers every operator)
from basis_spark.io import load, scratch_path
from basis_spark.operators import table_log
from basis_spark.operators.scans import (
    scan_file_metadata,
    sink_python_datasource,
    source_fixed_width,
)
from basis_spark.reactive import Reactor
from basis_spark.registry import QUERIES
from basis_spark.session import forget, memo
from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent


def test_same_basename_sf_dirs_get_their_own_scratch(spark, tmp_path):
    """Two SF dirs with one basename in one session: each must be
    answered from its own data, not from the first dir's layout."""
    other = tmp_path / "sf0.001"
    other.mkdir()
    src = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    pq.write_table(src.slice(0, 100), str(other / "events.parquet"))
    for sf_dir, n in ((SF_SMALL, src.num_rows), (str(other), 100)):
        total = sum(r["n_rows"] for r in scan_file_metadata(spark, sf_dir).collect())
        assert total == n, sf_dir


def test_memo_builds_once_and_forget_unpersists(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).persist()

    first = memo(spark, ("test_scope_kind", 1), build)
    assert memo(spark, ("test_scope_kind", 1), build) is first
    assert len(calls) == 1
    memo(spark, ("test_scope_kind", 2), build)  # another key builds
    assert len(calls) == 2

    fixture = load(spark, SF_SMALL, "region")
    forget("test_scope_kind")
    assert first.is_cached is False
    again = memo(spark, ("test_scope_kind", 1), build)
    assert again is not first and len(calls) == 3
    assert load(spark, SF_SMALL, "region") is fixture  # other kinds survive
    forget("test_scope_kind")


def test_memo_stores_nothing_when_build_raises(spark):
    def fail():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo(spark, ("test_scope_fail",), fail)
    assert memo(spark, ("test_scope_fail",), lambda: "built") == "built"
    forget("test_scope_fail")


def test_only_session_and_io_read_the_application_id():
    """Session scoping stays structural: every other module goes
    through session.memo or io.scratch_path."""
    readers = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / "basis_spark").rglob("*.py")
        if "sparkContext.applicationId" in p.read_text()
    )
    assert readers == ["basis_spark/io.py", "basis_spark/session.py"]


def test_fixed_width_rewrites_a_scratch_dir_left_without_success(spark, tmp_path):
    """A write that fails after Spark created the output dir leaves it
    without _SUCCESS; the next call must rewrite it, not read 0 rows."""
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    shutil.copy(os.path.join(SF_SMALL, "customer.parquet"), sf_dir)
    os.makedirs(scratch_path(spark, "fixed_width", str(sf_dir)))
    n = load(spark, SF_SMALL, "customer").count()
    assert source_fixed_width(spark, str(sf_dir)).count() == n


def test_python_sink_rewrites_a_scratch_dir_left_without_success(spark, tmp_path):
    """A commit that stopped after renaming some of its files leaves
    .jsonl parts but no _SUCCESS; the next call must rewrite the dir,
    not read the partial rows."""
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    shutil.copy(os.path.join(SF_SMALL, "customer.parquet"), sf_dir)
    out = scratch_path(spark, "pysink_jsonl", str(sf_dir))
    os.makedirs(out)
    with open(os.path.join(out, "part-x.jsonl"), "w") as fh:
        fh.write('{"nationkey": 0, "acctbal": 1.0}\n')
    n = load(spark, SF_SMALL, "customer").count()
    assert sum(r["n"] for r in sink_python_datasource(spark, str(sf_dir)).collect()) == n


def _sf_copy(tmp_path, *tables: str) -> str:
    """A fresh SF dir holding SF_SMALL's tables, so its scratch is new."""
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    for t in tables:
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), sf_dir)
    return str(sf_dir)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# Each key with the scratch subdir of the table it commits to.
_TABLE_KEYS = [
    ("table_log_snapshot", "txn_log"),
    ("table_log_optimize", "txn_log_opt"),
    ("table_log_clone_shallow", "txn_clone"),
    ("pipeline_lakehouse_curation", "txn_log_curation"),
]


@pytest.mark.parametrize("key,subdir", _TABLE_KEYS)
def test_table_build_retries_after_a_failed_commit(spark, tmp_path, monkeypatch, key, subdir):
    """A table build that fails between its commits leaves v0 on disk;
    the next call must rebuild the table, not conflict with that v0."""
    sf_dir = _sf_copy(tmp_path, "orders", "documents")
    table_dir = scratch_path(spark, subdir, sf_dir)
    commit = table_log._commit
    failed = []

    def commit_failing_once(path, version, actions):
        if path == table_dir and version == 1 and not failed:
            failed.append(version)
            raise OSError("injected commit failure")
        commit(path, version, actions)

    monkeypatch.setattr(table_log, "_commit", commit_failing_once)
    with pytest.raises(OSError, match="injected"):
        QUERIES[key](spark, sf_dir)
    assert _rows(QUERIES[key](spark, sf_dir)) == _rows(QUERIES[key](spark, SF_SMALL))


def test_reactive_bridge_retries_after_a_failed_poll(spark, tmp_path, monkeypatch):
    """A poll that fails mid-ingest leaves blocks in the store; the next
    call must ingest into a cleared store, not on top of them."""
    sf_dir = _sf_copy(tmp_path, "events")
    poll = Reactor.poll
    failed = []

    def poll_failing_once(self):
        if not failed:
            failed.append(1)
            raise OSError("injected poll failure")
        return poll(self)

    monkeypatch.setattr(Reactor, "poll", poll_failing_once)
    with pytest.raises(Exception, match="injected poll failure"):
        QUERIES["stream_reactive_bridge"](spark, sf_dir)
    clicks = load(spark, SF_SMALL, "events").filter("event_type = 'click'").count()
    assert QUERIES["stream_reactive_bridge"](spark, sf_dir).count() == clicks


# Keys that run SQL over DataFrames.
_SQL_OVER_FRAMES = [
    "sql_template_node",
    "sql_parameterized_query",
    "sql_lateral_column_alias",
    "sql_group_by_all",
    "sql_identifier_binding",
    "sql_order_by_all",
    "sql_star_except",
    "udtf_explode_tokens",
    "udtf_explode_sessions",
    "join_lateral",
]


def test_sql_keys_leave_no_temp_views(spark):
    """Frames are bound for the one spark.sql call, so building these
    keys leaves the session's temp views as they were."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for key in _SQL_OVER_FRAMES:
        QUERIES[key](spark, SF_SMALL)
    assert temp_views() == before


# bench.py's 13 keys (its BENCH_KEYS values), listed here rather than
# imported because importing bench.py switches on its fixture cache.
_BENCH13 = [
    "agg_groupby_multi",
    "join_multiway_star",
    "sort_multikey",
    "win_row_number_topk",
    "win_running_frame",
    "agg_count_distinct",
    "stream_session",
    "agg_rollup",
    "join_anti",
    "str_regexp",
    "similarity_topk",
    "dedup_near_minhash",
    "agg_conditional_pivot",
]


def test_repeat_pass_over_bench_keys_compiles_no_code(spark):
    """One pass over bench.py's keys generates ~150 classes, more than
    Spark's default codegen cache holds (100): with that cap each pass
    evicted and recompiled ~120 of them. Sized to the working set, a
    repeat pass reuses every compiled class."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount  # one sample per compiled class
    for _ in range(2):  # the first pass also builds memos and persisted indexes
        for key in _BENCH13:
            QUERIES[key](spark, SF_SMALL).collect()
    before = compiles()
    for key in _BENCH13:
        QUERIES[key](spark, SF_SMALL).collect()
    assert compiles() - before == 0
