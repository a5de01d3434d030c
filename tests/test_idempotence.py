"""Same-session double-invocation contract for every stateful key.

r8's only real bug (table_log_schema_enforcement, fixed in 9189877) was
of exactly this class: an operator that materializes state — a table
log under the warehouse dir, a sink file, a maintenance rewrite, a
memoized pipeline cache — returned different rows when invoked twice in
one session because the second call re-appended / re-committed instead
of converging. The r8 verdict (Next round #3) asked for a parametrized
sweep: call the operator twice in the same session, assert identical
sorted rows and schema. Cheap (sf0.001) and it pins the contract the
driver's gate implicitly relies on (the gate may call a key more than
once per process).

Covers the 17 table_log_* keys, the file sinks/roundtrips, the
python-datasource sink, the maintenance family, the incremental
backfill, the pipeline node cache, and the reactive keys.
"""

from __future__ import annotations

import pytest

from basis_spark.registry import QUERIES
import basis_spark.operators  # noqa: F401 — populate the registry

from .conftest import SF_SMALL

STATEFUL_KEYS = [
    # table log (all 17)
    "table_log_branch",
    "table_log_change_feed",
    "table_log_checkpoint",
    "table_log_clone_shallow",
    "table_log_concurrent_commit",
    "table_log_delete_where",
    "table_log_file_skipping",
    "table_log_history",
    "table_log_merge_cow",
    "table_log_optimize",
    "table_log_orphan_files",
    "table_log_restore",
    "table_log_schema_enforcement",
    "table_log_schema_evolution",
    "table_log_snapshot",
    "table_log_time_travel",
    "table_log_vacuum",
    # sinks / file roundtrips
    "sink_parquet_roundtrip",
    "sink_orc_roundtrip",
    "sink_python_datasource",
    "source_csv_roundtrip",
    "source_json_roundtrip",
    # maintenance
    "maintenance_compact_files",
    "maintenance_clustering_depth",
    "maintenance_stats_sampled",
    "maintenance_table_stats",
    "maintenance_zorder_cluster",
    # incremental / cache / reactive
    "incremental_backfill_partition",
    "pipeline_node_cache",
    "reactive_propagate",
    "stream_reactive_bridge",
    # every other key that materializes scratch state (write.mode /
    # scratch_path audit, r9) — sources that re-land fixture data,
    # bucketed-table setup, metrics observers, curation pipelines
    "join_bucketed",
    "observe_pipeline_metrics",
    "pipeline_lakehouse_curation",
    "rollup_incremental",
    "scan_file_metadata",
    "scan_nested_struct_pruning",
    "schema_infer_conform",
    "source_fixed_width",
    "source_jdbc",
    "source_records",
    "ts_calendar_dim",
]


def _snapshot(spark, key: str):
    df = QUERIES[key](spark, SF_SMALL)
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return df.columns, rows


@pytest.mark.parametrize("key", STATEFUL_KEYS)
def test_double_invocation_converges(spark, key):
    cols1, rows1 = _snapshot(spark, key)
    cols2, rows2 = _snapshot(spark, key)
    assert cols1 == cols2, f"{key}: schema changed between invocations"
    assert rows1 == rows2, (
        f"{key}: second same-session invocation diverged "
        f"({len(rows1)} vs {len(rows2)} rows)"
    )


def test_shuffled_order_isolation(spark):
    """Order-independence across keys (r9 verdict #5): the per-key
    double-invocation above proves each key converges against ITSELF,
    but not that key B's scratch writes can't corrupt key A's next
    invocation — the r8 schema_enforcement escape was exactly a
    cross-key scratch collision, invisible to single-key double calls.
    Run the full stateful set in list order, then again in a fixed
    pseudo-random permutation in the SAME session, and assert every
    key's snapshot is unchanged by its new neighbors."""
    import random

    first = {k: _snapshot(spark, k) for k in STATEFUL_KEYS}
    perm = list(STATEFUL_KEYS)
    random.Random(20260816).shuffle(perm)
    assert perm != STATEFUL_KEYS, "permutation degenerated to list order"
    diverged = []
    for k in perm:
        if _snapshot(spark, k) != first[k]:
            diverged.append(k)
    assert diverged == [], f"order-dependent keys: {diverged}"
