"""Pipeline/node-graph layer tests (SURVEY.md M3): graph wiring, SQL
nodes, accumulator, dedupe_keep_latest, high-watermark incremental."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from basis_spark import pipeline
from basis_spark.io import load, scratch_dir
from tests.conftest import SF_SMALL


def test_graph_python_and_sql_nodes(spark):
    g = pipeline.Graph(spark)
    g.source("orders_src", load(spark, SF_SMALL, "orders"))

    @g.node("big_orders", inputs=["orders_src"])
    def big_orders(orders):
        return orders.filter(F.col("o_totalprice") > 100000)

    g.sql_node(
        "by_status",
        "SELECT o_orderstatus, count(*) AS n FROM big_orders GROUP BY o_orderstatus",
        inputs=["big_orders"],
    )
    out = g.produce("by_status")
    expected = (
        load(spark, SF_SMALL, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .count()
    )
    got = {(r["o_orderstatus"], r["n"]) for r in out.collect()}
    want = {(r["o_orderstatus"], r["count"]) for r in expected.collect()}
    assert got == want


def test_accumulate_and_dedupe(spark):
    ev = load(spark, SF_SMALL, "events")
    inc1 = ev.filter(F.col("event_id") < 300)
    inc2 = ev.filter(F.col("event_id") >= 300)
    acc = pipeline.accumulate(inc1, inc2)
    assert acc.count() == ev.count()

    latest = pipeline.dedupe_keep_latest(ev, keys=["user_id"], order_cols=["ts", "event_id"])
    assert latest.count() == ev.select("user_id").distinct().count()


def test_high_watermark_state(spark):
    path = os.path.join(scratch_dir("state"), "events_wm.json")
    if os.path.exists(path):
        os.remove(path)
    ev = load(spark, SF_SMALL, "events")
    st = pipeline.HighWatermarkState(path, "event_id")

    first = st.filter_new(ev)
    assert first.count() == ev.count()  # no state yet: everything is new
    st.advance(first)

    second = st.filter_new(ev)
    assert second.count() == 0  # all blocks consumed

    # a "new block" arrives (simulate by shifting ids past the watermark)
    wm = st.read()
    new_block = ev.limit(10).withColumn("event_id", F.col("event_id") + F.lit(wm + 1))
    assert st.filter_new(new_block).count() == 10


def test_graph_from_yaml(spark):
    yaml_text = """
nodes:
  - name: big_orders
    sql: SELECT * FROM orders_src WHERE o_totalprice > 100000
    inputs: [orders_src]
  - name: by_status
    sql: SELECT o_orderstatus, count(*) AS n FROM big_orders GROUP BY o_orderstatus
    inputs: [big_orders]
"""
    g = pipeline.Graph.from_yaml(
        spark, yaml_text, sources={"orders_src": load(spark, SF_SMALL, "orders")}
    )
    out = g.produce("by_status")
    expected = (
        load(spark, SF_SMALL, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .count()
    )
    got = {(r["o_orderstatus"], r["n"]) for r in out.collect()}
    want = {(r["o_orderstatus"], r["count"]) for r in expected.collect()}
    assert got == want


def test_graph_cycle_detection(spark):
    g = pipeline.Graph(spark)
    g.sql_node("a", "SELECT * FROM b", inputs=["b"])
    g.sql_node("b", "SELECT * FROM a", inputs=["a"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cycle"):
        g.produce("a")


def test_graph_diamond_dag(spark):
    """One upstream feeding two inputs of the same node must resolve, not
    raise a false 'cycle detected' (ADVICE r1: visited-set vs path-set)."""
    g = pipeline.Graph(spark)
    g.source("src", load(spark, SF_SMALL, "nation"))
    g.sql_node("a", "SELECT n_nationkey, n_regionkey FROM src", inputs=["src"])
    g.sql_node("b", "SELECT n_nationkey, n_name FROM src", inputs=["src"])
    g.sql_node(
        "joined",
        "SELECT a.n_nationkey, b.n_name FROM a JOIN b ON a.n_nationkey = b.n_nationkey",
        inputs=["a", "b"],
    )
    assert g.produce("joined").count() == load(spark, SF_SMALL, "nation").count()


def test_graph_views_are_namespaced(spark):
    """Two graphs with same-named nodes in one session must not clobber
    each other's temp views; a pre-existing temp view with a node's name
    must not shadow the node either."""
    # hostile pre-existing view with the node's name
    load(spark, SF_SMALL, "region").createOrReplaceTempView("src")
    g1 = pipeline.Graph(spark)
    g1.source("src", load(spark, SF_SMALL, "nation"))
    g1.sql_node("out", "SELECT count(*) AS n FROM src", inputs=["src"])
    g2 = pipeline.Graph(spark)
    g2.source("src", load(spark, SF_SMALL, "customer"))
    g2.sql_node("out", "SELECT count(*) AS n FROM src", inputs=["src"])
    n1 = g1.produce("out").collect()[0]["n"]
    n2 = g2.produce("out").collect()[0]["n"]
    assert n1 == load(spark, SF_SMALL, "nation").count()
    assert n2 == load(spark, SF_SMALL, "customer").count()
    spark.catalog.dropTempView("src")


def test_graph_sql_node_leaves_no_temp_view(spark):
    """A SQL node's inputs are bound for the one spark.sql call: the
    session's temp views are the same before and after produce(), and a
    literal brace in the node SQL reaches Spark as written."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    g = pipeline.Graph(spark)
    g.source("src", load(spark, SF_SMALL, "nation"))
    g.sql_node("out", "SELECT count(*) AS n, '{x}' AS s FROM src", inputs=["src"])
    row = g.produce("out").collect()[0]
    assert (row["n"], row["s"]) == (load(spark, SF_SMALL, "nation").count(), "{x}")
    assert temp_views() == before


def test_sql_rewrite_only_table_positions(spark):
    """Input-name rewriting must not touch columns, aliases, or string
    literals that share an input node's name (ADVICE r2)."""
    from pyspark.sql import Row

    g = pipeline.Graph(spark)
    g.source("src", spark.createDataFrame([Row(src="a", label="src"), Row(src="b", label="x")]))
    # column named 'src' selected from table 'src', compared to literal 'src'
    g.sql_node("out", "SELECT src FROM src WHERE label = 'src'", inputs=["src"])
    rows = g.produce("out").collect()
    assert [r["src"] for r in rows] == ["a"]


def test_sql_rewrite_comma_from_list(spark):
    g = pipeline.Graph(spark)
    g.source("a", load(spark, SF_SMALL, "nation"))
    g.source("b", load(spark, SF_SMALL, "region"))
    g.sql_node(
        "x",
        "SELECT count(*) AS n FROM a, b WHERE a.n_regionkey = b.r_regionkey",
        inputs=["a", "b"],
    )
    assert g.produce("x").collect()[0]["n"] == load(spark, SF_SMALL, "nation").count()


def test_sql_rewrite_unreferenced_input_raises(spark):
    import pytest as _pytest

    g = pipeline.Graph(spark)
    g.source("src", load(spark, SF_SMALL, "nation"))
    g.sql_node("out", "SELECT 1 AS one", inputs=["src"])
    with _pytest.raises(ValueError, match="table position"):
        g.produce("out")


def test_sql_rewrite_quoted_identifier(spark):
    """Backtick-quoted table refs must rewrite like bare ones (the
    round-3 regex pass missed them)."""
    g = pipeline.Graph(spark)
    g.source("src", load(spark, SF_SMALL, "nation"))
    g.sql_node("out", "SELECT count(*) AS n FROM `src`", inputs=["src"])
    assert g.produce("out").collect()[0]["n"] == load(spark, SF_SMALL, "nation").count()


def test_sql_rewrite_alias_shadowing_input(spark):
    """A subquery alias that shadows an input name keeps standard SQL
    scoping: the alias slot is never rewritten, qualified refs resolve
    against the alias, and the real table ref still rewrites."""
    g = pipeline.Graph(spark)
    g.source("src", load(spark, SF_SMALL, "nation"))
    g.sql_node(
        "out",
        """
        SELECT src.one, cnt.n
        FROM (SELECT 1 AS one) src
        CROSS JOIN (SELECT count(*) AS n FROM src) cnt
        """,
        inputs=["src"],
    )
    r = g.produce("out").collect()[0]
    assert r["one"] == 1
    assert r["n"] == load(spark, SF_SMALL, "nation").count()


def test_high_watermark_timestamp_column(spark):
    """Watermark over a timestamp column: persisted losslessly, compared
    in the column's native type (ADVICE r1: int() coercion raised)."""
    path = os.path.join(scratch_dir("state"), "events_ts_wm.json")
    if os.path.exists(path):
        os.remove(path)
    ev = load(spark, SF_SMALL, "events")
    st = pipeline.HighWatermarkState(path, "ts")
    assert st.filter_new(ev).count() == ev.count()
    wm = st.advance(ev)
    import datetime as _dt

    assert isinstance(wm, _dt.datetime)
    assert st.filter_new(ev).count() == 0
    assert st.read() == wm  # lossless JSON round trip


def test_graph_materialize_blocks(spark, tmp_path):
    """materialize() writes append-only blocks + a run log, re-runs add a
    new block rather than mutating (basis block immutability)."""
    import json

    g = pipeline.Graph(spark)
    g.source("orders_src", load(spark, SF_SMALL, "orders"))
    g.sql_node(
        "by_status",
        "SELECT o_orderstatus, count(*) AS n FROM orders_src GROUP BY 1",
        inputs=["orders_src"],
    )
    base = str(tmp_path)
    e1 = g.materialize("by_status", base)
    e2 = g.materialize("by_status", base)
    assert (e1["block"], e2["block"]) == (0, 1)
    assert e1["rows"] == e2["rows"] == 3
    logf = os.path.join(base, "by_status", "log.jsonl")
    entries = [json.loads(ln) for ln in open(logf)]
    assert [e["block"] for e in entries] == [0, 1]
    # both blocks still readable (immutability)
    b0 = spark.read.parquet(os.path.join(base, "by_status", "block=0"))
    assert b0.count() == 3


def test_graph_materialize_refuses_schema_drift(spark, tmp_path):
    """A node's first block pins its schema: materializing a same-named
    node with other columns raises and publishes nothing."""
    import pytest

    base = str(tmp_path)
    nation = load(spark, SF_SMALL, "nation")
    g1 = pipeline.Graph(spark)
    g1.source("out", nation.select("n_nationkey", "n_name"))
    assert g1.materialize("out", base)["block"] == 0
    g2 = pipeline.Graph(spark)
    g2.source("out", nation.select("n_regionkey"))
    with pytest.raises(ValueError, match="schema"):
        g2.materialize("out", base)
    assert not (tmp_path / "out" / "block=1").exists()
    assert not [p for p in os.listdir(tmp_path / "out") if p.startswith("_staging")]


def test_money_mean_sign_aware_half_up(spark, duck):
    """_money_mean_sql must round a decimal midpoint half AWAY FROM
    ZERO in BOTH engines (r10 advice: the old floor(m+0.5) form sent
    -2.505 -> -2.50, toward +inf, diverging from the join_broadcast
    policy). The helper text is shared by impl and oracle, so this
    pins the semantics once for both sides and for every caller
    (sql_group_by_all, sql_identifier_binding, reshape_transpose,
    pipeline_node_cache)."""
    from basis_spark.operators.pipelines import _money_mean_sql

    expr = _money_mean_sql("x", 2)
    cases = [
        ([-2.505, -2.505], -2.51),  # negative midpoint -> away from zero
        ([2.505, 2.505], 2.51),     # positive midpoint -> away from zero
        ([-1.0, 2.0], 0.5),         # sign(sum)>0 with negative elements
        ([0.0, 0.0], 0.0),          # sign()=0 branch
        ([-10.01, -10.02], -10.02),  # negative midpoint (cents mean -10.015)
    ]
    for vals, want in cases:
        rows = ", ".join(f"({v!r})" for v in vals)
        duck_got = duck.execute(
            f"SELECT {expr} AS m FROM (VALUES {rows}) t(x)"
        ).fetchone()[0]
        spark_got = spark.sql(
            f"SELECT {expr} AS m FROM (VALUES {rows}) AS t(x)"
        ).collect()[0][0]
        assert duck_got == spark_got == want, (vals, duck_got, spark_got, want)
