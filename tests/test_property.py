"""Property-based differential testing (SURVEY.md §5.4): hypothesis
generates small query ASTs (filter + group + agg combos, scalar function
pipelines), each rendered BOTH as a DataFrame plan and as DuckDB SQL from
the same AST, then compared with the driver-mirroring canonicalizer.
Catches dialect-semantics drift (dow encodings, null ordering, rounding)
beyond the hand-declared §2 inventory.

Deterministic: derandomize=True so CI never flakes on a fresh example.
"""

from __future__ import annotations

from contextlib import contextmanager

from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from basis_spark.io import load
from tests.conftest import SF_ORACLE, compare_frames

SETTINGS = dict(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# ---------------------------------------------------------------- AST bits --

NUM_COLS = ["o_totalprice", "o_custkey", "o_orderkey"]
CAT_COLS = {"o_orderstatus": ["O", "F", "P"], "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}
GROUP_COLS = ["o_orderstatus", "o_orderpriority"]

num_pred = st.tuples(
    st.sampled_from(NUM_COLS),
    st.sampled_from([">", "<", ">=", "<=", "=", "<>"]),
    st.integers(min_value=0, max_value=300000),
)
cat_pred = st.tuples(
    st.sampled_from(list(CAT_COLS)),
    st.sampled_from(["=", "<>"]),
    st.integers(min_value=0, max_value=2),
)
date_pred = st.tuples(
    st.just("o_orderdate"),
    st.sampled_from([">=", "<"]),
    st.dates(min_value=__import__("datetime").date(1992, 1, 1), max_value=__import__("datetime").date(1998, 12, 1)),
)
predicate = st.one_of(num_pred, cat_pred, date_pred)


def _render_pred(p):
    """AST predicate -> (spark SQL expr string, duckdb SQL string)."""
    col, op, val = p
    if col in CAT_COLS:
        lit = f"'{CAT_COLS[col][val]}'"
        return f"{col} {op} {lit}", f"{col} {op} {lit}"
    if col == "o_orderdate":
        return (
            f"{col} {op} timestamp'{val.isoformat()}'",
            f"{col} {op} TIMESTAMP '{val.isoformat()}'",
        )
    return f"{col} {op} {val}", f"{col} {op} {val}"


@given(
    preds=st.lists(predicate, min_size=1, max_size=3),
    conj=st.sampled_from(["AND", "OR"]),
    gcols=st.lists(st.sampled_from(GROUP_COLS), min_size=0, max_size=2, unique=True),
)
@settings(**SETTINGS)
def test_filter_group_agg(spark, duck, preds, conj, gcols):
    sparts, dparts = zip(*(_render_pred(p) for p in preds))
    swhere = f" {conj} ".join(sparts)
    dwhere = f" {conj} ".join(dparts)
    df = load(spark, SF_ORACLE, "orders").filter(swhere)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("s"),
        F.round(F.min("o_totalprice"), 2).alias("mn"),
        F.round(F.max("o_totalprice"), 2).alias("mx"),
    ]
    if gcols:
        df = df.groupBy(*gcols).agg(*aggs)
    else:
        df = df.agg(*aggs)
    gsel = (", ".join(gcols) + ", ") if gcols else ""
    gby = f"GROUP BY {', '.join(gcols)}" if gcols else ""
    sql = f"""
        SELECT {gsel}count(*) AS n, round(sum(o_totalprice), 2) AS s,
               round(min(o_totalprice), 2) AS mn, round(max(o_totalprice), 2) AS mx
        FROM orders WHERE {dwhere} {gby}
    """
    compare_frames(df, duck, sql, key=f"prop_agg[{swhere}|{gcols}]")


DATE_FNS = ["year", "month", "day", "hour", "minute", "isodow"]


@given(fn=st.sampled_from(DATE_FNS))
@settings(**SETTINGS)
def test_date_part_semantics(spark, duck, fn):
    """Pins the date-part adapter, incl. the dow encoding delta:
    Spark dayofweek is Sun=1..Sat=7; DuckDB isodow is Mon=1..Sun=7.
    Declared output (SURVEY §2.H): ISO dow."""
    ev = load(spark, SF_ORACLE, "events")
    if fn == "isodow":
        scol = F.expr("((dayofweek(ts) + 5) % 7) + 1")
        dexpr = "isodow(CAST(ts AS TIMESTAMP))"
    else:
        scol = F.expr(f"{fn}(ts)")
        dexpr = f"{fn}(CAST(ts AS TIMESTAMP))"
    df = ev.groupBy(scol.cast("int").alias("k")).agg(F.count(F.lit(1)).alias("n"))
    sql = f"SELECT CAST({dexpr} AS INT) AS k, count(*) AS n FROM events GROUP BY 1"
    compare_frames(df, duck, sql, key=f"prop_date[{fn}]")


@given(
    start=st.integers(min_value=1, max_value=10),
    length=st.integers(min_value=1, max_value=12),
    fn=st.sampled_from(["upper", "lower", "trim", "reverse"]),
)
@settings(**SETTINGS)
def test_string_pipeline(spark, duck, start, length, fn):
    """substr(1-based) + unary string fn agree byte-for-byte."""
    part = load(spark, SF_ORACLE, "part")
    df = (
        part.select(F.expr(f"{fn}(substr(p_name, {start}, {length}))").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sql = (
        f"SELECT {fn}(substr(p_name, {start}, {length})) AS v, count(*) AS n "
        "FROM part GROUP BY 1"
    )
    compare_frames(df, duck, sql, key=f"prop_str[{fn}({start},{length})]")


TRUNC_UNITS = ["day", "week", "month", "quarter", "year"]


@given(
    unit=st.sampled_from(TRUNC_UNITS),
    n=st.integers(min_value=-10, max_value=10),
)
@settings(**SETTINGS)
def test_date_trunc_interval_arithmetic(spark, duck, unit, n):
    """date_trunc x every unit, then +/- a random day interval: the
    adapter's trunc boundaries (ISO Monday weeks, quarter starts) and
    interval arithmetic must agree across engines."""
    ev = load(spark, SF_ORACLE, "events")
    df = (
        ev.select(F.expr(f"timestampadd(DAY, {n}, date_trunc('{unit}', ts))").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sql = f"""
        SELECT date_trunc('{unit}', CAST(ts AS TIMESTAMP)) + ({n} * INTERVAL 1 DAY) AS t,
               count(*) AS cnt
        FROM events GROUP BY 1
    """
    compare_frames(df, duck, sql, key=f"prop_trunc[{unit},{n:+d}]")


@given(
    anchor=st.dates(
        min_value=__import__("datetime").date(1995, 1, 1),
        max_value=__import__("datetime").date(2001, 8, 1),
    ),
)
@settings(**SETTINGS)
def test_datediff_arg_order(spark, duck, anchor):
    """Spark datediff(end, start) vs DuckDB date_diff('day', start, end):
    the ARG ORDER is flipped between dialects (r1 adapter learning) —
    a swap shows up as negated values, which the hash catches."""
    ev = load(spark, SF_ORACLE, "events")
    df = (
        ev.select(
            F.expr(f"datediff(ts, timestamp'{anchor.isoformat()}')").cast("int").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sql = f"""
        SELECT CAST(date_diff('day', TIMESTAMP '{anchor.isoformat()}',
                    CAST(ts AS TIMESTAMP)) AS INT) AS d, count(*) AS cnt
        FROM events GROUP BY 1
    """
    compare_frames(df, duck, sql, key=f"prop_datediff[{anchor}]")


@given(
    gran=st.sampled_from(["s", "ms"]),
    modulus=st.integers(min_value=2, max_value=3600),
)
@settings(**SETTINGS)
def test_epoch_rounding(spark, duck, gran, modulus):
    """Epoch extraction at second/millisecond granularity: Spark
    unix_timestamp/unix_millis truncate; DuckDB epoch() returns a
    fractional double — the adapter must floor, not round. A random
    modulus buckets the epochs so every row's value participates."""
    ev = load(spark, SF_ORACLE, "events")
    sexpr = "unix_timestamp(ts)" if gran == "s" else "unix_millis(ts)"
    dexpr = (
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"
        if gran == "s"
        else "epoch_ms(CAST(ts AS TIMESTAMP))"
    )
    df = (
        ev.select((F.expr(sexpr) % modulus).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sql = f"SELECT {dexpr} % {modulus} AS b, count(*) AS cnt FROM events GROUP BY 1"
    compare_frames(df, duck, sql, key=f"prop_epoch[{gran},{modulus}]")


JOIN_TYPES = [("inner", "JOIN"), ("left", "LEFT JOIN"), ("left_semi", "SEMI JOIN"), ("left_anti", "ANTI JOIN")]


@given(
    jt=st.sampled_from(JOIN_TYPES),
    seg=st.sampled_from(["BUILDING", "MACHINERY", "AUTOMOBILE"]),
    cutoff=st.integers(min_value=50000, max_value=400000),
)
@settings(**SETTINGS)
def test_join_types(spark, duck, jt, seg, cutoff):
    """Random join type x filters on both sides agree with DuckDB,
    including null production on outer joins and semi/anti semantics."""
    stype, dkw = jt
    c = load(spark, SF_ORACLE, "customer").filter(F.col("c_mktsegment") == seg)
    o = load(spark, SF_ORACLE, "orders").filter(F.col("o_totalprice") > cutoff)
    j = c.join(o, c.c_custkey == o.o_custkey, stype)
    if stype in ("left_semi", "left_anti"):
        df = j.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    else:
        df = j.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_orderkey").alias("n_orders"),
        )
    cte = f"""
        WITH c AS (SELECT * FROM customer WHERE c_mktsegment = '{seg}'),
             o AS (SELECT * FROM orders WHERE o_totalprice > {cutoff})
    """
    if stype in ("left_semi", "left_anti"):
        sql = cte + f"SELECT c_mktsegment, count(*) AS n FROM c {dkw} o ON c_custkey = o_custkey GROUP BY 1"
    else:
        sql = cte + (
            f"SELECT c_mktsegment, count(*) AS n, count(o_orderkey) AS n_orders "
            f"FROM c {dkw} o ON c_custkey = o_custkey GROUP BY 1"
        )
    compare_frames(df, duck, sql, key=f"prop_join[{stype},{seg},{cutoff}]")


@given(
    k=st.integers(min_value=1, max_value=5),
    desc=st.booleans(),
)
@settings(**SETTINGS)
def test_window_topk_per_group(spark, duck, k, desc):
    """Random top-k per nation by acctbal, both directions, unique-key
    tie-broken (R1)."""
    from pyspark.sql import Window

    s = load(spark, SF_ORACLE, "supplier")
    order = [F.col("s_acctbal").desc(), F.col("s_suppkey").asc()] if desc else [
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()]
    w = Window.partitionBy("s_nationkey").orderBy(*order)
    df = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("s_nationkey", "s_suppkey", "rn")
    )
    d = "DESC" if desc else "ASC"
    sql = f"""
        SELECT s_nationkey, s_suppkey, CAST(rn AS INT) AS rn FROM (
            SELECT s_nationkey, s_suppkey,
                   row_number() OVER (PARTITION BY s_nationkey
                       ORDER BY s_acctbal {d}, s_suppkey) AS rn
            FROM supplier) t
        WHERE rn <= {k}
    """
    compare_frames(df, duck, sql, key=f"prop_topk[{k},{d}]")


def test_sessionizer_heavy_user(spark, tmp_path_factory):
    """Power-law regression: one user with 1e5 events must sessionize
    without collecting their lifetime history into a single Arrow batch.
    udtf_explode_sessions bounds the UDTF input at one SESSION (boundary
    detection runs JVM-side with streaming window frames), so a heavy
    user costs a spillable sort, never an unbounded array."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from basis_spark.operators.udfs import udtf_explode_sessions

    n_heavy = 100_000
    per_session = 10
    # Heavy user 0: sessions of 10 events 60s apart, 2h gap between
    # sessions -> 10_000 sessions, each 540s long.
    i = np.arange(n_heavy)
    sess, pos = i // per_session, i % per_session
    heavy_ts = sess * 7200 + pos * 60
    # User 1: one 5-event session.
    light_ts = np.arange(5) * 60
    base = np.datetime64("2024-01-01T00:00:00", "us")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n_heavy + 5, dtype=np.int64),
            "ts": base + np.concatenate([heavy_ts, light_ts]).astype("timedelta64[s]"),
            "user_id": np.concatenate(
                [np.zeros(n_heavy, dtype=np.int64), np.ones(5, dtype=np.int64)]
            ),
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
    )
    d = tmp_path_factory.mktemp("heavy_events")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / "events.parquet"))

    out = udtf_explode_sessions(spark, str(d)).toPandas()
    heavy = out[out.user_id == 0]
    assert len(heavy) == n_heavy // per_session
    assert (heavy.n_events == per_session).all()
    assert (heavy.dur_seconds == 540.0).all()
    assert sorted(heavy.sid) == list(range(1, n_heavy // per_session + 1))
    light = out[out.user_id == 1]
    assert len(light) == 1
    assert light.n_events.iloc[0] == 5 and light.dur_seconds.iloc[0] == 240.0


@contextmanager
def _sparse_range_samples(spark):
    """Sample 2 rows per partition for range bounds: two separately
    sampled range exchanges then cut at visibly different bounds, so a
    two-pass scan whose passes do not share one partitioning goes wrong."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


@given(cutoff=st.integers(min_value=0, max_value=400000))
@settings(**SETTINGS)
def test_global_rank_exact_under_filters(spark, duck, cutoff):
    """windows.global_rank (the distributed two-pass exact rank behind
    win_ntile_pctile and agg_hist_equi_depth) must equal a plain SQL
    row_number for arbitrary subsets — gapless, 1-based, tie-free —
    with a non-key payload column carried through (the data pass then
    differs from the pruned offset pass) and sparse range samples."""
    from basis_spark.operators.windows import global_rank

    df = (
        load(spark, SF_ORACLE, "orders")
        .filter(F.col("o_totalprice") > cutoff)
        .select("o_orderkey", "o_totalprice", "o_custkey")
    )
    sql = f"""
        SELECT o_orderkey, o_custkey,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank
        FROM orders WHERE o_totalprice > {cutoff}
    """
    with _sparse_range_samples(spark):
        ranked = global_rank(df, "o_totalprice", "o_orderkey").select(
            "o_orderkey", "o_custkey", F.col("rank").cast("long").alias("rank")
        )
        compare_frames(ranked, duck, sql, key=f"prop_global_rank[{cutoff}]")


def test_zorder_layout_shrinks_bounding_boxes(spark, tmp_path):
    """The point of maintenance_zorder_cluster: files laid out by the
    Morton key are prunable on BOTH dimensions, while a single-column
    sort leaves the second dimension's per-file span at full width
    (raw box AREA is the wrong metric - thin full-width slabs can beat
    squares on area while a filter on y still has to read every file).
    Pinned per dimension: under z-order the mean per-file y-span is
    less than half the x-sorted layout's (where it is the full domain),
    and the x-span stays bounded below half the domain too."""
    from basis_spark.io import load as _load

    ev = _load(spark, SF_ORACLE, "events")
    bx = F.pmod(F.col("user_id"), 256)
    by = F.pmod(F.floor(F.col("value")).cast("long"), 256)
    z = None
    for i in range(8):
        tx = F.shiftright(bx, i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        ty = F.shiftright(by, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1))
        z = tx + ty if z is None else z + tx + ty
    base = ev.select(bx.alias("x"), by.alias("y"), z.alias("z"))

    def mean_spans(sort_col, label):
        out = str(tmp_path / label)
        base.repartitionByRange(16, F.col(sort_col)).sortWithinPartitions(
            sort_col
        ).write.parquet(out)
        per_file = (
            spark.read.parquet(out)
            .groupBy(F.col("_metadata.file_name").alias("f"))
            .agg(
                (F.max("x") - F.min("x") + 1).alias("sx"),
                (F.max("y") - F.min("y") + 1).alias("sy"),
            )
        )
        r = per_file.agg(F.avg("sx"), F.avg("sy")).collect()[0]
        return r[0], r[1]

    zx, zy = mean_spans("z", "by_z")
    lx, ly = mean_spans("x", "by_x")
    assert zy < ly / 2, (zy, ly)
    assert zx < 128, zx
    assert lx < zx  # the single-dim sort is still best for its own column


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's defining guarantee: any shared substring of length
    >= k + w - 1 (= 23 chars here) produces at least one shared
    fingerprint. Inject a 40-char plagiarized span into two otherwise
    different fixture docs and require fingerprint overlap; a third
    doc without the span must NOT share those fingerprints."""
    from basis_spark.operators.llm import doc_fingerprint_winnow
    from tests.conftest import SF_ORACLE

    fps = doc_fingerprint_winnow(spark, SF_ORACLE)
    span = "the quick brown fox jumps over the lazy dog"
    rows = [
        (100001, "AAA " + span + " BBB unrelated tail one"),
        (100002, "CCC completely different head " + span + " DDD"),
        (100003, "no shared span here at all just filler text padding out"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # same expressions the operator uses, applied to the synthetic docs
    from pyspark.sql import functions as F

    hs = F.expr(
        "transform(sequence(1, length(text) - 7),"
        " i -> aggregate(transform(sequence(i, i + 7),"
        "   p -> CAST(ascii(substring(text, p, 1)) AS BIGINT)),"
        "  0L, (h, c) -> pmod(h * 31 + c, 1000000007L)))"
    )
    sel = F.explode(
        F.expr("array_distinct(transform(sequence(1, size(hs) - 15),"
               " j -> array_min(slice(hs, j, 16))))")
    )
    got = {
        did: {r["fp"] for r in grp}
        for did, grp in __import__("itertools").groupby(
            sorted(
                df.select("doc_id", hs.alias("hs")).select("doc_id", sel.alias("fp")).collect(),
                key=lambda r: r["doc_id"],
            ),
            key=lambda r: r["doc_id"],
        )
    }
    assert got[100001] & got[100002], "shared 43-char span yielded no shared fingerprint"
    assert not (got[100001] & got[100002]) & got[100003]
    # and the registered operator runs end-to-end on the fixture
    assert fps.limit(1).count() == 1


def test_pagerank_mass_conservation(spark):
    """Power iteration with dangling redistribution must conserve
    probability mass: ranks sum to 1 (+-1e-9) and are all positive."""
    from basis_spark.operators.analytics import graph_pagerank
    from tests.conftest import SF_ORACLE

    rows = graph_pagerank(spark, SF_ORACLE).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) <= 1e-6 * len(rows), total
    assert all(r["rank"] > 0 for r in rows)


_SCANS = [("sum", False), ("max", False), ("max", True)]


@given(
    cutoff=st.integers(min_value=0, max_value=400000),
    scan=st.sampled_from(_SCANS),
)
@example(cutoff=0, scan=_SCANS[0])
@example(cutoff=0, scan=_SCANS[1])
@example(cutoff=0, scan=_SCANS[2])
@settings(**SETTINGS)
def test_global_cumsum_exact_under_filters(spark, duck, cutoff, scan):
    """windows.global_scan (the distributed two-pass prefix scan behind
    abc_pareto_class, stream_lateness_profile and the skyline) must
    equal the plain SQL window for arbitrary subsets: the cumulative
    SUM with its total, and the running MAX, inclusive and exclusive.
    Sums run over integer-cast prices so float accumulation order
    cannot blur the check — this pins ORDERING and OFFSET arithmetic,
    the parts the two-pass form could get wrong. A non-key payload
    column rides through and range samples are sparse, so the two
    passes would cut differently if they did not share one
    partitioning."""
    from basis_spark.operators.windows import global_scan

    op, exclusive = scan
    df = (
        load(spark, SF_ORACLE, "orders")
        .filter(F.col("o_totalprice") > cutoff)
        .select(
            "o_orderkey", "o_custkey", F.floor("o_totalprice").cast("long").alias("p")
        )
    )
    frame = "1 PRECEDING" if exclusive else "CURRENT ROW"
    total = ", CAST(sum(floor(o_totalprice)) OVER () AS BIGINT) AS total" if op == "sum" else ""
    sql = f"""
        SELECT o_orderkey, o_custkey,
               CAST({op}(floor(o_totalprice)) OVER (ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND {frame}) AS BIGINT) AS cum
               {total}
        FROM orders WHERE o_totalprice > {cutoff}
    """
    with _sparse_range_samples(spark):
        out = global_scan(df, op, {"cum": "p"}, "o_orderkey", exclusive=exclusive)
        cols = ["o_orderkey", "o_custkey", F.col("cum").cast("long").alias("cum")]
        if op == "sum":
            cols.append(F.col("cum_total").cast("long").alias("total"))
        compare_frames(
            out.select(*cols), duck, sql,
            key=f"prop_global_scan[{op},{exclusive},{cutoff}]",
        )


@given(
    toks=st.lists(st.integers(min_value=1, max_value=2000), min_size=1, max_size=200)
)
@settings(**SETTINGS)
def test_pack_nextfit_matches_reference(toks):
    """corpus._pack_one_source (the applyInPandas body) must agree with
    a direct next-fit reference on arbitrary token sequences, including
    oversized docs (tok > budget) and exact-boundary fills."""
    import pandas as pd

    from basis_spark.operators.corpus import PACK_BUDGET, _pack_one_source

    pdf = pd.DataFrame(
        {
            "source": ["s"] * len(toks),
            "doc_id": range(len(toks)),
            "tok": toks,
        }
    )
    out = _pack_one_source(pdf).sort_values("pack_id")

    # reference next-fit
    ref, acc, pid = {}, 0, 0
    for doc_id, t in enumerate(toks):
        if acc > 0 and acc + t > PACK_BUDGET:
            pid += 1
            acc = t
        else:
            acc += t
        ref.setdefault(pid, []).append((doc_id, t))

    assert list(out["pack_id"]) == sorted(ref)
    for _, row in out.iterrows():
        docs = ref[row["pack_id"]]
        assert row["n_docs"] == len(docs)
        assert row["total_tokens"] == sum(t for _, t in docs)
        assert row["min_doc"] == docs[0][0] and row["max_doc"] == docs[-1][0]
        assert row["total_tokens"] <= PACK_BUDGET or row["n_docs"] == 1


def test_pagerank_empty_graph_returns_empty(spark, tmp_path_factory):
    """Degenerate input: if every user has exactly one event, the lag()
    pair extraction yields zero edges, |V| = 0, and graph_pagerank must
    return an empty frame with the output schema — not divide by zero
    at plan-build time."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from basis_spark.operators.analytics import graph_pagerank

    pdf = pd.DataFrame(
        {
            "event_id": np.arange(4, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.arange(4).astype("timedelta64[s]"),
            "user_id": np.arange(4, dtype=np.int64),  # 1 event per user
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
    )
    d = tmp_path_factory.mktemp("single_events")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(d / "events.parquet"))

    out = graph_pagerank(spark, str(d))
    assert out.columns == ["node", "rank"]
    assert out.count() == 0
