"""End-to-end pipeline compositions: the basis node-graph layer driving
multi-stage training-data flows, each stage an operator from this
library, the whole graph oracle-checked as one result.

This is the engine's reason to exist at 100 TB: quality-filter →
exact-dedup → multimodal join is the canonical pre-training data
pipeline, and here it runs as a declarative Graph whose produce() is one
Catalyst plan — stages fuse, filters push down through the whole chain,
and nothing materializes between nodes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_dir, scratch_once, scratch_path
from basis_spark.session import spread_width
from basis_spark.pipeline import Graph
from basis_spark.registry import register


@register(
    "pipeline_training_data",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr
        FROM documents),
    f AS (SELECT * FROM q WHERE n_tokens >= 10 AND ttr >= 0.3),
    d AS (
        SELECT * FROM (
            SELECT f.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM f) t
        WHERE rn = 1)
    SELECT d.doc_id, d.lang, d.n_tokens, round(d.ttr, 6) AS ttr,
           e.label, CAST(len(e.embedding) AS INT) AS dim
    FROM d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical pre-training data pipeline as a basis-style node graph:

        documents ──> quality (token count + type-token ratio filter)
                  ──> dedup   (exact, keep smallest doc_id per content hash)
                  ──> joined  (attach the embedding modality, doc_id=vec_id)

    Graph.produce returns ONE lazy plan: Catalyst fuses the quality
    filter into the scan, the dedup is a single content-hash shuffle,
    and the embeddings join broadcasts (locally) or shuffles (at scale)
    — no intermediate materialization between nodes.
    """
    g = Graph(spark)
    g.source("documents", load(spark, sf_dir, "documents"))
    g.source("embeddings", load(spark, sf_dir, "embeddings"))

    @g.node("quality", inputs=["documents"])
    def quality(docs: DataFrame) -> DataFrame:
        toks = F.split("text", " ")
        return (
            docs.withColumn("n_tokens", F.size(toks))
            .withColumn(
                "ttr", F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            )
            .filter((F.col("n_tokens") >= 10) & (F.col("ttr") >= 0.3))
        )

    @g.node("dedup", inputs=["quality"])
    def dedup(docs: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    @g.node("joined", inputs=["dedup", "embeddings"])
    def joined(docs: DataFrame, emb: DataFrame) -> DataFrame:
        return docs.join(emb, docs.doc_id == emb.vec_id).select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round("ttr", 6).alias("ttr"),
            "label",
            F.size("embedding").alias("dim"),
        )

    return g.produce("joined")


@register(
    "pipeline_corpus_curation",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lang,
               lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS text
        FROM documents),
    q AS (
        SELECT *, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        FROM norm
        WHERE len(string_split(text, ' ')) >= 8),
    d AS (
        SELECT * FROM (
            SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS rn
            FROM q) t
        WHERE rn = 1),
    s AS (
        SELECT *, CASE WHEN strpos('0123456789abcdef',
                                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
                       THEN 'train' ELSE 'eval' END AS split
        FROM d)
    SELECT split, lang, count(*) AS n_docs,
           round(avg(n_tokens), 6) AS avg_tokens
    FROM s GROUP BY split, lang
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation pipeline #2 as a basis node graph:

        documents ─> normalize (lower/collapse/trim — map-only)
                  ─> quality   (token-count floor)
                  ─> dedup     (exact, on the NORMALIZED text — catches
                                case/whitespace variants plain dedup misses)
                  ─> split     (content-stable md5 train/eval buckets)
                  ─> summary   (docs + avg length per split × lang)

    Five nodes, ONE Catalyst plan from produce(): the normalize/quality/
    split stages fuse into the scan projection, so the only shuffles are
    the dedup's content-hash window and the final summary groupBy. The
    same graph with sinks per split is the production curation job."""
    g = Graph(spark)
    g.source("documents", load(spark, sf_dir, "documents"))

    @g.node("normalize", inputs=["documents"])
    def normalize(docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            "lang",
            F.lower(F.trim(F.regexp_replace("text", " +", " "))).alias("text"),
        )

    @g.node("quality", inputs=["normalize"])
    def quality(docs: DataFrame) -> DataFrame:
        return docs.withColumn("n_tokens", F.size(F.split("text", " "))).filter(
            F.col("n_tokens") >= 8
        )

    @g.node("dedup", inputs=["quality"])
    def dedup(docs: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    @g.node("split", inputs=["dedup"])
    def split(docs: DataFrame) -> DataFrame:
        nib = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        return docs.withColumn(
            "split", F.when(nib.cast("int") < 13, "train").otherwise("eval")
        )

    @g.node("summary", inputs=["split"])
    def summary(docs: DataFrame) -> DataFrame:
        return docs.groupBy("split", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )

    return g.produce("summary")


@register(
    "reactive_propagate",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(sum(value * 1.1), 2) AS s
    FROM events GROUP BY 1
    """,
)
def reactive_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reactive subscription runtime (basis_spark/reactive.py) end
    to end, oracle-checked: three source blocks (event_id mod 3 — every
    row exactly once) fed one poll apart through a two-node chain
    (enrich map -> accumulator-style partial rollup). Each poll
    processes ONLY the new block; the rollup node appends per-increment
    PARTIALS (the reference's accumulator pattern) and the final read
    merges them — so the result must equal the one-shot full recompute
    the oracle runs. Session-scoped block store: built once per
    session, replayed reads after."""
    from basis_spark.reactive import Reactor

    r = Reactor(spark, scratch_path(spark, "reactive", sf_dir))
    r.source("raw")
    r.node(
        "enriched",
        # net stays unrounded per row: value*1.1 lands on exact
        # half-cents for every odd cent, where Spark (HALF_UP) and
        # DuckDB (HALF_EVEN) disagree; only the final sum is rounded.
        lambda inc: inc.select(
            "event_type", (F.col("value") * 1.1).alias("net")
        ),
        ["raw"],
    )
    r.node(
        "rollup",
        lambda inc: inc.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"), F.sum("net").alias("ps")
        ),
        ["enriched"],
    )
    if r.n_blocks("raw") == 0:
        ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
        for i in range(3):
            r.feed("raw", ev.filter(F.col("event_id") % 3 == i))
            r.poll()
    assert r.n_blocks("rollup") == 3
    return (
        r.read("rollup")
        .groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("ps"), 2).alias("s"))
    )


@register(
    "observe_pipeline_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(max(l_orderkey) AS BIGINT) AS max_order
    FROM lineitem WHERE l_discount > 0.02
    """,
)
def observe_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via DataFrame.observe(): named metrics
    (row count, quantity sum, max order key; observe() forbids DISTINCT
    aggregates — they cannot ride map tasks) are accumulated ON the
    filtered stream as it executes — zero extra passes, zero extra
    shuffles; the aggregates ride the same tasks that produce the
    data. This is how a production pipeline exports per-batch health
    numbers (basis's node-run metrics) without re-scanning: at 100 TB
    a separate metrics query would double the IO. The operator drives
    one action to harvest the observation, then returns the metrics as
    a 1-row DataFrame; the oracle recomputes them declaratively."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.02)
    obs = Observation("pipeline_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.max("l_orderkey").alias("max_order"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), float(m["sum_qty"]), int(m["max_order"]))],
        "n_rows long, sum_qty double, max_order long",
    )


@register(
    "pipeline_rag_chunks",
    oracle="""
    WITH ks AS (
      SELECT doc_id, text,
             unnest(generate_series(0, CAST(floor((length(text)-1)/90.0) AS BIGINT))) AS k
      FROM documents),
    ch AS (SELECT doc_id, k AS chunk_id,
                  substring(text, CAST(k*90+1 AS INT), 120) AS chunk_text FROM ks),
    w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
    v AS (SELECT word FROM (SELECT word, count(*) AS c FROM w GROUP BY word) cw
          ORDER BY c DESC, word LIMIT 12),
    cw AS (SELECT c.doc_id, c.chunk_id, unnest(string_split(c.chunk_text,' ')) AS word
           FROM ch c),
    sc AS (SELECT cw.doc_id, cw.chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  round(CAST(count(*) FILTER (WHERE v.word IS NOT NULL) AS DOUBLE)
                        / count(*), 6) AS vocab_density
           FROM cw LEFT JOIN v ON cw.word = v.word GROUP BY 1, 2)
    SELECT doc_id, chunk_id, n_tokens, vocab_density FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY vocab_density DESC, chunk_id) AS rn FROM sc) t
    WHERE rn = 1
    """,
)
def pipeline_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing pipeline: chunk every document (sliding window,
    corpus.chunk_docs_overlap's geometry), score each chunk's
    vocabulary density against the corpus top-V vocabulary
    (corpus.tokenizer_vocab_coverage's fit), and keep each document's
    densest chunk — the "best passage per doc" selection an embedding
    indexer runs before paying for vectors. One declarative plan:
    the chunk explode is map-side, the V-row vocab broadcasts into the
    membership probe, per-doc selection is WindowGroupLimit. Nothing
    materializes between stages — filters/pruning push through the
    whole composition, which is the point of the node-graph layer."""
    from basis_spark.operators.corpus import CHUNK_STRIDE, CHUNK_WIN, VOCAB_TOP

    docs = load(spark, sf_dir, "documents")
    # length > 0 guard mirrors chunk_docs_overlap: Spark sequence(0,-1)
    # is [0,-1], not empty — an empty doc must emit zero chunks.
    ks = docs.filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.length("text") - 1) / CHUNK_STRIDE).cast("long"),
            )
        ).alias("k"),
    )
    ch = ks.select(
        "doc_id",
        F.col("k").alias("chunk_id"),
        F.expr(
            f"substring(text, CAST(k*{CHUNK_STRIDE} + 1 AS INT), {CHUNK_WIN})"
        ).alias("chunk_text"),
    )
    w = docs.select(F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(VOCAB_TOP)
        .select("word", F.lit(1).alias("in_v"))
    )
    cw = ch.select(
        "doc_id", "chunk_id", F.explode(F.split("chunk_text", " ")).alias("word")
    )
    hits = F.sum(F.when(F.col("in_v").isNotNull(), 1).otherwise(0))
    sc = (
        cw.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(hits.cast("double") / F.count(F.lit(1)), 6).alias("vocab_density"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("vocab_density"), F.asc("chunk_id")
    )
    return (
        sc.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_id", "n_tokens", "vocab_density")
    )


@register(
    "pipeline_dedup_cascade",
    oracle="""
    WITH e AS (SELECT doc_id, text, md5(text) AS h_exact,
                      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h_norm,
                      md5(substring(text, 1, 64)) AS h_pre
               FROM documents),
    k1 AS (SELECT h_exact, min(doc_id) AS keep FROM e GROUP BY 1),
    s1 AS (SELECT e.* FROM e JOIN k1 ON e.h_exact = k1.h_exact AND e.doc_id = k1.keep),
    k2 AS (SELECT h_norm, min(doc_id) AS keep FROM s1 GROUP BY 1),
    s2 AS (SELECT s1.* FROM s1 JOIN k2 ON s1.h_norm = k2.h_norm AND s1.doc_id = k2.keep),
    k3 AS (SELECT h_pre, min(doc_id) AS keep FROM s2 GROUP BY 1),
    s3 AS (SELECT s2.doc_id FROM s2 JOIN k3 ON s2.h_pre = k3.h_pre AND s2.doc_id = k3.keep)
    SELECT e.doc_id,
           CASE WHEN s1.doc_id IS NULL THEN 'exact'
                WHEN s2.doc_id IS NULL THEN 'normalized'
                WHEN s3.doc_id IS NULL THEN 'prefix'
                ELSE 'kept' END AS fate
    FROM e
    LEFT JOIN s1 ON e.doc_id = s1.doc_id
    LEFT JOIN s2 ON e.doc_id = s2.doc_id
    LEFT JOIN s3 ON e.doc_id = s3.doc_id
    """,
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-tier dedup cascade as one lineage report: byte-exact →
    casefold/whitespace-normalized → 64-char-prefix family, each tier
    keeping the min doc_id of its class AMONG the previous tier's
    survivors, and every document tagged with the tier that killed it
    (or 'kept'). This ordering is how production corpus dedup runs —
    each tier shrinks the next tier's input, and the per-tier attrition
    is the number the pipeline owner actually watches. Three hash
    aggregations + keeper semi-joins; the text payload is hashed once
    map-side and never shuffles."""
    docs = load(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id",
        F.md5("text").alias("h_exact"),
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h_norm"),
        F.md5(F.substring("text", 1, 64)).alias("h_pre"),
    )

    def keepers(df: DataFrame, h: str) -> DataFrame:
        k = df.groupBy(h).agg(F.min("doc_id").alias("doc_id"))
        return df.join(k, [h, "doc_id"], "left_semi")

    s1 = keepers(e, "h_exact")
    s2 = keepers(s1, "h_norm")
    s3 = keepers(s2, "h_pre")
    fate = (
        F.when(F.col("in1").isNull(), "exact")
        .when(F.col("in2").isNull(), "normalized")
        .when(F.col("in3").isNull(), "prefix")
        .otherwise("kept")
    )
    mark = lambda df, c: df.select("doc_id", F.lit(1).alias(c))  # noqa: E731
    return (
        e.select("doc_id")
        .join(mark(s1, "in1"), "doc_id", "left")
        .join(mark(s2, "in2"), "doc_id", "left")
        .join(mark(s3, "in3"), "doc_id", "left")
        .select("doc_id", fate.alias("fate"))
    )


SQL_NODE_TEMPLATE = """
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice >= {min_total}
    GROUP BY c_mktsegment
"""


@register(
    "sql_template_node",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice >= 100000
    GROUP BY c_mktsegment
    """,
)
def sql_template_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL node with template parameters — the basis SQL-node surface
    (Jinja-templated SQL over bound inputs) mapped to Spark: the
    template's keyword arguments bind input frames and scalar params,
    and spark.sql() hands the string to the SAME Catalyst pipeline the
    DataFrame API feeds — a SQL node and a DataFrame node compose
    freely in one plan (pushdown crosses the boundary). Each input gets
    a fresh view name for the one call, dropped once the query is
    analyzed, so concurrent harnesses can't collide."""
    return spark.sql(
        SQL_NODE_TEMPLATE,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
        min_total=100000,
    )


@register(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    WHERE o_totalprice BETWEEN 150000 AND 400000 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (spark.sql(..., args={...})) — the
    SAFE sibling of sql_template_node's string templating: values bind
    as typed literals through the parser, so a hostile or merely weird
    parameter ("O' OR 1=1") cannot change the query shape, and plans
    cache across parameter values. Templates choose table NAMES;
    parameters choose VALUES — a production SQL node needs both, which
    is why the two keys exist separately."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               round(max(o_totalprice), 2) AS max_price
        FROM {orders}
        WHERE o_totalprice BETWEEN :lo AND :hi AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lo": 150000, "hi": 400000, "status": "F"},
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "pipeline_multimodal_curation",
    oracle="""
    WITH blocks AS (
        SELECT d.doc_id, d.lang, i.range AS b,
               CAST(LEAST(255, 2 * floor(
                   (((d.doc_id * 31 + i.range * 17) % 256) - 127) / 2.0
               ) + 128) AS BIGINT) AS v_out
        FROM documents d, range(4) i),
    stats AS (
        SELECT doc_id, lang,
               avg(CAST(v_out AS DOUBLE)) AS mean_luma,
               max(v_out) - min(v_out) AS contrast,
               string_agg(CAST(v_out AS VARCHAR), '-' ORDER BY b) AS fp
        FROM blocks GROUP BY doc_id, lang),
    kept AS (
        SELECT * FROM stats WHERE mean_luma >= 48 AND mean_luma <= 208),
    dedup AS (
        SELECT * FROM (
            SELECT kept.*, row_number() OVER (
                PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept) t
        WHERE rn = 1)
    SELECT doc_id, lang, round(mean_luma, 6) AS mean_luma,
           CAST(contrast AS BIGINT) AS contrast
    FROM dedup
    """,
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal curation over the REAL JPEG codec — the
    image twin of pipeline_corpus_curation:

        documents ──> decode   (encode per-doc fixture to baseline
                                JPEG, decode it back, per-image
                                brightness / contrast / perceptual
                                fingerprint — Arrow-batched mapInPandas)
                  ──> exposure (drop too-dark / too-blown images by
                                mean luma band)
                  ──> dedup    (perceptual-fingerprint dedup, keep
                                smallest doc_id — the phash pattern on
                                the decoded pixels, not the bytes:
                                recompressed copies collide)

    One Graph.produce plan: the exposure filter and the dedup window
    sit ON TOP of the decode node without materializing between
    stages. Because the fixtures are flat-block JPEGs, every decoded
    statistic has an exact integer closed form, so this LOSSY pipeline
    still carries a strict DuckDB oracle end-to-end. At 100 TB decode
    is per-payload parallel (no shuffle); the only shuffle is the
    fingerprint dedup — identical to dedup_exact's single-shuffle
    contract."""
    from collections.abc import Iterator

    import pandas as pd

    from basis_spark.operators.jpeg import decode_jpeg, make_jpeg
    from basis_spark.operators.multimodal import synth_gray_blocks

    def _decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "mean_luma": [], "contrast": [], "fp": []}
            for doc_id in pdf["doc_id"]:
                px, _ = synth_gray_blocks(int(doc_id))
                w, h, rgb = decode_jpeg(make_jpeg(16, 16, px))
                vs = [rgb[((b // 2) * 8 * 16 + (b % 2) * 8) * 3] for b in range(4)]
                out["doc_id"].append(doc_id)
                out["mean_luma"].append(sum(rgb) / len(rgb))
                out["contrast"].append(max(vs) - min(vs))
                out["fp"].append("-".join(str(v) for v in vs))
            yield pd.DataFrame(out)

    g = Graph(spark)
    g.source("documents", load(spark, sf_dir, "documents"))

    @g.node("decode", inputs=["documents"])
    def decode(docs: DataFrame) -> DataFrame:
        return (
            docs.select("doc_id")
            .repartition(spread_width(32), "doc_id")
            .mapInPandas(
                _decode_stats,
                schema="doc_id long, mean_luma double, contrast long, fp string",
            )
        )

    @g.node("exposure", inputs=["decode"])
    def exposure(imgs: DataFrame) -> DataFrame:
        return imgs.filter(
            (F.col("mean_luma") >= 48) & (F.col("mean_luma") <= 208)
        )

    @g.node("dedup", inputs=["exposure", "documents"])
    def dedup(imgs: DataFrame, docs: DataFrame) -> DataFrame:
        w = Window.partitionBy("fp").orderBy("doc_id")
        return (
            imgs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select(
                "doc_id",
                "lang",
                F.round("mean_luma", 6).alias("mean_luma"),
                "contrast",
            )
        )

    return g.produce("dedup")


@register(
    "sql_lateral_column_alias",
    oracle="""
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue,
           round(round(sum(o_totalprice), 2) / 1000.0, 4) AS revenue_k,
           round(round(round(sum(o_totalprice), 2) / 1000.0, 4) * 0.1, 4)
               AS commission_k
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+/SQL:2023 flavor): a SELECT
    item referencing an alias defined EARLIER IN THE SAME LIST —
    revenue_k is built from revenue, commission_k from revenue_k —
    instead of nesting three subqueries or repeating the aggregate
    expression. Pure parser/analyzer surface: Catalyst inlines the
    chain, so the physical plan is identical to the hand-expanded
    form (one hash aggregate; no extra projection stages). The oracle
    hand-expands the chain, proving the inlining is semantics-
    preserving."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               round(sum(o_totalprice), 2) AS revenue,
               round(revenue / 1000.0, 4) AS revenue_k,
               round(revenue_k * 0.1, 4) AS commission_k
        FROM {orders} GROUP BY o_orderpriority
        """,
        orders=load(spark, sf_dir, "orders"),
    )


# Exact-cents mean with floor-based half-up — identical text in Spark SQL
# and DuckDB (both parse it, both compute the same IEEE doubles), immune
# to the engines' divergent round() semantics at decimal midpoints (the
# join_broadcast class caught by the r9 sf0.001 sweep). x must be
# 2dp-quantized money; dp is the released precision.
def _money_mean_sql(x: str, dp: int, filt: str = "") -> str:
    # All numeric literals go through CAST(... AS DOUBLE): Spark SQL
    # types a bare `100.0` as DECIMAL(4,1), which would silently turn
    # the final division into decimal arithmetic (DuckDB keeps double).
    # Half-up is sign-aware (r10 advice): floor(m + 0.5) alone rounds a
    # NEGATIVE midpoint toward +inf (-2.5 -> -2), diverging from the
    # round-half-away-from-zero policy join_broadcast pins; the
    # sign(m) * floor(abs(m) + 0.5) form gives -2.5 -> -3 and leaves
    # non-negative means (o_totalprice) bit-identical to the old text.
    scale = 10 ** (dp - 2)  # cents -> released precision, exact integer
    mul = f" * CAST({scale} AS DOUBLE)" if scale != 1 else ""
    mean = (
        f"CAST(sum(CAST(round({x} * 100) AS BIGINT)){filt} AS DOUBLE)"
        f"{mul} / CAST(count(*){filt} AS DOUBLE)"
    )
    return (
        f"CAST(CAST(sign({mean}) AS DOUBLE)"
        f" * floor(abs({mean}) + 0.5) AS BIGINT)"
        f" / CAST({10 ** dp} AS DOUBLE)"
    )


@register(
    "sql_group_by_all",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           {_money_mean_sql("o_totalprice", 2)} AS avg_price
    FROM orders
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+; DuckDB pioneered the syntax, so the
    oracle uses it NATIVELY — both engines must infer the same
    grouping set, the non-aggregate SELECT items). Analyzer-level
    surface with zero physical cost; the value is contract parity
    with the reference's query layer, where analysts write the DuckDB
    idiom and expect identical inference."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               {_money_mean_sql("o_totalprice", 2)} AS avg_price
        FROM {{orders}}
        GROUP BY ALL
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_identifier_binding",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           {_money_mean_sql("c_acctbal", 4)} AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def sql_identifier_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) binding (Spark 3.5+): dynamic table/column
    NAMES routed through the parser as identifiers, not string-spliced
    SQL — the injection-safe completion of the SQL-node trio
    (sql_template_node: trusted templates; sql_parameterized_query:
    typed VALUE binding; here: identifier binding, where a hostile
    name like 'customer; DROP TABLE x' fails to parse as an identifier
    instead of executing). Both the table and the grouping column are
    bound. The table name is what gets bound, so this key keeps an
    explicit view: one per call, dropped once the query is analyzed."""
    view = f"idb_customer_{uuid.uuid4().hex}"
    load(spark, sf_dir, "customer").createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT IDENTIFIER(:grp),
                   count(*) AS n,
                   {_money_mean_sql("c_acctbal", 4)} AS avg_bal
            FROM IDENTIFIER(:tbl)
            GROUP BY IDENTIFIER(:grp)
            """,
            args={"tbl": view, "grp": "c_mktsegment"},
        )
    finally:
        spark.catalog.dropTempView(view)


@register(
    "reshape_transpose",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment,
               CAST(floor(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) * CAST(100 AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_bal,
               round(max(c_acctbal), 4) AS max_bal,
               round(min(c_acctbal), 4) AS min_bal
        FROM customer GROUP BY c_mktsegment)
    SELECT 'avg_bal' AS metric,
           round(max(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN avg_bal END), 4) AS AUTOMOBILE,
           round(max(CASE WHEN c_mktsegment = 'BUILDING' THEN avg_bal END), 4) AS BUILDING,
           round(max(CASE WHEN c_mktsegment = 'FURNITURE' THEN avg_bal END), 4) AS FURNITURE,
           round(max(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN avg_bal END), 4) AS HOUSEHOLD,
           round(max(CASE WHEN c_mktsegment = 'MACHINERY' THEN avg_bal END), 4) AS MACHINERY
    FROM s
    UNION ALL
    SELECT 'max_bal',
           max(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN max_bal END),
           max(CASE WHEN c_mktsegment = 'BUILDING' THEN max_bal END),
           max(CASE WHEN c_mktsegment = 'FURNITURE' THEN max_bal END),
           max(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN max_bal END),
           max(CASE WHEN c_mktsegment = 'MACHINERY' THEN max_bal END)
    FROM s
    UNION ALL
    SELECT 'min_bal',
           max(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN min_bal END),
           max(CASE WHEN c_mktsegment = 'BUILDING' THEN min_bal END),
           max(CASE WHEN c_mktsegment = 'FURNITURE' THEN min_bal END),
           max(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN min_bal END),
           max(CASE WHEN c_mktsegment = 'MACHINERY' THEN min_bal END)
    FROM s
    """,
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): rows<->columns over a SUMMARY
    frame — segments become columns, metric names become rows. The
    API collects the index column to name the output columns, so the
    contract is metadata-scale input ONLY (here 5 rows x 4 cols from
    a full aggregation; the data-sized work happened in the groupBy
    before). The oracle hand-builds the transposed shape with
    conditional aggregation — Spark's transpose must match it cell
    for cell. For data-sized reshaping use agg_pivot_* / unpivot_stack
    instead; this key exists because the reference's dataframe surface
    exposes transpose and users reach for it on exactly this
    summary-table shape."""
    # avg_bal via the exact-cents floor-half-up mean (see _money_mean_sql)
    # so no segment's mean can land on a 4dp midpoint where the engines'
    # round() semantics diverge; max/min of 2dp money re-rounded at 4dp
    # are identities and safe.
    s = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.expr(_money_mean_sql("c_acctbal", 4)).alias("avg_bal"),
            F.round(F.max("c_acctbal"), 4).alias("max_bal"),
            F.round(F.min("c_acctbal"), 4).alias("min_bal"),
        )
    )
    t = s.transpose()  # the real Spark-4 API: index col -> header row
    return t.select(
        F.col("key").alias("metric"),
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
    )


@register(
    "pipeline_lakehouse_curation",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
    v0 AS (
        SELECT * FROM (
            SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS rn
            FROM q WHERE doc_id % 4 <> 3) t
        WHERE rn = 1),
    inc AS (
        SELECT * FROM (
            SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS rn
            FROM q WHERE doc_id % 4 = 3) t
        WHERE rn = 1
          AND md5(text) NOT IN (SELECT md5(text) FROM v0))
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM (SELECT lang, n_tokens FROM v0
          UNION ALL SELECT lang, n_tokens FROM inc) u
    GROUP BY lang
    """,
)
def pipeline_lakehouse_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 verdict's suggested flagship composition: corpus
    curation feeding the transaction-log table format END TO END —
    i.e. how a production pretraining corpus actually lives:

      v0: three ingest shards (doc_id % 4 != 3) -> quality floor
          (>= 8 tokens) -> exact dedup (min doc_id per content hash)
          -> committed as the initial table version;
      v1: the late shard arrives -> same curation -> deduped WITHIN
          the shard and AGAINST THE LIVE SNAPSHOT (anti-join on the
          content hash — the incremental-dedup step that makes
          append-only corpus growth safe) -> committed as an append.

    The readout replays the log to latest and rolls up per language;
    the oracle recomputes both commits from the documents fixture, so
    a dedup that missed the cross-commit check (re-admitting v0
    content), a lost append, or a quality filter drifting between the
    two commits all surface as value mismatches. Every data-sized step
    is a DataFrame plan (one content-hash shuffle per commit, one
    broadcast-able anti-join); the log is KB-scale metadata. Snapshot
    isolation means a reader mid-curation sees v0 or v1, never half an
    append — the property reproducible training runs need."""
    from basis_spark.operators.table_log import (
        _commit,
        _live_objects,
    )

    def curate(df: DataFrame) -> DataFrame:
        toks = F.split("text", " ")
        q = df.withColumn("n_tokens", F.size(toks)).filter(
            F.col("n_tokens") >= 8
        )
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        return (
            q.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lang", "text", "n_tokens")
        )

    def write(table_dir: str) -> None:
        docs = load(spark, sf_dir, "documents")
        base = curate(docs.filter(F.col("doc_id") % 4 != 3))
        base.write.parquet(os.path.join(table_dir, "files", "c0"))
        _commit(table_dir, 0, [{"op": "add", "path": "files/c0"}])

        live = spark.read.parquet(*_live_objects(table_dir))
        inc = curate(docs.filter(F.col("doc_id") % 4 == 3)).join(
            live.select(F.md5("text").alias("h")).distinct(),
            F.md5("text") == F.col("h"),
            "left_anti",
        )
        inc.write.parquet(os.path.join(table_dir, "files", "c1"))
        _commit(table_dir, 1, [{"op": "add", "path": "files/c1"}])

    table_dir = scratch_once(spark, write, "txn_log_curation", sf_dir)
    snap = spark.read.parquet(*_live_objects(table_dir))
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@register(
    "sql_window_clause",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(o_totalprice, 2) AS price,
           CAST(rank() OVER w AS BIGINT) AS price_rank,
           round(sum(o_totalprice) OVER w2, 2) AS run_spend
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause in SQL — define a window spec once, reference
    it from several select-list functions (Spark requires each distinct
    frame to be its own named spec, so the running frame is w2).
    The analyzer surface a SQL-node user of the reference leans on for
    readable multi-window queries; both functions compile into ONE
    Window physical operator over one partition-by-customer exchange
    (shared sort — the whole point of naming the spec)."""
    return spark.sql(
        """
        SELECT o_custkey,
               o_orderkey,
               round(o_totalprice, 2) AS price,
               rank() OVER w AS price_rank,
               round(sum(o_totalprice) OVER w2, 2) AS run_spend
        FROM {orders}
        WHERE o_custkey <= 200
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey),
               w2 AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_pivot_syntax",
    oracle="""
    SELECT user_id % 8 AS bucket,
           round(sum(CASE WHEN event_type = 'click' THEN value END), 2)
               AS click_v,
           round(sum(CASE WHEN event_type = 'view' THEN value END), 2)
               AS view_v,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
               AS purchase_v
    FROM events
    GROUP BY 1
    """,
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (FROM ... PIVOT (agg FOR col IN (...))) — the
    declarative spelling of agg_conditional_pivot / agg_pivot_api.
    Catalyst rewrites PIVOT into the same single hash aggregate over
    pivot-CASE expressions the DataFrame .pivot() API produces (one
    bucket-keyed shuffle, no per-value passes), which is exactly what
    the oracle states in portable ANSI form."""
    return spark.sql(
        """
        SELECT bucket, round(click_v, 2) AS click_v,
               round(view_v, 2) AS view_v,
               round(purchase_v, 2) AS purchase_v
        FROM (SELECT user_id % 8 AS bucket, event_type, value FROM {events})
        PIVOT (sum(value)
               FOR event_type IN ('click' AS click_v, 'view' AS view_v,
                                  'purchase' AS purchase_v))
        """,
        events=load(spark, sf_dir, "events"),
    )


@register(
    "sql_unpivot_syntax",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS g,
             round(sum(o_totalprice), 2) AS total_spend,
             round(min(o_totalprice), 2) AS min_spend,
             round(max(o_totalprice), 2) AS max_spend
      FROM orders WHERE o_custkey <= 100 GROUP BY 1)
    SELECT g, 'total_spend' AS metric, total_spend AS amount FROM base
    UNION ALL
    SELECT g, 'min_spend' AS metric, min_spend AS amount FROM base
    UNION ALL
    SELECT g, 'max_spend' AS metric, max_spend AS amount FROM base
    """,
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNPIVOT clause (FROM ... UNPIVOT (v FOR k IN (...))) — the
    wide-to-long analyzer surface (Spark 3.4+), complementing the
    stack()-based unpivot_stack and the DataFrame melt_api keys.
    Catalyst compiles UNPIVOT to a single Expand node (one pass, rows
    x3, no join, no union re-scan) — strictly better than the oracle's
    portable 3-way UNION ALL spelling at any scale."""
    return spark.sql(
        """
        SELECT g, metric, amount
        FROM (SELECT o_custkey AS g,
                     round(sum(o_totalprice), 2) AS total_spend,
                     round(min(o_totalprice), 2) AS min_spend,
                     round(max(o_totalprice), 2) AS max_spend
              FROM {orders} WHERE o_custkey <= 100 GROUP BY o_custkey)
        UNPIVOT (amount FOR metric IN (total_spend, min_spend, max_spend))
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_subquery_surfaces",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      AND c.c_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_regionkey <= 2)
    GROUP BY c_mktsegment
    """,
)
def sql_subquery_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three SQL subquery surfaces in one query — correlated EXISTS,
    uncorrelated IN, and a scalar subquery in a comparison — the
    analyzer features a SQL-node user writes daily. Catalyst
    decorrelates them into joins, which is the entire scale story:
    EXISTS -> left-semi hash join on custkey, IN -> semi join against
    the broadcast nation list, and the scalar avg -> a 1-row subquery
    result reused as a literal — so the query runs as two semi joins
    plus a filter, never a per-row re-execution (the naive nested-loop
    reading of the same SQL)."""
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND c.c_acctbal > (SELECT avg(c_acctbal) FROM {customer})
          AND c.c_nationkey IN (SELECT n_nationkey FROM {nation}
                                WHERE n_regionkey <= 2)
        GROUP BY c_mktsegment
        """,
        **{t: load(spark, sf_dir, t) for t in ("customer", "orders", "nation")},
    )


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4) — SQL that runs a SQL string with
    positional ? parameters bound through the parser: the dynamic-SQL
    surface stored procedures and orchestration nodes use when the
    statement itself is data (a column list from a config table, a
    tenant-specific filter). Completes the SQL-node quartet: template
    (names), named params (values), IDENTIFIER (identifiers), and now
    whole-statement dynamism — with the same injection-safety story as
    named params, because USING binds typed literals, never splices
    strings. The statement text is data here, so it names an explicit
    view: one per call, dropped once the query is analyzed."""
    view = f"execimm_lineitem_{uuid.uuid4().hex}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    stmt = (
        f"SELECT l_returnflag, count(*) AS n,"
        f" round(sum(l_extendedprice), 2) AS revenue"
        f" FROM {view} WHERE l_quantity >= ? GROUP BY l_returnflag"
    )
    try:
        return spark.sql(
            "EXECUTE IMMEDIATE :stmt USING 25", args={"stmt": stmt}
        )
    finally:
        spark.catalog.dropTempView(view)


@register(
    "pipeline_embedding_index",
    oracle="""
    WITH e AS (
      SELECT vec_id, g.i - 1 AS dim, CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, 64) g(i)),
    s AS (SELECT dim, avg(x) AS mu, stddev_pop(x) AS sd FROM e GROUP BY dim),
    z AS (SELECT e.vec_id, e.dim, (e.x - s.mu) / s.sd AS zx
          FROM e JOIN s ON e.dim = s.dim),
    d AS (SELECT v.vec_id, a.vec_id AS code,
                 round(sum((v.zx - a.zx) * (v.zx - a.zx)), 6) AS d2
          FROM z v JOIN z a ON v.dim = a.dim AND a.vec_id < 16
          GROUP BY v.vec_id, a.vec_id),
    best AS (SELECT vec_id, code, d2,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, code) AS rnk
             FROM d)
    SELECT code AS cell,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(d2), 4) AS sum_d2,
           CAST(min(vec_id) AS BIGINT) AS min_vec
    FROM best WHERE rnk = 1 GROUP BY code
    """,
)
def pipeline_embedding_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship embedding-index build, end to end in ONE Catalyst plan:
    per-dimension stats -> z-standardize every vector -> assign each to
    its nearest of 16 deterministic anchor cells in the whitened space
    -> emit the per-cell index health report (occupancy + total
    assignment distance) an IVF build publishes before serving. This
    composes three registered primitives (embeddings_dim_stats,
    embeddings_standardize, the IVF assignment shape) the way a real
    index job runs them — no intermediate materialization, Catalyst
    fuses the whole chain.

    Scale shape: the ONLY shuffles are the (dim) stats agg, the vec_id
    array reassembly, and the final 16-cell rollup. Stats (64 rows) and
    anchors (16 z-vectors) broadcast; assignment is a map-side
    zip_with/aggregate distance per (vector, anchor) with distances
    rounded at 6dp BEFORE the argmin (ties by anchor id) so float
    summation order can't flip a cell on either engine. Cell occupancy
    counts are exactly what decides probe fan-out at serve time — a
    skewed report here is the capacity-planning signal."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    s = e.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd")
    )
    z = e.join(F.broadcast(s), "dim").select(
        "vec_id", "dim", ((F.col("x") - F.col("mu")) / F.col("sd")).alias("zx")
    )
    zv = z.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "zx"))),
            lambda st: st["zx"],
        ).alias("zv")
    )
    anchors = zv.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code"), F.col("zv").alias("av")
    )
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(zv, av, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
        ),
        6,
    )
    scored = zv.crossJoin(F.broadcast(anchors)).select(
        "vec_id", "code", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "code")
    best = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    return best.groupBy(F.col("code").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("d2"), 4).alias("sum_d2"),
        F.min("vec_id").alias("min_vec"),
    )


@register(
    "sql_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_filled,
           round(sum(o_totalprice) FILTER (WHERE o_totalprice > 200000), 2)
               AS big_revenue,
           CAST(floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) + 0.5) AS BIGINT) / CAST(100 AS DOUBLE)
               AS avg_open
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard aggregate FILTER (WHERE ...) clause — per-
    aggregate conditions without CASE gymnastics, and unlike
    CASE-WHEN-ELSE-NULL it composes with ANY aggregate including
    count(*). Catalyst compiles every filtered aggregate in this query
    into ONE hash aggregate pass (the filters become per-expression
    predicates inside the same partial agg), identical to what the
    conditional-pivot keys get from CASE — the surface is what's being
    pinned, the plan is already optimal."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_all,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               round(sum(o_totalprice)
                     FILTER (WHERE o_totalprice > 200000), 2)
                   AS big_revenue,
               CAST(floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) + 0.5) AS BIGINT) / CAST(100 AS DOUBLE) AS avg_open
        FROM {orders} GROUP BY o_orderpriority
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "pipeline_feature_snapshot",
    oracle="""
    WITH cutoff AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 14 DAY AS t FROM events),
    hist AS (
      SELECT e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type, e.value
      FROM events e, cutoff WHERE CAST(e.ts AS TIMESTAMP) < cutoff.t)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS lifetime_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS lifetime_variety,
           CAST(count(*) FILTER (WHERE ts >= (SELECT t FROM cutoff)
                                             - INTERVAL 7 DAY) AS BIGINT)
               AS n_7d,
           round(coalesce(sum(value) FILTER (
               WHERE event_type = 'purchase'
                 AND ts >= (SELECT t FROM cutoff) - INTERVAL 30 DAY), 0), 2)
               AS purchase_30d,
           CAST(datediff('second', max(ts),
                         (SELECT t FROM cutoff)) // 86400 AS BIGINT)
               AS days_since_last
    FROM hist GROUP BY user_id
    """,
)
def pipeline_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature snapshot (the feature-store pattern): per
    user, a training feature row AS OF a cutoff (here max_ts - 14 d) —
    lifetime counts/variety, 7-day activity, 30-day purchase value,
    recency — computed STRICTLY from events before the cutoff. The
    leakage rule is structural (one filter before any aggregation),
    not per-feature discipline; every windowed feature is a
    conditional aggregate in the SAME single hash agg, so adding a
    feature costs an expression, not a pass. This is the offline half
    of training-serving skew control: the label join runs AS OF the
    same cutoff (join_point_in_time_state's key), and re-running at an
    older cutoff backfills historical training sets from the same
    plan.

    Shapes: the cutoff is a 1-row combine broadcast into the filter;
    one user-keyed exchange computes every feature; nothing scans
    twice."""
    ev = load(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 14 DAYS")).alias("t")
    )
    hist = ev.crossJoin(F.broadcast(cutoff)).filter(F.col("ts") < F.col("t"))
    in_7d = F.col("ts") >= F.col("t") - F.expr("INTERVAL 7 DAYS")
    in_30d_purchase = (F.col("event_type") == "purchase") & (
        F.col("ts") >= F.col("t") - F.expr("INTERVAL 30 DAYS")
    )
    return hist.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("lifetime_events"),
        F.countDistinct("event_type").alias("lifetime_variety"),
        F.sum(F.when(in_7d, 1).otherwise(0)).alias("n_7d"),
        F.round(
            F.coalesce(
                F.sum(F.when(in_30d_purchase, F.col("value"))), F.lit(0.0)
            ),
            2,
        ).alias("purchase_30d"),
        (
            (
                F.unix_timestamp(F.max("t")) - F.unix_timestamp(F.max("ts"))
            )
            / 86400
        )
        .cast("long")
        .alias("days_since_last"),
    )


@register(
    "sql_scripting_block",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS rev
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN ... END procedural blocks): DECLARE
    a session variable, SET it from a scalar query, use it as a
    predicate in the next statement — multi-step orchestration logic
    expressed entirely in SQL, the surface the reference's SQL-node
    DAGs cover with inter-node wiring. The script's final statement's
    result set is the block's result. The variable binding is
    equivalent to the oracle's scalar subquery, but the script form
    lets later statements (loops, IF/ELSE, error handlers) reuse the
    value without re-evaluating it."""
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE;
          SET thr = (SELECT avg(o_totalprice) FROM {orders});
          SELECT o_orderpriority,
                 count(*) AS n,
                 round(sum(o_totalprice), 2) AS rev
          FROM {orders} WHERE o_totalprice > thr
          GROUP BY o_orderpriority;
        END
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "pipeline_node_cache",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(floor(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                           AS DOUBLE) * CAST(100 AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
               / CAST(10000 AS DOUBLE) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def pipeline_node_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed node-output cache (the memoized-recompute core
    of a reactive pipeline framework): a node's cache key is the md5 of
    its ANALYZED logical plan plus its input fingerprint, so the same
    computation over the same inputs is materialized once and every
    later invocation — this session or the next — reads parquet
    instead of recomputing. Any change to the node's logic OR its
    inputs changes the key, so staleness is impossible by
    construction (the cache is append-only; entries age out with the
    scratch GC). tests/test_pipeline_cache.py pins the contract: a
    second call reuses the same cache directory (no new files) and
    returns identical rows.

    Scale: the cache write is the node's own partitioned parquet sink;
    the hit path is a plain parquet scan with full pushdown — caching
    costs nothing at read time because it IS the storage layer."""
    import hashlib
    import re

    node = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr(_money_mean_sql("c_acctbal", 4)).alias("avg_bal"),
        )
    )
    # expression ids (#123) are fresh per invocation — strip them so
    # the SAME logical computation always signs identically
    plan_sig = re.sub(
        r"#\d+", "#", node._jdf.queryExecution().analyzed().toString()
    )
    inputs_sig = "|".join(sorted(node.inputFiles()))
    key = hashlib.md5(
        (plan_sig + "\n" + inputs_sig).encode()
    ).hexdigest()[:20]
    cache = os.path.join(scratch_dir("node_cache"), key)
    marker = os.path.join(cache, "_SUCCESS")
    if not os.path.exists(marker):
        node.write.mode("overwrite").parquet(cache)
    return spark.read.parquet(cache).select(
        "segment", "n_customers", "avg_bal"
    )


@register(
    "pipeline_lineage_report",
    oracle="""
    SELECT * FROM (VALUES
        ('customer', CAST(1 AS BIGINT)),
        ('nation', CAST(1 AS BIGINT)),
        ('orders', CAST(1 AS BIGINT))
    ) AS t(input_table, n_inputs)
    """,
)
def pipeline_lineage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage extraction from the plan itself: given any composed
    node, report which source tables feed it — derived from
    DataFrame.inputFiles() (the planner's own file listing), NOT from
    documentation that can drift. This is the provenance surface a
    pipeline framework owes its users ('which upstreams invalidate
    this output?'), and because it comes from the analyzed plan it is
    correct for arbitrarily composed queries — the three-table join
    below reports exactly its three parquet inputs.

    Driver-side work is a file-path listing (metadata, no job runs);
    the report is a tiny local relation."""
    node = (
        load(spark, sf_dir, "orders")
        .join(load(spark, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(load(spark, sf_dir, "nation"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tables: dict[str, int] = {}
    for path in node.inputFiles():
        name = os.path.basename(path)
        for t in ("orders", "customer", "nation"):
            if name.startswith(t):
                tables[t] = tables.get(t, 0) + 1
    rows = [(t, 1) for t in sorted(tables)]
    return spark.createDataFrame(rows, "input_table string, n_inputs long")


def _tokenizer_release_oracle() -> str:
    """The full tokenizer-release chain as one DuckDB CTE plan:
    curate (normalize -> quality floor -> exact dedup) -> BPE train on
    the curated sample (the same unrolled merge rounds as
    corpus._bpe_oracle, retargeted at the curated word table) ->
    encode EVERY curated doc with the learned rules -> corpus-level
    release metrics -> recursive next-fit shard packing on BPE token
    counts (the same scan pack_tokens_nextfit pins)."""
    from basis_spark.operators.corpus import PACK_BUDGET, _BPE_ROUNDS

    s2 = "chr(31) || chr(31)"
    parts = [f"""
    WITH RECURSIVE norm AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS text
      FROM documents),
    q AS (SELECT * FROM norm WHERE len(string_split(text, ' ')) >= 8),
    cur AS (
      SELECT doc_id, source, text FROM (
        SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) AS rn
        FROM q) t WHERE rn = 1),
    words AS (
      SELECT w, count(*) AS wc FROM (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM cur WHERE doc_id < 50) t
      WHERE length(w) >= 2 GROUP BY w),
    rep0 AS (
      SELECT w, wc,
             {s2} || list_aggregate(
                 [substring(w, i, 1) for i in range(1, length(w) + 1)],
                 'string_agg', {s2}) || {s2} AS r
      FROM words)"""]
    for i in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    p{i} AS (
      SELECT syms[j] AS a, syms[j + 1] AS b, sum(wc) AS c
      FROM (SELECT wc, list_filter(string_split(r, {s2}), x -> x <> '')
                       AS syms
            FROM rep{i - 1}),
           range(1, 64) t(j)
      WHERE j < len(syms)
      GROUP BY 1, 2),
    b{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    rep{i} AS (
      SELECT w, wc,
             replace(r, chr(31) || b{i}.a || {s2} || b{i}.b || chr(31),
                     chr(31) || b{i}.a || b{i}.b || chr(31)) AS r
      FROM rep{i - 1}, b{i})""")
    enc_chain = []
    for i in range(1, _BPE_ROUNDS + 1):
        enc_chain.append(f"""
    enc{i} AS (
      SELECT w, replace(r, chr(31) || b{i}.a || {s2} || b{i}.b || chr(31),
                        chr(31) || b{i}.a || b{i}.b || chr(31)) AS r
      FROM enc{i - 1}, b{i})""")
    return (
        ",".join(parts)
        + f""",
    dw AS (
      SELECT doc_id, source, w, count(*) AS c FROM (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM cur) t
      GROUP BY 1, 2, 3),
    enc0 AS (
      SELECT w,
             {s2} || list_aggregate(
                 [substring(w, i, 1) for i in range(1, length(w) + 1)],
                 'string_agg', {s2}) || {s2} AS r
      FROM (SELECT DISTINCT w FROM dw))"""
        + ","
        + ",".join(enc_chain)
        + f""",
    wenc AS (
      SELECT w,
             len(list_filter(string_split(r, {s2}), x -> x <> ''))
                 AS n_syms,
             len(list_filter(list_filter(string_split(r, {s2}),
                                         x -> x <> ''),
                             x -> length(x) > 1)) AS n_merged,
             length(w) AS n_chars
      FROM enc{_BPE_ROUNDS}),
    metrics AS (
      SELECT CAST({_BPE_ROUNDS} AS BIGINT) AS n_merges,
             round(sum(c * n_chars) / CAST(sum(c * n_syms) AS DOUBLE), 6)
                 AS chars_per_token,
             round(sum(c * n_merged) / CAST(sum(c * n_syms) AS DOUBLE), 6)
                 AS merged_token_share
      FROM dw JOIN wenc USING (w)),
    doc_tok AS (
      SELECT dw.doc_id, dw.source, CAST(sum(c * n_syms) AS BIGINT) AS tok
      FROM dw JOIN wenc USING (w) GROUP BY 1, 2),
    t AS (
      SELECT source, doc_id, tok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM doc_tok),
    packed AS (
      SELECT source, doc_id, tok, rn, CAST(0 AS BIGINT) AS pack_id,
             tok AS acc
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.source, t.doc_id, t.tok, t.rn,
             CASE WHEN p.acc + t.tok > {PACK_BUDGET} THEN p.pack_id + 1
                  ELSE p.pack_id END,
             CASE WHEN p.acc + t.tok > {PACK_BUDGET} THEN t.tok
                  ELSE p.acc + t.tok END
      FROM packed p JOIN t ON t.source = p.source AND t.rn = p.rn + 1)
    SELECT source, pack_id AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS shard_tokens,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           n_merges, chars_per_token, merged_token_share
    FROM packed, metrics
    GROUP BY source, pack_id, n_merges, chars_per_token,
             merged_token_share
    """
    )


@register("pipeline_tokenizer_release", oracle=_tokenizer_release_oracle())
def pipeline_tokenizer_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end tokenizer-release pipeline — the composition that
    completes the tokenizer story the way pipeline_training_data
    completed dedup:

        documents -> curate   (normalize + quality floor + exact dedup,
                               the pipeline_corpus_curation rules)
                  -> train    (BPE merge rules on the curated sample,
                               corpus.bpe_train_on_words - the SAME loop
                               tokenizer_bpe_train runs)
                  -> encode   (apply the learned rules to EVERY curated
                               doc's word table - map-side replaces)
                  -> metrics  (chars/token fertility + merged-token
                               share, the release acceptance numbers)
                  -> shard    (next-fit packing of BPE token counts per
                               source, pack_tokens_nextfit's scan)

    Output grain: one row per training shard (source, shard_id, doc
    span, BPE token mass) carrying the release-level tokenizer metrics
    as constant columns - the manifest a data release ships.

    Scale posture: training's working set is the WORD table (vocab-
    sized, not corpus-sized); each merge round is one pair-explode agg
    + a 1-row broadcast argmax + a map-side replace. Encoding is
    per-(doc,word) map-side expression work after one groupBy; the only
    data-sized shuffles are the dedup window, the (doc,word) count, and
    the per-source packing exchange. The 2-row merge collect is
    metadata-sized (same class as tokenizer_bpe_apply's)."""
    from basis_spark.operators.corpus import (
        _BPE_SEP,
        PACK_BUDGET,
        _PACK_SCHEMA,
        _pack_one_source,
        bpe_train_on_words,
    )

    docs = load(spark, sf_dir, "documents")
    cur = (
        docs.select(
            "doc_id",
            "source",
            F.lower(F.trim(F.regexp_replace("text", " +", " "))).alias("text"),
        )
        .filter(F.size(F.split("text", " ")) >= 8)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    words = (
        cur.filter(F.col("doc_id") < 50)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_on_words(words).orderBy("round").collect()
    ]

    s2 = _BPE_SEP * 2
    dw = (
        cur.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r = F.concat(
        F.lit(s2), F.concat_ws(s2, F.split(F.col("w"), "(?!^)(?=.)")), F.lit(s2)
    )
    enc = dw.withColumn("r", r)
    for a, b in merges:
        enc = enc.withColumn(
            "r",
            F.expr(
                f"replace(r, '{_BPE_SEP}' || '{a}' || '{_BPE_SEP}{_BPE_SEP}'"
                f" || '{b}' || '{_BPE_SEP}',"
                f" '{_BPE_SEP}' || '{a}{b}' || '{_BPE_SEP}')"
            ),
        )
    syms = f"filter(split(r, '{_BPE_SEP}{_BPE_SEP}'), x -> x <> '')"
    enc = enc.select(
        "doc_id",
        "source",
        "c",
        F.expr(f"size({syms})").alias("n_syms"),
        F.expr(f"size(filter({syms}, x -> length(x) > 1))").alias("n_merged"),
        F.length("w").alias("n_chars"),
    )
    metrics = enc.agg(
        F.lit(len(merges)).cast("long").alias("n_merges"),
        F.round(
            F.sum(F.col("c") * F.col("n_chars"))
            / F.sum(F.col("c") * F.col("n_syms")).cast("double"),
            6,
        ).alias("chars_per_token"),
        F.round(
            F.sum(F.col("c") * F.col("n_merged"))
            / F.sum(F.col("c") * F.col("n_syms")).cast("double"),
            6,
        ).alias("merged_token_share"),
    )
    doc_tok = enc.groupBy("doc_id", "source").agg(
        F.sum(F.col("c") * F.col("n_syms")).cast("long").alias("tok")
    )
    shards = (
        doc_tok.select("source", "doc_id", "tok")
        .groupBy("source")
        .applyInPandas(_pack_one_source, _PACK_SCHEMA)
    )
    return shards.crossJoin(F.broadcast(metrics)).select(
        "source",
        F.col("pack_id").alias("shard_id"),
        "n_docs",
        F.col("total_tokens").alias("shard_tokens"),
        "min_doc",
        "max_doc",
        "n_merges",
        "chars_per_token",
        "merged_token_share",
    )


@register(
    "pipeline_data_contract",
    oracle="""
    SELECT 'docs_min_rows' AS check_name,
           CAST(count(*) AS DOUBLE) AS observed,
           CAST(100.0 AS DOUBLE) AS threshold,
           CASE WHEN count(*) >= 100 THEN 1 ELSE 0 END AS passed
    FROM documents
    UNION ALL
    SELECT 'docs_text_null_rate',
           round(CAST(count(*) FILTER (WHERE text IS NULL) AS DOUBLE)
                 / count(*), 6),
           CAST(0.05 AS DOUBLE),
           CASE WHEN CAST(count(*) FILTER (WHERE text IS NULL) AS DOUBLE)
                     / count(*) <= 0.05 THEN 1 ELSE 0 END
    FROM documents
    UNION ALL
    SELECT 'docs_id_duplicates',
           CAST(count(*) - count(DISTINCT doc_id) AS DOUBLE),
           CAST(0.0 AS DOUBLE),
           CASE WHEN count(*) = count(DISTINCT doc_id) THEN 1 ELSE 0 END
    FROM documents
    UNION ALL
    SELECT 'orders_fk_orphans',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS DOUBLE),
           CAST(0.0 AS DOUBLE),
           CASE WHEN (SELECT count(*) FROM orders o
                      WHERE NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey)) = 0
                THEN 1 ELSE 0 END
    UNION ALL
    SELECT 'events_value_in_range',
           CAST(count(*) FILTER (WHERE value < 0 OR value > 1000)
                AS DOUBLE),
           CAST(0.0 AS DOUBLE),
           CASE WHEN count(*) FILTER (WHERE value < 0 OR value > 1000) = 0
                THEN 1 ELSE 0 END
    FROM events
    UNION ALL
    SELECT 'events_span_days',
           CAST(date_diff('day', CAST(min(ts) AS DATE),
                          CAST(max(ts) AS DATE)) AS DOUBLE),
           CAST(28.0 AS DOUBLE),
           CASE WHEN date_diff('day', CAST(min(ts) AS DATE),
                               CAST(max(ts) AS DATE)) >= 28
                THEN 1 ELSE 0 END
    FROM events
    """,
)
def pipeline_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate: the release check a pipeline runs before
    publishing a dataset version — six contract clauses (volume floor,
    null-rate ceiling, key uniqueness, referential integrity, value
    range, time coverage) evaluated across three tables and emitted as
    one pass/fail report row per clause. This is the dq_* family
    composed into the artifact CI actually consumes: a table where
    `min(passed) = 0` blocks the release.

    Each clause is a metadata-sized aggregate (the FK clause is a
    broadcast anti-join count); the report union is six 1-row plans —
    nothing data-sized ever leaves its own scan."""
    docs = load(spark, sf_dir, "documents")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    events = load(spark, sf_dir, "events")

    def row(name, observed, threshold, passed):
        return (
            F.lit(name).alias("check_name"),
            observed.cast("double").alias("observed"),
            F.lit(threshold).cast("double").alias("threshold"),
            passed.cast("int").alias("passed"),
        )

    n_docs = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("nn"),
        F.countDistinct("doc_id").alias("nd"),
    )
    c1 = n_docs.select(*row(
        "docs_min_rows", F.col("n"), 100.0,
        F.when(F.col("n") >= 100, 1).otherwise(0),
    ))
    null_rate = F.col("nn").cast("double") / F.col("n")
    c2 = n_docs.select(*row(
        "docs_text_null_rate", F.round(null_rate, 6), 0.05,
        F.when(null_rate <= 0.05, 1).otherwise(0),
    ))
    c3 = n_docs.select(*row(
        "docs_id_duplicates", F.col("n") - F.col("nd"), 0.0,
        F.when(F.col("n") == F.col("nd"), 1).otherwise(0),
    ))
    orphans = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("o"))
    )
    c4 = orphans.select(*row(
        "orders_fk_orphans", F.col("o"), 0.0,
        F.when(F.col("o") == 0, 1).otherwise(0),
    ))
    ev = events.agg(
        F.sum(
            F.when((F.col("value") < 0) | (F.col("value") > 1000), 1).otherwise(0)
        ).alias("oor"),
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date")).alias(
            "span"
        ),
    )
    c5 = ev.select(*row(
        "events_value_in_range", F.col("oor"), 0.0,
        F.when(F.col("oor") == 0, 1).otherwise(0),
    ))
    c6 = ev.select(*row(
        "events_span_days", F.col("span"), 28.0,
        F.when(F.col("span") >= 28, 1).otherwise(0),
    ))
    return c1.unionAll(c2).unionAll(c3).unionAll(c4).unionAll(c5).unionAll(c6)


def rewrite_qualify(sql: str) -> str:
    """Rewrite a QUALIFY query into Spark-executable SQL. Spark has no
    QUALIFY clause (DuckDB/Snowflake/BigQuery do), so our SQL surface
    accepts it and rewrites

        <head SELECT ...> QUALIFY <pred> [ORDER BY ... | LIMIT ...]

    into

        SELECT * EXCEPT (__qualify) FROM (
            SELECT *, (<pred>) AS __qualify FROM (<head>) __qualify_base
        ) __qualify_t WHERE __qualify [tail]

    Window functions are legal in a select list, so the predicate
    (which QUALIFY defines as a post-window filter) computes as a
    boolean column and filters one level up — exactly the manual
    rewrite users of QUALIFY-less engines write by hand. Declared
    contract: the predicate sees the query's OUTPUT columns (aliases
    included), the same scoping DuckDB gives aliased QUALIFY
    predicates, which is what lets one query text run on both engines.

    The scanner tracks single-quoted strings, double-quoted and
    backtick identifiers, and paren depth, so QUALIFY inside a
    subquery, string literal, or quoted identifier is never matched;
    only a top-level clause rewrites. ORDER BY / LIMIT after the
    predicate stay outside the wrap (they run after filtering, per
    QUALIFY semantics)."""
    upper = sql.upper()
    depth = 0
    i = 0
    qual_at = -1
    n = len(sql)

    def _skip_quoted(j: int, q: str) -> int:
        j += 1
        while j < n:
            if sql[j] == q:
                if q == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                return j + 1
            j += 1
        return j

    marks = []  # (pos, keyword) at depth 0: QUALIFY / ORDER / LIMIT
    while i < n:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            i = _skip_quoted(i, ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch.isalpha():
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            word = upper[i:j]
            if word in ("QUALIFY", "ORDER", "LIMIT"):
                marks.append((i, word))
            i = j
            continue
        i += 1
    qual_at = next((p for p, w in marks if w == "QUALIFY"), -1)
    if qual_at < 0:
        return sql
    tail_at = next((p for p, w in marks if p > qual_at and w in ("ORDER", "LIMIT")), n)
    head = sql[:qual_at].rstrip()
    pred = sql[qual_at + len("QUALIFY"):tail_at].strip()
    tail = sql[tail_at:].strip()
    return (
        "SELECT * EXCEPT (__qualify) FROM ("
        f"SELECT *, ({pred}) AS __qualify FROM ({head}) __qualify_base"
        f") __qualify_t WHERE __qualify {tail}".rstrip()
    )


_QUALIFY_DEMO = """
    SELECT o_custkey,
           o_orderkey,
           round(o_totalprice, 2) AS price
    FROM {table}
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY price DESC, o_orderkey) <= 2
    """


@register(
    "sql_qualify_clause",
    oracle=_QUALIFY_DEMO.format(table="orders"),
)
def sql_qualify_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY clause support in the SQL surface — top-2 orders per
    customer in one flat query, no explicit subquery. Spark's parser
    rejects QUALIFY, so the surface rewrites it (rewrite_qualify
    above) into the select-list-boolean + wrapped-filter form; DuckDB
    runs the IDENTICAL query text natively, which is the whole
    correctness claim: one dialect, two engines, same rows.

    The rewritten plan is the same Window + Filter Catalyst sees from
    a hand-written subquery — with a rank-<=-k predicate it collapses
    to WindowGroupLimit (top-k per group without ranking every row),
    so the sugar costs nothing physical. One exchange on o_custkey."""
    return spark.sql(
        rewrite_qualify(_QUALIFY_DEMO), table=load(spark, sf_dir, "orders")
    )


def rewrite_distinct_on(sql: str) -> str:
    """Rewrite PostgreSQL/DuckDB `SELECT DISTINCT ON (keys) sel FROM ...
    ORDER BY ...` into Spark-executable SQL. Spark has no DISTINCT ON;
    the standard manual rewrite is a row_number window partitioned by
    the ON keys ordered by the query's ORDER BY:

        SELECT <sel> FROM (
            SELECT *, row_number() OVER (
                PARTITION BY <keys> ORDER BY <order list>) AS __don
            FROM <from/where part>
        ) __don_t WHERE __don = 1

    Declared contract (documented subset of the Postgres surface): an
    ORDER BY is required (it defines WHICH row survives per group) and
    the ON keys + order keys must be base columns of the FROM relation
    — the select list may compute anything. The scanner shares
    rewrite_qualify's quote/paren discipline; non-DISTINCT-ON text
    passes through untouched."""
    upper = sql.upper()
    m_on = None
    import re as _re

    m_on = _re.search(r"SELECT\s+DISTINCT\s+ON\s*\(", upper)
    if not m_on:
        return sql
    # match the ON (...) parens
    i = m_on.end() - 1
    depth = 0
    n = len(sql)
    while i < n:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    keys = sql[m_on.end():i].strip()
    rest = sql[i + 1:]
    rest_upper = rest.upper()
    # top-level FROM and ORDER BY in the remainder (no subquery support
    # in the head of this surface; the scanner still honors quotes)
    depth = 0
    j = 0
    from_at = order_at = -1
    while j < len(rest):
        ch = rest[j]
        if ch == "'":
            j += 1
            while j < len(rest) and rest[j] != "'":
                j += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch.isalpha():
            k = j
            while k < len(rest) and (rest[k].isalnum() or rest[k] == "_"):
                k += 1
            w = rest_upper[j:k]
            if w == "FROM" and from_at < 0:
                from_at = j
            elif w == "ORDER" and order_at < 0:
                order_at = j
            j = k
            continue
        j += 1
    if from_at < 0 or order_at < 0:
        raise ValueError("DISTINCT ON surface requires FROM and ORDER BY")
    sel = rest[:from_at].strip()
    body = rest[from_at:order_at].strip()  # FROM ... [WHERE ...]
    order_list = rest[order_at:].strip()[len("ORDER BY"):].strip()
    return (
        f"SELECT {sel} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {order_list}) AS __don {body}"
        f") __don_t WHERE __don = 1"
    )


_DISTINCT_ON_DEMO = """
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey,
           round(o_totalprice, 2) AS latest_price
    FROM {table}
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey
    """


@register(
    "sql_distinct_on",
    oracle=_DISTINCT_ON_DEMO.format(table="orders"),
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON in the SQL surface — each customer's most recent
    order in one flat query (the Postgres idiom for 'first row per
    group'). Spark's parser rejects it, so the surface rewrites to the
    row_number-=-1 form (rewrite_distinct_on above); DuckDB runs the
    IDENTICAL text natively — same dialect-parity claim as
    sql_qualify_clause.

    The rewritten plan is one exchange on the ON key with
    WindowGroupLimit (rank 1 per group short-circuits before full sort
    materialization) — physically identical to dedupe_keep_latest's
    hand-built window."""
    return spark.sql(
        rewrite_distinct_on(_DISTINCT_ON_DEMO), table=load(spark, sf_dir, "orders")
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS spend
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING count(*) > 5
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>) — the linear query dialect (GoogleSQL
    'pipe' operators, SQL:2023-adjacent) Spark 4 parses natively:
    FROM ... |> WHERE ... |> AGGREGATE ... |> WHERE reads top-to-bottom
    in execution order instead of inside-out. The surface key pins that
    our engine accepts the dialect AND that it is pure syntax: Catalyst
    compiles the pipe chain to the identical plan as the classic
    SELECT, and the oracle runs the classic form on DuckDB (which has
    no pipe dialect) — same rows, two spellings, two engines.

    The post-AGGREGATE |> WHERE is the HAVING equivalent (it filters
    aggregate output), demonstrating the dialect's one-keyword-fewer
    composition."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n,
                     round(sum(o_totalprice), 2) AS spend
           GROUP BY o_orderpriority
        |> WHERE n > 5
        |> SELECT o_orderpriority, n, spend
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_order_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ALL (the DuckDB-pioneered shorthand Spark adopted in
    4.0: sort by every SELECT item left-to-right) — the report-query
    idiom that makes output order deterministic without naming
    columns. Both engines must expand ALL to the same sort key list;
    the group is status x priority (bounded), so the global sort the
    clause implies runs on a metadata-sized aggregate, which is the
    only context this repo ever allows a global ORDER BY in (the
    result-compare is order-insensitive; the key exists to pin the
    ANALYZER expansion, and the tiny sorted relation is the posture
    that survives 100 TB)."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM {orders}
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (text)
    FROM documents WHERE doc_id < 50
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT (...) (Spark 4.x; DuckDB spells it EXCLUDE) —
    the wide-table idiom for "everything but the payload": project a
    200-column table minus its blob/text columns without enumerating
    198 names. The value at 100 TB is that EXCEPT resolves at ANALYSIS
    time into an explicit projection, so column pruning still reaches
    the parquet scan (ReadSchema drops the excluded column exactly as
    if it had been listed) — asserted in tests/test_plans.py."""
    return spark.sql(
        "SELECT * EXCEPT (text) FROM {docs} WHERE doc_id < 50",
        docs=load(spark, sf_dir, "documents"),
    )
