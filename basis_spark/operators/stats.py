"""Distribution-comparison statistics (two-sample tests).

Both operators compare the `value` distribution of two event
populations (click vs purchase) — the drift test a data pipeline runs
when a new ingest batch, scraper version, or upstream model change
might have shifted a feature distribution.

Scale design (100 TB): both tests reduce to ONE aggregation keyed on
the (grouped) value followed by a distributed two-pass prefix sum over
value order — windows.global_scan, the range-partition + P-row-offset
shape, never a data-sized single-partition window. The final statistic
is a 1-row combine (declared in the single-partition ratchet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from basis_spark.io import load
from basis_spark.session import spread_width
from basis_spark.registry import register

GROUP_A = "click"
GROUP_B = "purchase"


def two_group_value_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per distinct value v of the two populations: group counts
    (na, nb), inclusive prefix counts in value order (cna, cnb, cab),
    and grand totals (ta, tb) — the shared scaffold of every rank-based
    two-sample statistic.

    The prefix counts are one sum `windows.global_scan` over value
    order (two columns at once): the only driver-sized object is its
    P-row offset table, and the totals ride along on the same P rows."""
    from basis_spark.operators.windows import global_scan

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(GROUP_A, GROUP_B)
    )
    g = (
        ev.select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == GROUP_A, 1).otherwise(0).alias("ca"),
            F.when(F.col("event_type") == GROUP_B, 1).otherwise(0).alias("cb"),
        )
        .groupBy("v")
        .agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    )
    return global_scan(g, "sum", {"cna": "na", "cnb": "nb"}, "v").select(
        "v",
        "na",
        "nb",
        "cna",
        "cnb",
        (F.col("cna") + F.col("cnb")).alias("cab"),
        F.col("cna_total").alias("ta"),
        F.col("cnb_total").alias("tb"),
    )


@register(
    "stat_ks_two_sample",
    oracle=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type='{GROUP_A}' THEN 1 ELSE 0 END AS ca,
             CASE WHEN event_type='{GROUP_B}' THEN 1 ELSE 0 END AS cb
      FROM events WHERE event_type IN ('{GROUP_A}','{GROUP_B}')),
    g AS (SELECT v, sum(ca) AS na, sum(cb) AS nb FROM s GROUP BY v),
    c AS (SELECT v,
             sum(na) OVER (ORDER BY v) AS cna,
             sum(nb) OVER (ORDER BY v) AS cnb,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
          FROM g)
    SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
           round(max(abs(CAST(cna AS DOUBLE)/ta - CAST(cnb AS DOUBLE)/tb)), 6)
               AS ks_stat
    FROM c
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: the max gap between the
    two empirical CDFs, evaluated at every observed value — the
    standard nonparametric drift detector for continuous features
    (no binning choices to tune, sensitive to shape changes a mean
    check misses). Built entirely on the distributed prefix-sum
    scaffold; the max-gap reduction is a 1-row combine."""
    c = two_group_value_cum(spark, sf_dir)
    gap = F.abs(
        F.col("cna").cast("double") / F.col("ta")
        - F.col("cnb").cast("double") / F.col("tb")
    )
    return c.agg(
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
        F.round(F.max(gap), 6).alias("ks_stat"),
    )


@register(
    "stat_mann_whitney_u",
    oracle=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type='{GROUP_A}' THEN 1 ELSE 0 END AS ca,
             CASE WHEN event_type='{GROUP_B}' THEN 1 ELSE 0 END AS cb
      FROM events WHERE event_type IN ('{GROUP_A}','{GROUP_B}')),
    g AS (SELECT v, sum(ca) AS na, sum(cb) AS nb FROM s GROUP BY v),
    c AS (SELECT v, na, nb,
             sum(na+nb) OVER (ORDER BY v) AS cab,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
          FROM g),
    a AS (SELECT ta, tb,
             sum(na * (cab - na - nb + 1 + (na + nb - 1)/2.0)) AS rsum_a
          FROM c GROUP BY ta, tb)
    SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
           round(rsum_a - ta*(ta+1)/2.0, 4) AS u_a,
           round(ta*tb - (rsum_a - ta*(ta+1)/2.0), 4) AS u_b
    FROM a
    """,
)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) statistic with exact midrank tie
    handling: does one population stochastically dominate the other —
    the location-shift companion to the KS shape test. Average ranks
    come straight from the prefix-sum scaffold (rank of a tied block =
    count of smaller values + midpoint of the block), so no global sort
    or data-sized window exists; u_a + u_b = n_a*n_b by construction
    (the oracle pins both, so the identity is checked on every run)."""
    c = two_group_value_cum(spark, sf_dir)
    avg_rank = (
        F.col("cab") - F.col("na") - F.col("nb") + 1
        + (F.col("na") + F.col("nb") - 1) / 2.0
    )
    a = c.groupBy("ta", "tb").agg(
        F.sum(F.col("na") * avg_rank).alias("rsum_a")
    )
    u_a = F.col("rsum_a") - F.col("ta") * (F.col("ta") + 1) / 2.0
    return a.select(
        F.col("ta").cast("long").alias("n_a"),
        F.col("tb").cast("long").alias("n_b"),
        F.round(u_a, 4).alias("u_a"),
        F.round(F.col("ta") * F.col("tb") - u_a, 4).alias("u_b"),
    )


@register(
    "stat_anova_oneway",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(value) AS m, var_samp(value) AS s2
        FROM events GROUP BY 1),
    t AS (
        SELECT sum(n) AS n_total, count(*) AS k,
               sum(n * m) / sum(n) AS grand_mean
        FROM g)
    SELECT CAST(t.k AS BIGINT) AS k_groups,
           CAST(t.n_total AS BIGINT) AS n_total,
           round(sum(g.n * (g.m - t.grand_mean) * (g.m - t.grand_mean)), 4)
               AS ss_between,
           round(sum((g.n - 1) * g.s2), 4) AS ss_within,
           round((sum(g.n * (g.m - t.grand_mean) * (g.m - t.grand_mean))
                      / (t.k - 1))
                 / (sum((g.n - 1) * g.s2) / (t.n_total - t.k)), 6) AS f_stat
    FROM g CROSS JOIN t
    GROUP BY t.k, t.n_total, t.grand_mean
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic: does mean(value) differ across the
    k event-type populations? The decomposition SS_total = SS_between
    + SS_within needs only per-group (n, mean, var) — ONE hash
    aggregation over the data, k rows out — then a 1-row combine
    against the grand mean (declared single-partition; k is
    group-cardinality, never data-sized). This is the
    sufficient-statistics shape every moment-based test reduces to at
    100 TB: the data is touched exactly once, map-side partials
    combine associatively, and the F ratio is arithmetic on a k-row
    table. ss_* rounded to 4 (they are ~1e6-scale sums whose float
    association order differs across engines at the 1e-9 relative
    level the sweep's 6-decimal rounding would surface)."""
    g = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("s2"),
        )
    )
    t = g.agg(
        F.sum("n").alias("n_total"),
        F.count(F.lit(1)).alias("k"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("grand_mean"),
    )
    j = g.crossJoin(F.broadcast(t))
    dm = F.col("m") - F.col("grand_mean")
    ssb = F.sum(F.col("n") * dm * dm)
    ssw = F.sum((F.col("n") - 1) * F.col("s2"))
    return j.groupBy("k", "n_total", "grand_mean").agg(
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.first("k") - 1))
            / (ssw / (F.first("n_total") - F.first("k"))),
            6,
        ).alias("f_stat"),
    ).select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n_total").cast("long").alias("n_total"),
        "ss_between",
        "ss_within",
        "f_stat",
    )


@register(
    "stat_ttest_welch",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(value) AS m, var_samp(value) AS s2
        FROM events WHERE event_type IN ('{GROUP_A}', '{GROUP_B}')
        GROUP BY 1),
    w AS (
        SELECT
            max(CASE WHEN event_type = '{GROUP_A}' THEN n END) AS na,
            max(CASE WHEN event_type = '{GROUP_B}' THEN n END) AS nb,
            max(CASE WHEN event_type = '{GROUP_A}' THEN m END) AS ma,
            max(CASE WHEN event_type = '{GROUP_B}' THEN m END) AS mb,
            max(CASE WHEN event_type = '{GROUP_A}' THEN s2 END) / 
                max(CASE WHEN event_type = '{GROUP_A}' THEN n END) AS va,
            max(CASE WHEN event_type = '{GROUP_B}' THEN s2 END) /
                max(CASE WHEN event_type = '{GROUP_B}' THEN n END) AS vb
        FROM g)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(ma - mb, 6) AS mean_diff,
           round((ma - mb) / sqrt(va + vb), 6) AS t_stat,
           round((va + vb) * (va + vb)
                 / (va * va / (na - 1) + vb * vb / (nb - 1)), 4) AS df_welch
    FROM w
    """,
)
def stat_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the click and purchase
    value populations — the two-sample mean test that does NOT assume
    pooled variance, with the Welch–Satterthwaite degrees of freedom.
    Same sufficient-statistics contract as stat_anova_oneway: one hash
    aggregation (2 rows out), then pure arithmetic in a 1-row combine.
    df rounded to 4, means/t to 6 (engine-order float association)."""
    g = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(GROUP_A, GROUP_B))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("s2"),
        )
    )
    pick = lambda col, grp: F.max(F.when(F.col("event_type") == grp, F.col(col)))  # noqa: E731
    w = g.agg(
        pick("n", GROUP_A).alias("na"),
        pick("n", GROUP_B).alias("nb"),
        pick("m", GROUP_A).alias("ma"),
        pick("m", GROUP_B).alias("mb"),
        (pick("s2", GROUP_A) / pick("n", GROUP_A)).alias("va"),
        (pick("s2", GROUP_B) / pick("n", GROUP_B)).alias("vb"),
    )
    va, vb = F.col("va"), F.col("vb")
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(va + vb), 6).alias(
            "t_stat"
        ),
        F.round(
            (va + vb) * (va + vb)
            / (va * va / (F.col("na") - 1) + vb * vb / (F.col("nb") - 1)),
            4,
        ).alias("df_welch"),
    )


@register(
    "stat_effect_size_cohens_d",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(value) AS m, var_samp(value) AS s2
        FROM events WHERE event_type IN ('{GROUP_A}', '{GROUP_B}')
        GROUP BY 1),
    w AS (
        SELECT
            max(CASE WHEN event_type = '{GROUP_A}' THEN n END) AS na,
            max(CASE WHEN event_type = '{GROUP_B}' THEN n END) AS nb,
            max(CASE WHEN event_type = '{GROUP_A}' THEN m END) AS ma,
            max(CASE WHEN event_type = '{GROUP_B}' THEN m END) AS mb,
            max(CASE WHEN event_type = '{GROUP_A}' THEN s2 END) AS s2a,
            max(CASE WHEN event_type = '{GROUP_B}' THEN s2 END) AS s2b
        FROM g),
    p AS (
        SELECT na, nb, ma, mb,
               sqrt(((na - 1) * s2a + (nb - 1) * s2b) / (na + nb - 2))
                   AS sp
        FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(sp, 6) AS pooled_sd,
           round((ma - mb) / sp, 6) AS cohens_d,
           round((1 - 3 / (4 * (na + nb) - 9)) * (ma - mb) / sp, 6)
               AS hedges_g
    FROM p
    """,
)
def stat_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size for the click-vs-purchase mean gap:
    Cohen's d on the pooled SD, plus Hedges' g (the small-sample
    bias correction J = 1 - 3/(4N-9) applied to d). The companion the
    Welch test (stat_ttest_welch) needs in any readout — t tells you
    a difference exists, d tells you whether it is big enough to act
    on, and unlike t it does not grow with sqrt(N), so it is the
    number that stays meaningful at 100 TB sample sizes. Same
    sufficient-statistics contract as the sibling tests: one hash
    aggregation (2 rows), then arithmetic in a 1-row combine."""
    g = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(GROUP_A, GROUP_B))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("s2"),
        )
    )
    pick = lambda col, grp: F.max(F.when(F.col("event_type") == grp, F.col(col)))  # noqa: E731
    w = g.agg(
        pick("n", GROUP_A).alias("na"),
        pick("n", GROUP_B).alias("nb"),
        pick("m", GROUP_A).alias("ma"),
        pick("m", GROUP_B).alias("mb"),
        pick("s2", GROUP_A).alias("s2a"),
        pick("s2", GROUP_B).alias("s2b"),
    )
    sp = F.sqrt(
        ((F.col("na") - 1) * F.col("s2a") + (F.col("nb") - 1) * F.col("s2b"))
        / (F.col("na") + F.col("nb") - 2)
    )
    d = (F.col("ma") - F.col("mb")) / sp
    j = 1 - 3 / (4 * (F.col("na") + F.col("nb")) - 9)
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(sp, 6).alias("pooled_sd"),
        F.round(d, 6).alias("cohens_d"),
        F.round(j * d, 6).alias("hedges_g"),
    )


@register(
    "stat_levene_variance",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS md
        FROM events GROUP BY 1),
    z AS (
        SELECT e.event_type, abs(e.value - m.md) AS z
        FROM events e JOIN med m USING (event_type)),
    g AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               avg(z) AS zb, var_samp(z) AS s2
        FROM z GROUP BY 1),
    t AS (
        SELECT sum(n) AS nt, count(*) AS k,
               sum(n * zb) / sum(n) AS zbb
        FROM g)
    SELECT CAST(t.k AS BIGINT) AS k_groups,
           CAST(t.nt AS BIGINT) AS n_total,
           round(((t.nt - t.k) / (t.k - 1))
                 * sum(g.n * (g.zb - t.zbb) * (g.zb - t.zbb))
                 / sum((g.n - 1) * g.s2), 6) AS w_stat
    FROM g CROSS JOIN t
    GROUP BY t.k, t.nt, t.zbb
    """,
)
def stat_levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Levene with median
    centers — the robust form): are the k event-type populations'
    SPREADS equal? This is the precondition check for pooled-variance
    methods and the drift test that catches a variance blow-up a mean
    monitor misses. Two passes over the data by construction: pass 1
    is a grouped median (k=5 groups — exact here; past the percentile
    scale limit the analytics module's scaled_percentile swap applies
    identically), pass 2 broadcasts the k-row median table back,
    centers, and reduces to the ANOVA sufficient-statistics shape on
    |value - median| — one hash aggregation, k rows, 1-row combine."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("md")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("md")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("zb"),
        F.var_samp("z").alias("s2"),
    )
    t = g.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        (F.sum(F.col("n") * F.col("zb")) / F.sum("n")).alias("zbb"),
    )
    j = g.crossJoin(F.broadcast(t))
    dz = F.col("zb") - F.col("zbb")
    return (
        j.groupBy("k", "nt", "zbb")
        .agg(
            F.round(
                ((F.first("nt") - F.first("k")) / (F.first("k") - 1))
                * F.sum(F.col("n") * dz * dz)
                / F.sum((F.col("n") - 1) * F.col("s2")),
                6,
            ).alias("w_stat")
        )
        .select(
            F.col("k").cast("long").alias("k_groups"),
            F.col("nt").cast("long").alias("n_total"),
            "w_stat",
        )
    )


@register(
    "stat_fisher_hypergeom",
    oracle=f"""
    WITH e AS (
        SELECT CASE WHEN event_type = '{GROUP_A}' THEN 1 ELSE 0 END AS r,
               CASE WHEN value > 50 THEN 1 ELSE 0 END AS hc
        FROM events
        WHERE event_type IN ('{GROUP_A}', '{GROUP_B}') AND value IS NOT NULL),
    t AS (
        SELECT CAST(sum(r * hc) AS DOUBLE) AS a,
               CAST(sum(r * (1 - hc)) AS DOUBLE) AS b,
               CAST(sum((1 - r) * hc) AS DOUBLE) AS c,
               CAST(sum((1 - r) * (1 - hc)) AS DOUBLE) AS d
        FROM e),
    lp AS (
        SELECT sum(ln(g.i) * (
                   (CASE WHEN g.i <= t.a + t.b THEN 1 ELSE 0 END)
                 + (CASE WHEN g.i <= t.c + t.d THEN 1 ELSE 0 END)
                 + (CASE WHEN g.i <= t.a + t.c THEN 1 ELSE 0 END)
                 + (CASE WHEN g.i <= t.b + t.d THEN 1 ELSE 0 END)
                 - 1
                 - (CASE WHEN g.i <= t.a THEN 1 ELSE 0 END)
                 - (CASE WHEN g.i <= t.b THEN 1 ELSE 0 END)
                 - (CASE WHEN g.i <= t.c THEN 1 ELSE 0 END)
                 - (CASE WHEN g.i <= t.d THEN 1 ELSE 0 END))) AS log_pmf
        FROM t CROSS JOIN generate_series(1, 100000) AS g(i)
        WHERE g.i <= t.a + t.b + t.c + t.d)
    SELECT CAST(t.a AS BIGINT) AS n11, CAST(t.b AS BIGINT) AS n12,
           CAST(t.c AS BIGINT) AS n21, CAST(t.d AS BIGINT) AS n22,
           round(t.a * t.d / (t.b * t.c), 6) AS odds_ratio,
           round(lp.log_pmf, 4) AS log_pmf
    FROM t CROSS JOIN lp
    """,
)
def stat_fisher_hypergeom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact machinery for a 2x2 contingency table (event
    population x value>50), built WITHOUT any special function Spark
    lacks: the hypergeometric log-pmf of the observed table is a
    signed sum of log-factorials, and ln(x!) = sum_{{i<=x}} ln(i), so
    the whole statistic collapses to ONE distributed aggregation over
    an integer spine of length N with a per-row +/- coefficient — the
    spine is COUNT-sized (one double per row), not data-sized, and at
    100 TB the documented swap is Stirling/lgamma arithmetic on the
    9 factorial arguments (no spine at all). The two-sided p-value is
    this same table summed over the support k in [max(0,r1-c2),
    min(r1,c1)] — identical plan shape, one row per k. Reported:
    the table, the odds ratio, and the observed-table log-pmf
    (rounded to 4: the only float whose distributed association
    order differs across engines, at ~1e-8 absolute). The DuckDB
    oracle's series cap (1e5) bounds only the ORACLE's scale factor,
    never the operator's."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin(GROUP_A, GROUP_B)
            & F.col("value").isNotNull()
        )
        .select(
            F.when(F.col("event_type") == GROUP_A, 1).otherwise(0).alias("r"),
            F.when(F.col("value") > 50, 1).otherwise(0).alias("hc"),
        )
    )
    t = ev.agg(
        F.sum(F.col("r") * F.col("hc")).cast("double").alias("a"),
        F.sum(F.col("r") * (1 - F.col("hc"))).cast("double").alias("b"),
        F.sum((1 - F.col("r")) * F.col("hc")).cast("double").alias("c"),
        F.sum((1 - F.col("r")) * (1 - F.col("hc"))).cast("double").alias("d"),
    )
    n_total = ev.count()  # spine bound (COUNT-scale driver scalar)
    spine = spark.range(1, n_total + 1).select(
        F.col("id").cast("double").alias("i")
    )
    ind = lambda bound: F.when(F.col("i") <= bound, 1).otherwise(0)  # noqa: E731
    coef = (
        ind(F.col("a") + F.col("b"))
        + ind(F.col("c") + F.col("d"))
        + ind(F.col("a") + F.col("c"))
        + ind(F.col("b") + F.col("d"))
        - F.lit(1)
        - ind(F.col("a"))
        - ind(F.col("b"))
        - ind(F.col("c"))
        - ind(F.col("d"))
    )
    lp = spine.crossJoin(F.broadcast(t)).agg(
        F.sum(F.log("i") * coef).alias("log_pmf")
    )
    return t.crossJoin(F.broadcast(lp)).select(
        F.col("a").cast("long").alias("n11"),
        F.col("b").cast("long").alias("n12"),
        F.col("c").cast("long").alias("n21"),
        F.col("d").cast("long").alias("n22"),
        F.round(F.col("a") * F.col("d") / (F.col("b") * F.col("c")), 6).alias(
            "odds_ratio"
        ),
        F.round("log_pmf", 4).alias("log_pmf"),
    )


@register(
    "stat_spearman_rho",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS x, c.c_acctbal AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    r AS (
      SELECT seg,
             rank() OVER (PARTITION BY seg ORDER BY x)
               + (count(*) OVER (PARTITION BY seg, x) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY seg ORDER BY y)
               + (count(*) OVER (PARTITION BY seg, y) - 1) / 2.0 AS ry
      FROM j)
    SELECT seg, CAST(count(*) AS BIGINT) AS n,
           round(corr(rx, ry), 6) AS spearman_rho
    FROM r GROUP BY seg
    """,
)
def stat_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per segment (order spend vs the
    customer's account balance) — the robust monotone-association
    measure (Pearson on average ranks, so outliers and nonlinearity
    don't distort it; the feature-screening default for heavy-tailed
    pipeline metrics).

    Ties get textbook average ranks, spelled identically in both
    engines: min-rank + (tie_count - 1)/2 — rank() plus a
    count-over-the-(group, value)-partition, all window functions over
    ONE segment-keyed exchange. corr() is a streaming co-moment
    aggregate (no rank materialization beyond the window pass).

    Scale: two window passes + one hash agg, all partitioned by
    segment; no global sort, no collect. Rank windows order WITHIN a
    segment — the 100 TB variant range-partitions each segment's values
    (the stats.py prefix-sum scaffold) if single segments outgrow a
    partition."""
    j = (
        load(spark, sf_dir, "orders")
        .join(load(spark, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("x"),
            F.col("c_acctbal").alias("y"),
        )
    )
    def avg_rank(col: str) -> F.Column:
        w_rank = Window.partitionBy("seg").orderBy(col)
        w_tie = Window.partitionBy("seg", col)
        return F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
    r = j.select(
        "seg", avg_rank("x").alias("rx"), avg_rank("y").alias("ry")
    )
    return r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
    )


@register(
    "stat_kendall_tau_b",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, c_custkey AS k, c_acctbal AS x,
                      c_custkey % 97 AS y
               FROM customer),
    p AS (
      SELECT a.nk,
             CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty
      FROM c a JOIN c b ON a.nk = b.nk AND a.k < b.k)
    SELECT nk AS nationkey,
           CAST(sum(con) AS BIGINT) AS concordant,
           CAST(sum(dis) AS BIGINT) AS discordant,
           round((sum(con) - sum(dis))
                 / sqrt((sum(con) + sum(dis) + sum(tx))
                        * (sum(con) + sum(dis) + sum(ty))), 6) AS tau_b
    FROM p GROUP BY nk
    """,
)
def stat_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b per nation between a customer's balance and a
    deterministic behavioural proxy (custkey % 97) — the
    concordant/discordant-pair association measure, with the tau-b tie
    correction in both denominator arms.

    Pairwise by construction (O(n^2) per group), so the contract is
    BOUNDED GROUPS: pairs are generated by an equi-join on the group
    key with k_a < k_b — Catalyst executes a shuffled hash join keyed
    on nation, so each group's quadratic work stays inside one task and
    nothing global is quadratic. At 100 TB the declared scale path for
    unbounded groups is the O(n log n) merge-sort inversion count
    (documented, not needed for bounded panels like per-nation QC
    samples)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("x"),
        (F.col("c_custkey") % 97).alias("y"),
    )
    a, b = c.alias("a"), c.alias("b")
    p = a.join(
        b,
        (F.col("a.nk") == F.col("b.nk")) & (F.col("a.k") < F.col("b.k")),
    ).select(
        F.col("a.nk").alias("nk"),
        ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))).alias(
            "prod"
        ),
        (F.col("a.x") == F.col("b.x")).alias("eqx"),
        (F.col("a.y") == F.col("b.y")).alias("eqy"),
    )
    agg = p.groupBy("nk").agg(
        F.sum(F.when(F.col("prod") > 0, 1).otherwise(0)).alias("con"),
        F.sum(F.when(F.col("prod") < 0, 1).otherwise(0)).alias("dis"),
        F.sum(F.when(F.col("eqx") & ~F.col("eqy"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("eqy") & ~F.col("eqx"), 1).otherwise(0)).alias("ty"),
    )
    denom = F.sqrt(
        (F.col("con") + F.col("dis") + F.col("tx"))
        * (F.col("con") + F.col("dis") + F.col("ty"))
    )
    return agg.select(
        F.col("nk").alias("nationkey"),
        F.col("con").alias("concordant"),
        F.col("dis").alias("discordant"),
        F.round((F.col("con") - F.col("dis")) / denom, 6).alias("tau_b"),
    )


@register(
    "eval_auc_rank",
    oracle=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type='{GROUP_A}' THEN 1 ELSE 0 END AS ca,
             CASE WHEN event_type='{GROUP_B}' THEN 1 ELSE 0 END AS cb
      FROM events WHERE event_type IN ('{GROUP_A}','{GROUP_B}')),
    g AS (SELECT v, sum(ca) AS na, sum(cb) AS nb FROM s GROUP BY v),
    c AS (SELECT v, na, nb,
             coalesce(sum(na) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cna_prev,
             sum(na) OVER () AS ta, sum(nb) OVER () AS tb
          FROM g)
    SELECT CAST(max(tb) AS BIGINT) AS n_pos,
           CAST(max(ta) AS BIGINT) AS n_neg,
           round(sum(nb * (cna_prev + na / 2.0)) / (max(ta) * max(tb)), 6)
               AS auc
    FROM c
    """,
)
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the rank-sum identity (AUC == U/(n1*n0) == P[score of
    a positive > score of a negative] + half the ties) — the standard
    classifier eval computed WITHOUT sorting predictions into one
    task: purchases play the positive class, clicks the negative, and
    `value` is the score.

    Rides the same distributed prefix-sum scaffold as the KS /
    Mann-Whitney keys (two_group_value_cum): per distinct score,
    positives at that score beat every negative strictly below
    (cna_prev) and tie half the negatives at it (na/2). One
    value-keyed aggregation + P-row offset table + 1-row combine —
    the shape that holds at any score cardinality."""
    c = two_group_value_cum(spark, sf_dir)
    # exclusive prefix: cna is inclusive in the scaffold
    cna_prev = F.col("cna") - F.col("na")
    return c.agg(
        F.max("tb").cast("long").alias("n_pos"),
        F.max("ta").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("nb") * (cna_prev + F.col("na") / 2.0))
            / (F.max("ta") * F.max("tb")),
            6,
        ).alias("auc"),
    )


@register(
    "eval_calibration_bins",
    oracle=f"""
    WITH s AS (
      SELECT value / (value + 100.0) AS score,
             CASE WHEN event_type = '{GROUP_B}' THEN 1 ELSE 0 END AS label
      FROM events WHERE event_type IN ('{GROUP_A}','{GROUP_B}'))
    SELECT CAST(floor(score * 10) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS pos_rate,
           round(abs(avg(score) - avg(CAST(label AS DOUBLE))), 6) AS gap
    FROM s GROUP BY 1
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table for a scored binary outcome: ten
    equal-width score bins, each with its mean predicted score vs the
    observed positive rate — the per-bin |gap| column is the integrand
    of ECE and the readout that says WHERE a model is over- or
    under-confident (AUC, its companion key, only says whether ranking
    works). Score is the deterministic monotone value/(value+100) —
    bounded in (0,1) at every SF — so the whole eval is
    value-hash-reproducible with no model artifact.

    One hash aggregation keyed on the 10-value bin — fully map-side
    combinable, no window, no sort; the canonical shape for any
    fixed-bin eval at 100 TB."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(GROUP_A, GROUP_B)
    )
    score = F.col("value") / (F.col("value") + 100.0)
    label = F.when(F.col("event_type") == GROUP_B, 1.0).otherwise(0.0)
    s = ev.select(score.alias("score"), label.alias("label"))
    return s.groupBy(
        F.floor(F.col("score") * 10).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg("label"), 6).alias("pos_rate"),
        F.round(F.abs(F.avg("score") - F.avg("label")), 6).alias("gap"),
    )


_POIS_CDF = (  # cumulative Poisson(1) probabilities, fixed literals so
    # both engines bucket the SAME hash-uniform into the SAME weight
    (0.367879441, 0),
    (0.735758882, 1),
    (0.919698603, 2),
    (0.981011843, 3),
    (0.996340153, 4),
)


@register(
    "stat_bootstrap_poisson_ci",
    oracle="""
    WITH r AS (
      SELECT e.value, b.range AS b,
             (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
                  for ch in string_split_regex(
                      substring(md5(CAST(e.event_id AS VARCHAR) || ':' ||
                                    CAST(b.range AS VARCHAR)), 1, 13), '')]),
                 (a, d) -> a * 16 + d) + 0.5) / 4503599627370496.0 AS u
      FROM events e, range(16) b
      WHERE e.event_type = 'purchase'),
    w AS (
      SELECT b, value,
             CASE WHEN u < 0.367879441 THEN 0
                  WHEN u < 0.735758882 THEN 1
                  WHEN u < 0.919698603 THEN 2
                  WHEN u < 0.981011843 THEN 3
                  WHEN u < 0.996340153 THEN 4
                  ELSE 5 END AS wt
      FROM r),
    reps AS (
      SELECT b, sum(wt * value) / sum(wt) AS m
      FROM w GROUP BY b)
    SELECT CAST(16 AS BIGINT) AS n_replicates,
           round(avg(m), 6) AS boot_mean,
           round(stddev_samp(m), 6) AS boot_se,
           round(min(m), 6) AS boot_lo,
           round(max(m), 6) AS boot_hi
    FROM reps
    """,
)
def stat_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error / range for a mean via the POISSON
    bootstrap (the distributed form: resampling n-out-of-n needs
    coordinated sampling without replacement across machines, but
    Poisson(1) per-row weights need NO coordination — each row decides
    its own multiplicity per replicate, independently, map-side; the
    approximation error vs the multinomial bootstrap is O(1/n)).
    B=16 replicates of the purchase-value mean, weights drawn from
    md5(event_id, b) through a fixed Poisson(1) inverse-CDF table —
    hash-deterministic, so the WHOLE resampling plan is value-hash
    reproducible (the sample_weighted_priority convention; a seeded
    RNG bootstrap is neither portable nor rerun-stable).

    Shape: a x16 map-side fan-out, one 16-key hash agg (replicate
    sufficient stats partial-aggregate like any sum), and a 1-row
    combine over the 16 replicate means — no data-sized shuffle, no
    second scan, holds at any corpus size."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    r = ev.select(
        "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b")
    )
    v = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    )
    u = (v.cast("double") + 0.5) / F.lit(float(1 << 52))
    wt = F.lit(5)
    for thresh, k in reversed(_POIS_CDF):
        wt = F.when(u < thresh, k).otherwise(wt)
    reps = (
        r.select("b", "value", wt.alias("wt"))
        .groupBy("b")
        .agg(
            (F.sum(F.col("wt") * F.col("value")) / F.sum("wt")).alias("m")
        )
    )
    return reps.agg(
        F.lit(16).cast("long").alias("n_replicates"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 6).alias("boot_se"),
        F.round(F.min("m"), 6).alias("boot_lo"),
        F.round(F.max("m"), 6).alias("boot_hi"),
    )


@register(
    "stat_wilson_interval",
    oracle="""
    WITH g AS (
      SELECT c_nationkey AS nationkey,
             count(*) AS n,
             sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS x
      FROM customer GROUP BY c_nationkey)
    SELECT nationkey,
           CAST(n AS BIGINT) AS n,
           CAST(x AS BIGINT) AS n_hits,
           round(CAST(x AS DOUBLE) / n, 6) AS rate,
           round((x / CAST(n AS DOUBLE) + 1.9208 / n
                  - 1.96 * sqrt((x / CAST(n AS DOUBLE))
                                * (1 - x / CAST(n AS DOUBLE)) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           round((x / CAST(n AS DOUBLE) + 1.9208 / n
                  + 1.96 * sqrt((x / CAST(n AS DOUBLE))
                                * (1 - x / CAST(n AS DOUBLE)) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM g
    """,
)
def stat_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%) for a per-group binomial rate — the
    CI that stays inside [0,1] and behaves at small n and extreme
    rates, where the naive Wald interval collapses (Wald at x=0 gives
    [0,0] with false certainty). This is how rates should be RANKED:
    sort by wilson_lo, not by raw rate, so a 1/1 group can't outrank a
    180/200 group — the Reddit/Evan Miller ranking rule, and the
    honest readout for per-segment conversion tables.

    Pure closed form per group (z=1.96 constants folded to literals so
    both engines evaluate the identical expression): one hash agg for
    (n, x), then map-side arithmetic — no second pass, no window."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).alias("x"),
    )
    p = F.col("x") / F.col("n").cast("double")
    n = F.col("n").cast("double")
    center = p + 1.9208 / n
    margin = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return g.select(
        "nationkey",
        "n",
        F.col("x").alias("n_hits"),
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    )


@register(
    "stat_power_sample_size",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_observed,
           round(avg(value), 6) AS mean,
           round(var_samp(value), 6) AS variance,
           CAST(ceil(2 * var_samp(value)
                     * power((1.959964 + 0.841621)
                             / (0.05 * avg(value)), 2)) AS BIGINT)
               AS n_per_arm_5pct_mde
    FROM events GROUP BY event_type
    """,
)
def stat_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: per metric stream, the sample size
    each arm needs to detect a 5% relative lift at alpha=0.05 /
    power=0.80 — n = 2*sigma^2*((z_a + z_b)/MDE)^2, the planning
    number every A/B platform computes BEFORE launch (event_ab_test_
    lift reads the experiment out AFTER; this decides whether running
    it is even feasible). Variance comes from the live metric stream,
    so the answer tracks the data, not a stale assumption; z constants
    are folded literals (1.959964, 0.841621) so both engines evaluate
    the identical closed form.

    One hash agg per metric stream (count/avg/var_samp are one-pass
    co-moments), then map-side arithmetic — the entire power analysis
    is a single aggregation pass over the events."""
    ev = load(spark, sf_dir, "events")
    z = 1.959964 + 0.841621  # z_{0.975} + z_{0.80}
    mde = 0.05
    n_req = F.ceil(
        2
        * F.var_samp("value")
        * F.pow(F.lit(z) / (F.lit(mde) * F.avg("value")), 2)
    ).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_observed"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.var_samp("value"), 6).alias("variance"),
        n_req.alias("n_per_arm_5pct_mde"),
    )


@register(
    "stat_kruskal_wallis",
    oracle="""
    WITH vt AS (
      SELECT value AS v, count(*) AS t FROM events GROUP BY value),
    mr AS (
      SELECT v, t,
             sum(t) OVER (ORDER BY v) - t + (t + 1) / 2.0 AS midrank
      FROM vt),
    gv AS (
      SELECT event_type, value AS v, count(*) AS n
      FROM events GROUP BY 1, 2),
    rg AS (
      SELECT gv.event_type, sum(gv.n) AS n_g,
             sum(gv.n * mr.midrank) AS r_g
      FROM gv JOIN mr ON gv.v = mr.v GROUP BY 1),
    tot AS (SELECT sum(n_g) AS n FROM rg),
    ties AS (
      SELECT sum(CAST(t AS DOUBLE) * t * t - t) AS sum_t3 FROM vt),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(max(tot.n) AS BIGINT) AS n_total,
             12.0 / (max(tot.n) * (max(tot.n) + 1.0))
               * sum(r_g * r_g / n_g)
               - 3.0 * (max(tot.n) + 1.0) AS h_raw
      FROM rg, tot)
    SELECT n_groups, n_total,
           round(h_raw, 6) AS h_stat,
           round(1.0 - ties.sum_t3
                 / (CAST(n_total AS DOUBLE) * n_total * n_total - n_total),
                 6) AS tie_correction,
           round(h_raw / (1.0 - ties.sum_t3
                 / (CAST(n_total AS DOUBLE) * n_total * n_total - n_total)),
                 6) AS h_corrected
    FROM h, ties
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (one-way ANOVA on ranks) across ALL event
    types with midrank tie handling and the standard tie correction
    C = 1 - sum(t^3 - t)/(N^3 - N) — the k-group generalization of
    Mann-Whitney, the nonparametric drift test to run when a feature's
    per-segment distributions can't be assumed normal.

    Same scale shape as the two-sample tests: one hash agg to the
    distinct-value grain, a prefix sum over value order for midranks
    (value-distinct-sized, here via one window — swap in the
    windows.global_scan P-row-offset scaffold when distinct values are
    data-sized), a broadcast-joined per-group rank-sum agg, and a
    1-row combine. Rank sums are half-integer-exact (< 2^53), so the
    H arithmetic is deterministic cross-engine."""
    ev = load(spark, sf_dir, "events")
    vt = ev.groupBy(F.col("value").alias("v")).agg(F.count(F.lit(1)).alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    mr = vt.withColumn(
        "midrank", F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0
    )
    gv = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rg = (
        gv.join(mr.select("v", "midrank"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_g"),
            F.sum(F.col("n") * F.col("midrank")).alias("r_g"),
        )
    )
    ties = vt.agg(
        F.sum(F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")).alias(
            "sum_t3"
        )
    )
    h = rg.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("srr"),
    )
    n = F.col("n_total").cast("double")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("srr") - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("sum_t3") / (n * n * n - n)
    return h.crossJoin(F.broadcast(ties)).select(
        "n_groups",
        "n_total",
        F.round(h_raw, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h_raw / corr, 6).alias("h_corrected"),
    )


@register(
    "stat_jarque_bera",
    oracle="""
    WITH m AS (
      SELECT event_type, count(*) AS n, avg(value) AS m1,
             avg(value * value) AS m2r,
             avg(value * value * value) AS m3r,
             avg(value * value * value * value) AS m4r
      FROM events GROUP BY 1),
    c AS (
      SELECT event_type, n,
             m2r - m1 * m1 AS m2,
             m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1 AS m3,
             m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                 - 3 * m1 * m1 * m1 * m1 AS m4
      FROM m)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
           round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                 + pow(m4 / (m2 * m2) - 3.0, 2) / 4.0), 6) AS jb_stat
    FROM c ORDER BY event_type
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: skewness and excess
    kurtosis from raw power sums, JB = n/6 (S^2 + K^2/4) — the cheap
    screen for "is this metric even close to normal" that decides
    whether t-test-family tooling applies to a segment.

    One hash-agg pass (four power sums per group), then map-side
    central-moment algebra written IDENTICALLY on both engines so the
    only cross-engine divergence is summation-order noise far below
    the 6dp rounding."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("m1"),
        F.avg(v * v).alias("m2r"),
        F.avg(v * v * v).alias("m3r"),
        F.avg(v * v * v * v).alias("m4r"),
    )
    m1, m2r, m3r, m4r = F.col("m1"), F.col("m2r"), F.col("m3r"), F.col("m4r")
    m2 = m2r - m1 * m1
    m3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
    m4 = m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1
    skew = m3 / F.pow(m2, 1.5)
    exk = m4 / (m2 * m2) - 3.0
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(exk, 2) / 4.0), 6
        ).alias("jb_stat"),
    )


@register(
    "stat_cramers_v",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) % 7 AS dbucket,
             count(*) AS o
      FROM events GROUP BY 1, 2),
    tot AS (SELECT sum(o) AS n FROM o),
    rt AS (SELECT event_type, sum(o) AS r FROM o GROUP BY 1),
    ct AS (SELECT dbucket, sum(o) AS c FROM o GROUP BY 1),
    chi AS (
      SELECT sum(pow(o.o - rt.r * ct.c / CAST(tot.n AS DOUBLE), 2)
                 / (rt.r * ct.c / CAST(tot.n AS DOUBLE))) AS chi2,
             max(tot.n) AS n,
             count(DISTINCT o.event_type) AS nr,
             count(DISTINCT o.dbucket) AS nc
      FROM o JOIN rt USING (event_type) JOIN ct USING (dbucket), tot)
    SELECT round(chi2, 6) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between event type and a day-of-month
    bucket (day % 7 — computed identically on both engines, dodging
    the Spark-vs-DuckDB dayofweek origin divergence): the normalized
    [0,1] effect size on top of the chi-square contingency test, the
    number that says whether a significant chi2 is also a MEANINGFUL
    association.

    One contingency hash agg (cells = |types| x 7, metadata-sized),
    margins derived from the cells, 1-row combine."""
    ev = load(spark, sf_dir, "events")
    o = ev.groupBy(
        "event_type",
        (F.dayofmonth("ts").cast("long") % 7).alias("dbucket"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = o.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = o.groupBy("dbucket").agg(F.sum("o").alias("c"))
    tot = o.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n").cast("double")
    chi = (
        o.join(rt, "event_type")
        .join(ct, "dbucket")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2"),
            F.max("n").alias("n"),
            F.countDistinct("event_type").alias("nr"),
            F.countDistinct("dbucket").alias("nc"),
        )
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))),
            6,
        ).alias("cramers_v"),
    )


@register(
    "stat_cohens_kappa",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS rater_a,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 'high' ELSE 'low' END AS rater_b
      FROM events),
    cells AS (SELECT rater_a, rater_b, count(*) AS c FROM r GROUP BY 1, 2),
    tot AS (SELECT sum(c) AS n FROM cells),
    po AS (SELECT sum(c) AS agree FROM cells WHERE rater_a = rater_b),
    pe AS (
      SELECT sum(ra.r * rb.b) AS exp_agree FROM
        (SELECT rater_a AS k, sum(c) AS r FROM cells GROUP BY 1) ra
        JOIN (SELECT rater_b AS k, sum(c) AS b FROM cells GROUP BY 1) rb
          ON ra.k = rb.k)
    SELECT CAST(tot.n AS BIGINT) AS n,
           round(po.agree / CAST(tot.n AS DOUBLE), 6) AS p_observed,
           round(pe.exp_agree / (CAST(tot.n AS DOUBLE) * tot.n), 6)
               AS p_expected,
           round((po.agree / CAST(tot.n AS DOUBLE)
                  - pe.exp_agree / (CAST(tot.n AS DOUBLE) * tot.n))
                 / (1.0 - pe.exp_agree / (CAST(tot.n AS DOUBLE) * tot.n)),
                 6) AS kappa
    FROM tot, po, pe
    """,
)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two deterministic
    binary labelers of the same events (a value threshold vs an
    event-type rule — the shape of comparing a heuristic filter
    against a model classifier on the same corpus): chance-corrected
    agreement (p_o - p_e)/(1 - p_e), the standard QA number before
    trusting a cheap labeler as a substitute for an expensive one.

    One 2x2 contingency hash agg; everything after is exact integer
    ratios in a 1-row combine."""
    ev = load(spark, sf_dir, "events")
    r = ev.select(
        F.when(F.col("value") >= 50, "high").otherwise("low").alias("rater_a"),
        F.when(F.col("event_type").isin("purchase", "signup"), "high")
        .otherwise("low")
        .alias("rater_b"),
    )
    cells = r.groupBy("rater_a", "rater_b").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    agree = F.sum(F.when(F.col("rater_a") == F.col("rater_b"), F.col("c")).otherwise(0))
    ra = cells.groupBy(F.col("rater_a").alias("k")).agg(F.sum("c").alias("r"))
    rb = cells.groupBy(F.col("rater_b").alias("k")).agg(F.sum("c").alias("b"))
    pe = ra.join(rb, "k").agg(F.sum(F.col("r") * F.col("b")).alias("exp_agree"))
    base = cells.agg(n.alias("n"), agree.alias("agree")).crossJoin(F.broadcast(pe))
    nd = F.col("n").cast("double")
    p_o = F.col("agree") / nd
    p_e = F.col("exp_agree") / (nd * F.col("n"))
    return base.select(
        F.col("n").cast("long").alias("n"),
        F.round(p_o, 6).alias("p_observed"),
        F.round(p_e, 6).alias("p_expected"),
        F.round((p_o - p_e) / (1.0 - p_e), 6).alias("kappa"),
    )


@register(
    "stat_proportions_ztest",
    oracle="""
    WITH s AS (
      SELECT user_id % 2 AS segment, count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
      FROM events GROUP BY 1),
    w AS (
      SELECT max(CASE WHEN segment = 0 THEN n END) AS n0,
             max(CASE WHEN segment = 0 THEN x END) AS x0,
             max(CASE WHEN segment = 1 THEN n END) AS n1,
             max(CASE WHEN segment = 1 THEN x END) AS x1
      FROM s)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           round(x0 / CAST(n0 AS DOUBLE), 6) AS p_0,
           round(x1 / CAST(n1 AS DOUBLE), 6) AS p_1,
           round((x0 / CAST(n0 AS DOUBLE) - x1 / CAST(n1 AS DOUBLE))
                 / sqrt(((x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                        * (1 - (x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
    FROM w
    """,
)
def stat_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on the purchase share of EVENTS
    between the two user_id-parity segments — the test behind every
    conversion-rate A/B readout, pooled-variance form. (Event-level
    proportion deliberately: the fixture's every user purchases at
    least once, so a user-level "ever converted" rate is degenerately
    1.0 in both arms and the pooled variance collapses to zero.)
    One 2-row segment agg, one 1-row pivot+combine; exact integer
    counts feed a closed form written identically on both engines."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy((F.col("user_id") % 2).alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )
    w = s.agg(
        F.max(F.when(F.col("segment") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("segment") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("segment") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("segment") == 1, F.col("x"))).alias("x1"),
    )
    n0, x0 = F.col("n0").cast("double"), F.col("x0").cast("double")
    n1, x1 = F.col("n1").cast("double"), F.col("x1").cast("double")
    pp = (x0 + x1) / (n0 + n1)
    z = (x0 / n0 - x1 / n1) / F.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
    return w.select(
        F.col("n0").cast("long").alias("n_0"),
        F.col("n1").cast("long").alias("n_1"),
        F.round(x0 / n0, 6).alias("p_0"),
        F.round(x1 / n1, 6).alias("p_1"),
        F.round(z, 6).alias("z_stat"),
    )


@register(
    "eval_pr_curve_points",
    oracle="""
    WITH t AS (SELECT (i.range + 1) / 10.0 AS thr FROM range(9) i),
    lab AS (
      SELECT value / 100.0 AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    cm AS (
      SELECT thr,
             sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0 END) AS fn
      FROM lab, t GROUP BY thr)
    SELECT round(thr, 1) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE tp / CAST(tp + fp AS DOUBLE) END, 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN 0.0
                      ELSE tp / CAST(tp + fn AS DOUBLE) END, 6) AS recall,
           round(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                      ELSE 2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE)
                 END, 6) AS f1
    FROM cm
    """,
)
def eval_pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at nine thresholds (0.1..0.9) treating the
    scaled event value as a purchase-propensity score — the PR-curve
    table a classifier eval materializes next to eval_auc_rank's
    single-number summary (AUC says 'rankable'; this table says WHERE
    to cut). The 9-row threshold relation broadcasts into one pass
    over the events (9x row multiplier inside a map-side join, then
    one 9-group agg) — never 9 separate scans."""
    ev = load(spark, sf_dir, "events")
    thr = spark.range(9).select(((F.col("id") + 1) / 10.0).alias("thr"))
    lab = ev.select(
        (F.col("value") / 100.0).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cm = (
        lab.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when((F.col("score") < F.col("thr")) & (F.col("y") == 1), 1).otherwise(0)
            ).alias("fn"),
        )
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    return cm.select(
        F.round("thr", 1).alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(
            F.when(tp + fp == 0, 0.0).otherwise(tp / (tp + fp)), 6
        ).alias("precision"),
        F.round(
            F.when(tp + fn == 0, 0.0).otherwise(tp / (tp + fn)), 6
        ).alias("recall"),
        F.round(
            F.when(2 * tp + fp + fn == 0, 0.0).otherwise(
                2.0 * tp / (2 * tp + fp + fn)
            ),
            6,
        ).alias("f1"),
    )


_PASS_K = 5


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH u AS (
      SELECT user_id, count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_attempts, CAST(c AS BIGINT) AS n_success,
           round(1.0 - CASE WHEN n - c >= {_PASS_K} THEN
                 CAST((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4) AS DOUBLE)
                 / (n*(n-1)*(n-2)*(n-3)*(n-4))
               ELSE 0.0 END, 6) AS pass_at_{_PASS_K}
    FROM u WHERE n >= {_PASS_K}
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the unbiased estimator from the public Codex/HumanEval
    methodology: given n sampled attempts per task with c successes,
    pass@k = 1 - C(n-c,k)/C(n,k), i.e. the probability at least one of
    k drawn attempts succeeds. Here a task is a user and a success is
    a purchase event, the exact shape of an eval table (task_id,
    attempt, pass/fail) a model-eval pipeline aggregates.

    k is fixed ({_PASS_K}), so the binomial ratio unrolls to a product
    of k integer factors over another — BIGINT products then ONE
    double division, identical on any engine (no lgamma, no float
    accumulation order). Plan: one user_id-keyed count/sum agg
    (map-side combinable) then map-side arithmetic — a single shuffle
    at any scale."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
    ).filter(F.col("n") >= _PASS_K)
    num = F.lit(1).cast("long")
    den = F.lit(1).cast("long")
    for i in range(_PASS_K):
        num = num * (F.col("n") - F.col("c") - i)
        den = den * (F.col("n") - i)
    miss = F.when(
        (F.col("n") - F.col("c")) >= _PASS_K, num.cast("double") / den
    ).otherwise(F.lit(0.0))
    return u.select(
        "user_id",
        F.col("n").cast("long").alias("n_attempts"),
        F.col("c").cast("long").alias("n_success"),
        F.round(1.0 - miss, 6).alias(f"pass_at_{_PASS_K}"),
    )


_BH_Q = 0.1


@register(
    "stat_benjamini_hochberg",
    oracle=f"""
    WITH t AS (SELECT event_type, count(*) AS n_t, sum(value) AS s_t,
                      sum(value*value) AS ss_t
               FROM events GROUP BY 1),
    g AS (SELECT sum(n_t) AS n_g, sum(s_t) AS s_g, sum(ss_t) AS ss_g FROM t),
    z AS (SELECT event_type, n_t,
                 (s_t/n_t - s_g/n_g)
                 / sqrt((ss_g/n_g - (s_g/n_g)*(s_g/n_g)) / n_t) AS zv
          FROM t CROSS JOIN g),
    p AS (SELECT event_type, CAST(n_t AS BIGINT) AS n_rows,
                 round(zv, 6) AS z_stat,
                 round(2.0 * (1.0 - 1.0/(1.0 + exp(-1.702 * abs(zv)))), 6)
                     AS p_raw
          FROM z),
    r AS (SELECT *, row_number() OVER (ORDER BY p_raw, event_type) AS rnk,
                 count(*) OVER () AS m FROM p)
    SELECT event_type, n_rows, z_stat, p_raw, CAST(rnk AS INT) AS rnk,
           round(least(1.0, min(CAST(m AS DOUBLE) * p_raw / rnk)
                 OVER (ORDER BY rnk ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING)), 6) AS p_bh,
           (round(least(1.0, min(CAST(m AS DOUBLE) * p_raw / rnk)
                 OVER (ORDER BY rnk ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING)), 6) <= {_BH_Q}) AS reject
    FROM r
    """,
)
def stat_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over a family of per-group
    one-sample z-tests (each event type's mean value vs the corpus
    mean) — the multiple-testing correction every metrics platform
    applies before flagging "significant" segments. Emits raw and
    BH-adjusted p-values (adj_i = min_{{j>=i}} m*p_(j)/j, capped at 1)
    plus the reject decision at q={_BH_Q}.

    p-values use the standard logistic approximation of the normal CDF
    (1/(1+exp(-1.702 z)) — public Bowling et al. form) so both engines
    evaluate the same closed-form arithmetic; the BH min-suffix runs
    over the |groups|-row table ordered by the 6dp-ROUNDED p so rank
    order can't flip on float noise. Scale: one map-side-combinable
    sufficient-stats agg over the data; everything after is
    group-cardinality (windows over a 5-row table)."""
    ev = load(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum("value").alias("s_t"),
        F.sum(F.col("value") * F.col("value")).alias("ss_t"),
    )
    g = t.agg(
        F.sum("n_t").alias("n_g"), F.sum("s_t").alias("s_g"), F.sum("ss_t").alias("ss_g")
    )
    zv = (F.col("s_t") / F.col("n_t") - F.col("s_g") / F.col("n_g")) / F.sqrt(
        (F.col("ss_g") / F.col("n_g") - (F.col("s_g") / F.col("n_g")) ** 2)
        / F.col("n_t")
    )
    p = t.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.col("n_t").cast("long").alias("n_rows"),
        F.round(zv, 6).alias("z_stat"),
        F.round(2.0 * (1.0 - 1.0 / (1.0 + F.exp(-1.702 * F.abs(zv)))), 6).alias(
            "p_raw"
        ),
    )
    w_rank = Window.orderBy("p_raw", "event_type")
    r = p.withColumn("rnk", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    w_suffix = Window.orderBy("rnk").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    p_bh = F.round(
        F.least(
            F.lit(1.0),
            F.min(F.col("m").cast("double") * F.col("p_raw") / F.col("rnk")).over(
                w_suffix
            ),
        ),
        6,
    )
    return r.select(
        "event_type",
        "n_rows",
        "z_stat",
        "p_raw",
        F.col("rnk").cast("int").alias("rnk"),
        p_bh.alias("p_bh"),
        (p_bh <= _BH_Q).alias("reject"),
    )


_PERM_K = 200


@register(
    "stat_permutation_shift",
    oracle=f"""
    WITH ab AS (SELECT event_id, value, event_type FROM events
                WHERE event_type IN ('click', 'purchase')),
    obs AS (SELECT round(avg(CASE WHEN event_type = 'click' THEN value END)
                   - avg(CASE WHEN event_type = 'purchase' THEN value END), 6)
                       AS d_obs,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS frac_a
            FROM ab),
    perm AS (
      SELECT p.p,
             round(avg(CASE WHEN CAST(('0x' || substring(md5(CAST(p.p AS VARCHAR)
                       || ':' || CAST(ab.event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       / 4294967296.0 < obs.frac_a THEN value END)
                 - avg(CASE WHEN CAST(('0x' || substring(md5(CAST(p.p AS VARCHAR)
                       || ':' || CAST(ab.event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       / 4294967296.0 >= obs.frac_a THEN value END), 6) AS d_p
      FROM ab CROSS JOIN (SELECT unnest(range({_PERM_K})) AS p) p CROSS JOIN obs
      GROUP BY p.p)
    SELECT obs.d_obs,
           CAST({_PERM_K} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN abs(perm.d_p) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge,
           round((1.0 + sum(CASE WHEN abs(perm.d_p) >= abs(obs.d_obs)
                            THEN 1 ELSE 0 END)) / (1.0 + {_PERM_K}), 6) AS p_value
    FROM perm CROSS JOIN obs
    GROUP BY obs.d_obs
    """,
)
def stat_permutation_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test for a mean shift between two
    event populations (click vs purchase): {_PERM_K} pseudo-random
    relabelings, each assigning every event to arm A with the observed
    marginal probability via the fraction md5(perm:event_id)/2^32 —
    content-addressed, so the "random" draws are identical across
    engines, reruns and reshards (no RNG state, no seed plumbing).
    p = (1 + #{{|d_perm| >= |d_obs|}}) / (K+1), the standard
    add-one Monte-Carlo estimator.

    Scale: the K-way explode is a map-side row expansion feeding ONE
    agg keyed on perm id — partial aggregation collapses it to
    K-row partials per partition, so the shuffle is K rows per
    partition regardless of data size; the observed stats are a 1-row
    broadcast. Both |d| comparisons happen on 6dp-ROUNDED diffs so the
    >= can't flip on engine float-summation order."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    obs = ev.agg(
        F.round(
            F.avg(F.when(F.col("event_type") == "click", F.col("value")))
            - F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))),
            6,
        ).alias("d_obs"),
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("frac_a"),
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("p").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    perm = (
        # Fixture parquet is one split: without the repartition the
        # K-way explode and its 20M md5s run in ONE map task (guide
        # §2.5 input skew); 32-way spread is a 100k-row shuffle.
        ev.select("event_id", "value")
        .repartition(spread_width(32), "event_id")
        .withColumn("p", F.explode(F.sequence(F.lit(0), F.lit(_PERM_K - 1))))
        .crossJoin(F.broadcast(obs))
        # r11 (guide §1.2 per-task work): materialize the md5-derived
        # arm assignment ONCE per (event, perm) row in a projection
        # below the aggregate — referenced from two aggregate
        # expressions it was a candidate for double evaluation (each
        # md5 + conv is the row's whole cost, K x |events| of them).
        .withColumn("in_a", frac < F.col("frac_a"))
        .groupBy("p")
        .agg(
            F.round(
                F.avg(F.when(F.col("in_a"), F.col("value")))
                - F.avg(F.when(~F.col("in_a"), F.col("value"))),
                6,
            ).alias("d_p"),
            F.first("d_obs").alias("d_obs"),
        )
    )
    ge = F.sum(
        F.when(F.abs(F.col("d_p")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    )
    return perm.groupBy("d_obs").agg(
        F.lit(_PERM_K).cast("long").alias("n_perms"),
        ge.cast("long").alias("n_ge"),
        F.round((1.0 + ge) / (1.0 + _PERM_K), 6).alias("p_value"),
    )


_CUPED_SPLIT = "2024-01-16"


@register(
    "stat_cuped_adjustment",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             avg(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}' THEN value END) AS x,
             avg(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN value END) AS y
      FROM events GROUP BY 1),
    b AS (SELECT user_id, user_id % 2 AS arm, x, y FROM u
          WHERE x IS NOT NULL AND y IS NOT NULL),
    g AS (SELECT avg(x) AS mx,
                 (avg(x*y) - avg(x)*avg(y)) / (avg(x*x) - avg(x)*avg(x)) AS theta
          FROM b),
    a AS (SELECT b.arm, b.y, b.y - g.theta * (b.x - g.mx) AS yadj
          FROM b CROSS JOIN g)
    SELECT CAST(arm AS INT) AS arm, CAST(count(*) AS BIGINT) AS n_users,
           round(avg(y), 6) AS mean_y,
           round(avg(yadj), 6) AS mean_y_adj,
           round(avg(y*y) - avg(y)*avg(y), 6) AS var_y,
           round(avg(yadj*yadj) - avg(yadj)*avg(yadj), 6) AS var_y_adj,
           round(1.0 - (avg(yadj*yadj) - avg(yadj)*avg(yadj))
                       / (avg(y*y) - avg(y)*avg(y)), 6) AS var_reduction
    FROM a GROUP BY 1
    """,
)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (the public Deng et al. controlled-
    experiment technique every experimentation platform ships): adjust
    each unit's post-period metric Y by theta*(X - mean(X)) where X is
    the unit's PRE-period metric and theta = cov(X,Y)/var(X) pooled
    across arms — removing pre-existing between-user variance so the
    same experiment needs fewer users for the same power. Emits per-arm
    raw vs adjusted means/variances and the realized variance
    reduction.

    Scale: one user-grain conditional rollup over the event stream
    (map-side combinable), a 1-row pooled theta/mean combine over the
    per-user table (declared single-partition; per-user rows are
    |users|, already reduced), broadcast back for the map-side
    adjustment, then a 2-row per-arm agg. Population moments via
    sufficient sums; outputs rounded at 6dp."""
    ev = load(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("ts") < split, F.col("value"))).alias("x"),
            F.avg(F.when(F.col("ts") >= split, F.col("value"))).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select("user_id", (F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    g = u.agg(
        F.avg("x").alias("mx"),
        (
            (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
            / (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
        ).alias("theta"),
    )
    a = u.crossJoin(F.broadcast(g)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))).alias("yadj"),
    )
    var_y = F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")
    var_adj = F.avg(F.col("yadj") * F.col("yadj")) - F.avg("yadj") * F.avg("yadj")
    return a.groupBy(F.col("arm").cast("int").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("y"), 6).alias("mean_y"),
        F.round(F.avg("yadj"), 6).alias("mean_y_adj"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_adj, 6).alias("var_y_adj"),
        F.round(1.0 - var_adj / var_y, 6).alias("var_reduction"),
    )


_MCNEMAR_THR = 250.0


@register(
    "stat_mcnemar_paired",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}'
                      AND value > {_MCNEMAR_THR} THEN 1 ELSE 0 END) AS x,
             max(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      AND value > {_MCNEMAR_THR} THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
           round(CASE WHEN sum(CASE WHEN x <> y THEN 1 ELSE 0 END) = 0 THEN 0.0
                 ELSE CAST((sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                          - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END))
                        * (sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                          - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END))
                        AS DOUBLE)
                      / sum(CASE WHEN x <> y THEN 1 ELSE 0 END) END, 6) AS chi2,
           round(CASE WHEN sum(CASE WHEN x <> y THEN 1 ELSE 0 END) = 0 THEN 0.0
                 ELSE greatest(abs(CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                          - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)) - 1.0, 0.0)
                    * greatest(abs(CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
                          - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)) - 1.0, 0.0)
                      / sum(CASE WHEN x <> y THEN 1 ELSE 0 END) END, 6) AS chi2_cc
    FROM u
    """,
)
def stat_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did the share of
    users with a high-value event (> {250}) CHANGE between the pre and
    post halves of the month? Only the discordant cells matter —
    chi2 = (b-c)^2/(b+c) with b = yes->no and c = no->yes — which is
    what makes it the right test for before/after on the SAME units
    (a two-proportion z-test would wrongly treat the halves as
    independent samples). Emits the continuity-corrected variant
    alongside (Edwards' (|b-c|-1)^2/(b+c)).

    Scale: ONE user-keyed conditional max rollup (map-side
    combinable) then a 1-row combine of four cell counts (declared
    single-partition). The statistic is exact integer arithmetic with
    one final division — nothing to round until output."""
    ev = load(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("ts") < split) & (F.col("value") > _MCNEMAR_THR), 1).otherwise(0)
        ).alias("x"),
        F.max(
            F.when((F.col("ts") >= split) & (F.col("value") > _MCNEMAR_THR), 1).otherwise(0)
        ).alias("y"),
    )
    b = F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0))
    c = F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0))
    disc = F.sum(F.when(F.col("x") != F.col("y"), 1).otherwise(0))
    chi2 = F.when(disc == 0, F.lit(0.0)).otherwise(
        ((b - c) * (b - c)).cast("double") / disc
    )
    cc = F.greatest(F.abs((b - c).cast("double")) - 1.0, F.lit(0.0))
    chi2_cc = F.when(disc == 0, F.lit(0.0)).otherwise(cc * cc / disc)
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2_cc, 6).alias("chi2_cc"),
    )



_TOST_MARGIN = 2.0  # equivalence margin on the mean gap (value units)


@register(
    "stat_tost_equivalence",
    oracle=f"""
    WITH g AS (
      SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS grp,
             count(*) AS n, avg(value) AS m,
             (avg(value*value) - avg(value)*avg(value)) * count(*)
                 / (count(*) - 1) AS v
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
    w AS (
      SELECT max(CASE WHEN grp = 0 THEN m END)
             - max(CASE WHEN grp = 1 THEN m END) AS diff,
             sqrt(max(CASE WHEN grp = 0 THEN v / n END)
                  + max(CASE WHEN grp = 1 THEN v / n END)) AS se,
             CAST(max(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n0,
             CAST(max(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n1
      FROM g)
    SELECT n0, n1, round(diff, 6) AS diff,
           round(se, 6) AS se,
           round((diff + {_TOST_MARGIN}) / se, 6) AS t_lower,
           round(({_TOST_MARGIN} - diff) / se, 6) AS t_upper,
           (round((diff + {_TOST_MARGIN}) / se, 6) > 1.644854
            AND round(({_TOST_MARGIN} - diff) / se, 6) > 1.644854)
               AS equivalent
    FROM w
    """,
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, the Schuirmann
    procedure): the inference a migration/rollout sign-off actually
    needs — not "no significant difference" (absence of evidence) but
    POSITIVE evidence that the two arms' means differ by less than a
    declared margin. Both one-sided Welch z-statistics must clear the
    one-sided 95% line (1.644854, pinned normal quantile — honest at
    these df) for the arms to be declared equivalent within ±{2.0}.

    Scale: one sufficient-stats agg over the filtered stream (map-side
    combinable), a 2-row pivot, 1-row arithmetic (declared
    single-partition). Statistics are 6dp-rounded BEFORE the threshold
    compares so the verdict can't flip on float noise."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.groupBy(
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        (
            (F.avg(F.col("value") * F.col("value")) - F.avg("value") * F.avg("value"))
            * F.count(F.lit(1))
            / (F.count(F.lit(1)) - 1)
        ).alias("v"),
    )
    w = g.agg(
        (
            F.max(F.when(F.col("grp") == 0, F.col("m")))
            - F.max(F.when(F.col("grp") == 1, F.col("m")))
        ).alias("diff"),
        F.sqrt(
            F.max(F.when(F.col("grp") == 0, F.col("v") / F.col("n")))
            + F.max(F.when(F.col("grp") == 1, F.col("v") / F.col("n")))
        ).alias("se"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).cast("long").alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).cast("long").alias("n1"),
    )
    t_lo = F.round((F.col("diff") + _TOST_MARGIN) / F.col("se"), 6)
    t_hi = F.round((_TOST_MARGIN - F.col("diff")) / F.col("se"), 6)
    return w.select(
        "n0",
        "n1",
        F.round("diff", 6).alias("diff"),
        F.round("se", 6).alias("se"),
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        ((t_lo > 1.644854) & (t_hi > 1.644854)).alias("equivalent"),
    )


@register(
    "stat_qini_uplift_deciles",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN 1 ELSE 0 END)
                 AS score,
             max(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1),
    d AS (SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id) AS decile FROM u),
    g AS (
      SELECT decile,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS x_t,
             sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS x_c
      FROM d GROUP BY 1)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(x_t AS BIGINT) AS x_t, CAST(x_c AS BIGINT) AS x_c,
           CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE round(CAST(x_t AS DOUBLE) / n_t
                           - CAST(x_c AS DOUBLE) / n_c, 6) END AS uplift,
           CASE WHEN sum(n_c) OVER w = 0 THEN NULL
                ELSE round(sum(x_t) OVER w
                     - sum(x_c) OVER w
                       * (sum(n_t) OVER w / CAST(sum(n_c) OVER w AS DOUBLE)), 6)
           END AS qini
    FROM g
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def stat_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini / uplift-by-decile table — how targeting models are
    evaluated: rank units by a score (here pre-period activity),
    decile them, and per decile compare treatment vs control
    conversion (uplift) plus the cumulative Qini curve
    Q_k = cum(x_t) - cum(x_c) * cum(n_t)/cum(n_c) — the area under
    which is the standard uplift-model metric. On this fixture the
    arms are synthetic (user parity) so uplift ~ 0 per decile; the
    pytest pins that honest null alongside the cell identities.

    Scale: one user-grain rollup; the decile rank at 100 TB rides the
    global_rank scaffold / approx cutpoints (this form uses the plain
    ntile over the per-user table, declared single-partition like the
    other per-user-spine windows); everything after is a 10-row
    windowed fold."""
    ev = load(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("score"),
        F.max(
            F.when(
                (F.col("ts") >= split) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("converted"),
    ).select(
        "user_id", (F.col("user_id") % 2).alias("arm"), "score", "converted"
    )
    wd = Window.orderBy(F.desc("score"), F.asc("user_id"))
    d = u.withColumn("decile", F.ntile(10).over(wd))
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias("x_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias("x_c"),
    )
    wq = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("x_t").cast("long").alias("x_t"),
        F.col("x_c").cast("long").alias("x_c"),
        F.when(
            (F.col("n_t") == 0) | (F.col("n_c") == 0), F.lit(None).cast("double")
        ).otherwise(
            F.round(
                F.col("x_t").cast("double") / F.col("n_t")
                - F.col("x_c").cast("double") / F.col("n_c"),
                6,
            )
        ).alias("uplift"),
        F.when(F.sum("n_c").over(wq) == 0, F.lit(None).cast("double")).otherwise(
            F.round(
                F.sum("x_t").over(wq)
                - F.sum("x_c").over(wq)
                * (F.sum("n_t").over(wq) / F.sum("n_c").over(wq).cast("double")),
                6,
            )
        ).alias("qini"),
    )


_BRIER_BINS = 10


@register(
    "eval_brier_decomposition",
    oracle=f"""
    WITH p AS (
      SELECT round(least(value, 100.0) / 100.0, 6) AS pred,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    n AS (SELECT count(*) AS n, avg(y) AS ybar FROM p),
    b AS (
      SELECT least(CAST(floor(pred * {_BRIER_BINS}) AS INT), {_BRIER_BINS} - 1)
                 AS bin,
             count(*) AS nk, avg(pred) AS pbar, avg(y) AS obar
      FROM p GROUP BY 1),
    parts AS (
      SELECT (SELECT avg((pred - y) * (pred - y)) FROM p) AS brier,
             (SELECT sum(nk * (pbar - obar) * (pbar - obar)) FROM b)
                 / (SELECT n FROM n) AS reliability,
             (SELECT sum(nk * (obar - (SELECT ybar FROM n))
                              * (obar - (SELECT ybar FROM n))) FROM b)
                 / (SELECT n FROM n) AS resolution,
             (SELECT ybar * (1 - ybar) FROM n) AS uncertainty
      )
    SELECT round(brier, 6) AS brier,
           round(reliability, 6) AS reliability,
           round(resolution, 6) AS resolution,
           round(uncertainty, 6) AS uncertainty,
           round(reliability - resolution + uncertainty, 6) AS decomposed
    FROM parts
    """,
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition — the classifier-
    quality breakdown beyond a single number: brier = reliability
    (calibration error mass) - resolution (how much the bins separate
    outcomes) + uncertainty (the irreducible base-rate variance).
    Complements eval_calibration_bins (which emits the per-bin table;
    this emits the decomposition identities a model report quotes).
    Predictions are the deterministic value/100 score (clipped to 1),
    outcome = purchase — the fixture's stand-in for any scored binary.

    The decomposition identity holds EXACTLY only when pbar per bin
    equals the bin's true forecast values; with binned continuous
    preds there is a small within-bin variance residual — the pytest
    pins |brier - decomposed| to that residual's scale rather than
    pretending exact equality. Scale: one scan feeds a 1-row moment
    agg and a {_BRIER_BINS}-row bin agg (both map-side combinable);
    everything else is arithmetic on those (declared
    single-partition)."""
    ev = load(spark, sf_dir, "events")
    p = ev.select(
        F.round(F.least(F.col("value"), F.lit(100.0)) / 100.0, 6).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    n = p.agg(F.count(F.lit(1)).alias("n"), F.avg("y").alias("ybar"))
    b = p.groupBy(
        F.least(
            F.floor(F.col("pred") * _BRIER_BINS).cast("int"), F.lit(_BRIER_BINS - 1)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nk"),
        F.avg("pred").alias("pbar"),
        F.avg("y").alias("obar"),
    )
    brier = p.agg(
        F.avg((F.col("pred") - F.col("y")) * (F.col("pred") - F.col("y"))).alias("brier")
    )
    parts = b.crossJoin(F.broadcast(n)).agg(
        (
            F.sum(
                F.col("nk") * (F.col("pbar") - F.col("obar")) * (F.col("pbar") - F.col("obar"))
            )
            / F.max("n")
        ).alias("reliability"),
        (
            F.sum(
                F.col("nk") * (F.col("obar") - F.col("ybar")) * (F.col("obar") - F.col("ybar"))
            )
            / F.max("n")
        ).alias("resolution"),
        F.max(F.col("ybar") * (1 - F.col("ybar"))).alias("uncertainty"),
    )
    return (
        brier.crossJoin(F.broadcast(parts))
        .select(
            F.round("brier", 6).alias("brier"),
            F.round("reliability", 6).alias("reliability"),
            F.round("resolution", 6).alias("resolution"),
            F.round("uncertainty", 6).alias("uncertainty"),
            F.round(
                F.col("reliability") - F.col("resolution") + F.col("uncertainty"), 6
            ).alias("decomposed"),
        )
    )


@register(
    "stat_posthoc_pairwise_bonferroni",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS m,
             sum(value * value) AS ss, sum(value) AS s
      FROM events GROUP BY 1),
    pool AS (
      SELECT sum(ss - s * s / n) / sum(n - 1) AS mse,
             count(*) AS k
      FROM g),
    pairs AS (
      SELECT a.event_type AS grp_a, b.event_type AS grp_b,
             a.m - b.m AS diff,
             sqrt(pool.mse * (1.0 / a.n + 1.0 / b.n)) AS se,
             pool.k * (pool.k - 1) / 2 AS m_tests
      FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN pool)
    SELECT grp_a, grp_b,
           round(diff, 6) AS diff,
           round(se, 6) AS se,
           round(abs(diff) / se, 6) AS z_stat,
           round(2.0 * (1.0 - 1.0 / (1.0 + exp(-1.702 * (abs(diff) / se)))), 6)
               AS p_raw,
           round(least(1.0,
                 CAST(m_tests AS DOUBLE)
                 * 2.0 * (1.0 - 1.0 / (1.0 + exp(-1.702 * (abs(diff) / se))))), 6)
               AS p_bonferroni,
           (round(least(1.0,
                 CAST(m_tests AS DOUBLE)
                 * 2.0 * (1.0 - 1.0 / (1.0 + exp(-1.702 * (abs(diff) / se))))), 6)
            <= 0.05) AS reject
    FROM pairs
    """,
)
def stat_posthoc_pairwise_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc pairwise comparisons after a significant one-way ANOVA
    (stat_anova_oneway says SOME group mean differs; THIS says which
    pairs): all k(k-1)/2 group-pair mean gaps tested against the
    pooled within-group variance, with the Bonferroni family-wise
    correction (p * m, capped at 1) — the conservative cousin of
    Tukey's HSD that needs no studentized-range table, so it stays
    closed-form and engine-exact. p-values use the same logistic
    normal-CDF approximation as stat_benjamini_hochberg (honest at
    these per-group n).

    Scale: one sufficient-stats agg over the stream (map-side
    combinable), a 1-row pooled-variance combine (declared
    single-partition), then a |groups|^2 self-join on the 5-row group
    table — all metadata-sized after the single scan."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.sum("value").alias("s"),
    )
    pool = g.agg(
        (
            F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / F.sum(F.col("n") - 1)
        ).alias("mse"),
        F.count(F.lit(1)).alias("k"),
    )
    a = g.select(
        F.col("event_type").alias("grp_a"), F.col("n").alias("na"), F.col("m").alias("ma")
    )
    b = g.select(
        F.col("event_type").alias("grp_b"), F.col("n").alias("nb"), F.col("m").alias("mb")
    )
    pairs = (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(pool))
        .select(
            "grp_a",
            "grp_b",
            (F.col("ma") - F.col("mb")).alias("diff"),
            F.sqrt(F.col("mse") * (1.0 / F.col("na") + 1.0 / F.col("nb"))).alias("se"),
            (F.col("k") * (F.col("k") - 1) / 2).alias("m_tests"),
        )
    )
    z = F.abs(F.col("diff")) / F.col("se")
    p_raw = 2.0 * (1.0 - 1.0 / (1.0 + F.exp(-1.702 * z)))
    p_bonf = F.round(F.least(F.lit(1.0), F.col("m_tests").cast("double") * p_raw), 6)
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round("diff", 6).alias("diff"),
        F.round("se", 6).alias("se"),
        F.round(z, 6).alias("z_stat"),
        F.round(p_raw, 6).alias("p_raw"),
        p_bonf.alias("p_bonferroni"),
        (p_bonf <= 0.05).alias("reject"),
    )
