"""Plan assertions (SURVEY.md §5.5): verify the optimizations we claim
are free actually fire — pushdown, pruning, broadcast, top-k pushdown.
These guard the 100 TB design claims in §4."""

from __future__ import annotations

from pyspark.sql import functions as F

from basis_spark.io import load, scratch_path
from basis_spark.operators import joins, scalars, scans, windows
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_projection_pruning_reaches_scan(spark):
    df = scans.scan_projection_pushdown(spark, SF_ORACLE)
    plan = _plan(df)
    assert "ReadSchema" in plan
    # only the two projected columns are read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema and "l_quantity" not in read_schema


def test_predicate_pushdown_reaches_scan(spark):
    df = scans.scan_predicate_pushdown(spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "GreaterThanOrEqual" in pushed


def test_broadcast_join_chosen(spark):
    df = joins.join_broadcast(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in _plan(df)


def test_star_join_broadcasts_dims(spark):
    df = joins.join_multiway_star(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # nation/region must not shuffle


def test_theta_join_is_broadcast_nested_loop(spark):
    df = joins.join_theta_range(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_orderby_limit_no_global_sort(spark):
    # orderBy+limit must compile to TakeOrderedAndProject, not a full sort.
    df = (
        load(spark, SF_ORACLE, "orders")
        .orderBy(F.desc("o_totalprice"))
        .limit(10)
    )
    assert "TakeOrderedAndProject" in _plan(df)


def test_window_topk_group_limit_pushdown(spark):
    # Spark >=3.5 WindowGroupLimit: rn<=k filter pushes a per-group limit
    # below the full window sort.
    df = windows.win_row_number_topk(spark, SF_ORACLE)
    assert "WindowGroupLimit" in _plan(df)


def test_rank_with_ties_group_limit_pushdown(spark):
    # rank()<=k pushes into WindowGroupLimit too (RankLike support),
    # so the WITH TIES form keeps the same map-side state bound.
    df = windows.win_topk_with_ties(spark, SF_ORACLE)
    assert "WindowGroupLimit" in _plan(df)


def test_hash_sample_group_limit_pushdown(spark):
    # sample_hash_pergroup's rn<=20 must push into WindowGroupLimit so
    # each map task keeps 20 rows per group before the shuffle.
    df = scalars.sample_hash_pergroup(spark, SF_ORACLE)
    assert "WindowGroupLimit" in _plan(df)


def _checkpoint_inputs(monkeypatch, spark) -> list[str]:
    """Collects the executed plan of every frame that is localCheckpoint-ed
    from now on: a two-pass scan's range exchange lives in the frame it
    materializes, not in the final plan that reads the materialization."""
    cls = type(spark.range(1))
    real, seen = cls.localCheckpoint, []

    def spy(self, *args, **kwargs):
        seen.append(_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return seen


def test_ntile_pctile_no_global_window(spark, monkeypatch):
    # win_ntile_pctile's two-pass form (windows.global_rank) must never
    # sort the data through a single partition. The local ordinal comes
    # from monotonically_increasing_id after a range partition + local
    # sort, so the plan has NO data-sized window at all: the only
    # windows are the prefix-sum/total over the P-row count table, and
    # the only SinglePartition exchange is over that same tiny table.
    materialized = _checkpoint_inputs(monkeypatch, spark)
    df = windows.win_ntile_pctile(spark, SF_ORACLE)
    plan = _plan(df)
    assert any("rangepartitioning" in p for p in materialized)
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "expected the P-row offset windows"
    assert all("sum(c#" in ln for ln in win_lines), win_lines
    assert "row_number()" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_dynamic_partition_pruning_fires(spark):
    # The join-driven scan must carry a runtime pruning subquery on the
    # fact's partition column — reading only the dim-selected partitions.
    df = scans.scan_partition_pruning_dynamic(spark, SF_ORACLE)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower()


def test_ngram_jaccard_no_forced_broadcast(spark):
    # dedup_ngram_jaccard's pair generation must come from band buckets,
    # never a forced full-corpus broadcast (OOM-by-design at scale). Any
    # F.broadcast() in the operator would surface as a ResolvedHint; its
    # absence means join strategies are size-based (AQE) only.
    from basis_spark.operators import llm

    df = llm.dedup_ngram_jaccard(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_semi_anti_are_joins_not_subqueries(spark):
    semi = joins.join_semi(spark, SF_ORACLE)
    anti = joins.join_anti(spark, SF_ORACLE)
    assert "LeftSemi" in _optimized(semi) or "Semi" in _plan(semi)
    assert "LeftAnti" in _optimized(anti) or "Anti" in _plan(anti)


def test_partition_filter_prunes_partitioned_sink(spark):
    # hive-partitioned sink: reading one partition value must show a
    # partition filter at scan time.
    scans.sink_parquet_roundtrip(spark, SF_ORACLE)  # ensures sink exists
    path = scratch_path(spark, "parquet_roundtrip", SF_ORACLE)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "event_type" in pf


def test_bucketed_join_no_exchange(spark):
    """Co-located join: same-key same-count bucketed tables join with NO
    exchange anywhere in the plan (the groupBy on the bucket key also
    reuses the bucketing)."""
    df = joins.join_bucketed(spark, SF_ORACLE)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_salted_join_spreads_key(spark):
    """Salted join result is value-identical to the plain join and its
    plan joins on the composite (key, salt)."""
    df = joins.join_skew_salted(spark, SF_ORACLE)
    plan = _optimized(df)
    assert "salt" in plan


def test_partitioned_sink_prunes_on_read(spark):
    """A hive-partitioned sink must give readers partition pruning: a
    filter on the partition column shows up as PartitionFilters in the
    scan, and non-matching partition dirs are never read."""
    scans.sink_parquet_roundtrip(spark, SF_ORACLE).count()  # ensure written
    out = scratch_path(spark, "parquet_roundtrip", SF_ORACLE)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(back)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0], plan


def test_aqe_skew_join_split():
    """AQE splits a skewed shuffle partition at runtime (SCALE.md claim).
    Needs its own session (lowered skew thresholds), so runs in a
    subprocess: one key carrying 200k of 201k rows is detected and the
    executed plan shows SortMergeJoin(skew=true) + AQEShuffleRead skewed."""
    import subprocess
    import sys as _sys

    script = r"""
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[8]")
    .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes","64KB")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes","16KB")
    .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor","2")
    .config("spark.sql.autoBroadcastJoinThreshold","-1")
    .config("spark.sql.adaptive.coalescePartitions.enabled","false")
    .config("spark.sql.shuffle.partitions","8")
    .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
left = spark.range(201000).select(
    F.when(F.col("id") < 200000, 0).otherwise((F.col("id") % 100) + 1).alias("k"),
    F.col("id").alias("v"))
right = spark.range(101).select(F.col("id").alias("k"), (F.col("id")*10).alias("w"))
j = left.join(right.hint("merge"), "k")
assert len(j.collect()) == 201000
plan = j._jdf.queryExecution().executedPlan().toString()
assert "skew=true" in plan and "AQEShuffleRead skewed" in plan, plan
print("SKEW_SPLIT_OK")
"""
    res = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "SKEW_SPLIT_OK" in res.stdout, res.stdout + res.stderr


def test_tpch_q5_star_broadcasts_no_cartesian(spark):
    """Q5's 6-way star must broadcast the dims and never degrade to a
    cartesian/nested-loop; lineitem shuffles at most on its join keys."""
    from basis_spark.operators import tpch

    plan = _plan(tpch.tpch_q5(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q4_exists_is_semi_join(spark):
    """The correlated EXISTS must compile to a semi join (orders are
    never duplicated by matching lineitems)."""
    from basis_spark.operators import tpch

    df = tpch.tpch_q4(spark, SF_ORACLE)
    assert "LeftSemi" in _optimized(df) or "Semi" in _plan(df)


def test_tpch_q21_semi_and_anti(spark):
    """EXISTS/NOT EXISTS pair: one semi and one anti join, no subquery
    re-execution."""
    from basis_spark.operators import tpch

    opt = _optimized(tpch.tpch_q21(spark, SF_ORACLE))
    assert "LeftSemi" in opt and "LeftAnti" in opt


def test_tpch_q3_filters_reach_scans(spark):
    """Q3's segment/date filters must push into the parquet scans (or
    their InMemoryTableScan pushdown equivalents) — not run post-join."""
    from basis_spark.operators import tpch

    plan = _plan(tpch.tpch_q3(spark, SF_ORACLE))
    # filters appear below the joins: either as PushedFilters on the
    # parquet scan or as a Filter directly over the table scan
    assert "BUILDING" in plan
    join_at = plan.find("Join")
    assert join_at > 0 and "BUILDING" in plan[join_at:]


def test_no_operator_plans_a_cartesian_product(spark):
    """Sweeping scale-hygiene assert over the ENTIRE registry: no
    operator's physical plan may contain a CartesianProduct. The two
    intentional nested-loop shapes (join_theta_range, join_cross_small)
    compile to BroadcastNestedLoopJoin, which is allowed — a cartesian
    is never the plan you want at 100 TB."""
    from basis_spark.registry import QUERIES

    offenders = []
    for key, fn in QUERIES.items():
        plan = fn(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(key)
    assert not offenders, offenders


# Keys whose plans legitimately contain an Exchange SinglePartition —
# every one is either a global aggregate's final 1-row combine over
# map-side partials, or a window over data already reduced to bounded
# cardinality (per-day spines, the P-row per-partition count table of
# windows.global_rank — P follows spark.sql.shuffle.partitions, i.e.
# metadata-sized, never data-sized). A data-sized global sort would
# instead appear as rangepartitioning (checked per-op where it
# matters). Any NEW key showing up here must be consciously added with
# a justification.
_SINGLE_PARTITION_OK = {
    "agg_global",            # 1-row final combine of partial aggs
    "approx_quantile",       # 1-row sketch merge
    "sketch_hll_distinct",   # global HLL union (sketch-sized)
    "sketch_topk_frequent",  # global top-k sketch merge
    "sketch_kll_quantiles",  # global KLL merge (sketch-sized)
    "sketch_theta_set_ops",  # 1-row theta set-algebra pivot
    "event_funnel",          # three 1-row stage counts unioned
    "event_funnel_window",   # same shape: three 1-row stage counts unioned
    "event_funnel_unordered",  # same shape: three 1-row conditional counts unioned
    "stream_watermark_late", # 1-row max-ts subquery broadcast
    "scan_parquet",          # count-style 1-row summary
    "maintenance_compact_files",  # two 1-row phase summaries
    "maintenance_table_stats",    # four 1-row per-column stat combines
    "corpus_dsir_weights",   # two 1-row total combines over 64-row bucket tables
    "stat_benjamini_hochberg",  # 1-row grand-total combine + windows over the 5-row p table
    "stat_permutation_shift",   # 1-row observed-stats combine + final combine over K-row perm table
    "ts_ljung_box",          # 1-row mean/denominator combines + windows over the 7-row rho table
    "table_log_clone_shallow",  # two 1-row per-side summary combines (count/sum)
    "stat_cuped_adjustment",    # 1-row pooled theta/mean combine over the per-user table
    "ts_granger_lite",       # 1-row standardization/moments/F combines over the day spine
    "table_log_orphan_files",   # three 1-row per-object count combines unioned
    "ts_pacf_durbin",        # same spine as ts_ljung_box: 1-row mean/denominator combines
    "stat_mcnemar_paired",   # 1-row combine of four cell counts over the per-user table
    "ts_changepoint_binseg",  # prefix-sum/argmax windows over the calendar-bounded day spine
    "survival_nelson_aalen",  # risk-table windows over the bounded duration spine (same as KM)
    "stat_tost_equivalence",  # 2-row arm pivot -> 1-row TOST arithmetic (same as ttest_welch)
    "privacy_dp_quantile",   # cumulative/argmax windows over the |bins|-sized candidate spine
    "stat_qini_uplift_deciles",  # ntile over the per-user rollup (global_rank is the 100 TB form)
    "corpus_length_batching_waste",  # length-rank window over the doc-grain table + 2x1-row summaries
    "eval_brier_decomposition",  # 1-row moment combines over the bin/base-rate tables
    "text_source_jsd",       # 1-row corpus-total combine over the vocab-sized count table
    "stat_posthoc_pairwise_bonferroni",  # 1-row pooled-variance combine over the 5-row group table
    "stat_g_test_loglik",    # marginal windows + 1-row combine over the types x 7 table (chi2 class)
    "ts_decompose_trend_seasonal",  # ordered window over the per-day rollup (calendar-bounded)
    "ts_max_drawdown",       # same calendar-bounded per-day spine
    "ts_cusum_changepoint",  # same spine + 1-row mean combine
    "survival_kaplan_meier", # risk-table window, bounded by distinct durations (≤ users)
    "abc_pareto_class",      # global_scan's P-row offset table only (data cumsum is pid-parallel)
    "text_bigram_pmi",       # 1-row corpus-total combine (unigram sum)
    "retention_dn_curve",    # 1-row cohort-size combine
    "dq_expectations_report",  # five 1-row rule-count combines unioned
    "stat_chi_square",       # marginal windows over the types x 7 contingency table + 1-row combine
    "stat_effect_size_cohens_d",  # 2-row sufficient-stats agg -> 1-row combine (same as ttest_welch)
    "stat_levene_variance",  # k-row median + sufficient-stats tables -> 1-row combine
    "stat_fisher_hypergeom",  # 1-row contingency combine + 1-row spine-sum combine
    "stat_benford_digits",   # 1-row digit-total combine over the 9-key aggregate
    "dq_key_skew_report",    # 1-row skew-summary combine over the per-key counts
    "stream_lateness_profile",  # P-row prefix-max offset table (running max is pid-parallel)
    "ts_autocorrelation",    # ordinal window over the calendar-bounded daily rollup
    "ts_forecast_snaive",    # ordered lag over the same calendar-bounded rollup
    "ts_var_cvar",           # same spine + 1-row VaR combine
    "interval_max_concurrency",  # global_scan's P-row offset table (sweep itself is pid-parallel)
    "win_ntile_pctile",      # P-row per-partition count table only (plan-asserted above)
    "agg_hist_equi_depth",   # same two-pass global_rank: P-row count table only, never data-sized
    "customer_rfm_segmentation",  # 3x global_rank over the customer rollup: 3 P-row count tables
    "text_perplexity_bucket",     # global_rank over the per-doc ppl rollup: P-row count table only
    "multimodal_shard_pack_balanced",  # global_rank over doc sizes: P-row count table only
    "win_moving_avg",        # global frame over per-day pre-agg (~2.5k rows max)
    "win_percent_of_total",  # grand-total window over the 25-row nation agg
    "win_range_frame",       # same bounded per-day spine
    "ts_gap_fill",           # date-spine window, bounded by calendar days
    "ts_interpolate_linear", # same spine shape
    "text_tfidf_topterms",   # vocab-sized IDF table combine
    "text_langid_ngram",     # lang-profile (tiny) build side
    "eval_langid_confusion", # same langid plan + langs^2-bounded matrix window
    "tpch_q6", "tpch_q14", "tpch_q17", "tpch_q19",  # 1-row answers
    "tpch_q15",              # rank over the 100-row revenue relation
    "tpch_q22",              # 1-row avg-balance subquery
    "tpch_q11",              # 1-row scalar-cut combine (1.75x avg part value)
    "corpus_mixture_balance",  # 1-row min-lang-count combine broadcast into the rate filter
    "stat_ks_two_sample",    # P-row offset table + 1-row max-gap combine (cumsum is pid-parallel)
    "stat_mann_whitney_u",   # same P-row offset table + 1-row U combine
    "eval_auc_rank",         # same scaffold: P-row offset table + 1-row AUC combine
    "sql_subquery_surfaces", # scalar-subquery avg: 1-row combine reused as a literal
    "dq_drift_psi",          # 1-row bin-totals combine broadcast back onto the 10-bin table
    "table_log_branch",      # two 1-row ref rollup combines unioned
    "scan_gzip_text",        # 500-row unsplittable-file read + 1-row report combine
    "stat_bootstrap_poisson_ci",  # 1-row combine over the 16 replicate means
    "ts_periodogram",        # day-ordinal window over the calendar-bounded daily rollup
    "graph_assortativity",   # 1-row corr/co-moment combine over the edge-degree pairs
    "similarity_mips_topk",  # 1-row max-norm combine broadcast into the padding expr
    "dq_fk_discovery",       # four pairs x two 1-row count combines, unioned
    "pipeline_feature_snapshot",  # 1-row cutoff combine broadcast into the leakage filter
    "sketch_bloom_prefilter",     # 1-row FP/FN report combine (bit set is broadcast-bounded)
    "privacy_randomized_response",  # 1-row debias combine
    "ts_backtest_accuracy",       # 1-row max-date + 1-row score combines over the day rollup
    "tokenizer_bpe_apply",        # 1-row fertility combine over the word table
    "event_decay_engagement",     # 1-row max-ts anchor combine broadcast into the decay expr
    "maintenance_stats_sampled",  # 1-row calibration-report combine
    "agg_percentile_exact_scaffold",  # global_rank P-row offset table + 3-row target combine
    "win_skyline_pareto_2d",      # exclusive max scan's P-row offset table only (scan is pid-parallel)
    "dq_referential_orphans",  # seven 1-row per-edge count combines unioned
    "cumulative_distinct_users",  # cumulative window over the ~#days spine (calendar-bounded)
    "funnel_time_to_convert",  # 1-row delay-percentile combine over the users-sized delays
    "agg_histogram_numeric",   # 1-row sketch merge (nb-sized histogram state)
    "basket_rule_lift",        # 1-row distinct-order-count combine broadcast into the rules
    "ts_seasonality_strength",  # decompose spine (calendar-bounded) + 1-row variance combine
    "privacy_k_anonymity",     # 1-row report combine over the QI-class table
    "privacy_l_diversity",     # same 1-row report combine shape
    "privacy_t_closeness",     # |bands|-row m/n scalars + 1-row report combine
    "stat_anova_oneway",       # k-row sufficient-stats table -> 1-row combine
    "stat_ttest_welch",        # 2-row sufficient-stats table -> 1-row combine
    "source_csv_multiline",    # 300-row unsplittable-file read + 1-row report combine
    "corpus_temperature_mixture",  # |sources|-row rate table + 1-row total combine
    "ts_hampel_outliers",      # calendar-bounded daily series (one global window)
    "agg_bitmap_exact_distinct",  # |buckets|-row (id_range/32k) bitmap combine for the global row
    "source_text_lines",       # 400-row fixture file read + 1-row report combine
    "event_ab_test_lift",      # 2-row per-arm table -> 1-row readout combine
    "retail_channel_cumulative_compare",  # cumulative window over the calendar-bounded day spine
    "ts_rolling_corr",         # rolling corr window over the calendar-bounded daily rollup
    "text_vocab_growth",       # cumulative window over the |docs|/50-row bucket spine
    "text_zipf_slope",         # rank over the 100-row top-k relation + 1-row regr combine
    "pipeline_tokenizer_release",  # per-round 1-row argmax combine (word-table-sized input) + 1-row metrics combine
    "stat_kruskal_wallis",    # midrank prefix window over the distinct-value grain + 1-row H combine
    "stat_cramers_v",         # 1-row chi2/V combine over the |types|x7 contingency cells
    "stat_cohens_kappa",      # 1-row kappa combine over the 2x2 contingency
    "table_log_restore",      # 1-row post-restore aggregate readout
    "win_bollinger_bands",    # calendar-bounded daily series (one global window)
    "graph_community_modularity",  # 1-row edge-total m combine, broadcast into the scorecard
    "embeddings_isotropy_score",   # 64-row dim-sum table -> 1-row corpus combine (+ 1-row n total)
    "text_bm25_score",             # 1-row (N, avgdl) corpus-stats combine, broadcast
    "dq_uniqueness_profile",       # five 1-row per-column stat combines unioned (completeness_profile shape)
    "corpus_quality_stump",        # prefix-sum over the n_chars DOMAIN spine (~313 values) + 1-row total combine
    "ts_downsample_m4",            # 1-row global (t0, t1) span combine, broadcast into the bucketing
    "similarity_hybrid_bm25_cosine",  # per-leg rank windows over the 200-row TRUNCATED candidate lists (+1-row corpus stats)
    "ts_seasonal_esd_anomalies",   # calendar-bounded daily spine windows + per-round 1-row stats combines
    "stat_sprt_sequential",        # cumulative window over the calendar day spine + 1-row baseline combine
    "event_growth_accounting",     # 1-row last-observed-month combine, broadcast into the churn censor
    "corpus_shuffle_epochs",       # global_rank scaffold per epoch: P-row offset tables only
    "source_csv_sniffed_dialect",  # 1-row aggregate readout of the sniffed read
    "win_rsi_sma",            # calendar-bounded daily series (one global window)
    "privacy_microaggregation",  # global rank window (global_rank scaffold swap-in documented)
    "dq_completeness_profile",   # 1-row wide-agg combine unpivoted to the per-column report
    "win_moving_distinct",    # calendar-bounded day spine carrying DAU-sized set payloads
    "ts_return_stats",        # calendar-bounded lag window + 1-row moments combine
    "pipeline_data_contract", # six metadata-sized 1-row clause combines unioned
    "ts_control_chart",       # day-spine rank + 1-row baseline center/sigma combine
    "corpus_interleave_roundrobin",  # global stream-index rank (global_rank scaffold swap-in documented)
    "stat_proportions_ztest", # 2-row segment table -> 1-row pivot/z combine
    "sample_systematic_everyk",  # global frame rank (global_rank scaffold swap-in documented)
    "retail_order_aging_buckets",  # 1-row anchor-date combine broadcast into the bucket expr
    "corpus_doc_length_deciles",   # global ntile window (global_rank scaffold swap-in documented)
}


def test_single_partition_exchanges_are_declared(spark):
    """Ratchet: the exact set of operators whose plans contain an
    Exchange SinglePartition is pinned. A regression that funnels real
    data through one partition (the classic window/sort scale-killer)
    shows up as an undeclared key here before it shows up as a 3 a.m.
    straggler on a cluster."""
    from basis_spark.registry import QUERIES

    got = set()
    for key, fn in QUERIES.items():
        plan = fn(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        if "Exchange SinglePartition" in plan:
            got.add(key)
    assert got <= _SINGLE_PARTITION_OK, f"undeclared: {sorted(got - _SINGLE_PARTITION_OK)}"


def test_band_join_is_shuffled_equi_join(spark):
    # join_band_bucketed exists to replace the BroadcastNestedLoopJoin
    # band join with a bin-keyed equi-join: the plan must contain a
    # hash/sort-merge join and no nested-loop at all.
    from basis_spark.operators import joins

    plan = _plan(joins.join_band_bucketed(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_shuffle_hash_hint_is_honored(spark):
    """join_hint_shuffle_hash exists to pin hint semantics: the plan
    must contain a ShuffledHashJoin (not SortMergeJoin, not broadcast)
    — if Spark ever silently drops the hint, this fails before a
    100 TB job pays two needless sorts."""
    from basis_spark.operators import joins

    plan = _plan(joins.join_hint_shuffle_hash(spark, SF_ORACLE))
    assert "ShuffledHashJoin" in plan, plan


def test_multi_distinct_uses_expand_and_arrow_udf_uses_arrow_eval(spark):
    """agg_count_distinct_multi must plan Catalyst's Expand rewrite
    (the documented x3-shuffle trade), and udf_python_arrow must run
    on ArrowEvalPython — NOT the pickled BatchEvalPython path it
    exists to contrast with."""
    from basis_spark.registry import QUERIES
    from tests.conftest import SF_ORACLE

    p1 = (
        QUERIES["agg_count_distinct_multi"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in p1
    p2 = (
        QUERIES["udf_python_arrow"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in p2
    assert "BatchEvalPython" not in p2


def test_percentile_swapin_flips_with_scale_limit(spark, monkeypatch):
    """The r5-verdict swap-in: the three users/lineitem-sized exact
    percentile combines must branch to percentile_approx once the
    bounding base-table row count exceeds EXACT_PERCENTILE_SCALE_LIMIT.
    Asserted at the flag flip (limit monkeypatched to 0), and the exact
    branch re-asserted at the default limit — that branch is what the
    DuckDB oracle hash-checks at sf0.01."""
    from basis_spark.operators import analytics

    keys = [
        analytics.funnel_time_to_convert,
        analytics.latency_ship_percentiles,
        analytics.event_interarrival_stats,
    ]
    for fn in keys:
        plan = _optimized(fn(spark, SF_ORACLE))
        assert "percentile_approx" not in plan, fn.__name__
        assert "percentile" in plan, fn.__name__

    monkeypatch.setattr(analytics, "EXACT_PERCENTILE_SCALE_LIMIT", 0)
    for fn in keys:
        plan = _optimized(fn(spark, SF_ORACLE))
        assert "percentile_approx" in plan, fn.__name__
        # no exact single-combine percentile survives the flip
        assert "percentile_disc" not in plan, fn.__name__


def test_mips_topk_uses_window_group_limit(spark):
    """similarity_mips_topk's rnk<=5 must push into WindowGroupLimit so
    each map task keeps 5 candidates per query before the shuffle —
    the property that makes augmented-space top-k viable at corpus
    scale."""
    from basis_spark.operators import llm

    plan = _plan(llm.similarity_mips_topk(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_sql_udfs_inline_to_jvm(spark):
    """SQL-defined functions (scalar and table-valued) must INLINE:
    no Python evaluation node anywhere in either executed plan."""
    from basis_spark.operators import udfs

    for fn in (udfs.sql_udf_scalar, udfs.sql_udf_table_valued):
        plan = _plan(fn(spark, SF_ORACLE))
        assert "Python" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_index_broadcasts_stats_and_anchors(spark):
    """The flagship index build must broadcast the dim-stats and anchor
    sides (both KB-sized) — a shuffle join on either would be the
    100 TB regression this plan exists to avoid."""
    from basis_spark.operators import pipelines

    plan = _plan(pipelines.pipeline_embedding_index(spark, SF_ORACLE))
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan


def test_null_skew_isolation_filters_before_exchange(spark):
    """join_null_skew_isolated: the join branch's scan-side filter must
    include an isnotnull on the synthetic key, proving null rows never
    enter the join's exchange (they ride the union bypass instead)."""
    from basis_spark.operators import joins as _joins

    plan = _plan(_joins.join_null_skew_isolated(spark, SF_ORACLE))
    assert "isnotnull" in plan
    assert "Union" in plan


def test_balanced_shard_pack_has_no_global_sort(spark, monkeypatch):
    """The snake-dealing router must rank via the two-pass scaffold:
    rangepartitioning yes (in the materialized scan input), data-sized
    global window no."""
    from basis_spark.operators import llm

    materialized = _checkpoint_inputs(monkeypatch, spark)
    plan = _plan(llm.multimodal_shard_pack_balanced(spark, SF_ORACLE))
    assert any("rangepartitioning" in p for p in materialized)
    assert "row_number()" not in plan


def test_nested_struct_pruning_reads_one_leaf(spark):
    """scan_nested_struct_pruning: the parquet ReadSchema must contain
    ONLY meta.k — the decoy struct fields (tag, blob) must not be
    read (nested-schema pruning, the claim in the operator's
    docstring)."""
    df = scans.scan_nested_struct_pruning(spark, SF_ORACLE)
    plan = _plan(df)
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "k:bigint" in rs
    assert "tag" not in rs and "blob" not in rs, rs


def test_bench_query_exchange_budget(spark):
    """Shuffle-count ratchet for the 12 headline bench queries: each
    key's physical plan may not grow MORE Exchange nodes than the
    measured r8 budget. An extra exchange is the canonical silent perf
    regression (a lost co-partitioning, a broadcast that fell back to
    shuffle, an accidental repartition) — at 100 TB one surplus
    shuffle on lineitem is the difference between one pass and two
    full-network passes, so it should fail CI here, not show up in
    BENCH_r{N}.json a round later."""
    import re

    from basis_spark.registry import QUERIES

    BUDGET = {
        "agg_groupby_multi": 1,     # one partial->final agg exchange
        "join_multiway_star": 1,    # dims broadcast; one final agg exchange
        "sort_multikey": 1,         # TakeOrdered needs one range exchange max
        "win_row_number_topk": 1,   # one hash exchange for the window
        "win_running_frame": 1,     # one hash exchange for the window
        "agg_count_distinct": 2,    # expand + two-phase distinct agg
        "stream_session": 1,        # single user_id exchange (the q6 win)
        "agg_rollup": 1,            # expand + one agg exchange
        "join_anti": 1,             # broadcast anti + one agg exchange
        "str_regexp": 0,            # map-only scalar pipeline
        "similarity_topk": 0,       # 1-row broadcast + TakeOrdered, no shuffle
        "dedup_near_minhash": 5,    # banded candidates + id-only re-join
        "agg_conditional_pivot": 1, # one partial->final agg exchange
    }
    from basis_spark.session import forget

    over = {}
    for key, budget in BUDGET.items():
        if key == "dedup_near_minhash":
            # its banding/candidate index is memoized per session with
            # eager localCheckpoints that truncate lineage; measure the
            # COLD plan (the one bench times) or the count is an
            # artifact of whichever test warmed the memo first
            forget("minhash_bands", "minhash_candidates", "ngram_shingles")
        df = QUERIES[key](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = len(re.findall(r"\bExchange\b", plan))
        if n > budget:
            over[key] = (n, budget)
    assert not over, f"exchange budget exceeded (got, budget): {over}"


def test_merge_hint_is_honored(spark):
    """join_hint_merge pins the sort-merge directive: the plan must
    contain a SortMergeJoin (not ShuffledHashJoin, not broadcast) —
    the shape that spills gracefully when BOTH sides are huge."""
    from basis_spark.operators import joins

    plan = _plan(joins.join_hint_merge(spark, SF_ORACLE))
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan


def test_star_except_still_prunes_columns(spark):
    """SELECT * EXCEPT must resolve to an explicit projection at
    analysis time: the parquet ReadSchema must NOT contain the
    excluded text column (the whole point of the idiom on wide
    tables — exclusion that defeated pruning would read the payload
    bytes it exists to skip)."""
    from basis_spark.operators import pipelines

    plan = _plan(pipelines.sql_star_except(spark, SF_ORACLE))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("text" not in ln for ln in read_schema)
    assert any("doc_id" in ln for ln in read_schema)
