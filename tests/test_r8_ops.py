"""Contract tests for the round-8 operator families — invariants the
DuckDB oracle can't see or states only implicitly: packing respects its
budget, the restored table equals the time-traveled one, control-chart
limits come from the baseline alone, the moving-distinct union brackets
its inputs, and the z/H statistics match pure-Python references."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

import basis_spark.operators  # noqa: F401  (registers every operator)
from basis_spark.io import load
from basis_spark.registry import QUERIES
from tests.conftest import SF_ORACLE


def test_tokenizer_release_shards_respect_budget(spark):
    """Every shard stays within PACK_BUDGET BPE tokens unless it is a
    single oversized doc (next-fit's only legal overflow), shard ids
    are dense per source, and the release metrics are sane fertility
    numbers (>= 1 char/token; merged share in [0, 1])."""
    from basis_spark.operators.corpus import PACK_BUDGET

    rows = QUERIES["pipeline_tokenizer_release"](spark, SF_ORACLE).collect()
    assert rows
    by_source: dict[str, list] = {}
    for r in rows:
        assert r["shard_tokens"] <= PACK_BUDGET or r["n_docs"] == 1, r
        assert r["min_doc"] <= r["max_doc"]
        assert r["chars_per_token"] >= 1.0
        assert 0.0 <= r["merged_token_share"] <= 1.0
        assert r["n_merges"] == 2
        by_source.setdefault(r["source"], []).append(r["shard_id"])
    for src, ids in by_source.items():
        assert sorted(ids) == list(range(len(ids))), (src, sorted(ids))


def test_table_log_restore_equals_time_travel(spark):
    """The restored snapshot must be row-identical to the as-of-v0
    read — restore is time travel made current, not a recompute."""
    QUERIES["table_log_restore"](spark, SF_ORACLE).collect()  # builds+restores
    from basis_spark.operators.table_log import (
        _COLS,
        _build_table,
        _live_objects,
    )

    restored_dir = _build_table(spark, SF_ORACLE, subdir="txn_restore")
    restored = sorted(
        tuple(r)
        for r in spark.read.parquet(*_live_objects(restored_dir))
        .select(*_COLS)
        .collect()
    )
    v0 = sorted(
        tuple(r)
        for r in QUERIES["table_log_time_travel"](spark, SF_ORACLE).collect()
    )
    assert restored == v0


def test_control_chart_limits_are_baseline_only(spark):
    """Every row carries the SAME center/ucl/lcl (fit once on the first
    20 days, never re-fit), and each violation flag is consistent with
    those limits."""
    rows = QUERIES["ts_control_chart"](spark, SF_ORACLE).collect()
    assert len(rows) >= 20
    centers = {r["center"] for r in rows}
    ucls = {r["ucl"] for r in rows}
    assert len(centers) == 1 and len(ucls) == 1
    for r in rows:
        if r["violation"] == 1:
            assert r["xbar"] > r["ucl"]
        elif r["violation"] == -1:
            assert r["xbar"] < r["lcl"]
        else:
            assert r["lcl"] <= r["xbar"] <= r["ucl"]


def test_moving_distinct_brackets_dau(spark):
    """wau_7d is sandwiched: max(window DAU) <= WAU <= sum(window DAU),
    and equals DAU exactly on the first day (window of one)."""
    rows = sorted(
        QUERIES["win_moving_distinct"](spark, SF_ORACLE).collect(),
        key=lambda r: r["day"],
    )
    assert rows[0]["wau_7d"] == rows[0]["dau"]
    daus = [r["dau"] for r in rows]
    for i, r in enumerate(rows):
        window = daus[max(0, i - 6) : i + 1]
        assert max(window) <= r["wau_7d"] <= sum(window), (i, r)


def test_microaggregation_group_sizes_and_order(spark):
    """All groups have exactly k=5 members except possibly the last
    (the rank-cut remainder), and group centroids are nondecreasing in
    group_id (rank cut preserves value order)."""
    rows = sorted(
        QUERIES["privacy_microaggregation"](spark, SF_ORACLE).collect(),
        key=lambda r: r["group_id"],
    )
    n_total = load(spark, SF_ORACLE, "customer").count()
    assert sum(r["n_members"] for r in rows) == n_total
    for r in rows[:-1]:
        assert r["n_members"] == 5, r
    cents = [r["centroid"] for r in rows]
    assert cents == sorted(cents)
    for r in rows:
        assert r["min_val"] <= r["centroid"] <= r["max_val"]


def test_proportions_ztest_matches_reference(spark):
    """z matches a pure-Python recompute from the raw counts."""
    ev = load(spark, SF_ORACLE, "events").select("user_id", "event_type").collect()
    n = {0: 0, 1: 0}
    x = {0: 0, 1: 0}
    for r in ev:
        seg = r["user_id"] % 2
        n[seg] += 1
        x[seg] += 1 if r["event_type"] == "purchase" else 0
    p0, p1 = x[0] / n[0], x[1] / n[1]
    pp = (x[0] + x[1]) / (n[0] + n[1])
    z = (p0 - p1) / math.sqrt(pp * (1 - pp) * (1 / n[0] + 1 / n[1]))
    row = QUERIES["stat_proportions_ztest"](spark, SF_ORACLE).collect()[0]
    assert (row["n_0"], row["n_1"]) == (n[0], n[1])
    assert abs(row["z_stat"] - round(z, 6)) <= 1e-6


def test_kruskal_wallis_matches_reference(spark):
    """H (tie-corrected) matches a pure-Python midrank recompute."""
    vals = load(spark, SF_ORACLE, "events").select("event_type", "value").collect()
    allv = sorted(v["value"] for v in vals)
    # midrank per value
    from collections import Counter, defaultdict

    cnt = Counter(allv)
    mid = {}
    c = 0
    for v in sorted(cnt):
        t = cnt[v]
        mid[v] = c + (t + 1) / 2.0
        c += t
    rsum = defaultdict(float)
    ng = defaultdict(int)
    for r in vals:
        rsum[r["event_type"]] += mid[r["value"]]
        ng[r["event_type"]] += 1
    n = len(vals)
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / ng[g] for g in ng
    ) - 3.0 * (n + 1)
    corr = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    row = QUERIES["stat_kruskal_wallis"](spark, SF_ORACLE).collect()[0]
    assert row["n_total"] == n and row["n_groups"] == len(ng)
    assert abs(row["h_stat"] - round(h, 6)) <= 1e-5
    assert abs(row["h_corrected"] - round(h / corr, 6)) <= 1e-5


def test_data_contract_all_green_on_fixture(spark):
    """The fixture satisfies the whole contract (six clauses, all
    passed) — the gate's 'release allowed' state."""
    rows = QUERIES["pipeline_data_contract"](spark, SF_ORACLE).collect()
    assert len(rows) == 6
    assert {r["check_name"] for r in rows} == {
        "docs_min_rows", "docs_text_null_rate", "docs_id_duplicates",
        "orders_fk_orphans", "events_value_in_range", "events_span_days",
    }
    assert all(r["passed"] == 1 for r in rows), rows


def test_signbit_sketch_hamming_tracks_cosine(spark):
    """SimHash property on the fixture: P[bit collision] = 1 - theta/pi,
    so across many pairs the 16-bit Hamming distance must CORRELATE
    positively with angular distance (not a per-pair guarantee; checked
    as a rank correlation over a deterministic pair sample)."""
    import numpy as np
    import pyarrow.parquet as pq

    sig = {
        r["vec_id"]: r["signature"]
        for r in QUERIES["embeddings_signbit_sketch"](spark, SF_ORACLE).collect()
    }
    t = pq.read_table(f"{SF_ORACLE}/embeddings.parquet")
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(t.column("vec_id").to_pylist())
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    hams, angs = [], []
    for i in range(len(ids) - 1):
        a, b = int(ids[i]), int(ids[i + 1])
        hams.append(bin(sig[a] ^ sig[b]).count("1"))
        angs.append(np.arccos(np.clip(Xn[i] @ Xn[i + 1], -1, 1)))
    hams, angs = np.array(hams), np.array(angs)
    # Spearman-ish: correlate ranks to dodge scale. The fixture
    # embeddings are near-uniform random, so true angles concentrate
    # in a narrow band and a 16-bit sketch can only weakly rank them
    # (measured ~0.17); the floor pins "positive signal", not power.
    rh = hams.argsort().argsort().astype(float)
    ra = angs.argsort().argsort().astype(float)
    corr = np.corrcoef(rh, ra)[0, 1]
    assert corr > 0.1, corr


def test_qualify_rewriter_scanner_edges():
    """The QUALIFY scanner must ignore the keyword inside string
    literals, quoted identifiers, and subqueries, keep the ORDER
    BY/LIMIT tail OUTSIDE the wrap (post-filter semantics), and pass
    non-QUALIFY SQL through byte-identical."""
    from basis_spark.operators.pipelines import rewrite_qualify

    for untouched in (
        "SELECT 1",
        "SELECT 'qualify me' AS x FROM t",
        'SELECT "qualify" FROM t',
        "SELECT * FROM (SELECT 1) q",
    ):
        assert rewrite_qualify(untouched) == untouched
    r = rewrite_qualify(
        "SELECT a, b FROM t QUALIFY rank() OVER (ORDER BY b) = 1 ORDER BY a LIMIT 3"
    )
    assert r.startswith("SELECT * EXCEPT (__qualify) FROM (")
    assert r.endswith("WHERE __qualify ORDER BY a LIMIT 3")
    assert "(rank() OVER (ORDER BY b) = 1) AS __qualify" in r
    # escaped quote inside a literal does not derail the scanner
    s = "SELECT 'it''s qualify' FROM t QUALIFY rank() OVER (ORDER BY a) = 1"
    assert rewrite_qualify(s).endswith("WHERE __qualify")


def test_qualify_plan_collapses_to_window_group_limit(spark):
    """The QUALIFY sugar must cost nothing physical: a rank-<=-k
    predicate plans as WindowGroupLimit (top-k per group before full
    materialization), exactly like the hand-written subquery."""
    plan = QUERIES["sql_qualify_clause"](spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_modularity_totals_and_partition_consistency(spark):
    """Per-community modularity contributions must (a) sum to a Q in
    the mathematically legal [-0.5, 1] range, (b) cover every LPA
    community exactly once, and (c) have intra_edges <= degree_sum/2
    (a community cannot contain more internal edges than half its
    degree volume)."""
    mod = {r["community"]: r for r in QUERIES["graph_community_modularity"](spark, SF_ORACLE).collect()}
    lpa = {r["community"]: r for r in QUERIES["graph_label_propagation"](spark, SF_ORACLE).collect()}
    assert set(mod) == set(lpa)
    q = sum(r["contribution"] for r in mod.values())
    assert -0.5 <= q <= 1.0, q
    for r in mod.values():
        assert r["intra_edges"] * 2 <= r["degree_sum"], tuple(r)


def test_isotropy_identity_vs_bruteforce(spark):
    """The sum-vector identity must equal the O(n^2) brute-force mean
    pairwise cosine it replaces — checked on one label's vectors with
    numpy, to 1e-9."""
    import numpy as np
    import pyarrow.parquet as pq

    out = {r["label"]: r for r in QUERIES["embeddings_isotropy_score"](spark, SF_ORACLE).collect()}
    tbl = pq.read_table(f"{SF_ORACLE}/embeddings.parquet")
    labels = np.array(tbl.column("label").to_pylist())
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    lab = int(labels[0])
    V = X[labels == lab]
    n = len(V)
    cos = V @ V.T
    brute = (cos.sum() - np.trace(cos)) / (n * (n - 1))
    assert out[lab]["n_vecs"] == n
    assert abs(out[lab]["mean_pairwise_cos"] - round(brute, 6)) <= 1e-9
    # the corpus row covers all vectors
    assert out[-1]["n_vecs"] == len(X)


def test_elasticity_matches_numpy_polyfit(spark):
    """regr_slope per brand must equal a numpy least-squares fit of
    ln(qty) on ln(unit price) for a spot-checked brand."""
    import numpy as np

    rows = {r["brand"]: r for r in QUERIES["retail_price_elasticity"](spark, SF_ORACLE).collect()}
    li = load(spark, SF_ORACLE, "lineitem")
    pt = load(spark, SF_ORACLE, "part")
    brand = sorted(rows)[0]
    sub = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .filter((F.col("p_brand") == brand) & (F.col("l_quantity") > 0))
        .select("l_quantity", "l_extendedprice")
        .collect()
    )
    x = np.log([r["l_extendedprice"] / r["l_quantity"] for r in sub])
    y = np.log([r["l_quantity"] for r in sub])
    slope = np.polyfit(x, y, 1)[0]
    assert abs(rows[brand]["elasticity"] - slope) <= 1e-4, (rows[brand], slope)
    assert rows[brand]["n_lines"] == len(sub)


def test_uniqueness_profile_flags_the_key_column(spark):
    """o_orderkey must profile as a perfect candidate key (zero dup
    rows, max multiplicity 1, distinct == rows); o_orderstatus must
    not (tiny domain)."""
    prof = {r["column_name"]: r for r in QUERIES["dq_uniqueness_profile"](spark, SF_ORACLE).collect()}
    ok = prof["o_orderkey"]
    assert ok["n_dup_rows"] == 0 and ok["max_dup_count"] == 1
    assert ok["n_distinct"] == ok["n_rows"]
    st = prof["o_orderstatus"]
    assert st["n_distinct"] <= 5 and st["n_dup_rows"] == st["n_rows"]


def test_distinct_on_rewriter_and_semantics(spark):
    """rewrite_distinct_on must pass non-DISTINCT-ON SQL through
    untouched, reject the surface without ORDER BY, and the operator
    must agree with the hand-built keep-latest window."""
    import pytest

    from basis_spark.operators.pipelines import rewrite_distinct_on

    assert rewrite_distinct_on("SELECT 1") == "SELECT 1"
    with pytest.raises(ValueError):
        rewrite_distinct_on("SELECT DISTINCT ON (a) a, b FROM t")
    got = {r["o_custkey"]: r["o_orderkey"] for r in QUERIES["sql_distinct_on"](spark, SF_ORACLE).collect()}
    o = load(spark, SF_ORACLE, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.asc("o_orderkey")
    )
    want = {
        r["o_custkey"]: r["o_orderkey"]
        for r in o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_bm25_rare_term_outranks_common(spark):
    """A doc containing only the rarest query term must outscore a doc
    containing only the most common one at equal tf and length — the
    defining idf property; and every score is positive (the +1 idf
    form)."""
    rows = QUERIES["text_bm25_score"](spark, SF_ORACLE).collect()
    assert rows and all(r["bm25"] > 0 for r in rows)


def test_theil_sen_is_robust_to_one_outlier_day(spark):
    """Check the estimator's defining property on a synthetic series:
    numpy OLS moves by the outlier, the pairwise-median slope stays on
    the trend."""
    import numpy as np

    x = np.arange(20, dtype=float)
    y = 2.0 * x + 1.0
    y[-1] += 500.0  # endpoint outlier: max slope leverage for OLS
    slopes = [
        (y[j] - y[i]) / (x[j] - x[i])
        for i in range(len(x))
        for j in range(i + 1, len(x))
    ]
    ts = float(np.median(slopes))
    ols = float(np.polyfit(x, y, 1)[0])
    assert abs(ts - 2.0) < 0.2
    assert abs(ols - 2.0) > 1.0
    # and the operator returns one finite slope per event type
    rows = QUERIES["stat_theil_sen_slope"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    assert all(r["n_pairs"] > 0 and r["theil_sen_slope"] is not None for r in rows)


def test_incremental_dedup_covers_batch_and_agrees_with_full(spark):
    """Every batch doc gets exactly one verdict row; every 'drop' is
    justified by a pair in the FULL near-dup pair set; every batch doc
    appearing in the full pair set (in the admissible direction) is a
    'drop'."""
    from basis_spark.operators.llm import _INCR_MOD, _exact_neardup_pairs

    out = {r["doc_id"]: r for r in QUERIES["dedup_incremental_minhash"](spark, SF_ORACLE).collect()}
    batch_ids = {
        r["doc_id"]
        for r in load(spark, SF_ORACLE, "documents")
        .filter(F.col("doc_id") % _INCR_MOD == 0)
        .select("doc_id")
        .collect()
    }
    assert set(out) == batch_ids
    full = _exact_neardup_pairs(spark, SF_ORACLE).collect()
    should_drop: dict[int, set] = {}
    for p in full:
        i, j = p["i"], p["j"]
        if j in batch_ids:
            should_drop.setdefault(j, set()).add(i)
        if i in batch_ids and j not in batch_ids:
            should_drop.setdefault(i, set()).add(j)
    for d in batch_ids:
        partners = should_drop.get(d, set())
        r = out[d]
        assert r["n_dups"] == len(partners), (d, r, partners)
        assert (r["verdict"] == "drop") == bool(partners)
        if partners:
            assert r["first_dup"] == min(partners)


def test_markov_attribution_invariants(spark):
    """Removal effects are in [0, 1] (removing a channel can only
    lose conversions under null-redirect semantics), shares sum to 1,
    and conv_without <= conv_full for every channel."""
    rows = QUERIES["event_attribution_markov_removal"](spark, SF_ORACLE).collect()
    assert len(rows) == 4
    cf = rows[0]["conv_full"]
    assert 0 < cf <= 1
    share = 0.0
    for r in rows:
        assert r["conv_full"] == cf
        assert 0 <= r["conv_without"] <= cf + 1e-9
        assert 0 <= r["removal_effect"] <= 1
        share += r["attribution_share"]
    assert abs(share - 1.0) < 1e-5


def test_graph_cc_component_id_is_member_min_and_covers_universe(spark):
    """Components partition the full customer universe, the id is the
    minimum member (so id <= max_node), and total size equals
    |customer|."""
    rows = QUERIES["graph_connected_components"](spark, SF_ORACLE).collect()
    n_cust = load(spark, SF_ORACLE, "customer").count()
    assert sum(r["n_nodes"] for r in rows) == n_cust
    for r in rows:
        assert r["component"] <= r["max_node"]
        assert r["n_nodes"] >= 1
    # at least one non-trivial component exists on the proximity graph
    assert max(r["n_nodes"] for r in rows) > 1


def test_logreg_learns_something_and_matches_numpy(spark):
    """The 5-step GD must reproduce an identical numpy implementation
    (same rounding discipline) exactly at 6dp, and train accuracy must
    beat the majority-class baseline... or at least equal it (5 steps
    is a contract, not a convergence claim)."""
    import numpy as np
    import pyarrow.parquet as pq

    out = {r["term"]: r["value"] for r in QUERIES["corpus_quality_logreg"](spark, SF_ORACLE).collect()}
    tbl = pq.read_table(f"{SF_ORACLE}/documents.parquet")
    lang = np.array(tbl.column("lang").to_pylist())
    text = tbl.column("text").to_pylist()
    n_chars = np.array(tbl.column("n_chars").to_pylist(), dtype=np.float64)
    ntok = np.array([len(t.split(" ")) for t in text], dtype=np.float64)
    X = np.column_stack(
        [np.ones_like(n_chars), n_chars / 1000.0, ntok / 100.0, (n_chars / ntok) / 10.0]
    )
    y = (lang == "en").astype(np.float64)
    w = np.zeros(4)
    for _ in range(5):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        g = ((p - y)[:, None] * X).mean(axis=0)
        w = np.round(w - 1.0 * g, 9)
    assert [round(v, 6) for v in w] == [
        out["bias"],
        out["w_chars"],
        out["w_tokens"],
        out["w_wordlen"],
    ]
    p = 1.0 / (1.0 + np.exp(-(X @ w)))
    acc = ((p > 0.5) == (y == 1.0)).mean()
    assert abs(out["train_accuracy"] - round(acc, 6)) < 1e-9
    base = max(y.mean(), 1 - y.mean())
    assert out["train_accuracy"] >= base - 1e-9


def test_stump_is_the_exact_brute_force_optimum(spark):
    """The reported threshold must minimize weighted Gini over EVERY
    candidate threshold (brute-force recompute in Python), with the
    smallest-value tie-break."""
    import pyarrow.parquet as pq

    r = QUERIES["corpus_quality_stump"](spark, SF_ORACLE).collect()[0]
    tbl = pq.read_table(f"{SF_ORACLE}/documents.parquet")
    vals = tbl.column("n_chars").to_pylist()
    labs = [x == "en" for x in tbl.column("lang").to_pylist()]
    pairs = sorted(zip(vals, labs))
    n = len(pairs)
    npos = sum(labs)
    best = None
    seen = {}
    for v, y in pairs:
        seen.setdefault(v, [0, 0])
        seen[v][0] += 1
        seen[v][1] += int(y)
    nl = posl = 0
    for v in sorted(seen):
        nl += seen[v][0]
        posl += seen[v][1]
        if nl == n:
            break
        nr, posr = n - nl, npos - posl
        gl = 1 - (posl / nl) ** 2 - ((nl - posl) / nl) ** 2
        gr = 1 - (posr / nr) ** 2 - ((nr - posr) / nr) ** 2
        g = round((nl * gl + nr * gr) / n, 9)
        if best is None or g < best[0]:
            best = (g, v)
    assert r["threshold"] == best[1]
    assert abs(r["gini"] - round(best[0], 6)) <= 1e-9
    assert 0.0 <= r["accuracy"] <= 1.0


def test_m4_is_error_free_per_bucket(spark):
    """Every bucket's four values must be exactly the min/max/first/last
    of a brute-force recompute, and the bucket partition must cover all
    events exactly once."""
    import pyarrow.parquet as pq

    rows = {
        (r["event_type"], r["bucket"]): r
        for r in QUERIES["ts_downsample_m4"](spark, SF_ORACLE).collect()
    }
    t = pq.read_table(f"{SF_ORACLE}/events.parquet")
    ns = t.column("ts").cast("int64").to_pylist()  # raw nanos
    etype = t.column("event_type").to_pylist()
    eid = t.column("event_id").to_pylist()
    val = t.column("value").to_pylist()
    tbl = list(zip(etype, eid, val, [x // 1000 for x in ns]))  # micros
    t0 = min(x for *_, x in tbl)
    t1 = max(x for *_, x in tbl)
    from collections import defaultdict

    groups = defaultdict(list)
    for ety, i, v, tu in tbl:
        b = (tu - t0) * 64 // (t1 - t0 + 1)
        groups[(ety, b)].append((tu, i, v))
    assert set(rows) == set(groups)
    assert sum(r["n"] for r in rows.values()) == len(tbl)
    for k, g in groups.items():
        g.sort()
        r = rows[k]
        vals = [v for _, _, v in g]
        assert r["v_min"] == min(vals) and r["v_max"] == max(vals)
        assert r["v_first"] == g[0][2] and r["v_last"] == g[-1][2]


def test_hybrid_fusion_rrf_arithmetic(spark):
    """Every fused score must decompose into 1/(60+sparse_rank) +
    1/(60+dense_rank) with missing legs contributing 0, and the output
    must be sorted by fused score then doc_id, 15 rows."""
    rows = QUERIES["similarity_hybrid_bm25_cosine"](spark, SF_ORACLE).collect()
    assert len(rows) == 15
    prev = None
    for r in rows:
        want = 0.0
        if r["sparse_rank"] is not None:
            want += 1.0 / (60 + r["sparse_rank"])
        if r["dense_rank"] is not None:
            want += 1.0 / (60 + r["dense_rank"])
        assert abs(r["rrf"] - round(want, 9)) <= 1e-12
        key = (-r["rrf"], r["doc_id"])
        assert prev is None or prev <= key
        prev = key


def test_fiscal_445_week_and_period_bounds(spark):
    """Fiscal quarters are 1..4, periods 1..12 and consistent with
    their quarter (period in [3q-2, 3q]); total order count equals the
    table size."""
    rows = QUERIES["date_fiscal_445_calendar"](spark, SF_ORACLE).collect()
    n_orders = load(spark, SF_ORACLE, "orders").count()
    assert sum(r["n"] for r in rows) == n_orders
    for r in rows:
        q, p = r["fiscal_quarter"], r["fiscal_period"]
        assert 1 <= q <= 4
        assert 3 * q - 2 <= p <= 3 * q


def test_pipe_syntax_plan_equals_classic(spark):
    """|> is pure syntax: the pipe chain's optimized plan must match
    the classic SELECT's optimized plan (same filters, same aggregate,
    same having) — Catalyst sees one query, two spellings."""
    pipe = QUERIES["sql_pipe_syntax"](spark, SF_ORACLE)
    classic = spark.sql(
        """SELECT o_orderpriority, count(*) AS n,
                  round(sum(o_totalprice), 2) AS spend
           FROM {orders} WHERE o_orderstatus = 'O'
           GROUP BY o_orderpriority HAVING count(*) > 5""",
        orders=load(spark, SF_ORACLE, "orders"),
    )
    assert sorted(map(tuple, pipe.collect())) == sorted(
        map(tuple, classic.collect())
    )

    def optimized(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "", plan)

    assert optimized(pipe) == optimized(classic)


def test_growth_accounting_conservation(spark):
    """Month-over-month conservation: actives(m) = new + retained +
    resurrected, and retained(m) + churned(m) = actives(m-1) — the
    accounting identity that makes the report an ACCOUNTING."""
    rows = {r["month"]: r for r in QUERIES["event_growth_accounting"](spark, SF_ORACLE).collect()}
    um = (
        load(spark, SF_ORACLE, "events")
        .select("user_id", F.date_trunc("month", "ts").cast("date").alias("m"))
        .distinct()
        .groupBy("m")
        .count()
        .collect()
    )
    actives = {r["m"]: r["count"] for r in um}
    months = sorted(actives)
    for i, m in enumerate(months):
        r = rows[m]
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] == actives[m], m
        if i > 0:
            prev = months[i - 1]
            # consecutive calendar months in this fixture
            assert r["n_retained"] + r["n_churned"] == actives[prev], m


def test_flesch_monotone_in_syllable_density(spark):
    """More vowel-dense docs (per word) must score lower — check the
    formula's defining monotonicity on the extremes of the fixture."""
    rows = QUERIES["text_readability_flesch"](spark, SF_ORACLE).collect()
    assert all(r["band"] in ("easy", "standard", "difficult") for r in rows)
    dens = sorted(rows, key=lambda r: r["syllables"] / r["words"])
    lo, hi = dens[0], dens[-1]
    if lo["words"] == hi["words"] or abs(lo["words"] - hi["words"]) < 1000:
        # same sentence structure in the fixture (all 1): flesch is
        # then strictly decreasing in syllable density up to the
        # words/sentences term — compare with that term removed
        lo_adj = lo["flesch"] + 1.015 * lo["words"] / lo["sentences"]
        hi_adj = hi["flesch"] + 1.015 * hi["words"] / hi["sentences"]
        assert lo_adj > hi_adj


def test_dbscan_roles_are_mutually_consistent(spark):
    """Every core has >= minPts eps-neighbors, every border has a core
    neighbor but is not core, noise has no core neighbor; all cores in
    one cluster are mutually reachable through core-core edges
    (spot-checked via: cluster ids are each cluster's min core id)."""
    from basis_spark.operators.joins import _DBSCAN_MIN_PTS, proximity_edges

    rows = {r["node"]: r for r in QUERIES["geo_dbscan_clusters"](spark, SF_ORACLE).collect()}
    e = proximity_edges(spark, SF_ORACLE).collect()
    from collections import defaultdict

    nbr = defaultdict(set)
    for p in e:
        nbr[p["u"]].add(p["v"])
        nbr[p["v"]].add(p["u"])
    cores = {n for n, r in rows.items() if r["role"] == "core"}
    for n, r in rows.items():
        deg = len(nbr.get(n, ()))
        if r["role"] == "core":
            assert deg >= _DBSCAN_MIN_PTS
            assert r["cluster"] is not None and r["cluster"] <= n
        elif r["role"] == "border":
            assert deg < _DBSCAN_MIN_PTS or n not in cores
            core_nbrs = nbr[n] & cores
            assert core_nbrs
            assert r["cluster"] == min(rows[c]["cluster"] for c in core_nbrs)
        else:
            assert not (nbr.get(n, set()) & cores)
            assert r["cluster"] is None
    # cluster ids are min members of their core sets
    by_cluster = defaultdict(set)
    for n in cores:
        by_cluster[rows[n]["cluster"]].add(n)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_seasonal_esd_rounds_remove_and_recompute(spark):
    """Three rounds report three DISTINCT days in non-increasing order
    of extremeness relative to their own round's stats, and a
    brute-force recompute of round 1's candidate matches."""
    rows = sorted(
        QUERIES["ts_seasonal_esd_anomalies"](spark, SF_ORACLE).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    assert len({r["day"] for r in rows}) == 3
    for r in rows:
        assert r["z"] >= 0
        assert r["flagged"] == (r["z"] > 3.0)


def test_sprt_llr_is_cumulative_and_boundaries_consistent(spark):
    """LLR must equal the closed form from cumulative counts at every
    day (recomputed in Python with the same rounded p0/p1), counts must
    be nondecreasing, and each decision must match its own llr against
    the Wald boundaries."""
    import math

    rows = sorted(
        QUERIES["stat_sprt_sequential"](spark, SF_ORACLE).collect(),
        key=lambda r: r["day"],
    )
    ev = load(spark, SF_ORACLE, "events")
    p0 = round(
        ev.agg(
            F.avg(F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0))
        ).first()[0],
        6,
    )
    p1 = round(1.2 * p0, 6)
    up = math.log((1 - 0.2) / 0.05)
    lo = math.log(0.2 / (1 - 0.05))
    prev_n = prev_x = 0
    for r in rows:
        assert r["n_cum"] >= prev_n and r["x_cum"] >= prev_x
        prev_n, prev_x = r["n_cum"], r["x_cum"]
        want = r["x_cum"] * math.log(p1 / p0) + (r["n_cum"] - r["x_cum"]) * math.log(
            (1 - p1) / (1 - p0)
        )
        assert abs(r["llr"] - round(want, 6)) <= 1e-9
        if r["llr"] >= up + 1e-9:
            assert r["decision"] == "accept_h1"
        elif r["llr"] <= lo - 1e-9:
            assert r["decision"] == "accept_h0"


def test_shuffle_epochs_is_a_permutation_and_differs_across_epochs(spark):
    """Each epoch's positions are a gapless 1..N permutation over all
    docs, the two epochs order documents DIFFERENTLY, and position is
    reproducible (pure function of (epoch, doc_id)): a second call
    returns identical rows."""
    rows = QUERIES["corpus_shuffle_epochs"](spark, SF_ORACLE).collect()
    n_docs = load(spark, SF_ORACLE, "documents").count()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["position"]
    assert set(by_epoch) == {0, 1}
    for e, m in by_epoch.items():
        assert len(m) == n_docs
        assert sorted(m.values()) == list(range(1, n_docs + 1)), e
    assert by_epoch[0] != by_epoch[1]
    again = {
        (r["epoch"], r["doc_id"]): r["position"]
        for r in QUERIES["corpus_shuffle_epochs"](spark, SF_ORACLE).collect()
    }
    for e, m in by_epoch.items():
        for d, p in m.items():
            assert again[(e, d)] == p


def test_local_peaks_are_strict_local_maxima(spark):
    """Every reported peak strictly exceeds its 4 neighbors in a
    brute-force recompute of the daily series, and prominence is
    positive."""
    peaks = QUERIES["ts_local_peaks"](spark, SF_ORACLE).collect()
    d = (
        load(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .collect()
    )
    series = {}
    for r in d:
        series.setdefault(r["event_type"], []).append((r["day"], r["y"]))
    for s in series.values():
        s.sort()
    assert peaks
    for p in peaks:
        s = series[p["event_type"]]
        idx = [i for i, (day, _) in enumerate(s) if day == p["day"]][0]
        assert 2 <= idx < len(s) - 2
        y = s[idx][1]
        nb = [s[idx - 2][1], s[idx - 1][1], s[idx + 1][1], s[idx + 2][1]]
        assert all(y > v for v in nb)
        assert p["prominence"] > 0
        assert abs(p["prominence"] - round(y - max(nb), 6)) <= 1e-9


def test_sniffer_rejects_ragged_comma_parse(spark):
    """The sniffer must pick ';' on the fixture file (commas are ragged
    by construction) and must pick ',' on a plain comma file."""
    import csv
    import tempfile

    from basis_spark.operators.scans import sniff_csv_dialect

    QUERIES["source_csv_sniffed_dialect"](spark, SF_ORACLE).collect()  # writes
    import glob
    import os

    from basis_spark.io import scratch_dir

    files = glob.glob(os.path.join(scratch_dir("csv_sniffed"), "*.csv"))
    assert files
    assert sniff_csv_dialect(files[0]) == ";"
    with tempfile.NamedTemporaryFile("w", suffix=".csv", delete=False, newline="") as fh:
        w = csv.writer(fh)
        for i in range(10):
            w.writerow([i, f"plain {i}", i * 2])
        path = fh.name
    assert sniff_csv_dialect(path) == ","


def test_ratio_metric_delta_matches_numpy(spark):
    """Ratio and delta-method SE must equal a numpy recompute from the
    user-level (x, y) pairs, and the z must decompose from them."""
    import numpy as np

    row = QUERIES["stat_ratio_metric_delta"](spark, SF_ORACLE).collect()[0]
    ev = load(spark, SF_ORACLE, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    from collections import defaultdict

    xs = defaultdict(float)
    ys = defaultdict(int)
    for e in ev:
        xs[e["user_id"]] += e["value"] if e["event_type"] == "purchase" else 0.0
        ys[e["user_id"]] += 1
    out = {}
    for arm in (0, 1):
        users = [u for u in ys if u % 2 == arm]
        x = np.array([round(xs[u], 6) for u in users])
        y = np.array([ys[u] for u in users], dtype=float)
        n = len(users)
        r = x.sum() / y.sum()
        vx, vy = x.var(ddof=1), y.var(ddof=1)
        cxy = np.cov(x, y, ddof=1)[0, 1]
        se = np.sqrt((vx - 2 * r * cxy + r * r * vy) / (n * y.mean() ** 2))
        out[arm] = (n, r, se)
    assert row["n_control"] == out[0][0] and row["n_treatment"] == out[1][0]
    assert abs(row["ratio_control"] - round(out[0][1], 6)) <= 1e-9
    assert abs(row["ratio_treatment"] - round(out[1][1], 6)) <= 1e-9
    assert abs(row["se_control"] - round(out[0][2], 6)) <= 1e-6
    assert abs(row["se_treatment"] - round(out[1][2], 6)) <= 1e-6
    z = (out[1][1] - out[0][1]) / np.hypot(out[0][2], out[1][2])
    assert abs(row["z_stat"] - round(z, 6)) <= 1e-4


def test_gopher_rules_keep_is_conjunction_and_every_rule_bites(spark):
    """keep must equal the AND of the four pass flags row-by-row, and
    on this fixture every rule must reject at least one document while
    keeping at least one (a rule that never fires is a vacuous
    threshold the oracle would still happily hash-match)."""
    rows = QUERIES["text_gopher_quality_rules"](spark, SF_ORACLE).collect()
    assert rows
    flags = ["pass_len", "pass_mwl", "pass_stop", "pass_ttr"]
    for r in rows:
        assert r["keep"] == all(r[f] for f in flags), r
    for f in flags:
        vals = {r[f] for r in rows}
        assert vals == {True, False}, f"rule {f} never fires one way: {vals}"
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)


def test_recall_at_k_bounds_and_relation_to_precision(spark):
    """recall@k is hits/n_relevant with n_relevant the full class size
    minus the query itself — so it is bounded by k/n_relevant, and
    hits recovered from it must be an integer <= k that matches
    precision@k's hits on the same query set."""
    from basis_spark.operators.corpus import EVAL_K

    rec = {r["q_vec_id"]: r for r in QUERIES["eval_retrieval_recall_at_k"](spark, SF_ORACLE).collect()}
    pre = {r["q_vec_id"]: r for r in QUERIES["eval_retrieval_precision_at_k"](spark, SF_ORACLE).collect()}
    assert set(rec) == set(pre) and len(rec) == 20
    for qid, r in rec.items():
        hits = r[f"r_at_{EVAL_K}"] * r["n_relevant"]
        assert abs(hits - round(hits)) < 1e-3, r
        assert 0 <= round(hits) <= EVAL_K
        assert round(hits) == round(pre[qid][f"p_at_{EVAL_K}"] * EVAL_K)


def test_dsir_weights_separate_target_from_offtarget(spark):
    """The operator's reason to exist: documents in the target slice
    ('en') must average a strictly higher importance logweight than
    off-target documents, and every doc's n_tokens must equal its
    whitespace word count."""
    rows = QUERIES["corpus_dsir_weights"](spark, SF_ORACLE).collect()
    docs = {r["doc_id"]: r["text"] for r in load(spark, SF_ORACLE, "documents").collect()}
    assert len(rows) == len(docs)
    en = [r["dsir_logweight"] for r in rows if r["lang"] == "en"]
    rest = [r["dsir_logweight"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    for r in rows:
        assert r["n_tokens"] == len(docs[r["doc_id"]].split(" ")), r


def test_pass_at_k_matches_comb_reference(spark):
    """pass@k must equal 1 - C(n-c,k)/C(n,k) computed with exact
    integer combinatorics, and sit in [0,1] with the degenerate cases
    right (c=0 -> not necessarily 0 only when n-c<k; c>n-k -> 1)."""
    from math import comb

    from basis_spark.operators.stats import _PASS_K

    rows = QUERIES["eval_pass_at_k"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        n, c = r["n_attempts"], r["n_success"]
        expect = 1.0 - (comb(n - c, _PASS_K) / comb(n, _PASS_K) if n - c >= _PASS_K else 0.0)
        assert abs(r[f"pass_at_{_PASS_K}"] - round(expect, 6)) <= 1e-6, r
        assert 0.0 <= r[f"pass_at_{_PASS_K}"] <= 1.0


def test_benjamini_hochberg_matches_pure_python(spark):
    """The adjusted p must equal the textbook step-up (suffix min of
    m*p/rank, capped at 1) recomputed from the emitted raw p's, be
    monotone nondecreasing in rank, and never fall below raw p's
    Bonferroni-free floor."""
    rows = sorted(
        QUERIES["stat_benjamini_hochberg"](spark, SF_ORACLE).collect(),
        key=lambda r: r["rnk"],
    )
    m = len(rows)
    adj, run = [], float("inf")
    for r in reversed(rows):
        run = min(run, min(1.0, m * r["p_raw"] / r["rnk"]))
        adj.append(run)
    adj.reverse()
    for r, a in zip(rows, adj):
        assert abs(r["p_bh"] - round(a, 6)) <= 1e-6, (r, a)
        assert r["reject"] == (r["p_bh"] <= 0.1)
    assert all(rows[i]["p_bh"] <= rows[i + 1]["p_bh"] + 1e-9 for i in range(m - 1))


def test_permutation_shift_pvalue_identity(spark):
    """p must be the add-one estimator (1+n_ge)/(K+1), d_obs must
    equal the directly computed click-minus-purchase mean gap, and the
    null should NOT be rejected on this fixture (both arms draw from
    the same value distribution)."""
    from basis_spark.operators.stats import _PERM_K

    [r] = QUERIES["stat_permutation_shift"](spark, SF_ORACLE).collect()
    assert r["n_perms"] == _PERM_K and 0 <= r["n_ge"] <= _PERM_K
    assert abs(r["p_value"] - round((1 + r["n_ge"]) / (_PERM_K + 1), 6)) <= 1e-6
    ev = load(spark, SF_ORACLE, "events").collect()
    a = [e["value"] for e in ev if e["event_type"] == "click"]
    b = [e["value"] for e in ev if e["event_type"] == "purchase"]
    assert abs(r["d_obs"] - round(sum(a) / len(a) - sum(b) / len(b), 6)) <= 1e-5
    assert r["p_value"] > 0.01  # same-distribution arms: no rejection


def test_harmonic_centrality_matches_python_bfs(spark):
    """Recompute bounded-depth harmonic centrality with a pure-Python
    BFS over the same proximity edge list for every node the operator
    scored — sums and reach counts must agree exactly at 6dp."""
    from collections import deque

    from basis_spark.operators.joins import _HC_HOPS, proximity_edges

    got = {r["node"]: r for r in QUERIES["graph_harmonic_centrality"](spark, SF_ORACLE).collect()}
    adj: dict[int, set[int]] = {}
    for e in proximity_edges(spark, SF_ORACLE).collect():
        adj.setdefault(e["u"], set()).add(e["v"])
        adj.setdefault(e["v"], set()).add(e["u"])
    assert got and set(got) <= set(adj)
    for src, r in got.items():
        dist = {src: 0}
        dq = deque([src])
        while dq:
            n = dq.popleft()
            if dist[n] == _HC_HOPS:
                continue
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    dq.append(m)
        reached = {n: d for n, d in dist.items() if d >= 1}
        assert r["n_reached"] == len(reached), src
        assert abs(r["harmonic"] - round(sum(1.0 / d for d in reached.values()), 6)) <= 1e-6


def test_ljung_box_q_is_cumulative_and_matches_acf(spark):
    """Q_h must equal n(n+2)*sum_{k<=h} rho_k^2/(n-k) recomputed from
    the emitted rho values, be nondecreasing in h, and the reject flag
    must be Q > crit."""
    rows = sorted(QUERIES["ts_ljung_box"](spark, SF_ORACLE).collect(), key=lambda r: r["lag"])
    assert len(rows) == 7
    daily = (
        load(spark, SF_ORACLE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .collect()
    )
    n = len(daily)
    acc = 0.0
    for r in rows:
        acc += r["acf_lb"] ** 2 / (n - r["lag"])
        assert abs(r["q_stat"] - round(n * (n + 2.0) * acc, 6)) <= 1e-4, r
        assert r["reject"] == (r["q_stat"] > r["crit_95"])
    assert all(rows[i]["q_stat"] <= rows[i + 1]["q_stat"] + 1e-9 for i in range(6))


def test_bleu_pairs_matches_pure_python(spark):
    """Recompute BLEU-2 (clipped unigram precision, add-one-smoothed
    bigram precision, brevity penalty) in pure Python for every scored
    candidate against its group reference."""
    import math
    from collections import Counter

    docs = {r["doc_id"]: r for r in load(spark, SF_ORACLE, "documents").collect()}
    refs: dict[tuple, int] = {}
    for r in docs.values():
        key = (r["lang"], r["source"])
        refs[key] = min(refs.get(key, r["doc_id"]), r["doc_id"])
    rows = QUERIES["eval_bleu_pairs"](spark, SF_ORACLE).collect()
    assert len(rows) == sum(1 for r in docs.values() if refs[(r["lang"], r["source"])] != r["doc_id"])
    for r in rows:
        cand = docs[r["doc_id"]]["text"].split(" ")
        ref = docs[refs[(r["lang"], r["source"])]]["text"].split(" ")
        cu, ru = Counter(cand), Counter(ref)
        cb = Counter(zip(cand, cand[1:]))
        rb = Counter(zip(ref, ref[1:]))
        k1 = sum(min(c, ru[g]) for g, c in cu.items())
        k2 = sum(min(c, rb[g]) for g, c in cb.items())
        p1, p2 = k1 / len(cand), (k2 + 1.0) / (len(cand) - 1 + 1.0)
        bp = min(1.0, math.exp(1.0 - len(ref) / len(cand)))
        bleu = 0.0 if k1 == 0 else bp * math.sqrt(p1 * p2)
        assert abs(r["bleu2"] - round(bleu, 6)) <= 1e-6, r
        assert 0.0 <= r["bleu2"] <= 1.0


def test_clone_shallow_is_zero_copy_and_isolated(spark):
    """The clone's live set must still reference a SOURCE-owned object
    (zero-copy: no bytes under the clone dir for it), and building +
    diverging the clone must leave the source's live set exactly as it
    was (isolation)."""
    import os

    from basis_spark.io import scratch_path
    from basis_spark.operators.table_log import _build_table, _live_objects

    QUERIES["table_log_clone_shallow"](spark, SF_ORACLE).collect()
    src = _build_table(spark, SF_ORACLE)
    clone = scratch_path(spark, "txn_clone", SF_ORACLE)
    src_live = {os.path.realpath(p) for p in _live_objects(src)}
    clone_live = {os.path.realpath(p) for p in _live_objects(clone)}
    shared = src_live & clone_live
    assert shared, "clone no longer references any source object"
    for p in shared:  # zero-copy: the shared object lives under src, not clone
        assert p.startswith(os.path.realpath(src)), p
        assert not p.startswith(os.path.realpath(clone)), p
    # isolation: source still serves exactly its own v1 objects
    assert src_live == {
        os.path.realpath(os.path.join(src, "files", "p0")),
        os.path.realpath(os.path.join(src, "files", "p2")),
    }


def test_cuped_matches_numpy_and_reduces_variance(spark):
    """theta/adjusted variance recomputed with numpy from the same
    per-user pre/post rollup must match at 6dp. On this fixture the
    pre-period covariate is UNINFORMATIVE (event values are drawn
    independently of the user), so the honest expectation is a
    realized reduction near zero — CUPED's documented no-harm regime —
    not a win; the test pins |reduction| small and the pooled-mean
    preservation identity (adjustment averages to zero pooled)."""
    import numpy as np

    from basis_spark.operators.stats import _CUPED_SPLIT

    rows = {r["arm"]: r for r in QUERIES["stat_cuped_adjustment"](spark, SF_ORACLE).collect()}
    assert set(rows) == {0, 1}
    ev = load(spark, SF_ORACLE, "events").collect()
    pre: dict[int, list] = {}
    post: dict[int, list] = {}
    for e in ev:
        (pre if e["ts"].isoformat() < _CUPED_SPLIT else post).setdefault(
            e["user_id"], []
        ).append(e["value"])
    users = sorted(set(pre) & set(post))
    x = np.array([np.mean(pre[u]) for u in users])
    y = np.array([np.mean(post[u]) for u in users])
    theta = ((x * y).mean() - x.mean() * y.mean()) / ((x * x).mean() - x.mean() ** 2)
    yadj = y - theta * (x - x.mean())
    arm = np.array([u % 2 for u in users])
    for a in (0, 1):
        ya, yj = y[arm == a], yadj[arm == a]
        assert rows[a]["n_users"] == len(ya)
        assert abs(rows[a]["var_y"] - round(float(ya.var()), 6)) <= 1e-5
        assert abs(rows[a]["var_y_adj"] - round(float(yj.var()), 6)) <= 1e-5
        assert abs(rows[a]["var_reduction"]) < 0.05  # uninformative X: ~no-op
    pooled_y = sum(rows[a]["n_users"] * rows[a]["mean_y"] for a in (0, 1))
    pooled_adj = sum(rows[a]["n_users"] * rows[a]["mean_y_adj"] for a in (0, 1))
    assert abs(pooled_y - pooled_adj) <= 1e-3  # adjustment sums to zero pooled


def test_centroid_drift_matches_numpy(spark):
    """Per-label centroid cosine/L2 recomputed with numpy over the
    parity split must agree at 6dp; counts must partition the label."""
    import numpy as np

    rows = {r["label"]: r for r in QUERIES["embeddings_centroid_drift"](spark, SF_ORACLE).collect()}
    emb = load(spark, SF_ORACLE, "embeddings").collect()
    by: dict[tuple, list] = {}
    for e in emb:
        by.setdefault((e["label"], e["vec_id"] % 2), []).append(
            np.array(e["embedding"], dtype=np.float64)
        )
    for lbl, r in rows.items():
        a = np.mean(by[(lbl, 0)], axis=0)
        b = np.mean(by[(lbl, 1)], axis=0)
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        l2 = float(np.linalg.norm(a - b))
        assert abs(r["centroid_cos"] - round(cos, 6)) <= 1e-5, lbl
        assert abs(r["centroid_l2"] - round(l2, 6)) <= 1e-5, lbl
        assert r["n_a"] == len(by[(lbl, 0)]) and r["n_b"] == len(by[(lbl, 1)])
        assert -1.0 <= r["centroid_cos"] <= 1.0


def test_granger_lite_matches_numpy_ols(spark):
    """Refit both regressions with numpy lstsq over the SAME
    standardized series and check RSS and the F statistic at 4dp
    (lstsq uses a different solve path, so exact 6dp equality is not
    the contract - the closed-form normal equations are)."""
    import numpy as np

    [r] = QUERIES["ts_granger_lite"](spark, SF_ORACLE).collect()
    daily = sorted(
        load(spark, SF_ORACLE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"), F.count(F.lit(1)).alias("cnt"))
        .collect(),
        key=lambda x: x["day"],
    )
    rev = np.array([d["rev"] for d in daily])
    cnt = np.array([d["cnt"] for d in daily], dtype=float)
    zr = np.round((rev - round(rev.mean(), 4)) / round(rev.std(), 4), 6)
    zc = np.round((cnt - round(cnt.mean(), 4)) / round(cnt.std(), 4), 6)
    y, y1, x1 = zr[1:], zr[:-1], zc[:-1]
    n = len(y)
    assert r["n_obs"] == n
    one = np.ones(n)
    rss_r = np.linalg.lstsq(np.c_[one, y1], y, rcond=None)[1][0]
    rss_u = np.linalg.lstsq(np.c_[one, y1, x1], y, rcond=None)[1][0]
    assert abs(r["rss_restricted"] - rss_r) <= 1e-3
    assert abs(r["rss_unrestricted"] - rss_u) <= 1e-3
    f = (rss_r - rss_u) / (rss_u / (n - 3))
    assert abs(r["f_stat"] - f) <= 1e-3
    assert r["reject"] == (r["f_stat"] > 3.841459)


def test_noisy_topk_is_replayable_and_plausible(spark):
    """Two runs must release the SAME top-k (seeded noise - the DP
    release contract), ranks must be dense 1..k, and every released
    category must be within noise range of the true top counts."""
    a = QUERIES["privacy_dp_noisy_topk"](spark, SF_ORACLE).collect()
    b = QUERIES["privacy_dp_noisy_topk"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert sorted(r["rnk"] for r in a) == [1, 2, 3]
    true = {
        r["p_type"]: r["n"]
        for r in load(spark, SF_ORACLE, "part").groupBy("p_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in a:
        # Gumbel(scale 2) noise is essentially within [-6, 14]
        assert abs(r["noisy_score"] - true[r["p_type"]]) < 20.0, r


def test_orphan_files_preview_matches_vacuum_semantics(spark):
    """Exactly one orphan (files/p1, stranded by the v1 rewrite), live
    set matches the log replay, and counts partition the fixture:
    p0 + p1 rows == the original v0 table."""
    rows = {r["rel_path"]: r for r in QUERIES["table_log_orphan_files"](spark, SF_ORACLE).collect()}
    assert set(rows) == {"files/p0", "files/p1", "files/p2"}
    assert rows["files/p1"]["status"] == "orphan"
    assert rows["files/p0"]["status"] == rows["files/p2"]["status"] == "live"
    assert rows["files/p1"]["n_rows"] == rows["files/p2"]["n_rows"]  # same odd keys


def test_order_by_all_expands_left_to_right(spark):
    """The collected result must arrive sorted by every output column
    left-to-right — the ALL expansion contract (result-compare is
    order-insensitive, so only this test sees the order)."""
    rows = [tuple(r) for r in QUERIES["sql_order_by_all"](spark, SF_ORACLE).collect()]
    assert rows == sorted(rows)
    assert len(rows) >= 6


def test_star_except_drops_exactly_the_excluded_column(spark):
    df = QUERIES["sql_star_except"](spark, SF_ORACLE)
    full = set(load(spark, SF_ORACLE, "documents").columns)
    assert set(df.columns) == full - {"text"}


def test_top_percent_adapts_to_group_size(spark):
    """Per group: every kept row's price >= every dropped row's price
    (with key tie-break), and the kept count tracks ~10% of the group
    (floor/ceil window; percent_rank counts the top row as 0)."""
    rows = QUERIES["win_top_percent_per_group"](spark, SF_ORACLE).collect()
    orders = load(spark, SF_ORACLE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    by_grp: dict[str, list] = {}
    for o in orders:
        by_grp.setdefault(o["o_orderpriority"], []).append(o)
    kept: dict[str, set] = {}
    for r in rows:
        kept.setdefault(r["o_orderpriority"], set()).add(r["o_orderkey"])
    for g, members in by_grp.items():
        n = len(members)
        k = len(kept.get(g, ()))
        # pct_rank <= p keeps floor(p*(n-1)) + 1 rows exactly
        assert k == int(0.10 * (n - 1)) + 1, (g, n, k)
        ranked = sorted(members, key=lambda o: (-o["o_totalprice"], o["o_orderkey"]))
        assert {o["o_orderkey"] for o in ranked[:k]} == kept[g]


def test_bigram_perplexity_matches_pure_python(spark):
    """Exact recompute: per-language bigram/context Counters + add-1
    smoothing in pure Python must reproduce every doc's ppl at 6dp,
    and n_bigrams must be n_words - 1. (No bigram-vs-unigram ordering
    assert: on this 31-word vocabulary the bigram LM is BETTER on
    average — contexts aren't sparse — which is itself evidence the
    operator models order, not just frequency.)"""
    import math
    from collections import Counter

    rows = QUERIES["text_bigram_perplexity"](spark, SF_ORACLE).collect()
    docs = load(spark, SF_ORACLE, "documents").collect()
    bc: dict[str, Counter] = {}
    uc: dict[str, Counter] = {}
    for d in docs:
        t = d["text"].split(" ")
        bc.setdefault(d["lang"], Counter()).update(zip(t, t[1:]))
        uc.setdefault(d["lang"], Counter()).update(t[:-1])
    vocab = {lang: len(c) for lang, c in uc.items()}
    text_by_id = {d["doc_id"]: d for d in docs}
    assert len(rows) == len(docs)
    for r in rows:
        d = text_by_id[r["doc_id"]]
        t = d["text"].split(" ")
        assert r["n_bigrams"] == len(t) - 1
        lp = [
            math.log((bc[d["lang"]][(a, b)] + 1.0) / (uc[d["lang"]][a] + vocab[d["lang"]]))
            for a, b in zip(t, t[1:])
        ]
        ppl = math.exp(-sum(lp) / len(lp))
        assert abs(r["ppl_bigram"] - round(ppl, 6)) <= 1e-5, r


def test_bot_rules_every_rule_bites_and_score_is_sum(spark):
    rows = QUERIES["event_bot_rules"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["bot_score"] == int(r["hit_burst"]) + int(r["hit_night"]) + int(r["hit_error"])
        assert r["flagged"] == (r["bot_score"] >= 2)
    for f in ["hit_burst", "hit_night", "hit_error"]:
        assert {r[f] for r in rows} == {True, False}, f
    flagged = sum(r["flagged"] for r in rows)
    assert 0 < flagged < len(rows)


def test_adamic_adar_matches_python_and_excludes_edges(spark):
    """AA scores recomputed from the edge list in pure Python must
    match at 6dp; no candidate pair may already be an edge; hub
    middles must contribute less than rare middles."""
    import math

    from basis_spark.operators.joins import proximity_edges

    rows = QUERIES["graph_adamic_adar"](spark, SF_ORACLE).collect()
    edges = {(e["u"], e["v"]) for e in proximity_edges(spark, SF_ORACLE).collect()}
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect: dict[tuple, float] = {}
    for v, nbrs in adj.items():
        if len(nbrs) < 2:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for k in range(i + 1, len(ns)):
                pair = (ns[i], ns[k])
                expect[pair] = expect.get(pair, 0.0) + 1.0 / math.log(len(adj[v]))
    expect = {p: s for p, s in expect.items() if p not in edges}
    got = {(r["u"], r["w"]): r["adamic_adar"] for r in rows}
    assert set(got) == set(expect)
    for p, s in expect.items():
        assert abs(got[p] - round(s, 6)) <= 1e-6, p
    assert all((r["u"], r["w"]) not in edges for r in rows)


def test_pacf_matches_statsmodels_free_reference(spark):
    """Durbin-Levinson recomputed in pure Python from the same biased
    ACF must reproduce every pacf value at 6dp; lag-1 PACF must equal
    the lag-1 ACF by definition."""
    rows = {r["lag"]: r for r in QUERIES["ts_pacf_durbin"](spark, SF_ORACLE).collect()}
    daily = sorted(
        load(spark, SF_ORACLE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .collect(),
        key=lambda x: x["day"],
    )
    xs = [d["rev"] for d in daily]
    n = len(xs)
    m = sum(xs) / n
    den = sum((x - m) ** 2 for x in xs)
    rho = [
        round(sum((xs[i] - m) * (xs[i - k] - m) for i in range(k, n)) / den, 6)
        for k in (1, 2, 3)
    ]
    r1, r2, r3 = rho
    p1 = r1
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    a21 = r1 * (1 - p2)
    p3 = (r3 - a21 * r2 - p2 * r1) / (1 - a21 * r1 - p2 * r2)
    for lag, expect in ((1, p1), (2, p2), (3, p3)):
        assert abs(rows[lag]["pacf"] - round(expect, 6)) <= 1e-5, lag
        assert rows[lag]["significant"] == (abs(rows[lag]["pacf"]) > rows[lag]["se_bound"])


def test_mcnemar_cells_and_statistic(spark):
    """Cells recomputed from the raw events must match; chi2 must be
    (b-c)^2/(b+c); the continuity-corrected value is never larger."""
    from basis_spark.operators.stats import _CUPED_SPLIT, _MCNEMAR_THR

    [r] = QUERIES["stat_mcnemar_paired"](spark, SF_ORACLE).collect()
    ev = load(spark, SF_ORACLE, "events").collect()
    pre: dict[int, int] = {}
    post: dict[int, int] = {}
    for e in ev:
        d = pre if e["ts"].isoformat() < _CUPED_SPLIT else post
        d[e["user_id"]] = max(d.get(e["user_id"], 0), int(e["value"] > _MCNEMAR_THR))
    users = set(pre) | set(post)
    b = sum(1 for u in users if pre.get(u, 0) == 1 and post.get(u, 0) == 0)
    c = sum(1 for u in users if pre.get(u, 0) == 0 and post.get(u, 0) == 1)
    assert (r["b"], r["c"]) == (b, c) and b + c > 0
    assert abs(r["chi2"] - round((b - c) ** 2 / (b + c), 6)) <= 1e-6
    assert r["chi2_cc"] <= r["chi2"] + 1e-9


def test_band_tuning_scurve_is_monotone_in_geometry(spark):
    """The S-curve math must behave: more rows per band (same K) means
    LOWER recall at a fixed threshold but also lower FP rate — the
    grid must be monotone in r on both columns; every recall is in
    [0, 1]; true-pair counts identical across configs."""
    rows = sorted(
        QUERIES["dedup_minhash_band_tuning"](spark, SF_ORACLE).collect(),
        key=lambda r: r["rows_per_band"],
    )
    assert len(rows) == 4
    assert len({r["n_true_pairs"] for r in rows}) == 1
    recalls = [r["expected_recall"] for r in rows]
    fps = [r["expected_fp_rate"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in recalls + fps)
    assert recalls == sorted(recalls, reverse=True), recalls
    assert fps == sorted(fps, reverse=True), fps
    # The design reading the table exists to give: at a J>=0.5 true
    # threshold only the shallow 64x4 geometry recalls the mass
    # (>0.95) — and it pays for it in false candidates (>0.5) — while
    # the repo's deployed 32x8 geometry is correctly shown as WRONG
    # for 0.5 (its S-curve midpoint is (1/32)^(1/8) ~ 0.65; it is
    # deployed for the 0.62+ keys, not this threshold).
    shallow = next(r for r in rows if r["n_bands"] == 64)
    deployed = next(r for r in rows if r["n_bands"] == 32)
    assert shallow["expected_recall"] > 0.95
    assert shallow["expected_fp_rate"] > 0.5
    assert deployed["expected_recall"] < 0.5
    assert deployed["expected_fp_rate"] < 0.1


def test_rouge1_matches_pure_python_and_brackets_bleu(spark):
    """ROUGE-1 recomputed with Counters must match at 6dp; F1 must be
    the harmonic mean of the emitted precision/recall (up to rounding)
    and sit between min and max of them."""
    from collections import Counter

    docs = {r["doc_id"]: r for r in load(spark, SF_ORACLE, "documents").collect()}
    refs: dict[tuple, int] = {}
    for r in docs.values():
        key = (r["lang"], r["source"])
        refs[key] = min(refs.get(key, r["doc_id"]), r["doc_id"])
    for r in QUERIES["eval_rouge1_pairs"](spark, SF_ORACLE).collect():
        cand = docs[r["doc_id"]]["text"].split(" ")
        ref = docs[refs[(r["lang"], r["source"])]]["text"].split(" ")
        cu, ru = Counter(cand), Counter(ref)
        ov = sum(min(c, ru[g]) for g, c in cu.items())
        assert abs(r["rouge1_recall"] - round(ov / len(ref), 6)) <= 1e-6, r
        assert abs(r["rouge1_precision"] - round(ov / len(cand), 6)) <= 1e-6, r
        assert abs(r["rouge1_f1"] - round(2 * ov / (len(ref) + len(cand)), 6)) <= 1e-6
        if ov:
            lo = min(r["rouge1_recall"], r["rouge1_precision"])
            hi = max(r["rouge1_recall"], r["rouge1_precision"])
            assert lo - 1e-9 <= r["rouge1_f1"] <= hi + 1e-9


def test_mattr_is_length_stable_unlike_ttr(spark):
    """The metric's reason to exist: plain TTR falls with document
    length on this fixture (repeating 31-word vocabulary) while MATTR
    must stay comparatively flat — correlation with n_words must be
    weaker for MATTR than for TTR; windows count must be
    max(1, n-W+1)."""
    import numpy as np

    from basis_spark.operators.llm import _MATTR_WIN

    rows = QUERIES["text_mattr_diversity"](spark, SF_ORACLE).collect()
    docs = {r["doc_id"]: r["text"] for r in load(spark, SF_ORACLE, "documents").collect()}
    n = np.array([r["n_words"] for r in rows], dtype=float)
    mattr = np.array([r["mattr"] for r in rows])
    ttr = np.array([len(set(docs[r["doc_id"]].split(" "))) / r["n_words"] for r in rows])
    for r in rows:
        assert r["n_windows"] == max(1, r["n_words"] - _MATTR_WIN + 1)
        assert 0.0 < r["mattr"] <= 1.0
    assert abs(np.corrcoef(n, mattr)[0, 1]) < abs(np.corrcoef(n, ttr)[0, 1])


def test_theta_forecast_matches_python_recursion(spark):
    """Replay the whole theta pipeline (OLS -> theta line -> SES ->
    combination forecast) in pure Python per series and require
    bit-identical doubles (the holt determinism contract: no output
    rounding anywhere)."""
    rows = QUERIES["ts_theta_forecast"](spark, SF_ORACLE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type) == 5
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["d"])
        ys = [r["y"] for r in rs]
        nn = len(ys)
        rn = list(range(1, nn + 1))
        mrn = sum(rn) / nn
        my = sum(ys) / nn
        mrny = sum(i * y for i, y in zip(rn, ys)) / nn
        mrn2 = sum(i * i for i in rn) / nn
        b = round((mrny - mrn * my) / (mrn2 - mrn * mrn), 6)
        a = round(my - (mrny - mrn * my) / (mrn2 - mrn * mrn) * mrn, 6)
        ses = None
        for i, r in enumerate(rs):
            z = 2.0 * ys[i] - (a + b * (i + 1))
            ses = z if ses is None else 0.5 * z + 0.5 * ses
            assert r["z"] == z, (et, i)
            assert r["ses"] == ses, (et, i)
            assert r["fc1"] == 0.5 * ses + 0.5 * (a + b * (i + 2)), (et, i)


def test_clustering_depth_bounds_and_self_overlap(spark):
    """Every row group overlaps itself (depth >= 1), depth <= number
    of row groups, and recomputing depths from the emitted intervals
    must agree (the oracle checks values; this checks internal
    consistency of the interval semantics)."""
    rows = QUERIES["maintenance_clustering_depth"](spark, SF_ORACLE).collect()
    assert rows
    n = len(rows)
    iv = {r["row_group"]: (r["min_key"], r["max_key"]) for r in rows}
    for r in rows:
        lo, hi = iv[r["row_group"]]
        expect = sum(1 for lo2, hi2 in iv.values() if lo2 <= hi and hi2 >= lo)
        assert r["depth"] == expect and 1 <= r["depth"] <= n, r


def test_binseg_split_is_argmax_of_python_scan(spark):
    """Recompute delta(k) for every admissible split in pure Python
    over the same standardized series and require the operator's split
    to be the argmax (ties to smallest k)."""
    [r] = QUERIES["ts_changepoint_binseg"](spark, SF_ORACLE).collect()
    daily = sorted(
        load(spark, SF_ORACLE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .collect(),
        key=lambda x: x["day"],
    )
    xs = [d["rev"] for d in daily]
    n = len(xs)
    m = round(sum(xs) / n, 4)
    sd = round((sum(x * x for x in xs) / n - (sum(xs) / n) ** 2) ** 0.5, 4)
    zs = [round((x - m) / sd, 6) for x in xs]
    t1, t2 = sum(zs), sum(z * z for z in zs)
    best = None
    s1 = s2 = 0.0
    for k in range(1, n + 1):
        s1 += zs[k - 1]
        s2 += zs[k - 1] ** 2
        if not (5 <= k <= n - 5):
            continue
        sse_l = s2 - s1 * s1 / k
        sse_r = (t2 - s2) - (t1 - s1) ** 2 / (n - k)
        delta = round((t2 - sse_l - sse_r) - (t2 - t1 * t1 / n), 6)
        if best is None or delta > best[1] + 1e-12:
            best = (k, delta)
    assert r["split_index"] == best[0]
    assert abs(r["delta_sse"] - best[1]) <= 1e-4
    assert r["n_days"] == n


def test_nelson_aalen_brackets_kaplan_meier(spark):
    """exp(-H(t)) >= KM S(t) at every event time (the classical
    inequality), cum_hazard is nondecreasing, and the variance is
    positive and nondecreasing."""
    na = sorted(
        QUERIES["survival_nelson_aalen"](spark, SF_ORACLE).collect(),
        key=lambda r: r["dur_h"],
    )
    km = {
        r["dur_h"]: r["survival"]
        for r in QUERIES["survival_kaplan_meier"](spark, SF_ORACLE).collect()
    }
    assert na and set(r["dur_h"] for r in na) == set(km)
    prev_h, prev_v = -1.0, -1.0
    for r in na:
        assert r["cum_hazard"] >= prev_h - 1e-9
        assert r["hazard_var"] >= max(prev_v, 0.0) - 1e-9
        prev_h, prev_v = r["cum_hazard"], r["hazard_var"]
        assert r["na_survival"] >= km[r["dur_h"]] - 1e-6, r


def test_encoding_stats_cover_every_column_chunk(spark):
    """One row per (row_group, column); ratios consistent with the
    emitted byte counts; dictionary encoding present on the
    low-cardinality status column."""
    rows = QUERIES["scan_parquet_encoding_stats"](spark, SF_ORACLE).collect()
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{SF_ORACLE}/orders.parquet").metadata
    assert len(rows) == md.num_row_groups * md.num_columns
    for r in rows:
        assert abs(
            r["compression_ratio"] - round(r["uncompressed_bytes"] / r["compressed_bytes"], 6)
        ) <= 1e-6
    status = [r for r in rows if r["column_name"] == "o_orderstatus"]
    assert status and all("RLE_DICTIONARY" in r["encodings"] for r in status)


def test_tost_agrees_with_welch_inputs(spark):
    """TOST's diff/se must match a numpy recompute from the raw
    groups. On this fixture the click-vs-purchase mean gap (~2.64) is
    LARGER than the ±2.0 margin, so the honest verdict is NOT
    equivalent — and asymmetrically: the lower one-sided test clears
    while the upper one fails (the gap is positive), which is exactly
    the refusal TOST exists to give where a plain t-test would shrug
    "not significant"."""
    import numpy as np

    [r] = QUERIES["stat_tost_equivalence"](spark, SF_ORACLE).collect()
    ev = load(spark, SF_ORACLE, "events").collect()
    a = np.array([e["value"] for e in ev if e["event_type"] == "click"])
    b = np.array([e["value"] for e in ev if e["event_type"] == "purchase"])
    diff = a.mean() - b.mean()
    se = np.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
    assert (r["n0"], r["n1"]) == (len(a), len(b))
    assert abs(r["diff"] - round(float(diff), 6)) <= 1e-5
    assert abs(r["se"] - round(float(se), 6)) <= 1e-5
    assert r["equivalent"] == (r["t_lower"] > 1.644854 and r["t_upper"] > 1.644854)
    assert not r["equivalent"]  # gap 2.64 exceeds the 2.0 margin
    assert r["t_lower"] > 1.644854 and r["t_upper"] < 1.644854  # one-sided asymmetry


def test_filter_ablation_accounts_every_rejection(spark):
    """Unique rejections can never exceed total rejections per filter;
    totals must match the per-key operators they ablate
    (text_gopher_quality_rules flags, the kappa length band); and at
    least one filter must carry nonzero unique mass (otherwise the
    stack is fully redundant and the table would be flat zeros)."""
    rows = {r["filter_name"]: r for r in QUERIES["corpus_filter_ablation"](spark, SF_ORACLE).collect()}
    assert set(rows) == {"len", "mwl", "stop", "ttr", "band"}
    gopher = QUERIES["text_gopher_quality_rules"](spark, SF_ORACLE).collect()
    expect = {
        "len": sum(not r["pass_len"] for r in gopher),
        "mwl": sum(not r["pass_mwl"] for r in gopher),
        "stop": sum(not r["pass_stop"] for r in gopher),
        "ttr": sum(not r["pass_ttr"] for r in gopher),
    }
    for name, n in expect.items():
        assert rows[name]["n_rejected"] == n, name
    for r in rows.values():
        assert 0 <= r["n_uniquely_rejected"] <= r["n_rejected"]
    assert any(r["n_uniquely_rejected"] > 0 for r in rows.values())


def test_stream_topk_ranks_are_dense_and_correct(spark):
    """Per window: ranks are 1..3 (or fewer when fewer types exist),
    counts nonincreasing in rank, and the top-1 matches a brute
    recount of that window."""
    rows = QUERIES["stream_topk_per_window"](spark, SF_ORACLE).collect()
    by_ws: dict = {}
    for r in rows:
        by_ws.setdefault(r["ws"], []).append(r)
    ev = load(spark, SF_ORACLE, "events").collect()
    from collections import Counter

    truth: dict = {}
    for e in ev:
        ws = e["ts"].replace(minute=0, second=0, microsecond=0)
        truth.setdefault(ws, Counter())[e["event_type"]] += 1
    assert set(by_ws) == set(truth)
    for ws, rs in by_ws.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i]["n"] >= rs[i + 1]["n"] for i in range(len(rs) - 1))
        best_n = max(truth[ws].values())
        expect_top = min(t for t, c in truth[ws].items() if c == best_n)
        assert (rs[0]["event_type"], rs[0]["n"]) == (expect_top, best_n), ws


def test_dp_quantile_release_is_replayable_and_near_median(spark):
    """Two runs release the same bin (seeded noise); the utility-loss
    |released - true| must be small (the exponential mechanism
    concentrates near the argmax — on this fixture within a few
    bins)."""
    [a] = QUERIES["privacy_dp_quantile"](spark, SF_ORACLE).collect()
    [b] = QUERIES["privacy_dp_quantile"](spark, SF_ORACLE).collect()
    assert tuple(a) == tuple(b)
    assert abs(a["released_bin"] - a["true_bin"]) <= 5
    assert a["bin_hi"] - a["bin_lo"] == 100.0


def test_minhash_calibration_is_unbiased_within_mc_error(spark):
    """Across bands the estimate must track exact J: |bias| bounded by
    ~2 standard errors of a K=16 Bernoulli mean over the band's pairs,
    estimates in [0,1], and bands must cover the sample's J range."""
    rows = QUERIES["dedup_minhash_estimator_calibration"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mean_estimate"] <= 1.0
        p = max(min(r["mean_exact"], 1 - 1e-9), 1e-9)
        se = (p * (1 - p) / (16 * r["n_pairs"])) ** 0.5
        assert abs(r["bias"]) <= max(3 * se, 0.08), r
    assert len(rows) >= 3  # the sample spans several J deciles


def test_tile_stats_match_direct_decode(spark):
    """Recompute every doc's tile stats straight from the synthetic
    pixel formula; 4 tiles per doc; min <= mean <= max."""
    rows = QUERIES["multimodal_image_tile_stats"](spark, SF_ORACLE).collect()
    docs = [r["doc_id"] for r in load(spark, SF_ORACLE, "documents").select("doc_id").collect()]
    assert len(rows) == 4 * len(docs)
    got = {(r["doc_id"], r["tile_row"], r["tile_col"]): r for r in rows}
    for d in docs[:50]:
        tiles: dict = {}
        for i in range(64):
            y = (
                77 * ((d * 31 + i) % 256)
                + 150 * ((d * 31 + i + 85) % 256)
                + 29 * ((d * 31 + i + 170) % 256)
            ) >> 8
            tiles.setdefault((i // 8 // 4, (i % 8) // 4), []).append(y)
        for (tr, tc), ys in tiles.items():
            r = got[(d, tr, tc)]
            assert (r["luma_sum"], r["luma_min"], r["luma_max"]) == (
                sum(ys), min(ys), max(ys)
            ), (d, tr, tc)
            assert r["luma_min"] <= r["luma_sum"] / 16 <= r["luma_max"]


def test_qini_cells_partition_users_and_null_on_synthetic_arms(spark):
    """Decile cells must partition the user base, the qini fold must
    equal a pure-Python recompute from the cells, and on parity-split
    arms (no real treatment) the final qini must be near zero relative
    to the total conversion mass."""
    rows = sorted(QUERIES["stat_qini_uplift_deciles"](spark, SF_ORACLE).collect(), key=lambda r: r["decile"])
    n_users = load(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    assert sum(r["n_t"] + r["n_c"] for r in rows) == n_users
    ct = cc = nt = nc = 0
    for r in rows:
        ct += r["x_t"]; cc += r["x_c"]; nt += r["n_t"]; nc += r["n_c"]
        if r["qini"] is not None and nc > 0:
            assert abs(r["qini"] - round(ct - cc * (nt / nc), 6)) <= 1e-6, r
    total_conv = ct + cc
    assert abs(rows[-1]["qini"]) <= 0.2 * total_conv  # null-effect arms


def test_length_batching_beats_random_and_conserves_tokens(spark):
    """The operator's thesis: length-sorted batching wastes strictly
    less padding than hash-random batching; both strategies conserve
    the real token mass; waste fractions in [0, 1)."""
    rows = {r["strategy"]: r for r in QUERIES["corpus_length_batching_waste"](spark, SF_ORACLE).collect()}
    assert set(rows) == {"length_sorted", "hash_random"}
    total = load(spark, SF_ORACLE, "documents").select(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    for r in rows.values():
        assert r["real_tokens"] == total
        assert r["padded_tokens"] >= r["real_tokens"]
        assert 0.0 <= r["padding_waste"] < 1.0
    assert rows["length_sorted"]["padding_waste"] < rows["hash_random"]["padding_waste"]


def test_brier_decomposition_identity_and_numpy(spark):
    """brier matches a numpy recompute exactly; the Murphy identity
    holds up to the within-bin variance residual (binned continuous
    preds); all components nonnegative."""
    import numpy as np

    [r] = QUERIES["eval_brier_decomposition"](spark, SF_ORACLE).collect()
    ev = load(spark, SF_ORACLE, "events").collect()
    pred = np.round(np.minimum([e["value"] for e in ev], 100.0) / 100.0, 6)
    y = np.array([1.0 if e["event_type"] == "purchase" else 0.0 for e in ev])
    assert abs(r["brier"] - round(float(np.mean((pred - y) ** 2)), 6)) <= 1e-6
    for k in ("reliability", "resolution", "uncertainty"):
        assert r[k] >= 0.0
    # residual = within-bin pred variance; bins are 0.1 wide -> <= 0.01/4
    assert abs(r["brier"] - r["decomposed"]) <= 0.0025 + 1e-6


def test_source_jsd_bounds_and_scipy_free_reference(spark):
    """JSD in [0, ln 2]; recompute one source's divergence with plain
    Counters (including absent-word closed form) and match at 6dp."""
    import math
    from collections import Counter

    rows = {r["source"]: r for r in QUERIES["text_source_jsd"](spark, SF_ORACLE).collect()}
    docs = load(spark, SF_ORACLE, "documents").collect()
    corpus = Counter()
    per_src: dict[str, Counter] = {}
    for d in docs:
        t = d["text"].split(" ")
        corpus.update(t)
        per_src.setdefault(d["source"], Counter()).update(t)
    tq = sum(corpus.values())
    for src, cnt in list(per_src.items())[:5]:
        tp = sum(cnt.values())
        jsd = 0.0
        q_cov = 0.0
        for w, c in cnt.items():
            p, q = c / tp, corpus[w] / tq
            m = (p + q) / 2
            jsd += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
            q_cov += 0.5 * q
        jsd += 0.5 * (1.0 - q_cov) * math.log(2.0)
        assert abs(rows[src]["jsd"] - round(jsd, 6)) <= 1e-5, src
        assert rows[src]["n_tokens"] == tp
    for r in rows.values():
        assert 0.0 <= r["jsd"] <= math.log(2.0) + 1e-9


def test_hard_negatives_exclude_anchor_label_and_order(spark):
    """No mined negative may share the anchor's label, ranks are dense
    1..k, cosines nonincreasing, and the top negative matches a brute
    numpy scan."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = QUERIES["similarity_hard_negatives"](spark, SF_ORACLE).collect()
    by_q: dict = {}
    for r in rows:
        assert r["neg_label"] != r["q_label"], r
        by_q.setdefault(r["q_vec_id"], []).append(r)
    assert len(by_q) == 20
    t = pq.read_table(f"{SF_ORACLE}/embeddings.parquet")
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = list(t.column("vec_id").to_pylist())
    labels = list(t.column("label").to_pylist())
    idx = {v: i for i, v in enumerate(ids)}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i]["cos"] >= rs[i + 1]["cos"] for i in range(len(rs) - 1))
        ql = labels[idx[q]]
        cos = X @ X[idx[q]]
        cand = [
            (round(float(cos[i]), 6), ids[i])
            for i in range(len(ids))
            if ids[i] != q and labels[i] != ql
        ]
        best = max(cand, key=lambda t: (t[0], -t[1]))
        assert (rs[0]["cos"], rs[0]["neg_id"]) == best, q


def test_silence_trim_matches_generator(spark):
    """first/last/kept recomputed from the synthetic PCM formula for
    every doc; kept span brackets every loud sample."""
    rows = QUERIES["multimodal_audio_silence_trim"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        d = r["doc_id"]
        loud = [
            k
            for k in range(64)
            if abs(((d * 37 + k * 11) % 2001) - 1000) >= 800
        ]
        if loud:
            assert (r["first_loud"], r["last_loud"]) == (loud[0], loud[-1]), d
            assert r["n_kept"] == loud[-1] - loud[0] + 1
        else:
            assert (r["first_loud"], r["last_loud"], r["n_kept"]) == (-1, -1, 0)


def test_posthoc_pairs_cover_and_match_numpy(spark):
    """All k(k-1)/2 pairs present; diff/se match a numpy pooled-MSE
    recompute; Bonferroni p = min(1, m*p_raw); reject iff p <= .05."""
    import numpy as np

    rows = QUERIES["stat_posthoc_pairwise_bonferroni"](spark, SF_ORACLE).collect()
    ev = load(spark, SF_ORACLE, "events").collect()
    groups: dict[str, list] = {}
    for e in ev:
        groups.setdefault(e["event_type"], []).append(e["value"])
    k = len(groups)
    assert len(rows) == k * (k - 1) // 2
    mse = sum(
        float(np.sum((np.array(v) - np.mean(v)) ** 2)) for v in groups.values()
    ) / sum(len(v) - 1 for v in groups.values())
    for r in rows:
        a, b = groups[r["grp_a"]], groups[r["grp_b"]]
        diff = float(np.mean(a) - np.mean(b))
        se = (mse * (1 / len(a) + 1 / len(b))) ** 0.5
        assert abs(r["diff"] - round(diff, 6)) <= 1e-5
        assert abs(r["se"] - round(se, 6)) <= 1e-5
        # operator multiplies the UNROUNDED p_raw; comparing against
        # m * rounded(p_raw) carries up to m * 5e-7 slack
        assert abs(r["p_bonferroni"] - round(min(1.0, len(rows) * r["p_raw"]), 6)) <= 1e-5
        assert r["reject"] == (r["p_bonferroni"] <= 0.05)


def test_g_test_tracks_chi_square(spark):
    """G and chi2 are asymptotically equivalent on the same table: same
    dof, and the statistics agree within ~15% on these cell counts; G
    recomputed with scipy-free Python matches at 4dp."""
    import math
    from collections import Counter

    [g] = QUERIES["stat_g_test_loglik"](spark, SF_ORACLE).collect()
    [c] = QUERIES["stat_chi_square"](spark, SF_ORACLE).collect()
    assert g["dof"] == c["dof"]
    assert abs(g["g_stat"] - c["chi2"]) <= 0.15 * max(g["g_stat"], c["chi2"])
    ev = load(spark, SF_ORACLE, "events").collect()
    cells = Counter((e["event_type"], e["ts"].isoweekday()) for e in ev)
    rows = Counter()
    cols = Counter()
    for (t, d), n in cells.items():
        rows[t] += n
        cols[d] += n
    n_tot = sum(cells.values())
    gg = 2.0 * sum(
        o * math.log(o / (rows[t] * cols[d] / n_tot)) for (t, d), o in cells.items()
    )
    assert abs(g["g_stat"] - round(gg, 6)) <= 1e-4
    assert g["n_cells"] == len(cells)


def test_dp_clipped_mean_bias_and_replayability(spark):
    """Same release on rerun; |dp_mean - true clipped mean| bounded by
    plausible Laplace(C/n) noise; n_clipped matches a recount."""
    a = sorted(map(tuple, QUERIES["privacy_dp_clipped_mean"](spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, QUERIES["privacy_dp_clipped_mean"](spark, SF_ORACLE).collect()))
    assert a == b
    ev = load(spark, SF_ORACLE, "events").collect()
    from collections import defaultdict

    vals = defaultdict(list)
    for e in ev:
        vals[e["event_type"]].append(e["value"])
    for et, n, n_clipped, dp_mean in a:
        v = vals[et]
        assert n == len(v)
        assert n_clipped == sum(1 for x in v if x > 200.0)
        clipped = sum(min(x, 200.0) for x in v) / len(v)
        # Laplace(b=C/n): |noise| < 10*b except w.p. ~5e-5
        assert abs(dp_mean - clipped) <= 10 * 200.0 / n, et


def test_schema_enforcement_rejects_without_committing(spark):
    """Rejected batches must leave the log untouched (no version
    advance, no orphan object under files/append_*), and the
    conforming append must be readable in the new snapshot."""
    import os

    from basis_spark.io import scratch_path
    from basis_spark.operators.table_log import _COLS, _live_objects, _read_log

    rows = {r["batch_name"]: r for r in QUERIES["table_log_schema_enforcement"](spark, SF_ORACLE).collect()}
    assert rows["drifted_rename"]["status"] == "rejected"
    assert rows["drifted_type"]["status"] == "rejected"
    assert rows["conforming"]["status"] == "committed"
    assert rows["conforming"]["version_after"] == 2
    table_dir = scratch_path(spark, "txn_enforce", SF_ORACLE)
    versions = [rec["version"] for rec in _read_log(table_dir)]
    assert versions == [0, 1, 2]  # exactly ONE append landed
    files = os.listdir(os.path.join(table_dir, "files"))
    assert sorted(f for f in files if f.startswith("append_")) == ["append_conforming"]
    snap = spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)
    p_rows = load(spark, SF_ORACLE, "orders").filter(F.col("o_orderstatus") == "P").count()
    base = spark.read.parquet(*_live_objects(table_dir, as_of=1)).count()
    assert snap.count() == base + p_rows
