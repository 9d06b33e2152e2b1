"""Semantic invariants for the round-2b additions: Misra–Gries heavy
hitters, CUSUM drift, triangle census, sorted-neighborhood dedup,
readability, and per-dimension embedding stats.

Parity tests prove Spark == DuckDB; these prove the operators compute
what they claim on constructed inputs where the answer is known.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mbta_etl_spark.operators import frequent, timeseries
from mbta_etl_spark.plans import llm_registry, registry
from tests.conftest import SF_DIR_SMALL


# --- Misra–Gries heavy hitters ---------------------------------------------


def test_mg_exact_on_skewed_stream(spark):
    # 60% a, 25% b, rest singletons: phi=0.2 must return exactly {a, b}
    rows = (
        [("a",)] * 60 + [("b",)] * 25 + [(f"z{i}",) for i in range(15)]
    )
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {
        r.k: r.n_occurrences
        for r in frequent.heavy_hitters_exact(df, "k", 0.2).collect()
    }
    assert got == {"a": 60, "b": 25}


def test_mg_counts_are_exact_not_sketch_estimates(spark):
    # adversarial for plain MG (many distinct keys, capacity 5): the
    # two-pass recount must still report the TRUE count for the winner
    rows = [("hot",)] * 40 + [(f"c{i % 37}",) for i in range(160)]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    out = frequent.heavy_hitters_exact(df, "k", 0.19).collect()
    assert [(r.k, r.n_occurrences) for r in out] == [("hot", 40)]
    assert abs(out[0].share - 0.2) < 1e-6


def test_mg_long_key_type(spark):
    df = spark.createDataFrame([(7,)] * 9 + [(1,), (2,)], "k long")
    out = frequent.heavy_hitters_exact(df, "k", 0.5).collect()
    assert [(r.k, r.n_occurrences) for r in out] == [(7, 9)]


def test_t18_registry_nonempty_and_share_bounded(spark):
    rows = llm_registry.t18_heavy_hitter_tokens(spark, SF_DIR_SMALL).collect()
    assert rows, "synthetic vocab has stable >2% tokens"
    for r in rows:
        assert r.share > llm_registry.HH_PHI - 1e-6
        assert r.share <= 1.0


# --- CUSUM drift ------------------------------------------------------------


def test_cusum_alarms_on_level_shift(spark):
    import datetime as dt

    # 20 days at 10.0, then 20 days at 12.0: the shift accumulates and
    # must alarm in the second regime, never in the first
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), "s", 10.0 if i < 20 else 12.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    out = (
        timeseries.cusum_drift(df, ["key"], "ts", "value")
        .orderBy("bucket")
        .collect()
    )
    assert len(out) == 40
    first = [r.alarm for r in out[:20]]
    second = [r.alarm for r in out[20:]]
    assert not any(first)
    assert any(second)
    # cusum is non-negative and non-decreasing across the shifted regime
    cs = [r.cusum for r in out]
    assert all(c >= 0 for c in cs)
    assert cs[39] > cs[21]


def test_cusum_flat_series_never_alarms(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(days=i), "s", 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    out = timeseries.cusum_drift(df, ["key"], "ts", "value").collect()
    assert all(r.cusum == 0.0 for r in out)
    assert not any(r.alarm for r in out)


# --- triangle census --------------------------------------------------------


def test_g02_counts_on_testdata_are_consistent(spark):
    r = registry.g02_triangles(spark, SF_DIR_SMALL).collect()[0]
    # n_edges <= C(n_nodes, 2); n_triangles <= C(n_nodes, 3)
    n = r.n_nodes
    assert r.n_edges <= n * (n - 1) // 2
    assert r.n_triangles <= n * (n - 1) * (n - 2) // 6
    assert r.n_triangles >= 0


# --- sorted neighborhood ----------------------------------------------------


def test_q64_adjacent_pairs_within_distance(spark):
    rows = registry.q64_sorted_neighborhood(spark, SF_DIR_SMALL).collect()
    assert rows, "consecutive customer names differ by <=2 digits"
    for r in rows:
        assert 0 <= r.edit_dist <= 2
        assert r.left_name != r.right_name or r.edit_dist == 0
        # pairs come from the same sorted block
        assert r.left_name[:16] == r.right_name[:16]


# --- readability ------------------------------------------------------------


def test_t19_flesch_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!")], "doc_id long, text string"
    )
    # the same three regex counts the registry entry binds:
    # 6 words, 2 sentences, 6 vowel groups
    txt = F.col("text")
    low = F.lower(txt)
    got = df.select(
        F.size(F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0)).alias("w"),
        F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), 0)).alias("s"),
        F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0)).alias("y"),
    ).collect()[0]
    assert (got.w, got.s, got.y) == (6, 2, 6)
    flesch = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(flesch - (206.835 - 3.045 - 84.6)) < 1e-9


def test_t19_registry_rows_match_docs(spark):
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    out = llm_registry.t19_readability(spark, SF_DIR_SMALL)
    assert out.count() == docs.count()
    r = out.first()
    assert r.n_words >= 1 and r.n_syllables >= 0


# --- embedding dim stats ----------------------------------------------------


def test_s12_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    rows = llm_registry.s12_dim_stats(spark, SF_DIR_SMALL).collect()
    assert len(rows) == mat.shape[1]
    for r in rows:
        col = mat[:, r.dim]
        assert r.n == len(col)
        assert abs(r.mean - col.mean()) < 1e-5
        assert abs(r.variance - col.var(ddof=1)) < 1e-5
        assert math.isclose(r.min_val, col.min(), rel_tol=1e-12)
        assert math.isclose(r.max_val, col.max(), rel_tol=1e-12)


# --- Holt linear smoothing --------------------------------------------------


def test_holt_constant_series_perfect_forecast(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(days=i), "s", 7.5) for i in range(12)]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    out = timeseries.holt_linear(df, ["key"], "ts", "value").collect()
    # l1=x1, b1=0 on a constant series => forecast is exact from t=2
    assert len(out) == 11
    assert all(r.forecast == 7.5 and r.abs_err == 0.0 for r in out)


def test_holt_tracks_linear_trend(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), "s", 10.0 + 2.0 * i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    out = (
        timeseries.holt_linear(df, ["key"], "ts", "value")
        .orderBy("bucket")
        .collect()
    )
    # trend-aware smoothing locks onto a pure linear ramp: late error
    # far below the early (trendless-init) error
    assert out[-1].abs_err < out[0].abs_err / 4


def test_v09_welch_shapes(spark):
    rows = registry.v09_welch_ttest(spark, SF_DIR_SMALL).collect()
    assert rows
    ev_n = (
        registry._events(spark, SF_DIR_SMALL).count()
    )
    assert sum(r.n_a + r.n_b for r in rows) == ev_n
    for r in rows:
        assert r.n_a > 1 and r.n_b > 1
        assert r.var_a >= 0 and r.var_b >= 0
        # Welch df is bounded by the pooled df
        assert 1.0 <= r.df_welch <= r.n_a + r.n_b - 2
        assert r.significant == (abs(r.t_stat) > 1.96)


def test_q65_lift_table_invariants(spark):
    rows = (
        registry.q65_decile_lift(spark, SF_DIR_SMALL)
        .orderBy("decile")
        .collect()
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    n_cust = (
        registry.load_table(spark, SF_DIR_SMALL, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    # top decile (highest spenders) out-earns the bottom decile
    assert rows[0].revenue > rows[-1].revenue
    shares = [r.rev_share for r in rows]
    assert abs(sum(shares) - 1.0) < 1e-4
    cums = [r.cum_share for r in rows]
    assert all(b >= a for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - 1.0) < 1e-4


# --- declarative rule census ------------------------------------------------


def test_v10_rule_census_counts_and_pointers(spark):
    from mbta_etl_spark.operators import validate

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (4, 120.0)],
        "id long, v double",
    )
    out = {
        r.rule: r
        for r in validate.rule_census(
            df, {"v_pos": "v > 0", "v_small": "v < 100"}, "id"
        ).collect()
    }
    # NULL predicate counts as violation (three-valued logic folded)
    assert out["v_pos"].violations == 2  # ids 2 (neg) and 3 (null)
    assert out["v_pos"].first_bad_key == 2
    assert out["v_pos"].last_bad_key == 3
    assert out["v_small"].violations == 2  # ids 3 (null) and 4 (120)
    assert not out["v_pos"].ok and not out["v_small"].ok
    assert all(r.n_rows == 4 for r in out.values())


def test_v10_registry_all_rules_present(spark):
    rows = registry.v10_rule_census(spark, SF_DIR_SMALL).collect()
    assert {r.rule for r in rows} == set(registry.V10_RULES)


# --- matryoshka audit -------------------------------------------------------


def test_s13_full_prefix_is_identity_and_monotone(spark):
    rows = {
        r.k: r
        for r in registry.s13_matryoshka_audit(spark, SF_DIR_SMALL).collect()
    }
    assert set(rows) == set(registry.MATRYOSHKA_KS)
    # k = full dim: prefix == vector, ratio exactly 1
    assert rows[64].mean_ratio == 1.0 and rows[64].min_ratio == 1.0
    # norm captured grows with prefix length
    means = [rows[k].mean_ratio for k in sorted(rows)]
    assert all(b >= a for a, b in zip(means, means[1:]))
    assert all(0.0 < rows[k].min_ratio <= 1.0 for k in rows)


# --- month-over-month growth ------------------------------------------------


def test_q66_growth_recomputes(spark):
    rows = (
        registry.q66_mom_growth(spark, SF_DIR_SMALL)
        .orderBy("month")
        .collect()
    )
    assert rows[0].prev_revenue is None and rows[0].growth is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.prev_revenue == prev.revenue
        expect = (cur.revenue - prev.revenue) / prev.revenue
        assert abs(cur.growth - expect) < 2e-6


# --- linear attribution -----------------------------------------------------


def test_j12_credit_splits_value(spark):
    rows = registry.j12_linear_attribution(spark, SF_DIR_SMALL).collect()
    n_purch = (
        registry._events(spark, SF_DIR_SMALL)
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(rows) == n_purch  # left join: nothing silently dropped
    touched = [r for r in rows if r.n_touches > 0]
    untouched = [r for r in rows if r.n_touches == 0]
    assert touched, "dense synthetic stream has windows with clicks"
    for r in touched[:50]:
        assert abs(r.credit_per_touch * r.n_touches - r.purchase_value) < 1e-4
    for r in untouched:
        assert r.credit_per_touch is None


# --- dow profile / concentration / dataset card -----------------------------


def test_q67_covers_full_grid(spark):
    rows = registry.q67_dow_profile(spark, SF_DIR_SMALL).collect()
    ev = registry._events(spark, SF_DIR_SMALL)
    assert sum(r.n_events for r in rows) == ev.count()
    dows = {r.dow for r in rows}
    assert dows <= {
        "Monday", "Tuesday", "Wednesday", "Thursday",
        "Friday", "Saturday", "Sunday",
    }
    assert len(dows) == 7  # 1000 events over ~3 months hit every weekday


def test_q68_top_orders_outearn_uniform(spark):
    r = registry.q68_revenue_concentration(spark, SF_DIR_SMALL).collect()[0]
    assert r.n_top == r.n_orders // 100
    assert 0.0 < r.top_share < 1.0
    # the top 1% BY VALUE must beat the uniform 1% share
    assert r.top_share > r.n_top / r.n_orders
    assert abs(r.top_revenue / r.total_revenue - r.top_share) < 2e-6


def test_c14_card_metrics(spark):
    vals = {
        r.metric: r.value
        for r in registry.c14_dataset_card(spark, SF_DIR_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert vals["n_docs"] == docs.count()
    assert 0.0 <= vals["exact_dup_frac"] < 1.0
    assert vals["avg_tokens_per_doc"] > 0
    assert vals["total_tokens"] >= vals["n_docs"]
    assert set(vals) == {
        "n_docs", "total_tokens", "n_sources", "n_langs",
        "exact_dup_frac", "avg_tokens_per_doc", "avg_chars_per_doc",
    }


# --- TPC-H shape battery (Q7/Q8/Q3) -----------------------------------------


def test_q69_matrix_consistent_with_fact_count(spark):
    rows = registry.q69_trade_matrix(spark, SF_DIR_SMALL).collect()
    li_n = registry.load_table(spark, SF_DIR_SMALL, "lineitem").count()
    # every lineitem maps to exactly one (cust_nation, supp_nation, year)
    assert sum(r.n_items for r in rows) == li_n
    assert all(r.revenue > 0 for r in rows)


def test_q70_share_bounded_and_consistent(spark):
    rows = registry.q70_market_share(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.target_revenue <= r.total_revenue + 1e-6
        expect = r.target_revenue / r.total_revenue
        assert abs(r.mkt_share - expect) < 2e-6


def test_q71_top10_descending_and_filtered(spark):
    rows = registry.q71_shipping_priority(spark, SF_DIR_SMALL).collect()
    assert len(rows) == 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    import datetime as dt

    cutoff = dt.datetime(1998, 1, 1)
    assert all(r.o_orderdate < cutoff for r in rows)


# --- LSH S-curve / seasonal decomposition -----------------------------------


def test_d14_scurve_monotone_with_fixed_point(spark):
    rows = (
        registry.d14_lsh_scurve(spark, SF_DIR_SMALL)
        .orderBy("jaccard_s")
        .collect()
    )
    assert len(rows) == 19
    ps = [r.p_candidate for r in rows]
    assert all(b >= a for a, b in zip(ps, ps[1:]))  # S-curve is monotone
    assert ps[0] < 0.01 and ps[-1] > 0.99  # steep at both ends
    mid = next(r for r in rows if abs(r.jaccard_s - 0.5) < 1e-9)
    # closed form at s=0.5, b=r=4: 1 - (1 - 0.5^4)^4
    assert abs(mid.p_candidate - (1 - (1 - 0.5**4) ** 4)) < 2e-6


def test_ts15_components_reassemble(spark):
    rows = registry.ts15_seasonal_decompose(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows[:100]:
        assert abs((r.trend + r.seasonal + r.residual) - r.x) < 5e-6
    # seasonal indices per series sum to ~0 over a whole week's dows
    from collections import defaultdict

    by_series = defaultdict(dict)
    for r in rows:
        by_series[r.event_type][r.dow] = r.seasonal
    for et, seas in by_series.items():
        assert len(seas) == 7


# --- MG summary algebra + streaming heavy hitters ---------------------------


def test_mg_merge_preserves_guarantee(spark):
    from mbta_etl_spark.operators.frequent import (
        mg_merge,
        mg_summarize,
        mg_trim,
    )

    # two batches, 300 rows total; phi-guarantee key: 90 occurrences of
    # "hot" > N/capacity = 300/10
    b1 = spark.createDataFrame(
        [("hot",)] * 40 + [(f"a{i % 23}",) for i in range(110)], "k string"
    )
    b2 = spark.createDataFrame(
        [("hot",)] * 50 + [(f"b{i % 29}",) for i in range(100)], "k string"
    )
    cap = 10
    merged = mg_merge(
        mg_summarize(b1, "k", cap), mg_summarize(b2, "k", cap), "k", cap
    )
    rows = {r.k: r.cnt for r in merged.collect()}
    assert len(rows) <= cap
    assert "hot" in rows  # survives the merge (freq > N/capacity)
    # undercount bound: true - N/cap <= cnt <= true
    assert 90 - 300 / cap <= rows["hot"] <= 90


def test_mg_trim_noop_under_capacity(spark):
    from mbta_etl_spark.operators.frequent import mg_trim

    counts = spark.createDataFrame(
        [("a", 5), ("b", 3)], "k string, cnt long"
    )
    out = {r.k: r.cnt for r in mg_trim(counts, "k", 10).collect()}
    assert out == {"a": 5, "b": 3}  # exact below capacity


def test_streaming_heavy_hitters_converge(spark, tmp_path):
    import time

    from mbta_etl_spark.operators.frequent import mg_step
    from mbta_etl_spark.pipeline.load import merge_stream

    src_dir = str(tmp_path / "src")
    table = str(tmp_path / "hh_table")
    ckpt = str(tmp_path / "ckpt")
    # seed two file-batches: "hot" dominates across both
    spark.createDataFrame(
        [("hot",)] * 30 + [(f"x{i}",) for i in range(20)], "k string"
    ).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("k string").parquet(src_dir)
    )
    q = merge_stream(stream, table, ckpt, mg_step("k", 8)).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [("hot",)] * 25 + [(f"y{i}",) for i in range(15)], "k string"
        ).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    state = {r.k: r.cnt for r in spark.read.parquet(table).collect()}
    assert len(state) <= 8
    assert "hot" in state
    # lower-bound property vs true count 55 over N=90, cap=8
    assert 55 - 90 / 8 <= state["hot"] <= 55


def test_v11_scorecard_tables_and_rules(spark):
    rows = registry.v11_warehouse_scorecard(spark, SF_DIR_SMALL).collect()
    got = {(r.tbl, r.rule) for r in rows}
    want = {
        (tbl, rule)
        for tbl, (_, rules) in registry.V11_RULES.items()
        for rule in rules
    }
    assert got == want


def test_d15_per_source_consistency(spark):
    rows = registry.d15_dup_by_source(spark, SF_DIR_SMALL).collect()
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 1 <= r.n_unique <= r.n_docs
        assert 0.0 <= r.dup_frac < 1.0


# --- ACF / leakage audit / kNN ----------------------------------------------


def test_ts16_acf_bounded_and_both_lags(spark):
    rows = registry.ts16_acf(spark, SF_DIR_SMALL).collect()
    assert {r.lag for r in rows} == {1, 7}
    for r in rows:
        if r.acf is not None:
            assert -1.0 - 1e-6 <= r.acf <= 1.0 + 1e-6
        assert r.n_pairs > 0


def test_c15_leakage_counts_consistent(spark):
    r = llm_registry.c15_split_leakage_audit(spark, SF_DIR_SMALL).collect()[0]
    assert r.n_leaking_shas <= r.n_shas
    assert r.n_train_test_leaks <= r.n_leaking_shas
    # each leaking sha spans >=2 docs by definition
    assert r.n_docs_in_leaking >= 2 * r.n_leaking_shas


def test_s14_knn_votes_and_tiebreak(spark):
    rows = llm_registry.s14_knn_classify(spark, SF_DIR_SMALL).collect()
    assert rows
    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    n_queries = emb.filter(
        (F.col("vec_id") % llm_registry.KNN_QUERY_MOD) == 0
    ).count()
    assert len(rows) == n_queries  # one prediction per query
    for r in rows:
        assert 1 <= r.n_votes <= llm_registry.KNN_K
        assert r.correct == (r.predicted_label == r.true_label)


# --- top-5+Other / TWAP / minhash estimator audit ----------------------------


def test_q72_other_bucket_conserves_mass(spark):
    rows = registry.q72_top5_plus_other(spark, SF_DIR_SMALL).collect()
    ev = registry._events(spark, SF_DIR_SMALL)
    assert sum(r.n_events for r in rows) == ev.count()
    assert sum(r.n_users for r in rows) == ev.select("user_id").distinct().count()
    named = [r for r in rows if r.who != "Other"]
    other = [r for r in rows if r.who == "Other"]
    assert len(named) == 5 and len(other) == 1
    # every named user outranks the Other bucket's per-user average
    other_avg = other[0].n_events / other[0].n_users
    assert all(r.n_events >= other_avg for r in named)


def test_ts17_twap_weighted_correctly(spark):
    import datetime as dt

    # value 0 held for 9 time units, value 10 held for 1 -> TWAP = 1.0,
    # plain avg = 5.0 (the burst bias TWAP removes)
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, "s", 0.0),
        (2, base + dt.timedelta(seconds=9), "s", 10.0),
        (3, base + dt.timedelta(seconds=10), "s", 99.0),  # last: no weight
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from pyspark.sql import Window

    # drive the same operator logic through the registry-shaped frame
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    staged = df.withColumn("_next", F.lead("ts").over(w)).filter(
        F.col("_next").isNotNull()
    )
    got = staged.groupBy("event_type").agg(
        (
            F.sum(
                F.col("value")
                * F.expr(
                    "CAST(timestampdiff(MICROSECOND, ts, _next) AS DOUBLE)"
                )
                / F.lit(1e6)
            )
            / F.sum(
                F.expr(
                    "CAST(timestampdiff(MICROSECOND, ts, _next) AS DOUBLE)"
                )
                / F.lit(1e6)
            )
        ).alias("twap")
    ).collect()[0]
    assert abs(got.twap - 1.0) < 1e-9


def test_ts17_registry_twap_differs_from_plain_avg(spark):
    rows = registry.ts17_twap(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_held > 0
        assert r.twap is not None and r.plain_avg is not None


def test_d16_error_bounds(spark):
    r = llm_registry.d16_minhash_est_audit(spark, SF_DIR_SMALL).collect()[0]
    assert r.n_pairs > 0
    # est and tru both live in [0,1] so errors are bounded
    assert 0.0 <= r.mae <= 1.0
    assert r.mae <= r.max_err <= 1.0
    assert -1.0 <= r.mean_bias <= 1.0
    # 16 hashes: estimator granularity is 1/16; MAE should be well under
    # the trivial bound for threshold-passing candidates
    assert r.mae < 0.5


# --- PCA eigen --------------------------------------------------------------


def test_s15a_spectrum_moments_match_direct_covariance(spark):
    """Σλ == trace and Σλ² == ‖cov‖_F² computed straight from the
    assembled covariance matrix — the identities the DuckDB oracle
    verifies from pairwise COVAR_SAMP (VERDICT r3 item 7)."""
    import numpy as np

    from mbta_etl_spark.operators.similarity import (
        pca_spectrum_moments,
        sample_covariance,
    )
    from mbta_etl_spark.plans.llm_registry import _emb

    emb = _emb(spark, SF_DIR_SMALL)
    n, se, se2 = pca_spectrum_moments(emb, "embedding")
    cov, n2 = sample_covariance(emb, "embedding")
    assert n == n2
    assert abs(se - float(np.trace(cov))) < 1e-9 * max(1.0, abs(se))
    assert abs(se2 - float((cov * cov).sum())) < 1e-9 * max(1.0, se2)
    # and the registry entry carries exactly these, 6dp-floored
    row = llm_registry.s15a_pca_invariants(spark, SF_DIR_SMALL).collect()[0]
    import math

    assert row.n_rows == n
    assert row.eig_sum == math.floor(se * 1e6 + 0.5) / 1e6
    assert row.eig_sq_sum == math.floor(se2 * 1e6 + 0.5) / 1e6


# --- semi-additive / new-vs-returning ----------------------------------------


def test_q73_last_value_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 8)
    rows = [
        (1, base, 1, 100.0),
        (2, base + dt.timedelta(hours=2), 1, 250.0),  # user 1 last = 250
        (3, base + dt.timedelta(hours=1), 2, 40.0),   # user 2 last = 40
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = (
        df.groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
        )
        .agg(F.expr("max_by(value, struct(ts, event_id))").alias("lv"))
        .groupBy("day")
        .agg(F.sum("lv").alias("bal"))
        .collect()[0]
    )
    assert got.bal == 290.0  # 250 + 40, NOT the 390 a plain sum gives


def test_q74_growth_accounting_identities(spark):
    rows = (
        registry.q74_new_vs_returning(spark, SF_DIR_SMALL)
        .orderBy("day")
        .collect()
    )
    assert rows
    # day 1: everyone active is new
    assert rows[0].new_users == rows[0].active_users
    total_users = (
        registry._events(spark, SF_DIR_SMALL)
        .select("user_id")
        .distinct()
        .count()
    )
    # each user is "new" on exactly one day
    assert sum(r.new_users for r in rows) == total_users
    for r in rows:
        assert r.new_users + r.returning_users == r.active_users


# --- trimmed mean / cumulative uniques ---------------------------------------


def test_q75_trim_removes_tail_mass(spark):
    rows = registry.q75_trimmed_mean(spark, SF_DIR_SMALL).collect()
    for r in rows:
        cut = int(r.n_rows * registry.TRIM_FRAC)
        assert r.n_kept == r.n_rows - 2 * cut
        # trimming a right-skewed positive distribution pulls the mean down
        assert r.trimmed_mean <= r.plain_mean + 1e-6


def test_q76_cumulative_monotone_and_total(spark):
    rows = (
        registry.q76_cumulative_uniques(spark, SF_DIR_SMALL)
        .orderBy("day")
        .collect()
    )
    cums = [r.cum_users for r in rows]
    assert all(b > a for a, b in zip(cums, cums[1:]))
    total = (
        registry._events(spark, SF_DIR_SMALL)
        .select("user_id")
        .distinct()
        .count()
    )
    assert cums[-1] == total
    assert sum(r.new_users for r in rows) == total


# --- ABC classification / dup histogram / modality census --------------------


def test_q77_classes_conserve_revenue(spark):
    rows = {
        r.abc_class: r
        for r in registry.q77_abc_classification(spark, SF_DIR_SMALL).collect()
    }
    assert set(rows) <= {"A", "B", "C"} and "A" in rows
    n_parts_total = sum(r.n_parts for r in rows.values())
    distinct_parts = (
        registry.load_table(spark, SF_DIR_SMALL, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert n_parts_total == distinct_parts
    if "C" in rows:
        # A-parts carry more revenue per part than C-parts by construction
        a, c = rows["A"], rows["C"]
        assert a.class_revenue / a.n_parts > c.class_revenue / c.n_parts


def test_d17_histogram_accounts_every_doc(spark):
    rows = registry.d17_dup_size_histogram(spark, SF_DIR_SMALL).collect()
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.n_docs == r.group_size * r.n_groups


def test_m08_census_routes_all_ascii_to_text(spark):
    rows = llm_registry.m08_modality_census(spark, SF_DIR_SMALL).collect()
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert sum(r.n_payloads for r in rows) == docs.count()
    # synthetic corpus is printable ASCII: one bucket, text/plain
    assert [r.sniffed_mime for r in rows] == ["text/plain"]


# --- reconciliation / batch interleave ---------------------------------------


def test_v12_counts_and_tolerance_logic(spark):
    r = registry.v12_header_line_reconcile(spark, SF_DIR_SMALL).collect()[0]
    n_orders = registry.load_table(spark, SF_DIR_SMALL, "orders").count()
    assert r.n_orders == n_orders
    assert 0 <= r.n_within_tol <= r.n_orders
    assert r.n_with_lines <= r.n_orders
    assert r.avg_rel_diff >= 0.0


def test_c16_batches_tile_and_diversity_bounded(spark):
    r = registry.c16_batch_interleave(spark, SF_DIR_SMALL).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    n = docs.count()
    assert r.n_batches == -(-n // registry.INTERLEAVE_BATCH)  # ceil
    n_sources = docs.select("source").distinct().count()
    assert 1 <= r.min_sources <= r.avg_sources <= r.max_sources
    assert r.max_sources <= min(n_sources, registry.INTERLEAVE_BATCH)
    # hash interleave should mix well: average diversity near the cap
    assert r.avg_sources > min(n_sources, registry.INTERLEAVE_BATCH) * 0.5


# --- degree/reciprocity / uptime SLA -----------------------------------------


def test_g03_degree_identities(spark):
    rows = registry.g03_degree_reciprocity(spark, SF_DIR_SMALL).collect()
    # handshake identity: total out-degree == total in-degree == |E|
    total_out = sum(r.out_degree for r in rows)
    total_in = sum(r.in_degree for r in rows)
    assert total_out == total_in
    for r in rows:
        assert 0 <= r.reciprocated <= r.out_degree
    # reciprocity is symmetric in aggregate: sum of reciprocated edges
    # counts each mutual pair once in each direction -> even total
    assert sum(r.reciprocated for r in rows) % 2 == 0


def test_ts18_uptime_bounded(spark):
    rows = registry.ts18_uptime_sla(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.uptime_pct <= 100.0
        assert r.n_gaps <= r.n_intervals
        if r.n_gaps == 0:
            assert r.uptime_pct == 100.0


# --- TPC-H Q6/Q9/Q15/Q19 shapes ----------------------------------------------


def test_q78_filter_subsets_fact(spark):
    r = registry.q78_discount_revenue(spark, SF_DIR_SMALL).collect()[0]
    li = registry.load_table(spark, SF_DIR_SMALL, "lineitem")
    assert 0 < r.n_items < li.count()
    assert r.revenue_delta > 0


def test_q79_year_nation_grid(spark):
    rows = registry.q79_profit_by_nation(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert r.profit > 0 and r.n_items > 0
        assert 1995 <= r.o_year <= 2001


def test_q80_ties_kept_at_max(spark):
    rows = registry.q80_top_supplier(spark, SF_DIR_SMALL).collect()
    assert rows
    revs = {r.total_revenue for r in rows}
    assert len(revs) == 1  # every returned supplier is tied at the max


def test_q81_disjunction_counts_match_union(spark):
    r = registry.q81_disjunctive_filter(spark, SF_DIR_SMALL).collect()[0]
    li = registry.load_table(spark, SF_DIR_SMALL, "lineitem")
    p = registry.load_table(spark, SF_DIR_SMALL, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    total = 0
    for brand, lo, hi in (
        ("Brand#1", 1, 11),
        ("Brand#2", 10, 20),
        ("Brand#3", 20, 30),
    ):
        total += j.filter(
            (F.col("p_brand") == brand)
            & F.col("l_quantity").between(lo, hi)
        ).count()
    assert r.n_items == total  # brand arms are disjoint, union == sum


# --- KS test / threshold sweep -----------------------------------------------


def test_v13_ks_identical_distribution_is_small(spark):
    # A/B split by event_id parity over the same generator: KS should be
    # small and bounded in [0, 1]
    rows = registry.v13_ks_test(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0
        assert r.n_a > 0 and r.n_b > 0


def test_v13_ks_detects_shifted_distribution(spark):
    from pyspark.sql import Window

    # same windowed computation on a constructed frame where group 1 is
    # shifted far right: KS must approach 1
    rows = [(i, i % 2, float(i % 2) * 1000.0 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, grp long, value double")
    w = Window.orderBy("value").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = df.select(
        F.count(F.when(F.col("grp") == 0, 1)).over(w).alias("ca"),
        F.count(F.when(F.col("grp") == 1, 1)).over(w).alias("cb"),
    )
    ks = staged.agg(
        F.max(F.abs(F.col("ca") / 100.0 - F.col("cb") / 100.0)).alias("ks")
    ).collect()[0].ks
    assert ks == 1.0  # fully separated supports


def test_d18_bands_superset_of_d03(spark):
    rows = llm_registry.d18_jaccard_threshold_sweep(
        spark, SF_DIR_SMALL
    ).collect()
    assert rows
    total_above_half = sum(r.n_pairs for r in rows if r.j_band >= 0.5)
    d03_n = llm_registry.d03_ngram_jaccard_pairs(spark, SF_DIR_SMALL).count()
    assert total_above_half == d03_n  # sweep bands tile d03's cutoff


# --- max drawdown / cross-source dups ----------------------------------------


def test_ts19_drawdown_hand_computed(spark):
    import datetime as dt

    # daily sums 10, -4, +2, -7: cum = 10,6,8,1 ; peaks 10,10,10,10 ;
    # drawdowns 0,4,2,9 -> max 9
    base = dt.datetime(2024, 1, 1)
    vals = [10.0, -4.0, 2.0, -7.0]
    rows = [
        (i, base + dt.timedelta(days=i), "s", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from pyspark.sql import Window

    # the registry computation shape on the constructed frame
    daily = df.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    ).agg(F.sum("value").alias("x"))
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        daily.select("event_type", "day", F.sum("x").over(w2).alias("cum"))
        .select(
            "event_type",
            (F.max("cum").over(w2) - F.col("cum")).alias("dd"),
        )
        .agg(F.max("dd").alias("mdd"))
        .collect()[0]
    )
    assert out.mdd == 9.0


def test_ts19_registry_nonnegative(spark):
    rows = registry.ts19_max_drawdown(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert r.max_drawdown >= 0.0 and r.n_days > 0


def test_d19_matrix_is_upper_triangular(spark):
    rows = registry.d19_cross_source_dups(spark, SF_DIR_SMALL).collect()
    for r in rows:
        assert r.source_a < r.source_b
        assert r.n_shared_groups >= 1


# --- tokenizer fertility / fan-out histogram ---------------------------------


def test_t20_fertility_at_least_one(spark):
    rows = llm_registry.t20_tokenizer_fertility(spark, SF_DIR_SMALL).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        # BPE-ish pre-tokenizer never merges across whitespace, so it
        # produces at least one token per word
        assert r.min_fertility >= 1.0 - 1e-6
        assert r.min_fertility <= r.avg_fertility <= r.max_fertility


def test_q82_histogram_accounts_every_line(spark):
    rows = registry.q82_lines_per_order(spark, SF_DIR_SMALL).collect()
    li = registry.load_table(spark, SF_DIR_SMALL, "lineitem")
    assert sum(r.n_lines * r.n_orders for r in rows) == li.count()
    n_orders = li.select("l_orderkey").distinct().count()
    assert sum(r.n_orders for r in rows) == n_orders


# --- centroid separation / above-average groups ------------------------------


def test_s16_matrix_shape_and_bounds(spark):
    rows = llm_registry.s16_centroid_separation(spark, SF_DIR_SMALL).collect()
    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    n_labels = emb.select("label").distinct().count()
    assert len(rows) == n_labels * (n_labels - 1) // 2
    for r in rows:
        assert r.label_a < r.label_b
        assert -1.0 - 1e-6 <= r.centroid_cosine <= 1.0 + 1e-6


def test_q83_cutoff_is_population_mean(spark):
    rows = registry.q83_above_avg_groups(spark, SF_DIR_SMALL).collect()
    o = registry.load_table(spark, SF_DIR_SMALL, "orders")
    per = o.groupBy("o_custkey").count().collect()
    avg = sum(r["count"] for r in per) / len(per)
    want = {r.o_custkey for r in per if r["count"] > avg}
    assert {r.o_custkey for r in rows} == want


# --- percent of parent / hamming histogram -----------------------------------


def test_q84_shares_normalize_per_region(spark):
    from collections import defaultdict

    rows = registry.q84_percent_of_parent(spark, SF_DIR_SMALL).collect()
    assert len(rows) == 25  # every nation appears
    by_region = defaultdict(float)
    for r in rows:
        assert 0.0 < r.pct_of_region <= 1.0
        by_region[r.region] += r.pct_of_region
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-4, (region, s)


def test_d20_histogram_totals_match_d09(spark):
    rows = llm_registry.d20_hamming_histogram(spark, SF_DIR_SMALL).collect()
    d09_n = llm_registry.d09_simhash_band_pairs(spark, SF_DIR_SMALL).count()
    assert sum(r.n_pairs for r in rows) == d09_n
    assert all(0 <= r.hamming <= 3 for r in rows)


# --- range-bucket join / ordering audit --------------------------------------


def test_j13_bands_conserve_rows(spark):
    rows = registry.j13_range_bucket_join(spark, SF_DIR_SMALL).collect()
    ev = registry._events(spark, SF_DIR_SMALL)
    n_nonneg = ev.filter(F.col("value") >= 0).count()
    # bands are exhaustive over [0, inf) and disjoint
    assert sum(r.n_events for r in rows) == n_nonneg
    for r in rows:
        lo, hi = {
            n: (lo, hi) for n, lo, hi in registry.J13_BANDS
        }[r.band]
        assert lo <= r.mean_value < hi


def test_v14_inversion_bounds(spark):
    rows = registry.v14_ordering_audit(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_inversions <= r.n_pairs
        assert 0.0 <= r.inversion_frac <= 1.0
        if r.n_inversions == 0:
            assert r.worst_backstep_us == 0
        else:
            assert r.worst_backstep_us > 0


# --- churn census / vocab bands ----------------------------------------------


def test_q85_cohorts_partition_customers(spark):
    r = registry.q85_churned_customers(spark, SF_DIR_SMALL).collect()[0]
    n = (
        registry.load_table(spark, SF_DIR_SMALL, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert r.n_customers == n
    assert r.n_churned + r.n_retained + r.n_new_only == n


def test_t21_bands_partition_vocab(spark):
    rows = {
        r.band: r
        for r in llm_registry.t21_vocab_bands(spark, SF_DIR_SMALL).collect()
    }
    assert set(rows) <= {"hapax", "rare", "common"} and "common" in rows
    assert abs(sum(r.token_mass_share for r in rows.values()) - 1.0) < 1e-4
    if "hapax" in rows:
        assert rows["hapax"].n_types == rows["hapax"].n_tokens  # df=1


# --- inter-purchase time / dedup savings -------------------------------------


def test_q86_gap_bounds(spark):
    r = registry.q86_interpurchase_time(spark, SF_DIR_SMALL).collect()[0]
    assert r.n_intervals > 0 and r.n_repeat_customers > 0
    assert 0 <= r.min_gap_days <= r.avg_gap_days <= r.max_gap_days
    # each repeat customer contributes >= 1 interval
    assert r.n_intervals >= r.n_repeat_customers


def test_d21_savings_consistent(spark):
    r = llm_registry.d21_dedup_savings(spark, SF_DIR_SMALL).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    from pyspark.sql import functions as SF

    total = docs.agg(SF.sum("n_chars")).collect()[0][0]
    assert r.total_bytes == total
    assert r.kept_bytes + r.saved_bytes == r.total_bytes
    assert 0.0 <= r.saved_frac < 1.0


# --- chi-square independence / rank change -----------------------------------


def test_v15_chi2_shape(spark):
    r = registry.v15_chi2_independence(spark, SF_DIR_SMALL).collect()[0]
    assert r.chi2 >= 0.0
    assert r.dof >= 1
    # full grid: 5 segments x 3 statuses when all cells occur
    assert r.n_cells <= 15
    assert r.dof == (5 - 1) * (3 - 1) or r.n_cells < 15


def test_q87_rank_deltas_sum_to_zero_when_dense(spark):
    rows = registry.q87_rank_change(spark, SF_DIR_SMALL).collect()
    assert len(rows) == 25
    for r in rows:
        assert 1 <= r.rank_a <= 25 and 1 <= r.rank_b <= 25
        assert r.rank_delta == r.rank_a - r.rank_b
    # dense ranks over the same population: deltas cancel
    assert sum(r.rank_delta for r in rows) == 0


# --- peak hour / band occupancy ----------------------------------------------


def test_ts20_one_peak_per_series(spark):
    rows = registry.ts20_peak_hour(spark, SF_DIR_SMALL).collect()
    types = {r.event_type for r in rows}
    assert len(rows) == len(types)  # exactly one argmax row per series
    for r in rows:
        assert 0 <= r.hour <= 23 and r.n_events > 0


def test_d22_occupancy_accounts_all_band_rows(spark):
    rows = llm_registry.d22_band_occupancy(spark, SF_DIR_SMALL).collect()
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    from mbta_etl_spark.operators.dedup import BAND_SIZE, NUM_HASHES

    n_band_rows = docs.count() * (NUM_HASHES // BAND_SIZE)
    assert sum(r.bucket_size * r.n_buckets for r in rows) == n_band_rows
    for r in rows:
        expect = r.n_buckets * r.bucket_size * (r.bucket_size - 1) // 2
        assert r.candidate_pairs == expect


# --- template prefixes / seasonality strength --------------------------------


def test_t22_prefix_groups_meet_threshold(spark):
    rows = llm_registry.t22_template_prefixes(spark, SF_DIR_SMALL).collect()
    for r in rows:
        assert r.n_docs >= llm_registry.PREFIX_MIN_DOCS
        assert len(r.prefix) <= llm_registry.PREFIX_LEN


def test_ts21_strength_bounded(spark):
    rows = registry.ts21_seasonality_strength(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.strength <= 1.0
        assert r.n_days > 7


# --- quality-length correlation / volume anomalies ---------------------------


def test_c17_corr_bounded_and_positive_by_construction(spark):
    r = llm_registry.c17_quality_length_corr(spark, SF_DIR_SMALL).collect()[0]
    assert -1.0 - 1e-6 <= r.quality_length_corr <= 1.0 + 1e-6
    # quality contains a 0.5*min(1, n/100) length term, so the
    # association with length must come out positive on this corpus
    assert r.quality_length_corr > 0.0
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert r.n_docs == docs.count()


def test_v16_threshold_consistency(spark):
    rows = registry.v16_volume_anomalies(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_spike_days <= r.n_days
        if r.max_daily_count <= r.threshold:
            assert r.n_spike_days == 0
        else:
            assert r.n_spike_days >= 1


# --- anisotropy / mixture fidelity -------------------------------------------


def test_s17_anisotropy_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    want = (np.linalg.norm(mat.mean(axis=0)) ** 2) / (
        (mat**2).sum(axis=1).mean()
    )
    r = llm_registry.s17_anisotropy(spark, SF_DIR_SMALL).collect()[0]
    assert 0.0 <= r.anisotropy <= 1.0 + 1e-6
    assert abs(r.anisotropy - want) < 1e-4
    assert r.n_vectors == len(mat)


def test_c18_shares_normalize_and_weights_steer(spark):
    rows = {
        r.source: r
        for r in llm_registry.c18_mixture_fidelity(
            spark, SF_DIR_SMALL
        ).collect()
    }
    assert len(rows) == 15  # weighted strata only; dropped sources absent
    assert abs(sum(r.achieved_share for r in rows.values()) - 1.0) < 1e-4
    assert abs(sum(r.target_share for r in rows.values()) - 1.0) < 1e-4
    for r in rows.values():
        assert r.abs_dev < 0.05  # hash-fractional rounding stays small
    # a 2.5x source must out-share a 0.5x source
    assert rows["src0"].achieved_share > rows["src10"].achieved_share


# --- byte entropy / top-k overlap --------------------------------------------


def test_m09_entropy_hand_computed(spark):
    from mbta_etl_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    binary = multimodal.to_binary_table(df, "text", "doc_id")
    got = {
        r.doc_id: r for r in multimodal.byte_entropy(binary).collect()
    }
    assert got[1].entropy == 0.0          # single symbol
    assert abs(got[2].entropy - 1.0) < 1e-6   # two equiprobable symbols
    assert abs(got[3].entropy - 2.0) < 1e-6   # four equiprobable symbols
    assert got[3].n_distinct_bytes == 4


def test_m09_registry_bounded(spark):
    rows = llm_registry.m09_byte_entropy(spark, SF_DIR_SMALL).collect()
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows[:200]:
        assert 0.0 <= r.entropy <= 8.0
        assert 1 <= r.n_distinct_bytes <= min(r.n_bytes, 256)


def test_q88_overlap_bounds(spark):
    r = registry.q88_topk_overlap(spark, SF_DIR_SMALL).collect()[0]
    k = registry.TOPK_OVERLAP_K
    assert r.n_top_a == r.n_top_b == k
    assert 0 <= r.n_both <= k
    assert 0.0 <= r.jaccard <= 1.0


# --- shingle df spectrum / metric agreement ----------------------------------


def test_d23_spectrum_cost_arithmetic(spark):
    rows = llm_registry.d23_shingle_df_spectrum(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert r.join_cost_contrib == r.n_shingles * r.df * r.df
    # the df-cap must actually bite somewhere on this corpus
    assert any(r.df > llm_registry.JACCARD_MAX_SHINGLE_DF for r in rows)


def test_s18_overlap_bounds(spark):
    r = llm_registry.s18_metric_agreement(spark, SF_DIR_SMALL).collect()[0]
    assert r.k == llm_registry.METRIC_AGREE_K
    assert 0 <= r.n_both <= r.k
    assert abs(r.overlap_at_k - r.n_both / r.k) < 1e-6


# --- table inventory ---------------------------------------------------------


def test_v17_inventory_covers_keyed_tables(spark):
    rows = {
        r.tbl: r
        for r in registry.v17_table_inventory(spark, SF_DIR_SMALL).collect()
    }
    assert set(rows) == set(registry.V17_TABLES)
    for tbl, r in rows.items():
        assert r.n_distinct_pk <= r.n_rows
        assert r.pk_unique == (r.n_distinct_pk == r.n_rows)
    # the declared PKs really are unique on this testdata
    assert all(r.pk_unique for r in rows.values())


# --- trend slope / moment battery --------------------------------------------


def test_ts22_matches_numpy_polyfit(spark):
    import numpy as np

    rows = registry.ts22_trend_slope(spark, SF_DIR_SMALL).collect()
    daily = (
        registry._events(spark, SF_DIR_SMALL)
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("d"),
        )
        .agg(F.avg("value").alias("y"))
        .orderBy("event_type", "d")
        .collect()
    )
    from collections import defaultdict

    series = defaultdict(list)
    for r in daily:
        series[r.event_type].append(r.y)
    for r in rows:
        ys = np.array(series[r.event_type])
        xs = np.arange(len(ys), dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(r.slope_per_day - slope) < 1e-3
        assert abs(r.intercept - intercept) < 1e-2
        assert 0.0 <= r.r_squared <= 1.0


def test_q89_moments_match_scipy_style(spark):
    import numpy as np

    rows = registry.q89_moment_battery(spark, SF_DIR_SMALL).collect()
    ev = registry._events(spark, SF_DIR_SMALL).select(
        "event_type", "value"
    ).collect()
    from collections import defaultdict

    vals = defaultdict(list)
    for r in ev:
        vals[r.event_type].append(r.value)
    for r in rows:
        a = np.array(vals[r.event_type])
        m = a.mean()
        m2 = ((a - m) ** 2).mean()
        skew = ((a - m) ** 3).mean() / m2**1.5
        kurt = ((a - m) ** 4).mean() / m2**2 - 3.0
        assert abs(r.mean - m) < 1e-4
        assert abs(r.var_samp - a.var(ddof=1)) < 1e-2
        assert abs(r.skewness - skew) < 1e-3
        assert abs(r.excess_kurtosis - kurt) < 1e-2


# --- Pythagorean means -------------------------------------------------------


def test_q90_am_gm_hm_ordering(spark):
    rows = registry.q90_mean_battery(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        # AM >= GM >= HM for positive data, equality only when constant
        assert r.arithmetic_mean >= r.geometric_mean - 1e-6
        assert r.geometric_mean >= r.harmonic_mean - 1e-6
        assert r.n_pos > 0 and r.harmonic_mean > 0


# --- OOV rate / near-dup transitivity ----------------------------------------


def test_t23_oov_splits_and_bounds(spark):
    rows = {r.split: r for r in llm_registry.t23_oov_rate(
        spark, SF_DIR_SMALL).collect()}
    assert set(rows) == {"val", "test"}
    for r in rows.values():
        assert 0 <= r.n_oov <= r.n_tokens
        assert 0.0 <= r.oov_rate <= 1.0


def test_d24_counts_consistent(spark):
    r = llm_registry.d24_transitivity_audit(spark, SF_DIR_SMALL).collect()[0]
    assert r.n_edges >= 0 and r.n_wedges >= 0
    # each triangle closes exactly 3 wedges
    assert 3 * r.n_triangles <= max(r.n_wedges, 0) or r.n_wedges == 0
    if r.transitivity is not None:
        assert 0.0 <= r.transitivity <= 1.0 + 1e-6


# --- CDF point query / daily intensity ---------------------------------------


def test_q91_cdf_monotone_in_ref_value(spark):
    from collections import defaultdict

    rows = registry.q91_cdf_point(spark, SF_DIR_SMALL).collect()
    by_type = defaultdict(dict)
    for r in rows:
        assert 0.0 <= r.cdf <= 1.0
        by_type[r.event_type][r.ref_value] = r.cdf
    for et, pts in by_type.items():
        vals = [pts[p] for p in sorted(pts)]
        assert vals == sorted(vals)  # CDF is non-decreasing


def test_ts23_intensity_at_least_one(spark):
    rows = registry.ts23_daily_intensity(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows:
        assert r.events_per_user >= 1.0  # every active user has >= 1 event
        assert r.n_users <= r.n_events


# --- categorical entropy -----------------------------------------------------


def test_v18_entropy_bounds(spark):
    rows = registry.v18_categorical_entropy(spark, SF_DIR_SMALL).collect()
    assert {r.column_name for r in rows} == {
        f"{t}.{c}" for t, c in registry.V18_COLUMNS
    }
    import math as m

    for r in rows:
        assert r.entropy >= 0.0
        if r.n_values > 1:
            assert 0.0 <= r.normalized_entropy <= 1.0 + 1e-6
            assert r.entropy <= m.log(r.n_values) + 1e-6


# --- week-over-week change ---------------------------------------------------


def test_ts24_weekday_alignment(spark):
    rows = registry.ts24_wow_change(spark, SF_DIR_SMALL).collect()
    assert rows
    for r in rows[:100]:
        if r.wow_change is not None:
            expect = (r.total - r.prev_week) / r.prev_week
            assert abs(r.wow_change - expect) < 2e-6
    # lag-7 alignment: each emitted day's weekday equals its comparison's
    import datetime as dt

    days = {(r.event_type, r.day) for r in rows}
    for r in rows[:50]:
        prior = r.day - dt.timedelta(days=7)
        assert r.day.weekday() == prior.weekday()


# --- Gini / embedding drift --------------------------------------------------


def test_q92_gini_matches_python(spark):
    r = registry.q92_gini(spark, SF_DIR_SMALL).collect()[0]
    spends = sorted(
        x["s"]
        for x in registry.load_table(spark, SF_DIR_SMALL, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
        .collect()
    )
    n = len(spends)
    want = 2 * sum((i + 1) * x for i, x in enumerate(spends)) / (
        n * sum(spends)
    ) - (n + 1) / n
    assert abs(r.gini - want) < 1e-4
    assert 0.0 <= r.gini < 1.0
    assert r.n_customers == n


def test_s19_drift_bounds(spark):
    r = llm_registry.s19_embedding_drift(spark, SF_DIR_SMALL).collect()[0]
    # the synthetic embeddings are near-zero-mean, so both centroids are
    # small noise vectors: their cosine is bounded but uninformative
    # (consistent with s17's low anisotropy), while the norm RATIO of
    # two same-generator halves stays near 1
    assert -1.0 - 1e-6 <= r.centroid_cosine <= 1.0 + 1e-6
    assert 0.5 < r.norm_ratio < 2.0


# --- pipeline funnel ---------------------------------------------------------


def test_c19_funnel_monotone_and_matches_c01(spark):
    rows = sorted(
        llm_registry.c19_pipeline_funnel(spark, SF_DIR_SMALL).collect(),
        key=lambda r: r.stage_no,
    )
    assert [r.stage for r in rows] == [
        "raw", "quality", "exact_dedup", "near_dedup",
    ]
    ns = [r.n for r in rows]
    assert all(b <= a for a, b in zip(ns, ns[1:]))  # funnel never grows
    # final stage equals the c01 composition's survivor count
    c01_n = llm_registry.c01_corpus_clean(spark, SF_DIR_SMALL).count()
    assert ns[-1] == c01_n
    for r in rows[1:]:
        assert 0.0 <= r.drop_frac <= 1.0


# --- cohort LTV --------------------------------------------------------------


def test_q93_ltv_curves_monotone_and_conserve_revenue(spark):
    from collections import defaultdict

    rows = registry.q93_cohort_ltv(spark, SF_DIR_SMALL).collect()
    assert rows
    by_cohort = defaultdict(list)
    for r in rows:
        assert r.age_months >= 0
        by_cohort[r.cohort_month].append((r.age_months, r.cum_revenue))
    for cm, pts in by_cohort.items():
        pts.sort()
        cums = [c for _, c in pts]
        assert all(b >= a - 1e-6 for a, b in zip(cums, cums[1:]))
        assert pts[0][0] == 0  # every cohort starts at age 0
    total = sum(r.revenue for r in rows)
    orders_total = (
        registry.load_table(spark, SF_DIR_SMALL, "orders")
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
    )
    assert abs(total - orders_total) < 1.0  # every order lands in a cell


# --- shuffle balance ---------------------------------------------------------


def test_q94_skew_bounds(spark):
    r = registry.q94_shuffle_balance(spark, SF_DIR_SMALL).collect()[0]
    ev_n = registry._events(spark, SF_DIR_SMALL).count()
    assert r.total_rows == ev_n
    assert 1 <= r.n_buckets <= registry.SKEW_BUCKETS
    assert r.min_bucket <= r.max_bucket
    assert r.skew_factor >= 1.0 - 1e-6  # max >= mean always


# --- nested top-N ------------------------------------------------------------


def test_q95_grid_shape_and_ranks(spark):
    from collections import defaultdict

    rows = registry.q95_nested_topn(spark, SF_DIR_SMALL).collect()
    assert len(rows) == registry.NESTED_TOP_NATIONS * registry.NESTED_TOP_BRANDS
    by_nation = defaultdict(list)
    for r in rows:
        assert 1 <= r.nation_rank <= registry.NESTED_TOP_NATIONS
        assert 1 <= r.brand_rank <= registry.NESTED_TOP_BRANDS
        assert r.revenue <= r.nation_revenue
        by_nation[r.nation].append(r)
    for nat, rs in by_nation.items():
        rs.sort(key=lambda r: r.brand_rank)
        revs = [r.revenue for r in rs]
        assert revs == sorted(revs, reverse=True)  # brands ranked desc
