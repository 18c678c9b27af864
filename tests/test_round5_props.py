"""Property/invariant tests for round-5 gates (beyond the DuckDB
oracle hash-match): each gate's defining mathematical identity is
checked on the sf0.001 fixture."""

from __future__ import annotations

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_ks_two_sample_bounds(spark):
    from python_tool_setup_spark.queries.batch71 import q346_ks_two_sample

    r = q346_ks_two_sample(spark, SF_DIR).collect()[0]
    # D in [0, 1]; numerator bounded by n1*n2; micro consistent
    assert 0 <= r["ks_micro"] <= 1_000_000
    assert 0 <= r["d_num"] <= r["n1"] * r["n2"]
    assert r["ks_micro"] == round(r["d_num"] / (r["n1"] * r["n2"]) * 1e6)


def test_js_divergence_bounded_by_ln2(spark):
    from python_tool_setup_spark.queries.batch71 import q347_js_divergence

    r = q347_js_divergence(spark, SF_DIR).collect()[0]
    # JSD in [0, ln 2] (nats); quantization tolerance 1 unit/bucket
    assert -r["n_buckets"] <= r["jsd_nano"] <= 693_147_181 + r["n_buckets"]


def test_padding_waste_accounting(spark):
    from python_tool_setup_spark.queries.batch72 import q348_padding_waste

    rows = q348_padding_waste(spark, SF_DIR).collect()
    for r in rows:
        assert r["padded_tokens"] == r["real_tokens"] + r["pad_waste"]
        assert 0 < r["utilization_micro"] <= 1_000_000
    # buckets strictly increasing powers of two
    bs = [r["bucket"] for r in rows]
    assert bs == sorted(bs) and all(b & (b - 1) == 0 for b in bs)


def test_effective_diversity_hill_bounds(spark):
    from python_tool_setup_spark.queries.batch72 import (
        q349_effective_diversity,
    )

    r = q349_effective_diversity(spark, SF_DIR).collect()[0]
    # 1 <= exp(H) <= n_sources
    assert 999_000 <= r["effective_sources_micro"]
    assert r["effective_sources_micro"] <= r["n_sources"] * 1_000_000 + 1000


def test_bloom_semi_join_no_false_negatives(spark):
    from python_tool_setup_spark.queries.batch73 import q350_bloom_semi_join

    r = q350_bloom_semi_join(spark, SF_DIR).collect()[0]
    # every true key passes the filter; fp count consistent
    assert r["n_candidates"] >= r["n_true"]
    assert r["n_false_pos"] == r["n_candidates"] - r["n_true"]
    assert r["n_bits_set"] <= 8192


def test_cramers_v_bounds(spark):
    from python_tool_setup_spark.queries.batch73 import q351_cramers_v

    r = q351_cramers_v(spark, SF_DIR).collect()[0]
    assert 0 <= r["v_micro"] <= 1_000_000
    assert r["dof"] == (r["n_rows"] - 1) * (r["n_cols"] - 1)


def test_retention_triangle_monotone_age0(spark):
    from python_tool_setup_spark.queries.batch74 import (
        q352_retention_triangle,
    )

    rows = q352_retention_triangle(spark, SF_DIR).collect()
    for r in rows:
        assert r["n_active"] <= r["cohort_size"]
        if r["age_weeks"] == 0:
            assert r["retention_micro"] == 1_000_000


def test_grouped_map_is_mean_of_aps(spark):
    from python_tool_setup_spark.queries.batch74 import q353_grouped_map

    rows = q353_grouped_map(spark, SF_DIR).collect()
    aps = [r["ap_micro"] for r in rows]
    assert all(r["map_micro"] == round(sum(aps) / len(aps)) for r in rows)
    assert all(0 <= a <= 1_000_000 for a in aps)


def test_fleiss_kappa_identity(spark):
    from python_tool_setup_spark.queries.batch75 import q354_fleiss_kappa

    r = q354_fleiss_kappa(spark, SF_DIR).collect()[0]
    po, pe = r["po_micro"] / 1e6, r["pe_micro"] / 1e6
    kappa = (po - pe) / (1 - pe)
    assert abs(kappa * 1e6 - r["kappa_micro"]) < 5  # quantization slack


def test_quantile_normalization_preserves_counts(spark):
    from python_tool_setup_spark.queries.batch75 import (
        q355_quantile_normalization,
    )
    from python_tool_setup_spark.tables import load_table

    rows = q355_quantile_normalization(spark, SF_DIR).collect()
    d = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()


def test_interval_overlap_bounds(spark):
    from python_tool_setup_spark.queries.batch76 import q356_interval_overlap

    for r in q356_interval_overlap(spark, SF_DIR).collect():
        assert 0 <= r["overlap_sec"] <= r["covered_sec"]


def test_ngram_novelty_bounds(spark):
    from python_tool_setup_spark.queries.batch76 import q357_ngram_novelty

    r = q357_ngram_novelty(spark, SF_DIR).collect()[0]
    assert r["novel_distinct"] <= r["val_distinct_ngrams"]
    assert r["novel_occurrences"] <= r["val_ngram_occurrences"]


def test_gini_split_partitions_population(spark):
    from python_tool_setup_spark.queries.batch77 import q359_gini_split
    from python_tool_setup_spark.tables import load_table

    r = q359_gini_split(spark, SF_DIR).collect()[0]
    d = load_table(spark, SF_DIR, "documents")
    assert r["n_left"] + r["n_right"] == d.count()
    assert r["n_left"] > 0 and r["n_right"] > 0


def test_poisson_bootstrap_ci_contains_point(spark):
    from python_tool_setup_spark.queries.batch78 import (
        q360_poisson_bootstrap,
    )

    r = q360_poisson_bootstrap(spark, SF_DIR).collect()[0]
    assert r["ci_lo_cents"] <= r["ci_hi_cents"]
    # the point estimate should sit inside a 95% bootstrap CI
    assert r["ci_lo_cents"] <= r["mean_cents"] <= r["ci_hi_cents"]


def test_dedup_savings_accounting(spark):
    from python_tool_setup_spark.queries.batch78 import q361_dedup_savings
    from python_tool_setup_spark.tables import load_table

    rows = q361_dedup_savings(spark, SF_DIR).collect()
    d = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()
    for r in rows:
        assert r["dup_docs"] == r["n_docs"] - r["n_clusters"]
        if r["cluster_size"] == 1:
            assert r["chars_saved"] == 0


def test_weighted_jaccard_bounds(spark):
    from python_tool_setup_spark.queries.batch79 import q362_weighted_jaccard

    r = q362_weighted_jaccard(spark, SF_DIR).collect()[0]
    assert r["inter_mass"] <= r["union_mass"]
    assert 0 <= r["weighted_jaccard_micro"] <= 1_000_000


def test_daily_bands_ordered(spark):
    from python_tool_setup_spark.queries.batch79 import q363_daily_value_bands

    for r in q363_daily_value_bands(spark, SF_DIR).collect():
        assert r["p10"] <= r["p50"] <= r["p90"]


def test_srm_check_counts_partition_users(spark):
    from python_tool_setup_spark.queries.batch80 import q364_srm_check

    for r in q364_srm_check(spark, SF_DIR).collect():
        assert r["n_a"] > 0 and r["n_b"] > 0
        chi2 = (r["n_a"] - r["n_b"]) ** 2 / (r["n_a"] + r["n_b"])
        assert abs(chi2 * 1e6 - r["chi2_micro"]) <= 1


def test_trending_tokens_rank_order(spark):
    from python_tool_setup_spark.queries.batch80 import q365_trending_tokens

    rows = q365_trending_tokens(spark, SF_DIR).collect()
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    lifts = [abs(r["lift_micro"]) for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_heaps_law_monotone_vocab(spark):
    from python_tool_setup_spark.queries.batch81 import q366_heaps_law

    rows = q366_heaps_law(spark, SF_DIR).collect()
    vocabs = [r["vocab"] for r in rows]
    assert vocabs == sorted(vocabs)  # vocab grows with tokens read
    for r in rows:
        assert r["vocab"] <= r["n_tokens"]


def test_assortativity_in_pearson_range(spark):
    from python_tool_setup_spark.queries.batch81 import (
        q367_degree_assortativity,
    )

    r = q367_degree_assortativity(spark, SF_DIR).collect()[0]
    assert -1_000_000 <= r["assortativity_micro"] <= 1_000_000


def test_repetition_loops_bounds(spark):
    from python_tool_setup_spark.queries.batch82 import q368_repetition_loops

    for r in q368_repetition_loops(spark, SF_DIR).collect():
        assert 0 <= r["n_loopy"] <= r["n_docs"]
        assert r["worst_repetition"] >= 1


def test_fertility_ratio_consistency(spark):
    from python_tool_setup_spark.queries.batch82 import (
        q369_tokenizer_fertility,
    )

    for r in q369_tokenizer_fertility(spark, SF_DIR).collect():
        want = round(r["total_chars"] / r["total_tokens"] * 1000)
        assert abs(r["chars_per_token_milli"] - want) <= 1


def test_vocab_tier_masses_sum(spark):
    from python_tool_setup_spark.queries.batch83 import q370_vocab_tier_mix

    for r in q370_vocab_tier_mix(spark, SF_DIR).collect():
        assert (
            r["head_mass"] + r["middle_mass"] + r["tail_mass"]
            == r["token_mass"]
        )


def test_langid_confusion_rows_sum_to_actual(spark):
    from collections import defaultdict

    from python_tool_setup_spark.queries.batch83 import q371_langid_confusion

    rows = q371_langid_confusion(spark, SF_DIR).collect()
    by_actual = defaultdict(int)
    for r in rows:
        by_actual[r["actual"]] += r["n"]
    for r in rows:
        assert by_actual[r["actual"]] == r["n_actual"]


def test_hhi_bounds(spark):
    from python_tool_setup_spark.queries.batch84 import (
        q372_source_concentration_hhi,
    )

    for r in q372_source_concentration_hhi(spark, SF_DIR).collect():
        # HHI between 1/k and 1
        assert r["hhi_micro"] >= round(1e6 / r["n_sources"]) - 1
        assert r["hhi_micro"] <= 1_000_000
        assert r["top_share_micro"] * r["n_sources"] >= r["hhi_micro"]


def test_ctfidf_shared_terms_score_zero_or_absent(spark):
    from python_tool_setup_spark.queries.batch84 import q373_ctfidf_keywords

    rows = q373_ctfidf_keywords(spark, SF_DIR).collect()
    # exactly top-3 per source, ranks 1..3, scores non-increasing
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    for src, rs in by_src.items():
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score_nano"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_norm_outliers_bounded(spark):
    from python_tool_setup_spark.queries.batch85 import (
        q374_embedding_norm_outliers,
    )

    for r in q374_embedding_norm_outliers(spark, SF_DIR).collect():
        assert 0 <= r["n_outliers"] <= r["n_vectors"]
        assert r["median_norm_micro"] > 0


def test_jl_ratios_concentrate(spark):
    from python_tool_setup_spark.queries.batch85 import (
        q375_jl_projection_audit,
    )

    r = q375_jl_projection_audit(spark, SF_DIR).collect()[0]
    assert r["n_pairs"] > 0
    assert r["min_ratio_micro"] <= r["mean_ratio_micro"] <= r["max_ratio_micro"]
    # JL with k=8: mean distortion should be within a loose band of 1
    assert 200_000 <= r["mean_ratio_micro"] <= 5_000_000


def test_group_kfold_no_spanning_groups(spark):
    from python_tool_setup_spark.queries.batch86 import q376_group_kfold

    rows = q376_group_kfold(spark, SF_DIR).collect()
    assert all(r["groups_spanning_folds"] == 0 for r in rows)
    assert len(rows) == 5


def test_time_embargo_boundaries(spark):
    from python_tool_setup_spark.queries.batch86 import (
        q377_time_embargo_split,
    )

    rows = {r["split"]: r for r in q377_time_embargo_split(spark, SF_DIR).collect()}
    assert rows["train"]["last_ts"] < "2024-01-20 00:00:00"
    if "test" in rows:
        assert rows["test"]["first_ts"] >= "2024-01-21 00:00:00"
    assert all(r["boundary_clean"] for r in rows.values())


def test_oof_encoding_excludes_own_fold(spark):
    from python_tool_setup_spark.queries.batch87 import (
        q378_oof_target_encoding,
    )
    from collections import defaultdict

    rows = q378_oof_target_encoding(spark, SF_DIR).collect()
    tot = defaultdict(int)
    for r in rows:
        tot[r["cat"]] += r["n_rows"]
    for r in rows:
        assert r["n_oof"] == tot[r["cat"]] - r["n_rows"]


def test_label_shift_estimator_sane(spark):
    from python_tool_setup_spark.queries.batch87 import (
        q379_label_shift_estimate,
    )

    r = q379_label_shift_estimate(spark, SF_DIR).collect()[0]
    # estimator must land near the true prior when shift is mild
    assert abs(r["est_prior_micro"] - r["true_prior_micro"]) < 300_000
    assert r["tpr_micro"] != r["fpr_micro"]  # identifiable


def test_rolling_anomaly_bounds(spark):
    from python_tool_setup_spark.queries.batch88 import (
        q380_rolling_median_anomaly,
    )

    for r in q380_rolling_median_anomaly(spark, SF_DIR).collect():
        assert 0 <= r["n_anomalies"] <= r["n_days"]
        assert r["mean_daily"] > 0


def test_referential_integrity_fixture_intact(spark):
    from python_tool_setup_spark.queries.batch88 import (
        q381_referential_integrity,
    )

    rows = q381_referential_integrity(spark, SF_DIR).collect()
    assert len(rows) == 3
    # the generated fixture preserves referential integrity
    assert all(r["intact"] for r in rows)
    assert all(r["n_orphans"] == 0 for r in rows)


def test_hll_within_bound(spark):
    from python_tool_setup_spark.queries.batch89 import q382_hll_accuracy

    rows = q382_hll_accuracy(spark, SF_DIR).collect()
    assert rows and all(r["within_3rsd"] for r in rows)


def test_sampling_audit_consistent(spark):
    from python_tool_setup_spark.queries.batch89 import (
        q383_sampling_error_audit,
    )

    r = q383_sampling_error_audit(spark, SF_DIR).collect()[0]
    assert 0 < r["n_sample"] < r["n_pop"]
    assert r["within_3se"]
    assert r["abs_err_cents"] == abs(
        r["sample_mean_cents"] - r["pop_mean_cents"]
    ) or abs(
        r["abs_err_cents"]
        - abs(r["sample_mean_cents"] - r["pop_mean_cents"])
    ) <= 1  # rounding of means vs rounding of the diff


def test_minhash_estimator_error_within_theory(spark):
    from python_tool_setup_spark.queries.batch90 import (
        q384_minhash_estimator_audit,
    )

    r = q384_minhash_estimator_audit(spark, SF_DIR).collect()[0]
    assert r["n_pairs"] > 0
    # k=16 minhash: sd <= 1/(2*sqrt(k)) = 0.125; mean |err| well inside
    assert r["mean_abs_err_micro"] <= 200_000
    assert r["max_abs_err_micro"] <= 1_000_000


def test_shingle_width_monotone(spark):
    from python_tool_setup_spark.queries.batch90 import (
        q385_shingle_width_sensitivity,
    )

    rows = q385_shingle_width_sensitivity(spark, SF_DIR).collect()
    ms = {r["shingle_n"]: r["mean_jaccard_micro"] for r in rows}
    assert ms[2] >= ms[3] >= ms[5]


def test_peak_concurrency_bounds(spark):
    from python_tool_setup_spark.queries.batch91 import q386_peak_concurrency

    r = q386_peak_concurrency(spark, SF_DIR).collect()[0]
    assert 1 <= r["peak_active"] <= r["n_intervals"]


def test_lead_lag_full_grid(spark):
    from python_tool_setup_spark.queries.batch91 import (
        q387_lead_lag_correlation,
    )

    rows = q387_lead_lag_correlation(spark, SF_DIR).collect()
    assert [r["lag_days"] for r in rows] == list(range(-3, 4))
    assert all(-1_000_000 <= r["corr_micro"] <= 1_000_000 for r in rows)


def test_weekday_index_mean_one(spark):
    from python_tool_setup_spark.queries.batch92 import (
        q388_weekday_seasonality,
    )

    rows = q388_weekday_seasonality(spark, SF_DIR).collect()
    assert len(rows) <= 7
    # day-weighted mean of the index is 1 by construction
    tot_days = sum(r["n_days"] for r in rows)
    wmean = sum(r["index_milli"] * r["n_days"] for r in rows) / tot_days
    assert abs(wmean - 1000) <= 2
    assert all(r["var_explained_micro"] <= 1_000_000 for r in rows)


def test_attribution_totals_agree(spark):
    from python_tool_setup_spark.queries.batch92 import (
        q389_attribution_comparison,
    )

    rows = q389_attribution_comparison(spark, SF_DIR).collect()
    ft = sum(r["first_touch"] for r in rows)
    lt = sum(r["last_touch"] for r in rows)
    lin = sum(r["linear_micro"] for r in rows)
    # every scheme distributes exactly one conversion per journey
    assert ft == lt
    assert abs(lin - ft * 1_000_000) <= ft * 3  # per-touch rounding


def test_bigram_entropy_positive(spark):
    from python_tool_setup_spark.queries.batch93 import (
        q390_bigram_lm_entropy,
    )

    r = q390_bigram_lm_entropy(spark, SF_DIR).collect()[0]
    assert r["n_val_bigrams"] > 0
    assert r["cross_entropy_micro"] > 0
    # add-1 smoothing bounds entropy by ln(c1_max + V) ~ ln corpus
    assert r["cross_entropy_micro"] < 20_000_000  # < 20 nats


def test_coverage_curve_monotone(spark):
    from python_tool_setup_spark.queries.batch93 import (
        q391_vocab_coverage_curve,
    )

    rows = q391_vocab_coverage_curve(spark, SF_DIR).collect()
    covs = [r["coverage_micro"] for r in rows]
    assert covs == sorted(covs)
    for r in rows:
        assert r["covered_mass"] <= r["total_mass"]
        if r["top_k"] >= r["vocab_size"]:
            assert r["coverage_micro"] == 1_000_000


def test_co_engagement_symmetric_bounds(spark):
    from python_tool_setup_spark.queries.batch94 import (
        q392_co_engagement_overlap,
    )

    for r in q392_co_engagement_overlap(spark, SF_DIR).collect():
        assert r["n_both"] <= min(r["n1"], r["n2"])
        assert 0 <= r["jaccard_micro"] <= 1_000_000


def test_interarrival_p50_le_p90(spark):
    from python_tool_setup_spark.queries.batch94 import (
        q393_interarrival_percentiles,
    )

    for r in q393_interarrival_percentiles(spark, SF_DIR).collect():
        assert 0 <= r["p50_gap_sec"] <= r["p90_gap_sec"]


def test_decile_transition_conserves_customers(spark):
    from python_tool_setup_spark.queries.batch95 import q394_decile_transition

    rows = q394_decile_transition(spark, SF_DIR).collect()
    assert rows
    assert all(
        1 <= r["decile_y1"] <= 10 and 1 <= r["decile_y2"] <= 10 for r in rows
    )


def test_revenue_concentration_monotone(spark):
    from python_tool_setup_spark.queries.batch95 import (
        q395_revenue_concentration,
    )

    rows = q395_revenue_concentration(spark, SF_DIR).collect()
    shares = [r["share_micro"] for r in rows]
    assert shares == sorted(shares)
    for r in rows:
        # top-p% holds at least p% of revenue (sorted by spend)
        assert r["share_micro"] >= r["top_pct"] * 10_000 - 10_000


def test_growth_accounting_identity(spark):
    from python_tool_setup_spark.queries.batch96 import q396_growth_accounting

    rows = q396_growth_accounting(spark, SF_DIR).collect()
    by_week = {r["week"]: r for r in rows}
    weeks = sorted(by_week)
    for r in rows:
        assert (
            r["new_users"] + r["retained"] + r["resurrected"] == r["active"]
        )
    for prev, cur in zip(weeks, weeks[1:]):
        p, c = by_week[prev], by_week[cur]
        from datetime import date, timedelta

        if date.fromisoformat(cur) - date.fromisoformat(prev) == timedelta(
            days=7
        ):
            # last week's actives either retained or churned
            assert p["active"] == c["retained"] + c["churned_in"]


def test_stickiness_bounds(spark):
    from python_tool_setup_spark.queries.batch96 import q397_stickiness_ratio

    for r in q397_stickiness_ratio(spark, SF_DIR).collect():
        assert r["wau"] <= r["user_days"] <= r["wau"] * 7
        assert 142_857 <= r["stickiness_micro"] <= 1_000_000 + 1


def test_value_drift_partition(spark):
    from python_tool_setup_spark.queries.batch97 import (
        q398_categorical_value_drift,
    )

    for r in q398_categorical_value_drift(spark, SF_DIR).collect():
        assert (
            r["appeared"] + r["disappeared"] + r["stable"] == r["n_values"]
        )


def test_idempotency_accounting(spark):
    from python_tool_setup_spark.queries.batch97 import (
        q399_event_idempotency_audit,
    )

    for r in q399_event_idempotency_audit(spark, SF_DIR).collect():
        assert r["n_logical"] <= r["n_events"]
        assert r["n_duplicates"] == r["n_events"] - r["n_logical"]
        assert r["worst_copies"] >= 1


def test_markov_entropy_bounds(spark):
    import math

    from python_tool_setup_spark.queries.batch98 import (
        q400_markov_transition_entropy,
    )

    rows = q400_markov_transition_entropy(spark, SF_DIR).collect()
    assert rows, "at least one state with outgoing transitions"
    for r in rows:
        # 0 <= H <= ln(fanout); fanout <= n_transitions
        assert 1 <= r["fanout"] <= r["n_transitions"]
        ub = round(1e9 * math.log(r["fanout"])) if r["fanout"] > 1 else 0
        assert -r["fanout"] <= r["entropy_nano"] <= ub + r["fanout"]


def test_business_day_latency_bounds(spark):
    from python_tool_setup_spark.queries.batch98 import (
        q401_business_day_latency,
    )

    for r in q401_business_day_latency(spark, SF_DIR).collect():
        # business days never exceed calendar days and never negative
        # (ship after order in the fixture); avg consistent with sum
        assert r["busdays_sum"] >= 0
        assert r["busdays_max"] >= 0
        assert r["avg_busdays_micro"] == round(
            1e6 * r["busdays_sum"] / r["n_lines"]
        )


def test_spearman_in_range(spark):
    from python_tool_setup_spark.queries.batch99 import (
        q402_spearman_correlation,
    )

    r = q402_spearman_correlation(spark, SF_DIR).collect()[0]
    assert r["n"] > 0
    assert -1_000_000 <= r["spearman_micro"] <= 1_000_000


def test_wilson_bound_below_rate(spark):
    from python_tool_setup_spark.queries.batch99 import (
        q403_wilson_interval_flags,
    )

    rows = q403_wilson_interval_flags(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # Wilson lower bound is <= the point estimate and >= 0; a
        # flagged nation's bound must clear the global rate
        assert 0 <= r["wilson_lo_micro"] <= r["rate_micro"] + 1
        assert r["flagged"] == (
            r["wilson_lo_micro"] > r["global_rate_micro"]
        )


def test_twap_consistency(spark):
    from python_tool_setup_spark.queries.batch100 import (
        q404_time_weighted_average,
    )

    rows = q404_time_weighted_average(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["dt_ms_sum"] > 0
        assert r["twap_micro"] == round(int(r["vw_sum"]) / r["dt_ms_sum"])


def test_session_entry_exit_accounting(spark):
    from python_tool_setup_spark.queries.batch100 import (
        q405_session_entry_exit,
    )

    rows = q405_session_entry_exit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bounces"] <= r["n_sessions"]
        assert r["events_sum"] >= r["n_sessions"]
        # a bounce session has entry == exit (single event)
        if r["entry_type"] != r["exit_type"]:
            assert r["bounces"] == 0


def test_hierarchical_shares_sum_to_one(spark):
    from python_tool_setup_spark.queries.batch101 import (
        q406_hierarchical_shares,
    )

    rows = q406_hierarchical_shares(spark, SF_DIR).collect()
    assert rows
    glob = sum(r["share_of_global_micro"] for r in rows)
    assert abs(glob - 1_000_000) <= len(rows)  # rounding slack
    by_region = {}
    for r in rows:
        by_region.setdefault(r["r_name"], 0)
        by_region[r["r_name"]] += r["share_of_region_micro"]
    for tot in by_region.values():
        assert abs(tot - 1_000_000) <= len(rows)


def test_approx_percentile_within_bound(spark):
    from python_tool_setup_spark.queries.batch101 import (
        q407_approx_percentile_audit,
    )

    r = q407_approx_percentile_audit(spark, SF_DIR).collect()[0]
    assert r["within_bound"] is True
    assert r["n"] > 0 and r["exact_p50"] > 0


def test_event_trigram_counts(spark):
    from python_tool_setup_spark.queries.batch102 import q408_event_trigrams

    rows = q408_event_trigrams(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_neardup_pr_monotone(spark):
    from python_tool_setup_spark.queries.batch102 import (
        q409_neardup_pr_curve,
    )

    rows = q409_neardup_pr_curve(spark, SF_DIR).collect()
    assert len(rows) == 5
    # raising the threshold can only shrink the predicted-positive set
    preds = [r["pred_pos"] for r in rows]
    assert preds == sorted(preds, reverse=True)
    for r in rows:
        assert r["tp"] <= min(r["pred_pos"], r["pos"])


def test_chisq_nonnegative(spark):
    from python_tool_setup_spark.queries.batch102 import (
        q410_chisq_goodness_of_fit,
    )

    rows = q410_chisq_goodness_of_fit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["chisq_nano"] >= -r["df_plus_one"]  # quantization slack
        assert 1 <= r["df_plus_one"] <= 7


def test_time_to_convert_ordering(spark):
    from python_tool_setup_spark.queries.batch103 import (
        q411_time_to_convert,
    )

    r = q411_time_to_convert(spark, SF_DIR).collect()[0]
    assert r["n_converted"] > 0
    assert 0 <= r["p50_s"] <= r["p90_s"] <= r["max_s"]


def test_neyman_allocation_budget(spark):
    from python_tool_setup_spark.queries.batch103 import (
        q412_neyman_allocation,
    )

    rows = q412_neyman_allocation(spark, SF_DIR).collect()
    assert rows
    share = sum(r["alloc_share_micro"] for r in rows)
    assert abs(share - 1_000_000) <= len(rows)
    total = sum(r["alloc_n"] for r in rows)
    assert abs(total - 10_000) <= len(rows)


def test_centroid_drift_bounds(spark):
    from python_tool_setup_spark.queries.batch103 import (
        q413_embedding_centroid_drift,
    )

    rows = q413_embedding_centroid_drift(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_old"] > 0 and r["n_new"] > 0
        assert -1_000_000 <= r["cos_micro"] <= 1_000_001
        assert r["shift_l2_micro"] >= 0


def test_lsh_band_tuning_monotone(spark):
    from python_tool_setup_spark.queries.batch104 import (
        q414_lsh_band_tuning,
    )

    rows = q414_lsh_band_tuning(spark, SF_DIR).collect()
    assert len(rows) == 4
    # more rows per band -> stricter -> fewer collisions (weakly)
    by_r = sorted(rows, key=lambda r: r["r"])
    hits = [r["collided"] for r in by_r]
    assert hits == sorted(hits, reverse=True)
    for r in rows:
        assert 0 <= r["collided"] <= r["n_pairs"]
        assert 0 <= r["expected_sum_micro"] <= r["n_pairs"] * 1_000_000


def test_partition_invariance_holds(spark):
    from python_tool_setup_spark.queries.batch104 import (
        q415_partition_invariance_audit,
    )

    r = q415_partition_invariance_audit(spark, SF_DIR).collect()[0]
    assert r["layouts_agree"] is True
    assert r["n_dedup"] > 0 and r["cents_sum"] > 0


def test_price_dispersion_ranked(spark):
    from python_tool_setup_spark.queries.batch105 import (
        q416_price_dispersion_topk,
    )

    rows = q416_price_dispersion_topk(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    cvs = [r["cv_micro"] for r in rows]
    assert cvs == sorted(cvs, reverse=True)
    for r in rows:
        assert r["n"] >= 3 and r["cv_micro"] >= 0


def test_geometric_fit_mass_conservation(spark):
    from python_tool_setup_spark.queries.batch105 import (
        q417_geometric_fit_order_sizes,
    )

    rows = q417_geometric_fit_order_sizes(spark, SF_DIR).collect()
    assert rows
    n_obs = sum(r["observed"] for r in rows)
    exp_total = sum(r["expected_micro"] for r in rows)
    # fitted masses sum to n (tail bucket is the exact complement)
    assert abs(exp_total - n_obs * 1_000_000) <= len(rows) * 1_000_000
    for r in rows:
        assert r["chisq_term_milli"] >= 0


def test_fd_binning_positive(spark):
    from python_tool_setup_spark.queries.batch106 import (
        q418_fd_binning_advisor,
    )

    rows = q418_fd_binning_advisor(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["fd_width_milli"] > 0
        assert r["fd_bins"] >= 1


def test_user_entropy_bounds(spark):
    import math

    from python_tool_setup_spark.queries.batch106 import (
        q419_user_behavior_entropy,
    )

    r = q419_user_behavior_entropy(spark, SF_DIR).collect()[0]
    assert 0 <= r["single_type_users"] <= r["n_users"]
    assert 0 <= r["mean_entropy_nano"] <= r["max_entropy_nano"]
    assert r["max_entropy_nano"] <= round(1e9 * math.log(5)) + 5


def test_dead_stock_accounting(spark):
    from python_tool_setup_spark.queries.batch106 import (
        q420_catalog_dead_stock,
    )

    rows = q420_catalog_dead_stock(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dead_parts"] <= r["n_parts"]
        if r["dead_parts"] == 0:
            assert r["dead_retail_cents"] == 0


def test_pii_density_accounting(spark):
    from python_tool_setup_spark.queries.batch107 import (
        q421_pii_density_profile,
    )

    rows = q421_pii_density_profile(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["docs_with_pii"] <= r["n_docs"]
        if r["emails"] + r["phones"] == 0:
            assert r["docs_with_pii"] == 0 and r["pii_per_kb_micro"] == 0


def test_consistent_hash_movement(spark):
    from python_tool_setup_spark.queries.batch107 import (
        q422_consistent_hash_rebalance,
    )

    rows = q422_consistent_hash_rebalance(spark, SF_DIR).collect()
    assert len(rows) == 16
    total = sum(r["n_keys"] for r in rows)
    moved = sum(r["moved_keys"] for r in rows)
    # naive modulo resharding moves the vast majority of keys
    assert moved / total > 0.8
    for r in rows:
        assert 0 <= r["moved_keys"] <= r["n_keys"]


def test_bloom_sizing_monotone(spark):
    from python_tool_setup_spark.queries.batch107 import (
        q423_bloom_sizing_advisor,
    )

    rows = q423_bloom_sizing_advisor(spark, SF_DIR).collect()
    assert len(rows) == 3
    ms = [r["m_bits"] for r in sorted(rows, key=lambda r: r["one_in"])]
    assert ms == sorted(ms)  # tighter fpp -> more bits
    for r in rows:
        assert r["k_hashes"] >= 1 and r["m_bits"] > r["n_keys"]


def test_simpson_counts_conserve(spark):
    from python_tool_setup_spark.queries.batch108 import (
        q424_simpson_reversal_detector,
    )

    rows = q424_simpson_reversal_detector(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    for r in rows:
        assert r["strata_a_gt"] + r["strata_b_gt"] <= r["n_strata"]


def test_anomaly_consensus_bounds(spark):
    from python_tool_setup_spark.queries.batch108 import (
        q425_anomaly_consensus,
    )

    rows = q425_anomaly_consensus(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # consensus can't exceed any two detectors' union; each flag
        # count is bounded by days
        for k in ("flagged_z", "flagged_mad", "flagged_iqr"):
            assert 0 <= r[k] <= r["n_days"]
        assert r["consensus2"] <= (
            r["flagged_z"] + r["flagged_mad"] + r["flagged_iqr"]
        )


def test_mde_positive(spark):
    from python_tool_setup_spark.queries.batch109 import q426_ab_power_mde

    rows = q426_ab_power_mde(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_min"] <= r["n_total"] - r["n_min"] or r["n_min"] >= 0
        assert r["pooled_sd_micro"] >= 0
        assert r["mde_micro"] >= 0


def test_ht_estimator_within_5pct(spark):
    from python_tool_setup_spark.queries.batch109 import (
        q427_horvitz_thompson_audit,
    )

    r = q427_horvitz_thompson_audit(spark, SF_DIR).collect()[0]
    assert 0 < r["n_sample"] < r["n_pop"]
    # sf0.001 has only ~1500 orders, so the estimator's sampling error
    # can exceed the 5% claim the sf0.01+ oracle pins; assert the flag
    # is CONSISTENT with the measured error and the error is sane
    assert r["within_5pct"] == (
        abs(r["ht_total_cents"] - r["true_total_cents"]) * 20
        < r["true_total_cents"]
    )
    assert r["rel_err_micro"] < 300_000


def test_segment_dedup_accounting(spark):
    from python_tool_setup_spark.queries.batch110 import (
        q428_segment_level_dedup,
    )

    r = q428_segment_level_dedup(spark, SF_DIR).collect()[0]
    assert r["distinct_segments"] <= r["total_segments"]
    assert 0 <= r["reclaimable_bytes"] < r["total_bytes"]
    assert r["cross_doc_segments"] <= r["distinct_segments"]


def test_header_line_recon_partition(spark):
    from python_tool_setup_spark.queries.batch110 import (
        q429_header_line_reconciliation,
    )

    rows = q429_header_line_reconciliation(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_orders"] > 0
        if r["bucket"] == "no_lines":
            assert r["line_cents"] == 0
        if r["bucket"] == "header_high":
            assert r["hdr_cents"] > r["line_cents"]


def test_qte_arms_present(spark):
    from python_tool_setup_spark.queries.batch111 import (
        q430_quantile_treatment_effect,
    )

    rows = q430_quantile_treatment_effect(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_control"] > 0 and r["n_treat"] > 0
        assert r["qte_p50_micro"] is not None
        assert r["qte_p90_micro"] is not None


def test_activation_bounds(spark):
    from python_tool_setup_spark.queries.batch111 import (
        q431_activation_rate,
    )

    rows = q431_activation_rate(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["activated"] <= r["signups"]
        assert 0 <= r["activation_micro"] <= 1_000_000


def test_backlog_aging_buckets(spark):
    from python_tool_setup_spark.queries.batch112 import (
        q432_order_backlog_aging,
    )

    rows = q432_order_backlog_aging(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["o_orderstatus"] != "F"
        assert r["age_bucket"] in ("a_0_30", "b_31_90", "c_91_plus")
        assert r["n_orders"] > 0 and r["open_cents"] > 0


def test_effective_rank_bounds(spark):
    from python_tool_setup_spark.queries.batch112 import (
        q433_embedding_effective_rank,
    )

    r = q433_embedding_effective_rank(spark, SF_DIR).collect()[0]
    # participation ratio lies in [1, 64] for a 64-dim space
    assert 1_000 <= r["effective_rank_milli"] <= 64_000
    assert r["trace_milli"] > 0


def test_duplicate_payment_window(spark):
    from python_tool_setup_spark.queries.batch113 import (
        q434_duplicate_payment_detection,
    )

    r = q434_duplicate_payment_detection(spark, SF_DIR).collect()[0]
    assert r["suspect_pairs"] >= 0
    if r["suspect_pairs"] > 0:
        assert r["customers"] <= r["suspect_pairs"]
        assert 0 <= r["min_gap_days"] <= r["max_gap_days"] <= 7


def test_new_repeat_split_conserves(spark):
    from python_tool_setup_spark.queries.batch113 import (
        q435_new_vs_repeat_revenue,
    )

    rows = q435_new_vs_repeat_revenue(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["new_cents"] >= 0 and r["repeat_cents"] >= 0
        assert 0 <= r["new_share_micro"] <= 1_000_000
    # overall, both classes must appear somewhere in the timeline
    assert any(r["new_cents"] > 0 for r in rows)


def test_wasserstein_nonnegative(spark):
    from python_tool_setup_spark.queries.batch114 import (
        q436_wasserstein_drift,
    )

    r = q436_wasserstein_drift(spark, SF_DIR).collect()[0]
    assert r["n_old"] + r["n_new"] > 0
    assert r["emd_num"] >= 0
    assert r["emd_bins_micro"] >= 0
    assert r["emd_bins_micro"] <= r["n_bins"] * 1_000_000


def test_shuffle_advisor_monotone(spark):
    from python_tool_setup_spark.queries.batch114 import (
        q437_shuffle_sizing_advisor,
    )

    rows = q437_shuffle_sizing_advisor(spark, SF_DIR).collect()
    assert len(rows) == 3
    recs = [
        r["recommended_partitions"]
        for r in sorted(rows, key=lambda r: r["target_mb"])
    ]
    assert recs == sorted(recs, reverse=True)  # bigger target, fewer parts
    for r in rows:
        assert r["recommended_partitions"] >= 1


def test_median_band_ordering(spark):
    from python_tool_setup_spark.queries.batch114 import (
        q438_median_confidence_band,
    )

    rows = q438_median_confidence_band(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert (
            r["ci_lo_micro"] <= r["median_lo_micro"] <= r["ci_hi_micro"]
        )


def test_distributed_topk_agrees(spark):
    from python_tool_setup_spark.queries.batch115 import (
        q439_distributed_topk_audit,
    )

    rows = q439_distributed_topk_audit(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r["plans_agree"] for r in rows)
    cents = [r["cents"] for r in rows]
    assert cents == sorted(cents, reverse=True)


def test_mergeable_stats_agree(spark):
    from python_tool_setup_spark.queries.batch115 import (
        q440_mergeable_stats_audit,
    )

    r = q440_mergeable_stats_audit(spark, SF_DIR).collect()[0]
    assert r["merge_matches_full"] is True
    assert r["cents_min"] <= r["cents_max"]
    assert r["distinct_custs"] <= r["n"]


def test_watermark_sweep_monotone(spark):
    from python_tool_setup_spark.queries.batch116 import (
        q441_watermark_sweep_advisor,
    )

    rows = q441_watermark_sweep_advisor(spark, SF_DIR).collect()
    assert len(rows) == 4
    drops = [r["dropped"] for r in sorted(rows, key=lambda r: r["delay_h"])]
    assert drops == sorted(drops, reverse=True)  # longer delay, fewer drops


def test_broadcast_advisor_consistent(spark):
    from python_tool_setup_spark.queries.batch116 import (
        q442_broadcast_advisor,
    )

    rows = q442_broadcast_advisor(spark, SF_DIR).collect()
    assert len(rows) == 10  # 5 tables x 2 thresholds
    for r in rows:
        assert r["broadcastable"] == (
            r["est_bytes"] <= r["thresh_mb"] * 1048576
        )


def test_burn_rate_flag_consistent(spark):
    from python_tool_setup_spark.queries.batch117 import q443_slo_burn_rate

    rows = q443_slo_burn_rate(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["burning"] == (r["errors"] * 100 > r["n_events"])
        assert 0 <= r["errors"] <= r["n_events"]


def test_readability_ranges(spark):
    from python_tool_setup_spark.queries.batch117 import (
        q444_readability_scores,
    )

    rows = q444_readability_scores(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["words_per_sentence_milli"] > 0
        assert r["syllables_per_word_milli"] > 0


def test_rare_collapse_accounting(spark):
    from python_tool_setup_spark.queries.batch118 import (
        q445_rare_category_collapse,
    )

    r = q445_rare_category_collapse(spark, SF_DIR).collect()[0]
    assert 0 <= r["collapsed_values"] <= r["n_values"]
    assert 0 <= r["other_bucket_rows"] <= r["n_rows"]


def test_winsorize_shrinks_skew(spark):
    from python_tool_setup_spark.queries.batch118 import (
        q446_tail_treatment_moments,
    )

    rows = {
        r["variant"]: r
        for r in q446_tail_treatment_moments(spark, SF_DIR).collect()
    }
    assert set(rows) == {"raw", "winsorized"}
    assert rows["raw"]["n"] == rows["winsorized"]["n"]
    # capping the tails cannot increase the magnitude of skewness
    assert abs(rows["winsorized"]["skewness_milli"]) <= abs(
        rows["raw"]["skewness_milli"]
    ) + 50


def test_apdex_accounting(spark):
    from python_tool_setup_spark.queries.batch119 import q447_apdex_score

    rows = q447_apdex_score(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["satisfied"] + r["tolerating"] + r["frustrated"] == r["n"]
        assert 0 <= r["apdex_micro"] <= 1_000_000


def test_overdispersion_flag_consistent(spark):
    from python_tool_setup_spark.queries.batch119 import (
        q448_overdispersion_index,
    )

    rows = q448_overdispersion_index(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["dispersion_milli"] >= 0
        assert r["overdispersed"] == (r["dispersion_milli"] > 2000) or abs(
            r["dispersion_milli"] - 2000
        ) <= 1


def test_partition_advisor_ordering(spark):
    from python_tool_setup_spark.queries.batch120 import (
        q449_partition_granularity_advisor,
    )

    rows = {
        r["gran"]: r
        for r in q449_partition_granularity_advisor(spark, SF_DIR).collect()
    }
    assert set(rows) == {"a_daily", "b_weekly", "c_monthly"}
    # coarser granularity -> fewer partitions
    assert (
        rows["a_daily"]["n_partitions"]
        >= rows["b_weekly"]["n_partitions"]
        >= rows["c_monthly"]["n_partitions"]
    )
    for r in rows.values():
        assert r["imbalance_milli"] >= 1_000  # max/avg >= 1


def test_bcubed_bounds(spark):
    from python_tool_setup_spark.queries.batch120 import (
        q450_bcubed_cluster_eval,
    )

    r = q450_bcubed_cluster_eval(spark, SF_DIR).collect()[0]
    assert r["n_items"] > 0 and r["n_items"] % 3 == 0
    for k in ("bcubed_precision_nano", "bcubed_recall_nano"):
        assert 0 < r[k] <= 1_000_000_000


def test_knn_reciprocity_bounds(spark):
    from python_tool_setup_spark.queries.batch121 import (
        q451_knn_reciprocity,
    )

    r = q451_knn_reciprocity(spark, SF_DIR).collect()[0]
    assert r["n_edges"] > 0
    assert 0 <= r["mutual_edges"] <= r["n_edges"]
    assert 0 <= r["reciprocity_micro"] <= 1_000_000


def test_showback_tier_ordering(spark):
    from python_tool_setup_spark.queries.batch121 import (
        q452_storage_showback,
    )

    rows = q452_storage_showback(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["hot_cents_month_micro"] > r["cold_cents_month_micro"]
        assert r["bytes_est"] > 0


def test_cross_source_accounting(spark):
    from python_tool_setup_spark.queries.batch121 import (
        q453_cross_source_duplicates,
    )

    r = q453_cross_source_duplicates(spark, SF_DIR).collect()[0]
    assert 0 <= r["cross_source_texts"] <= r["distinct_texts"]
    if r["cross_source_texts"] > 0:
        assert r["cross_source_docs"] >= 2 * r["cross_source_texts"]
        assert r["max_sources"] >= 2


def test_ljung_box_nonnegative(spark):
    from python_tool_setup_spark.queries.batch122 import (
        q454_ljung_box_whiteness,
    )

    r = q454_ljung_box_whiteness(spark, SF_DIR).collect()[0]
    assert r["n_days"] > _MAX_LAG_454()
    assert r["term_sum_micro"] >= 0
    assert r["lb_q_milli"] >= 0


def _MAX_LAG_454():
    from python_tool_setup_spark.queries.batch122 import _MAX_LAG

    return _MAX_LAG


def test_backfill_runs_structure(spark):
    from python_tool_setup_spark.queries.batch122 import (
        q455_backfill_ranges,
    )

    rows = q455_backfill_ranges(spark, SF_DIR).collect()
    assert rows  # every stream has a non-empty bottom decile
    for r in rows:
        assert r["run_start_day"] <= r["run_end_day"]
        assert (
            r["run_days"] == r["run_end_day"] - r["run_start_day"] + 1
        )


def test_blocking_eval_bounds(spark):
    from python_tool_setup_spark.queries.batch123 import (
        q456_blocking_quality_eval,
    )

    r = q456_blocking_quality_eval(spark, SF_DIR).collect()[0]
    assert r["n_records"] % 3 == 0
    assert r["true_candidates"] <= min(
        r["candidate_pairs"], r["true_pairs"]
    )
    assert 0 <= r["reduction_ratio_micro"] <= 1_000_000
    assert 0 <= r["pair_completeness_micro"] <= 1_000_000
    # first-2-token blocking keeps planted copies together: high PC
    assert r["pair_completeness_micro"] >= 900_000


def test_nzv_screen_consistency(spark):
    from python_tool_setup_spark.queries.batch123 import (
        q457_nzv_feature_screen,
    )

    rows = q457_nzv_feature_screen(spark, SF_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["freq_ratio_milli"] >= 1_000  # c1 >= c2
        assert 0 < r["distinct_share_micro"] <= 1_000_000


def test_reach_curve_monotone(spark):
    from python_tool_setup_spark.queries.batch124 import q458_reach_curve

    rows = q458_reach_curve(spark, SF_DIR).collect()
    assert rows
    cum = [r["cumulative_reach"] for r in rows]
    assert cum == sorted(cum)
    assert cum[-1] == sum(r["new_users"] for r in rows)


def test_join_funnel_intact(spark):
    from python_tool_setup_spark.queries.batch124 import (
        q459_join_funnel_retention,
    )

    rows = q459_join_funnel_retention(spark, SF_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        # the fixture warehouse is referentially intact
        assert r["rows_lost"] == 0
        assert r["retention_micro"] == 1_000_000


def test_delta_encoding_bounds(spark):
    from python_tool_setup_spark.queries.batch124 import (
        q460_delta_encoding_advisor,
    )

    r = q460_delta_encoding_advisor(spark, SF_DIR).collect()[0]
    assert r["n_gaps"] > 0
    assert 1 <= r["max_gap_bits"] <= 64
    assert 1_000 <= r["avg_gap_bits_milli"] <= 64_000
    assert 0 <= r["savings_share_micro"] <= 1_000_000


def test_median_heterogeneity_ordering(spark):
    from python_tool_setup_spark.queries.batch125 import (
        q461_median_heterogeneity,
    )

    r = q461_median_heterogeneity(spark, SF_DIR).collect()[0]
    assert r["n_groups"] > 1
    assert r["median_min"] <= r["median_max"]
    assert abs(
        r["median_range"] - (r["median_max"] - r["median_min"])
    ) < 1e-6
    assert r["range_over_mid_micro"] >= 0


def test_release_gate_flag_consistent(spark):
    from python_tool_setup_spark.queries.batch125 import (
        q462_release_quality_gate,
    )

    r = q462_release_quality_gate(spark, SF_DIR).collect()[0]
    assert r["orphan_lines"] == 0  # fixture is intact
    assert 0 <= r["dup_ppm"] <= 1_000_000
    assert 0 <= r["recon_ok_ppm"] <= 1_000_000


def test_ip_lpm_total_and_specificity(spark):
    from python_tool_setup_spark.queries.batch126 import (
        q463_ip_lpm_enrichment,
    )
    from python_tool_setup_spark.tables import load_table

    rows = q463_ip_lpm_enrichment(spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "events").count()
    # every event routed exactly once (LPM partitions the space)
    assert sum(r["n_events"] for r in rows) == total
    labels = {r["network"] for r in rows}
    # at least one specific (site) and one broad (block) rule fire
    assert any(s.startswith("site") for s in labels)
    assert any(s.startswith("block") for s in labels)


def test_fd_audit_verdicts(spark):
    from python_tool_setup_spark.queries.batch126 import (
        q464_functional_dependency_audit,
    )

    rows = {
        r["fd"]: r
        for r in q464_functional_dependency_audit(spark, SF_DIR).collect()
    }
    assert len(rows) == 6
    # snowflake FK chain and key-determined columns must hold
    assert rows["nation.key->region"]["holds"]
    assert rows["orders.key->date"]["holds"]
    for r in rows.values():
        assert 0 <= r["violation_ppm"] <= 1_000_000
        assert r["holds"] == (r["violating_groups"] == 0)


def test_clustering_coefficient_bounds(spark):
    from python_tool_setup_spark.queries.batch127 import (
        q465_clustering_coefficient,
    )

    r = q465_clustering_coefficient(spark, SF_DIR).collect()[0]
    # each triangle closes 3 wedges: 3*tri <= wedges; ratios in [0,1]
    assert 3 * r["n_triangles"] <= r["n_wedges"]
    assert 0 <= r["transitivity_micro"] <= 1_000_000
    assert 0 <= r["avg_local_micro"] <= 1_000_000
    assert r["n_nodes"] > 0 and r["n_edges"] > 0


def test_candidate_key_verdicts(spark):
    from python_tool_setup_spark.queries.batch127 import (
        q466_candidate_key_discovery,
    )

    rows = {
        r["candidate"]: r
        for r in q466_candidate_key_discovery(spark, SF_DIR).collect()
    }
    assert rows["orders.o_orderkey"]["is_key"]
    assert rows["customer.c_custkey"]["is_key"]
    assert not rows["lineitem.l_orderkey"]["is_key"]
    # synthetic fixture reality: linenumber repeats within orders
    assert (
        rows["lineitem.order+line"]["n_distinct"]
        > rows["lineitem.l_orderkey"]["n_distinct"]
    )
    for r in rows.values():
        assert 0 < r["uniqueness_ppm"] <= 1_000_000
        assert r["is_key"] == (r["n_distinct"] == r["n_rows"])


def test_jackknife_influence_identity(spark):
    from python_tool_setup_spark.queries.batch128 import (
        q467_jackknife_influence,
    )

    rows = q467_jackknife_influence(spark, SF_DIR).collect()
    assert len(rows) > 1
    # weighted influences cancel: sum_j (N-n_j)*influence_j == 0
    n = sum(r["n_orders"] for r in rows)
    acc = sum((n - r["n_orders"]) * r["influence_cents"] for r in rows)
    scale = sum(abs(r["influence_cents"]) for r in rows) + 1.0
    assert abs(acc) / (n * scale) < 1e-6


def test_dictionary_advisor_accounting(spark):
    from python_tool_setup_spark.queries.batch128 import (
        q468_dictionary_encoding_advisor,
    )

    rows = q468_dictionary_encoding_advisor(spark, SF_DIR).collect()
    assert len(rows) == 7
    for r in rows:
        assert 0 < r["n_distinct"] <= r["n_rows"]
        assert r["plain_bytes"] > 0 and r["dict_bytes"] > 0
        assert r["recommend_dict"] == (
            r["dict_bytes"] * 10 <= r["plain_bytes"] * 9
        )
        # low-cardinality flag columns must recommend dictionary
        if r["n_distinct"] <= 10 and r["n_rows"] >= 1000:
            assert r["recommend_dict"]


def test_permutation_test_bounds(spark):
    from python_tool_setup_spark.queries.batch129 import (
        q469_permutation_test,
    )

    r = q469_permutation_test(spark, SF_DIR).collect()[0]
    assert r["n_treat"] > 0 and r["n_ctrl"] > 0
    assert r["n_replicates"] == 64
    assert 0 <= r["n_exceed"] <= r["n_replicates"]
    # MC-corrected p in [1/(B+1), 1]
    assert 15_384 <= r["p_value_micro"] <= 1_000_000
    # priority labels are assigned independently of price in the
    # fixture, so the test must NOT reject at the 5% level
    assert r["p_value_micro"] > 50_000


def test_bin_packing_accounting(spark):
    from python_tool_setup_spark.queries.batch129 import (
        q470_compaction_bin_packing,
    )
    from python_tool_setup_spark.tables import load_table

    r = q470_compaction_bin_packing(spark, SF_DIR).collect()[0]
    assert 1 <= r["n_bins"] <= r["n_days"]
    # next-fit bound: a bin exceeds target by less than one day
    assert r["max_bin_bytes"] < (1 << 20) + r["total_bytes"]
    assert 0 < r["avg_fill_micro"]
    assert r["files_ratio_micro"] == round(1e6 * r["n_bins"] / r["n_days"])


def test_zipf_slope_negative(spark):
    from python_tool_setup_spark.queries.batch130 import q471_zipf_exponent

    r = q471_zipf_exponent(spark, SF_DIR).collect()[0]
    assert r["n_tokens"] > 10
    # frequency decays with rank: slope strictly negative, sane range
    assert -3_000 <= r["zipf_slope_milli"] < 0


def test_theil_decomposition_identity(spark):
    from python_tool_setup_spark.queries.batch130 import (
        q472_theil_decomposition,
    )

    r = q472_theil_decomposition(spark, SF_DIR).collect()[0]
    assert r["decomposes"]
    assert r["theil_total_micro"] >= 0
    assert r["theil_within_micro"] >= 0
    # between-group share bounded by total (identity holds in micro
    # up to rounding of the three components)
    assert (
        abs(
            r["theil_total_micro"]
            - r["theil_between_micro"]
            - r["theil_within_micro"]
        )
        <= 2
    )


def test_front_coding_accounting(spark):
    from python_tool_setup_spark.queries.batch131 import (
        q473_front_coding_advisor,
    )

    r = q473_front_coding_advisor(spark, SF_DIR).collect()[0]
    assert r["n_values"] > 0
    # coded = plain - saved_prefix + 1 length byte per value
    assert r["coded_bytes"] >= r["n_values"]  # at least the length bytes
    assert r["coded_bytes"] <= r["plain_bytes"] + r["n_values"]
    assert r["recommend_front_coding"] == (
        r["coded_bytes"] * 10 <= r["plain_bytes"] * 9
    )


def test_reservoir_sample_shape(spark):
    from python_tool_setup_spark.queries.batch131 import (
        q474_reservoir_sample_per_group,
    )

    rows = q474_reservoir_sample_per_group(spark, SF_DIR).collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(r)
    assert len(by_grp) == 5  # all five priorities sampled
    for grp, rs in by_grp.items():
        assert [x["r"] for x in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        # sample is a set of real order keys (no dup within group)
        keys = [x["o_orderkey"] for x in rs]
        assert len(set(keys)) == len(keys)


def test_rle_advisor_accounting(spark):
    from python_tool_setup_spark.queries.batch132 import (
        q475_rle_encoding_advisor,
    )

    rows = q475_rle_encoding_advisor(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        # sorted order is the best case: run count can only shrink
        assert 1 <= r["runs_sorted"] <= r["runs_stored"] <= r["n_rows"]
        assert r["sorted_rle_bytes"] <= r["stored_rle_bytes"]
        # RLE bytes = sum over runs of (len + 4-byte header)
        assert r["stored_rle_bytes"] >= 4 * r["runs_stored"]
        assert r["recommend_sort"] == (
            r["sorted_rle_bytes"] * 2 <= r["stored_rle_bytes"]
        )


def test_bh_fdr_stepup_invariants(spark):
    from python_tool_setup_spark.queries.batch132 import (
        q476_benjamini_hochberg_fdr,
    )

    rows = q476_benjamini_hochberg_fdr(spark, SF_DIR).collect()
    assert len(rows) == 25
    assert [r["p_rank"] for r in rows] == list(range(1, 26))
    # p-values sorted ascending with the rank
    ps = [r["p_value"] for r in rows]
    assert ps == sorted(ps)
    # BH rejection set is a prefix of the p-ordered list
    rej = [r["rejected"] for r in rows]
    k = sum(rej)
    assert rej == [True] * k + [False] * (25 - k)
    # every rejected p is under its own threshold (step-up property:
    # the max qualifying rank gates the whole prefix)
    if k:
        assert rows[k - 1]["p_value"] <= rows[k - 1]["bh_threshold"]


def test_prefix_rank_self_join_stable(spark):
    # regression: prefix_rank output must be self-join-safe for
    # numeric leading keys — _blk is a pure expression of the row, so
    # rank r and rank r-1 agree across re-executions (q475's shape)
    from pyspark.sql import functions as F

    from python_tool_setup_spark.operators.blockrank import prefix_rank
    from python_tool_setup_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey")
    ranked = prefix_rank(o, [("o_orderkey", "asc")], alias="r")
    prev = ranked.select((F.col("r") + 1).alias("pr"))
    joined = ranked.join(prev, F.col("r") == F.col("pr"), "left")
    n = o.count()
    assert joined.count() == n
    assert ranked.agg(F.countDistinct("r")).collect()[0][0] == n


def test_benford_audit_invariants(spark):
    from python_tool_setup_spark.queries.batch133 import (
        q477_benford_first_digit,
    )

    rows = q477_benford_first_digit(spark, SF_DIR).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    n = sum(r["n_obs"] for r in rows)
    assert n > 0
    # expectations are the Benford ppm table (sums to ~1e6)
    assert abs(sum(r["exp_ppm"] for r in rows) - 1_000_000) <= 5
    # chi2 total is the sum of the per-digit terms, same on each row
    chi = rows[0]["chi2_nano"]
    assert all(r["chi2_nano"] == chi for r in rows)
    assert sum(r["chi2_term_nano"] for r in rows) == chi
    assert rows[0]["benford_ok"] == (chi <= 15_507_310_000)



def test_benford_total_counts_first_digit_zero(spark, tmp_path):
    """A price below half a cent has cents 0, so first digit 0: the
    total behind obs_ppm and the chi-square terms must still count it,
    as the oracle's total over every observed digit does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_tool_setup_spark.queries import all_queries
    from python_tool_setup_spark.tables import TABLE_NAMES, table_path
    from python_tool_setup_spark.testing import (
        compare_query,
        oracle_connection,
    )

    sf = str(tmp_path)
    for name in TABLE_NAMES:
        if name != "orders":
            os.symlink(table_path(SF_DIR, name), table_path(sf, name))
    orders = pq.read_table(table_path(SF_DIR, "orders"))
    zero = orders.slice(0, 1).to_pylist()[0]
    zero.update(o_orderkey=10**9, o_totalprice=0.0)
    pq.write_table(
        pa.concat_tables(
            [orders, pa.Table.from_pylist([zero], schema=orders.schema)]
        ),
        table_path(sf, "orders"),
    )
    q = all_queries()["q477_benford_first_digit"]
    assert compare_query(spark, oracle_connection(sf), q, sf) is None

def test_zone_map_depth_bounds(spark):
    from python_tool_setup_spark.queries.batch133 import (
        q478_zone_map_clustering_depth,
    )

    rows = {
        r["layout"]: r
        for r in q478_zone_map_clustering_depth(spark, SF_DIR).collect()
    }
    assert set(rows) == {"stored", "sorted_by_shipdate"}
    for r in rows.values():
        assert 1 <= r["max_depth"] <= r["n_blocks"] <= 64
        assert 1_000_000 <= r["avg_depth_micro"] <= r["n_blocks"] * 1_000_000
    # sorting by the predicate column can only improve clustering
    assert (
        rows["sorted_by_shipdate"]["avg_depth_micro"]
        <= rows["stored"]["avg_depth_micro"]
    )
    # stored order is o_orderkey: shipdate is scattered -> deep zones
    assert rows["stored"]["avg_depth_micro"] > 10_000_000


def test_ewma_chart_invariants(spark):
    from python_tool_setup_spark.queries.batch134 import (
        q479_ewma_control_chart,
    )

    rows = q479_ewma_control_chart(spark, SF_DIR).collect()
    assert len(rows) >= 24
    idxs = [r["month_idx"] for r in rows]
    assert idxs == sorted(idxs)
    for k, r in enumerate(rows):
        assert 1 <= r["n_lags"] <= 12
        assert r["n_lags"] <= k + 1  # can't see months before history
        assert r["ewma_cents"] > 0
        assert r["flagged"] == (abs(r["dev_ppm"]) > 100_000)
    # the warmed-up EWMA tracks the level: deviations bounded sanely
    warm = [r for r in rows if r["n_lags"] == 12]
    assert warm and all(abs(r["dev_ppm"]) < 1_000_000 for r in warm)


def test_skew_advisor_invariants(spark):
    from python_tool_setup_spark.queries.batch134 import (
        q480_join_skew_salting_advisor,
    )

    rows = q480_join_skew_salting_advisor(spark, SF_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["max_key_rows"] * r["n_keys"] >= r["n_rows"]  # max>=mean
        assert r["skew_ratio_micro"] >= 1_000_000
        assert 1 <= r["salt_factor"]
        assert r["recommend_salting"] == (
            r["max_key_rows"] * r["n_keys"] >= 4 * r["n_rows"]
        )
        # salt factor never exceeds what splitting max to avg needs
        assert r["salt_factor"] <= r["skew_ratio_micro"] // 1_000_000 + 1


def test_incremental_agg_merge_equals_full(spark):
    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries.batch135 import (
        q481_incremental_agg_maintenance,
    )
    from python_tool_setup_spark.tables import load_table

    merged = {
        r["o_orderpriority"]: r
        for r in q481_incremental_agg_maintenance(spark, SF_DIR).collect()
    }
    full = {
        r["o_orderpriority"]: r
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(100 * F.col("o_totalprice")).cast("long")
            ).alias("cents_sum"),
        )
        .collect()
    }
    assert set(merged) == set(full)
    for k, m in merged.items():
        assert m["n_orders"] == full[k]["n_orders"]
        assert int(m["cents_sum"]) == full[k]["cents_sum"]
        assert m["first_date"] <= m["last_date"]


def test_mad_outliers_invariants(spark):
    from python_tool_setup_spark.queries.batch135 import (
        q482_grouped_mad_outliers,
    )

    rows = q482_grouped_mad_outliers(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["mad_x4"] > 0  # prices are spread out
        assert 0 <= r["n_outliers"] < r["n"] // 2  # robust: minority
        assert r["outlier_ppm"] == round(
            r["n_outliers"] * 1_000_000 / r["n"]
        )


def test_cardinality_audit_fk_vs_correlated(spark):
    from python_tool_setup_spark.queries.batch136 import (
        q483_join_cardinality_audit,
    )

    rows = {
        r["join_name"]: r
        for r in q483_join_cardinality_audit(spark, SF_DIR).collect()
    }
    # FK joins: containment estimate is exact-ish (every lineitem
    # matches exactly one part; est = n_li * n_part / d = n_li)
    fk = rows["lineitem_part"]
    assert fk["actual_rows"] == fk["n_left"]
    assert fk["within_2x"]
    ok = rows["orders_customer"]
    assert ok["actual_rows"] == ok["n_left"]
    corr = rows["lineitem_orders_bydate"]
    assert corr["est_rows"] > 0 and corr["actual_rows"] > 0


def test_labeling_function_report_bounds(spark):
    from python_tool_setup_spark.queries.batch136 import (
        q484_labeling_function_report,
    )

    rows = q484_labeling_function_report(spark, SF_DIR).collect()
    assert len(rows) == 4
    by = {r["lf_name"]: r for r in rows}
    assert by["lf_short"]["polarity"] == 1
    assert by["lf_long"]["polarity"] == -1
    for r in rows:
        assert 0 < r["coverage_ppm"] < 1_000_000  # non-degenerate
        for c in ("overlap_ppm", "conflict_ppm", "majority_agree_ppm"):
            assert 0 <= r[c] <= 1_000_000
        assert r["conflict_ppm"] <= r["overlap_ppm"]  # conflict ⊆ overlap


def test_deletion_cascade_closes(spark):
    from python_tool_setup_spark.queries.batch137 import (
        q485_deletion_cascade_audit,
    )

    rows = {
        r["table_name"]: r
        for r in q485_deletion_cascade_audit(spark, SF_DIR).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert r["cascade_complete"]
        assert r["n_residual_after_cascade"] == 0
        assert 0 < r["n_exposed"] < r["n_rows"]
    # ~1% of customers forgotten
    c = rows["customer"]
    assert 5_000 <= c["exposed_ppm"] <= 15_000


def test_snapshot_diff_counts(spark):
    from python_tool_setup_spark.queries.batch137 import (
        q486_snapshot_diff_report,
    )
    from python_tool_setup_spark.tables import load_table

    r = q486_snapshot_diff_report(spark, SF_DIR).collect()[0]
    keys = [
        x["o_orderkey"]
        for x in load_table(spark, SF_DIR, "orders")
        .select("o_orderkey")
        .collect()
    ]
    exp_added = sum(1 for k in keys if k % 103 == 0 and k % 101 != 0)
    exp_removed = sum(1 for k in keys if k % 101 == 0 and k % 103 != 0)
    assert r["n_added"] == exp_added
    assert r["n_removed"] == exp_removed
    # changed = present in both AND (price bump or status flip)
    exp_changed = sum(
        1
        for k in keys
        if k % 101 != 0 and k % 103 != 0 and (k % 97 == 0 or k % 89 == 0)
    )
    assert r["n_changed"] == exp_changed
    assert r["changed_o_orderpriority"] == 0
    assert (
        r["n_added"] + r["n_removed"] + r["n_changed"] + r["n_unchanged"]
        == len([k for k in keys if k % 101 != 0 or k % 103 != 0])
    )


def test_derived_consistency_histogram(spark):
    from python_tool_setup_spark.queries.batch138 import (
        q487_derived_column_consistency,
    )

    rows = q487_derived_column_consistency(spark, SF_DIR).collect()
    total_ppm = sum(r["share_ppm"] for r in rows)
    assert abs(total_ppm - 1_000_000) <= len(rows)  # shares partition
    assert all(r["n_orders"] > 0 for r in rows)
    # buckets come out in label order
    labels = [r["bucket"] for r in rows]
    assert labels == sorted(labels)


def test_event_inversions_bounds(spark):
    from python_tool_setup_spark.queries.batch138 import (
        q488_event_order_inversions,
    )

    r = q488_event_order_inversions(spark, SF_DIR).collect()[0]
    assert r["n_events"] > 0 and r["n_users"] > 0
    assert 0 <= r["n_inversions"] < r["n_events"]
    assert r["n_users_with_inversions"] <= min(
        r["n_users"], r["n_inversions"]
    ) or r["n_inversions"] == 0
    if r["n_inversions"] == 0:
        assert r["max_backstep_ms"] == 0
    else:
        assert r["max_backstep_ms"] > 0


def test_locf_fill_accounting(spark):
    from python_tool_setup_spark.queries.batch139 import (
        q489_locf_gap_fill,
    )

    rows = q489_locf_gap_fill(spark, SF_DIR).collect()
    assert len(rows) == 25  # every nation has a spine row set
    for r in rows:
        assert r["n_days"] == 31
        assert (
            r["n_observed"] + r["n_filled"] + r["n_leading_holes"]
            == 31
        )
        # filled days only exist after a first observation
        if r["n_observed"] == 0:
            assert r["n_filled"] == 0 and r["n_leading_holes"] == 31
        assert r["filled_sum_cents"] >= 0


def test_cusum_closed_form(spark):
    from python_tool_setup_spark.queries.batch139 import (
        q490_cusum_changepoint,
    )

    rows = q490_cusum_changepoint(spark, SF_DIR).collect()
    assert len(rows) >= 24
    # replay the sequential recurrence and compare to the closed form
    cents = [r["cents"] for r in rows]
    n = len(cents)
    mu = round(sum(cents) / n)
    q = sum(c * c for c in cents)
    import math

    sigma = round(
        math.sqrt((q - sum(cents) * sum(cents) / n) / (n - 1))
    )
    s2 = 0
    for r, c in zip(rows, cents):
        s2 = max(0, s2 + 2 * c - 2 * mu - sigma)
        assert r["cusum_cents_x2"] == s2
        assert r["alarm"] == (s2 > 8 * sigma)


def test_weighted_median_crossing(spark):
    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries.batch140 import (
        q491_grouped_weighted_median,
    )
    from python_tool_setup_spark.tables import load_table

    rows = q491_grouped_weighted_median(spark, SF_DIR).collect()
    assert len(rows) == 3  # returnflags A/N/R
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            F.col("l_returnflag").alias("grp"),
            F.round(100 * F.col("l_extendedprice"))
            .cast("long")
            .alias("cents"),
            F.round("l_quantity").cast("long").alias("w"),
        )
        .collect()
    )
    for r in rows:
        below = sum(
            x["w"] for x in li if x["grp"] == r["grp"]
            and x["cents"] <= r["weighted_median_cents"]
        )
        strictly_below = sum(
            x["w"] for x in li if x["grp"] == r["grp"]
            and x["cents"] < r["weighted_median_cents"]
        )
        tot = r["total_weight"]
        # the crossing property of the lower weighted median
        assert 2 * below >= tot
        assert 2 * strictly_below < tot


def test_kaplan_meier_monotone(spark):
    from python_tool_setup_spark.queries.batch140 import (
        q492_kaplan_meier_survival,
    )

    rows = q492_kaplan_meier_survival(spark, SF_DIR).collect()
    assert rows, "some customers churn outside the horizon"
    last = 1_000_001
    risk_last = None
    for r in rows:
        assert 0 < r["n_events"] <= r["n_at_risk"]
        assert r["survival_ppm"] < last  # strictly decreasing at events
        last = r["survival_ppm"]
        if risk_last is not None:
            assert r["n_at_risk"] < risk_last  # at-risk shrinks
        risk_last = r["n_at_risk"]
    assert 0 <= rows[-1]["survival_ppm"] <= 1_000_000


def test_template_prefix_topk(spark):
    from python_tool_setup_spark.queries.batch141 import (
        q493_template_prefix_mining,
    )

    rows = q493_template_prefix_mining(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    counts = [r["n_docs"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert len(r["prefix"]) <= 12
        assert r["is_template"] == (r["share_ppm"] >= 10_000)


def test_hill_estimator_vs_numpy(spark):
    import math

    from python_tool_setup_spark.queries.batch141 import (
        q494_hill_tail_index,
    )
    from python_tool_setup_spark.tables import load_table

    r = q494_hill_tail_index(spark, SF_DIR).collect()[0]
    lens = sorted(
        (
            x["n_chars"]
            for x in load_table(spark, SF_DIR, "documents")
            .select("n_chars")
            .collect()
        ),
        reverse=True,
    )[: 100 + 1]
    xk = min(lens)
    terms = [math.log(x / xk) for x in lens if x > xk]
    alpha = len(terms) and (len(terms)) / sum(terms)
    # q494 uses k_used-1 = len(terms) in the numerator
    assert r["x_k"] == xk
    assert r["k_used"] == len(terms) + 1
    assert abs(r["alpha_micro"] / 1e6 - alpha) < 0.01
    assert r["heavy_tail"] == (r["alpha_micro"] < 2_000_000)


def test_k_anonymity_accounting(spark):
    from python_tool_setup_spark.queries.batch142 import (
        q495_k_anonymity_audit,
    )

    r = q495_k_anonymity_audit(spark, SF_DIR).collect()[0]
    assert r["n_qi_groups"] > 0
    assert 1 <= r["min_group_size"]
    assert 0 <= r["n_below_k"] <= r["n_individuals"]
    assert r["k_anonymous"] == (r["min_group_size"] >= 5)
    assert r["below_k_ppm"] == round(
        r["n_below_k"] * 1_000_000 / r["n_individuals"]
    )


def test_l_diversity_accounting(spark):
    from python_tool_setup_spark.queries.batch142 import (
        q496_l_diversity_audit,
    )

    r = q496_l_diversity_audit(spark, SF_DIR).collect()[0]
    assert r["n_qi_groups"] > 0
    assert r["min_diversity"] >= 1
    assert r["l_diverse"] == (r["min_diversity"] >= 3)
    assert (r["n_groups_below_l"] == 0) == (r["n_exposed"] == 0)


def test_conformal_coverage_holds(spark):
    from python_tool_setup_spark.queries.batch143 import (
        q497_conformal_calibration,
    )

    rows = q497_conformal_calibration(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_cal"] > 0 and r["n_test"] > 0
        assert r["q90_halfwidth_cents"] > 0
        # conformal guarantee: coverage should land near 90%
        assert 850_000 <= r["coverage_ppm"] <= 980_000
        assert r["coverage_holds"] == (r["coverage_ppm"] >= 880_000)


def test_sliding_wau_invariants(spark):
    from python_tool_setup_spark.queries.batch143 import (
        q498_sliding_wau,
    )

    rows = q498_sliding_wau(spark, SF_DIR).collect()
    assert len(rows) >= 7
    for r in rows:
        assert 1 <= r["dau"] <= r["wau"]  # union dominates any day
        assert 0 < r["stickiness_ppm"] <= 1_000_000
    # WAU at day d >= DAU of any single day inside the window
    by_d = {r["d"]: r for r in rows}
    ds = sorted(by_d)
    for i in range(7, len(ds)):
        w = by_d[ds[i]]["wau"]
        assert w >= by_d[ds[i]]["dau"]


def test_did_cells_and_significance(spark):
    from python_tool_setup_spark.queries.batch144 import (
        q499_diff_in_differences,
    )

    r = q499_diff_in_differences(spark, SF_DIR).collect()[0]
    for c in ("n_treated_post", "n_treated_pre", "n_control_post",
              "n_control_pre"):
        assert r[c] > 0
    # DiD equals the delta of deltas (to rounding of the cell means)
    assert (
        abs(
            r["did_micro_cents"] / 1e6
            - (r["treated_delta_cents"] - r["control_delta_cents"])
        )
        <= 1.5
    )
    assert r["significant"] == (abs(r["z"]) > 1.96)


def test_keyset_page_equals_offset_page(spark):
    from python_tool_setup_spark.queries.batch144 import (
        q500_keyset_pagination,
    )
    from python_tool_setup_spark.tables import load_table
    from pyspark.sql import functions as F

    page = q500_keyset_pagination(spark, SF_DIR).collect()
    assert len(page) == 20
    full = (
        load_table(spark, SF_DIR, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("o_orderkey").cast("long").alias("k"),
        )
        .orderBy("d", "k")
        .limit(80)
        .collect()
    )
    expect = full[60:80]
    got = [(r["o_orderdate"], r["o_orderkey"]) for r in page]
    assert got == [(r["d"], r["k"]) for r in expect]


def test_brier_decomposition_identity(spark):
    from python_tool_setup_spark.queries.batch145 import (
        q501_brier_decomposition,
    )

    r = q501_brier_decomposition(spark, SF_DIR).collect()[0]
    assert r["n_bins"] >= 2
    assert 0 < r["n_pos"] < r["n_test"]
    # Murphy decomposition identity assembled in integer nanos
    assert (
        r["brier_nano"]
        == r["reliability_nano"]
        - r["resolution_nano"]
        + r["uncertainty_nano"]
    )
    # Brier of a calibrated-ish model stays below chance (0.25)
    assert 0 < r["brier_nano"] < 260_000_000
    assert r["uncertainty_nano"] <= 250_000_000  # p(1-p) <= 1/4


def test_kish_neff_bounds(spark):
    from python_tool_setup_spark.queries.batch145 import (
        q502_kish_effective_sample_size,
    )

    rows = q502_kish_effective_sample_size(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r["n_eff"] <= r["n"]  # weighting only loses info
        assert r["design_effect_micro"] >= 1_000_000
        assert 0 < r["efficiency_ppm"] <= 1_000_000
        # design effect and efficiency are reciprocal (to rounding)
        prod = r["design_effect_micro"] * r["efficiency_ppm"]
        assert abs(prod - 10**12) < 10**10


def test_capture_recapture_bounds(spark):
    from python_tool_setup_spark.queries.batch146 import (
        q503_capture_recapture_universe,
    )

    r = q503_capture_recapture_universe(spark, SF_DIR).collect()[0]
    # observed distinct = captured-by-a + captured-by-b - overlap
    assert (
        r["n_observed_distinct"]
        == r["n_capture_a"] + r["n_capture_b"] - r["n_overlap"]
    )
    # the estimate can never be below what we've already seen
    # (Lincoln-Petersen with positive overlap)
    if r["n_overlap"] > 0:
        assert r["n_hat_universe"] >= r["n_observed_distinct"] - 1
    assert 0 < r["coverage_ppm"] <= 1_000_100


def test_good_turing_accounting(spark):
    from python_tool_setup_spark.queries.batch146 import (
        q504_good_turing_unseen_mass,
    )

    r = q504_good_turing_unseen_mass(spark, SF_DIR).collect()[0]
    assert 0 < r["vocab_size"] <= r["total_tokens"]
    assert r["singletons"] + r["doubletons"] <= r["vocab_size"]
    assert r["unseen_mass_ppm"] == round(
        r["singletons"] * 1_000_000 / r["total_tokens"]
    )
    # tiny word-vocab corpus: the vocabulary must be nearly closed
    assert r["vocab_nearly_closed"]


def test_delta_method_vs_python(spark):
    from python_tool_setup_spark.queries.batch147 import (
        q505_ratio_metric_delta_method,
    )
    from python_tool_setup_spark.tables import load_table
    from pyspark.sql import functions as F

    r = q505_ratio_metric_delta_method(spark, SF_DIR).collect()[0]
    rows = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(100 * F.col("o_totalprice")).cast("long")
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
        .collect()
    )
    xs = [q["x"] for q in rows]
    ys = [q["y"] for q in rows]
    n = len(xs)
    S, T = sum(xs), sum(ys)
    R = S / T
    vs = (sum(x * x for x in xs) - S * S / n) / (n - 1)
    vt = (sum(y * y for y in ys) - T * T / n) / (n - 1)
    cov = (sum(x * y for x, y in zip(xs, ys)) - S * T / n) / (n - 1)
    var_r = (vs - 2 * R * cov + R * R * vt) / (n * (T / n) ** 2)
    assert r["n_clusters"] == n
    assert abs(r["var_ratio_micro"] / 1e6 - var_r) / var_r < 1e-6
    assert r["stderr_cents"] > 0


def test_cuped_reduction_bounds(spark):
    from python_tool_setup_spark.queries.batch147 import (
        q506_cuped_variance_reduction,
    )

    r = q506_cuped_variance_reduction(spark, SF_DIR).collect()[0]
    assert r["n_units"] > 0
    # rho^2 lies in [0, 1]
    assert 0 <= r["variance_reduction_ppm"] <= 1_000_000
    assert r["cuped_worth_it"] == (
        r["variance_reduction_ppm"] >= 100_000
    )
    # pre/post totals of the same customers correlate positively
    assert r["theta_micro"] > 0


def test_obf_boundaries_monotone(spark):
    from python_tool_setup_spark.queries.batch148 import (
        q507_group_sequential_obf,
    )

    rows = q507_group_sequential_obf(spark, SF_DIR).collect()
    assert [r["look"] for r in rows] == [1, 2, 3, 4]
    bounds = [r["obf_bound_micro"] for r in rows]
    assert bounds == sorted(bounds, reverse=True)  # OBF shrinks
    assert bounds[-1] == 2_024_000
    ns = [r["n_treat"] + r["n_control"] for r in rows]
    assert ns == sorted(ns)  # cumulative looks grow
    stop = rows[0]["stopped_at_look"]
    for r in rows:
        assert r["stopped_at_look"] == stop
        assert r["crossed"] == (
            abs(round(r["z"] * 1_000_000)) > r["obf_bound_micro"]
        )
    # A/A split by key parity: no real effect, so no early stop
    assert stop == 0 or stop == 4


def test_expected_loss_symmetry(spark):
    from python_tool_setup_spark.queries.batch148 import (
        q508_expected_loss_decision,
    )

    r = q508_expected_loss_decision(spark, SF_DIR).collect()[0]
    # both losses are nonnegative and the shipped arm has the
    # smaller one; their difference equals |diff| (exact identity:
    # E[max(0,-D)] - E[max(0,D)] = -E[D])
    lt, lc = r["loss_ship_t_microcents"], r["loss_ship_c_microcents"]
    assert lt >= 0 and lc >= 0
    assert r["ship_treatment"] == (lt <= lc)
    assert (
        abs((lc - lt) / 1e6 - (r["mean_t_cents"] - r["mean_c_cents"]))
        <= 2
    )


def test_basket_lift_consistency(spark):
    from python_tool_setup_spark.queries.batch149 import (
        q509_market_basket_lift,
    )

    rows = q509_market_basket_lift(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 15
    lifts = [r["lift_micro"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["brand_a"] < r["brand_b"]
        assert r["n_both"] >= 20
        assert 0 < r["support_ppm"] <= r["confidence_a_to_b_ppm"]
        assert r["positive_affinity"] == (r["lift_micro"] > 1_000_000) or (
            r["lift_micro"] == 1_000_000
        )


def test_elasticity_near_zero_on_uniform(spark):
    from python_tool_setup_spark.queries.batch149 import (
        q510_price_elasticity,
    )

    r = q510_price_elasticity(spark, SF_DIR).collect()[0]
    assert r["n_price_points"] == 10  # discount 0.01..0.10
    # uniform synthetic demand: measured elasticity ~0, not elastic
    assert abs(r["elasticity_micro"]) < 3_000_000
    assert r["elastic"] == (abs(r["elasticity_micro"]) > 1_000_000)


def test_clipping_only_at_max_gain(spark):
    from python_tool_setup_spark.queries.batch150 import (
        q511_audio_clipping_audit,
    )

    rows = q511_audio_clipping_audit(spark, SF_DIR).collect()
    assert len(rows) == 100
    for r in rows:
        gain = 1 + (r["doc_id"] % 5) * 20
        if gain < 81:
            # below full scale: no clipping possible (498*61 < 32767)
            assert not r["is_clipped"] and r["clipped_ppm"] == 0
            assert r["peak"] <= 498 * gain
        else:
            assert r["is_clipped"] and r["clipped_ppm"] > 0
            assert r["peak"] in (32767, 32768)
        assert 0 < r["rms_milli"]


def test_png_header_matches_staging_rule(spark):
    from python_tool_setup_spark.queries.batch150 import (
        q512_png_header_audit,
    )

    rows = q512_png_header_audit(spark, SF_DIR).collect()
    assert len(rows) == 60
    for r in rows:
        assert r["width"] == 1 + r["doc_id"] % 7
        assert r["bit_depth"] == 8 and r["color_type"] == 0
        assert r["n_pixels"] == r["width"] * r["height"]
        assert r["height"] >= 1


def test_kmv_estimate_sane(spark):
    from python_tool_setup_spark.queries.batch151 import (
        q513_kmv_intersection_estimate,
    )

    r = q513_kmv_intersection_estimate(spark, SF_DIR).collect()[0]
    assert r["exact_a"] > 0 and r["exact_b"] > 0
    assert 0 <= r["exact_intersection"] <= min(
        r["exact_a"], r["exact_b"]
    )
    assert 0 <= r["kmv_intersection_k"] <= 64
    # union estimate in a sane band around the exact union
    exact_union = (
        r["exact_a"] + r["exact_b"] - r["exact_intersection"]
    )
    assert 0.4 * exact_union <= r["kmv_union_estimate"] <= 2.5 * exact_union


def test_freshness_audit_bounds(spark):
    from python_tool_setup_spark.queries.batch151 import (
        q514_source_freshness_audit,
    )

    rows = q514_source_freshness_audit(spark, SF_DIR).collect()
    assert {r["table_name"] for r in rows} == {
        "events",
        "lineitem",
        "orders",
    }
    for r in rows:
        assert r["n_rows"] > 0 and r["span_days"] >= 0
        assert 0 <= r["last30"] <= r["n_rows"]
        assert r["hist30_micro"] > 0


def test_mutual_information_bounds(spark):
    from python_tool_setup_spark.queries.batch152 import (
        q515_mutual_information,
    )

    r = q515_mutual_information(spark, SF_DIR).collect()[0]
    assert r["n_cells"] <= 15  # 5 priorities x 3 statuses
    assert r["mi_nano"] >= -5  # MI >= 0 (tiny rounding slack)
    # MI <= min(H(X), H(Y))
    assert r["mi_nano"] <= min(r["hx_nano"], r["hy_nano"]) + 5
    assert 0 <= r["nmi_micro"] <= 1_000_005
    assert r["dependent"] == (r["mi_nano"] >= 1_000_000)
    # priority and status are ~independent in TPC-H, but the plug-in
    # MI estimator carries finite-sample bias ~ (cells-1)/(2N) nats —
    # at the test SF that bias dominates, so bound MI by a few
    # multiples of it instead of expecting ~0
    bias_nano = (r["n_cells"] - 1) / (2 * r["n"]) * 1e9
    assert r["mi_nano"] <= 5 * bias_nano + 1_000_000


def test_rbo_bounds(spark):
    from python_tool_setup_spark.queries.batch152 import (
        q516_rank_biased_overlap,
    )

    r = q516_rank_biased_overlap(spark, SF_DIR).collect()[0]
    assert r["k"] == 50
    assert 0 <= r["overlap_at_k"] <= 50
    assert 0 <= r["rbo_min_ppm"] <= 1_000_000
    # same shared small vocabulary on both sides: rankings agree a lot
    assert r["jaccard_at_k_ppm"] >= 500_000
    # RBO_min is bounded above by plain overlap fraction... not in
    # general, but both should signal high agreement here
    assert r["rbo_min_ppm"] >= 300_000


def test_nrr_triangle_invariants(spark):
    from python_tool_setup_spark.queries.batch153 import (
        q517_revenue_cohort_nrr,
    )

    rows = q517_revenue_cohort_nrr(spark, SF_DIR).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_quarter"], []).append(r)
    for cq, rs in by_cohort.items():
        ages = [r["age_quarters"] for r in rs]
        assert ages[0] == 0 and ages == sorted(ages)
        base = rs[0]
        assert base["nrr_ppm"] == 1_000_000  # age 0 is the base
        for r in rs:
            assert r["revenue_cents"] > 0
            assert r["nrr_ppm"] == round(
                r["revenue_cents"] * 1_000_000 / base["revenue_cents"]
            )


def test_pipeline_funnel_monotone(spark):
    from python_tool_setup_spark.queries.batch153 import (
        q518_pipeline_loss_accounting,
    )

    rows = q518_pipeline_loss_accounting(spark, SF_DIR).collect()
    assert [r["stage"] for r in rows] == [
        "0_raw",
        "1_exact_dedup",
        "2_quality_len",
        "3_lang_en",
    ]
    ns = [r["n_rows"] for r in rows]
    assert ns == sorted(ns, reverse=True)  # funnel only shrinks
    assert rows[0]["surviving_ppm"] == 1_000_000
    assert rows[0]["dropped_here"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["dropped_here"] == prev["n_rows"] - cur["n_rows"]
    assert rows[-1]["n_rows"] > 0  # something survives end-to-end


def test_seasonal_indices_average_to_one(spark):
    from python_tool_setup_spark.queries.batch154 import (
        q519_seasonal_decomposition,
    )

    rows = q519_seasonal_decomposition(spark, SF_DIR).collect()
    assert [r["month_of_year"] for r in rows] == list(range(1, 13))
    for r in rows:
        assert r["n_years"] >= 2
        assert (
            r["min_ratio_micro"]
            <= r["seasonal_index_micro"]
            <= r["max_ratio_micro"]
        )
    # multiplicative seasonal indices average ~1 across the year
    mean_idx = sum(r["seasonal_index_micro"] for r in rows) / 12
    assert abs(mean_idx - 1_000_000) < 60_000


def test_cell_residuals_sum_structure(spark):
    from python_tool_setup_spark.queries.batch154 import (
        q520_chisq_cell_residuals,
    )

    rows = q520_chisq_cell_residuals(spark, SF_DIR).collect()
    assert len(rows) == 15
    # expected counts reproduce the observed total
    assert (
        abs(sum(r["expected"] for r in rows)
            - sum(r["observed"] for r in rows))
        <= len(rows)
    )
    for r in rows:
        assert r["expected"] > 0
        assert r["notable_cell"] == (abs(r["std_residual_milli"]) > 2000)


def test_cvm_aa_split_not_rejected(spark):
    from python_tool_setup_spark.queries.batch155 import (
        q521_cramer_von_mises,
    )

    r = q521_cramer_von_mises(spark, SF_DIR).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    # A/A parity split: same distribution, test must not reject
    assert not r["distributions_differ"]
    assert r["t_micro"] < 461_000
    assert int(r["u_stat"]) > 0


def test_kendall_tau_on_uniform_grid(spark):
    from python_tool_setup_spark.queries.batch155 import (
        q522_kendall_tau_b,
    )

    r = q522_kendall_tau_b(spark, SF_DIR).collect()[0]
    c, d = int(r["concordant"]), int(r["discordant"])
    n0 = int(r["n_pairs"])
    assert 0 < c and 0 < d
    assert c + d <= n0 - int(r["ties_x"])  # ordered pairs exclude x-ties
    # discount and quantity are independent in the fixture
    assert abs(r["tau_b_micro"]) < 100_000
    assert not r["correlated"]


def test_prefix_desc_order_deterministic(spark):
    # width-bucket _blk must be order-consistent for DESC leading
    # keys too: rank by value desc twice, self-join r to r-1
    from pyspark.sql import functions as F

    from python_tool_setup_spark.operators.blockrank import prefix_rank
    from python_tool_setup_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.round(100 * F.col("o_totalprice")).cast("long").alias("c"),
    )
    ranked = prefix_rank(
        o, [("c", "desc"), ("o_orderkey", "asc")], alias="r"
    )
    n = o.count()
    assert ranked.agg(F.countDistinct("r")).collect()[0][0] == n
    prev = ranked.select((F.col("r") + 1).alias("pr"))
    assert ranked.join(prev, F.col("r") == F.col("pr"), "left").count() == n
    # rank 1 is the maximum value
    top = ranked.filter(F.col("r") == 1).collect()[0]
    mx = o.agg(F.max("c")).collect()[0][0]
    assert top["c"] == mx


def test_join_order_estimator_exact(spark):
    from python_tool_setup_spark.queries.batch156 import (
        q523_join_order_benefit,
    )
    from python_tool_setup_spark.tables import load_table

    rows = {
        r["plan_order"]: r
        for r in q523_join_order_benefit(spark, SF_DIR).collect()
    }
    li_n = load_table(spark, SF_DIR, "lineitem").count()
    o_n = load_table(spark, SF_DIR, "orders").count()
    a = rows["a_lineitem_orders_first"]
    b = rows["b_orders_customer_first"]
    # FK joins: intermediates equal the fact-side row counts exactly
    assert a["intermediate_rows"] == li_n
    assert b["intermediate_rows"] == o_n
    assert a["final_rows"] == b["final_rows"] == li_n
    # the smaller intermediate is recommended
    assert b["recommended"] and not a["recommended"]
    assert b["cost_ratio_micro"] == 1_000_000
    assert a["cost_ratio_micro"] > 1_000_000


def test_nested_percentiles_ordering(spark):
    from python_tool_setup_spark.queries.batch156 import (
        q524_nested_percentiles,
    )

    r = q524_nested_percentiles(spark, SF_DIR).collect()[0]
    assert r["n_users"] > 0
    assert r["p50_of_p95_milli"] <= r["p95_of_p95_milli"]
    assert r["global_p95_milli"] > 0
    assert r["heavy_users_hide_tail"] == (
        r["p95_of_p95_milli"] >= r["global_p95_milli"]
    )


def test_rate_limit_accounting(spark):
    from python_tool_setup_spark.queries.batch157 import (
        q525_rate_limit_audit,
    )

    r = q525_rate_limit_audit(spark, SF_DIR).collect()[0]
    assert r["n_users"] > 0
    assert r["max_burst"] >= 1
    assert r["n_bursting_users"] <= r["n_users"]
    if r["n_violation_windows"] == 0:
        assert r["n_bursting_users"] == 0 and r["max_burst"] <= 3
    else:
        assert r["n_bursting_users"] >= 1 and r["max_burst"] > 3


def test_qini_aa_null_calibration(spark):
    from python_tool_setup_spark.queries.batch157 import (
        q526_qini_curve,
    )

    rows = q526_qini_curve(spark, SF_DIR).collect()
    assert len(rows) == 10
    for prev, cur in zip(rows, rows[1:]):
        # cumulative counts grow with depth
        assert cur["cum_treated"] >= prev["cum_treated"]
        assert cur["cum_control"] >= prev["cum_control"]
        assert cur["cum_pos_treated"] >= prev["cum_pos_treated"]
    last = rows[-1]
    assert last["cum_pos_treated"] <= last["cum_treated"]
    # A/A parity arms: final-depth uplift must be near zero
    assert abs(last["uplift_ppm"]) < 120_000


def test_rolling_correlation_bounds(spark):
    from python_tool_setup_spark.queries.batch158 import (
        q527_rolling_correlation,
    )

    rows = q527_rolling_correlation(spark, SF_DIR).collect()
    assert len(rows) >= 24
    idxs = [r["month_idx"] for r in rows]
    assert idxs == sorted(idxs)
    for r in rows:
        assert r["window_months"] == 12
        assert -1_000_000 <= r["corr_micro"] <= 1_000_000
        assert r["strongly_coupled"] == (abs(r["corr_micro"]) > 700_000)


def test_mus_sample_size_near_target(spark):
    from python_tool_setup_spark.queries.batch158 import (
        q528_monetary_unit_sampling,
    )

    rows = q528_monetary_unit_sampling(spark, SF_DIR).collect()
    assert len(rows) == 5
    pts = sum(r["n_sampling_points"] for r in rows)
    # systematic PPS: total sampling points ~= target (off-by-ones
    # from the integer interval floor)
    assert 195 <= pts <= 206
    for r in rows:
        assert r["n_sampled"] <= r["n_sampling_points"]
        assert r["sampled_cents"] > 0


def test_graph_distance_invariants(spark):
    from python_tool_setup_spark.queries.batch159 import (
        q529_graph_distance_metrics,
    )

    rows = q529_graph_distance_metrics(spark, SF_DIR).collect()
    assert len(rows) == 97  # dense projection reaches all residues
    for r in rows:
        assert 1 <= r["eccentricity"] <= 6
        assert r["n_reachable"] <= 96
        assert r["harmonic_micro"] <= r["n_reachable"] * 1_000_000
        if r["vertex"] == 0:
            assert r["dist_from_v0"] == 0
        else:
            assert 1 <= r["dist_from_v0"] <= r["eccentricity"]


def test_table_profile_sanity(spark):
    from python_tool_setup_spark.queries.batch159 import (
        q530_table_profile,
    )

    rows = {
        r["column_name"]: r
        for r in q530_table_profile(spark, SF_DIR).collect()
    }
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    n = rows["o_orderkey"]["n_rows"]
    assert rows["o_orderkey"]["n_distinct"] == n  # PK
    assert rows["o_orderstatus"]["n_distinct"] <= 3
    assert rows["o_orderpriority"]["n_distinct"] <= 5
    for r in rows.values():
        assert r["n_rows"] == n and r["null_ppm"] == 0
        assert r["min_text"] <= r["max_text"]


def test_binary_segmentation_replay(spark):
    import math

    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries.batch160 import (
        q531_binary_segmentation,
    )
    from python_tool_setup_spark.tables import load_table

    r = q531_binary_segmentation(spark, SF_DIR).collect()[0]
    months = sorted(
        (x["idx"], x["cents"])
        for x in load_table(spark, SF_DIR, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .alias("idx")
        )
        .agg(
            F.sum(
                F.round(100 * F.col("o_totalprice")).cast("long")
            ).alias("cents")
        )
        .collect()
    )
    vals = [c for _, c in months]
    n = len(vals)
    best = None
    for k in range(2, n - 1):
        l, rr = vals[:k], vals[k:]
        ml, mr = sum(l) / k, sum(rr) / (n - k)
        ssq = sum((x - ml) ** 2 for x in l) + sum(
            (x - mr) ** 2 for x in rr
        )
        t = abs(ml - mr) / math.sqrt(
            (ssq / (n - 2)) * (1 / k + 1 / (n - k))
        )
        key = (round(t * 1e6), -months[k - 1][0])
        if best is None or key > best[0]:
            best = (key, months[k - 1][0], k)
    assert r["split_after_month"] == best[1]
    assert r["n_left"] == best[2]
    assert r["n_left"] + r["n_right"] == n
    assert r["significant_shift"] == (r["t_micro"] > 1_960_000)


def test_wilcoxon_paired_structure(spark):
    from python_tool_setup_spark.queries.batch160 import (
        q532_wilcoxon_signed_rank,
    )

    r = q532_wilcoxon_signed_rank(spark, SF_DIR).collect()[0]
    n = r["n_pairs"]
    assert n >= 24
    # doubled T+ lies within the doubled rank-sum range [0, n(n+1)]
    assert 0 <= r["t_plus_x2"] <= n * (n + 1)
    assert r["regions_differ"] == (abs(r["z"]) > 1.96)


def test_mann_whitney_aa_split(spark):
    from python_tool_setup_spark.queries.batch161 import (
        q533_mann_whitney_u,
    )

    r = q533_mann_whitney_u(spark, SF_DIR).collect()[0]
    n1, n2 = r["n_a"], r["n_b"]
    assert n1 > 0 and n2 > 0
    # doubled U lies in [0, 2*n1*n2]
    assert 0 <= int(r["u_x2"]) <= 2 * n1 * n2
    # A/A parity split: no rejection
    assert not r["distributions_differ"]
    assert abs(r["z"]) < 1.96


def test_runs_test_bounds(spark):
    from python_tool_setup_spark.queries.batch161 import (
        q534_runs_test,
    )

    r = q534_runs_test(spark, SF_DIR).collect()[0]
    n1, n2 = r["n_above"], r["n_below"]
    assert n1 > 0 and n2 > 0
    # median split: counts balance to within one
    assert abs(n1 - n2) <= 1
    assert 1 <= r["n_runs"] <= n1 + n2
    assert r["non_random"] == (abs(r["z"]) > 1.96)


def test_friedman_rank_sums(spark):
    from python_tool_setup_spark.queries.batch162 import (
        q535_friedman_test,
    )

    rows = q535_friedman_test(spark, SF_DIR).collect()
    assert len(rows) == 5
    n = rows[0]["n_blocks"]
    # rank sums over n blocks of ranks 1..5 total n*15
    assert sum(r["rank_sum"] for r in rows) == n * 15
    for r in rows:
        assert n * 1 <= r["rank_sum"] <= n * 5
        assert r["regions_differ"] == (r["chi2_micro"] > 9_487_729)


def test_kruskal_wallis_null(spark):
    from python_tool_setup_spark.queries.batch162 import (
        q536_kruskal_wallis,
    )

    r = q536_kruskal_wallis(spark, SF_DIR).collect()[0]
    assert r["n_groups"] == 5
    assert r["h_micro"] >= -1_000  # H >= 0 up to term rounding
    # priorities are exchangeable labels: must not reject
    assert not r["groups_differ"]


def test_mcnemar_cells_partition(spark):
    from python_tool_setup_spark.queries.batch163 import (
        q537_mcnemar_test,
    )
    from python_tool_setup_spark.tables import load_table

    r = q537_mcnemar_test(spark, SF_DIR).collect()[0]
    n_cust = load_table(spark, SF_DIR, "customer").count()
    assert (
        r["n_both"] + r["n_only_1996"] + r["n_only_1997"]
        + r["n_neither"]
        == n_cust
    )
    assert r["behavior_shifted"] == (r["chi2_micro"] > 3_841_459)


def test_cochran_armitage_null(spark):
    from python_tool_setup_spark.queries.batch163 import (
        q538_cochran_armitage_trend,
    )

    r = q538_cochran_armitage_trend(spark, SF_DIR).collect()[0]
    assert r["n_year_groups"] >= 5
    assert 0 < r["n_urgent"] < r["n_orders"]
    # priorities are date-independent: no trend
    assert not r["trend_present"]
    assert abs(r["z"]) < 1.96


def test_p_chart_in_control(spark):
    from python_tool_setup_spark.queries.batch164 import (
        q539_p_chart,
    )

    r = q539_p_chart(spark, SF_DIR).collect()[0]
    assert r["n_days"] > 100
    assert 0 < r["pbar_ppm"] < 1_000_000
    # stationary fixture: 3-sigma false alarms stay rare
    assert r["ooc_ppm"] < 20_000
    assert r["process_in_control"]


def test_xbar_r_chart_structure(spark):
    from python_tool_setup_spark.queries.batch164 import (
        q540_xbar_r_chart,
    )

    r = q540_xbar_r_chart(spark, SF_DIR).collect()[0]
    # at tiny SF most calendar weeks miss a day and are dropped per
    # the complete-subgroup rule; at sf0.01+ hundreds survive
    assert r["n_subgroups"] >= 1
    assert r["center_cents"] > 0 and r["rbar_cents"] > 0
    assert 0 <= r["n_xbar_ooc"] <= r["n_subgroups"]
    assert r["xbar_in_control"] == (
        r["n_xbar_ooc"] * 50 < r["n_subgroups"]
    )


def test_chao1_bounds(spark):
    from python_tool_setup_spark.queries.batch165 import (
        q541_chao1_richness,
    )

    r = q541_chao1_richness(spark, SF_DIR).collect()[0]
    assert r["observed_types"] > 0
    assert r["chao1_estimate"] >= r["observed_types"]
    assert 0 < r["type_coverage_ppm"] <= 1_000_000
    assert (
        r["singletons"] + r["doubletons"] <= r["observed_types"]
    )


def test_good_turing_discount_structure(spark):
    from python_tool_setup_spark.queries.batch165 import (
        q542_good_turing_discounts,
    )

    rows = q542_good_turing_discounts(spark, SF_DIR).collect()
    assert rows
    rs = [r["r"] for r in rows]
    assert rs == sorted(rs)  # the smallest observed counts, in order
    for r in rows:
        assert r["n_r"] > 0
        # r* = (r+1) n_{r+1} / n_r, micro-quantized
        expect = round(
            (r["r"] + 1) * r["n_r_plus_1"] / r["n_r"] * 1e6
        )
        assert abs(r["r_star_micro"] - expect) <= 1
        if r["r_star_micro"] != r["r"] * 1_000_000:
            assert r["mass_released"] == (
                r["r_star_micro"] < r["r"] * 1_000_000
            )


def test_partial_correlation_null_confounder(spark):
    from python_tool_setup_spark.queries.batch166 import (
        q543_partial_correlation,
    )

    r = q543_partial_correlation(spark, SF_DIR).collect()[0]
    for c in ("r_xy_micro", "r_xz_micro", "r_yz_micro",
              "r_xy_given_z_micro"):
        assert -1_000_000 <= r[c] <= 1_000_000
    # discount is independent of both: partial ~= raw correlation
    assert r["confounder_negligible"]
    assert abs(r["r_xy_given_z_micro"] - r["r_xy_micro"]) < 50_000


def test_smd_aa_balanced(spark):
    from python_tool_setup_spark.queries.batch166 import (
        q544_covariate_balance_smd,
    )

    rows = q544_covariate_balance_smd(spark, SF_DIR).collect()
    assert len(rows) == 3
    import math

    for r in rows:
        n = r["n_treat"] + r["n_control"]
        assert r["n_treat"] > 0 and r["n_control"] > 0
        assert r["balanced"] == (abs(r["smd_milli"]) < 100)
        # A/A arms: |SMD| stays within sampling noise ~ 3*sqrt(4/n)
        assert abs(r["smd_milli"]) < 3 * math.sqrt(4 / n) * 1000, r


def test_split_half_low_on_iid(spark):
    from python_tool_setup_spark.queries.batch167 import (
        q545_split_half_reliability,
    )

    r = q545_split_half_reliability(spark, SF_DIR).collect()[0]
    assert r["n_customers"] > 0
    assert -1_000_000 <= r["half_r_micro"] <= 1_000_000
    # i.i.d. order values: no stable per-customer trait
    assert not r["metric_reliable"]
    assert r["metric_reliable"] == (
        r["spearman_brown_micro"] >= 700_000
    )


def test_icc_near_zero_on_iid(spark):
    from python_tool_setup_spark.queries.batch167 import (
        q546_intraclass_correlation,
    )

    r = q546_intraclass_correlation(spark, SF_DIR).collect()[0]
    assert r["n_customers"] > 0 and r["n_orders"] > r["n_customers"]
    assert r["ms_between"] > 0 and r["ms_within"] > 0
    # i.i.d. fixture: between-customer share ~0
    assert r["clustering_negligible"]
    assert abs(r["icc_micro"]) < 100_000


def test_cronbach_alpha_null(spark):
    from python_tool_setup_spark.queries.batch168 import (
        q547_cronbach_alpha,
    )

    r = q547_cronbach_alpha(spark, SF_DIR).collect()[0]
    assert r["n_subjects"] > 0
    assert r["sum_item_var"] > 0 and r["total_var"] > 0
    # i.i.d. items: alpha ~ 0, never near the 0.7 bar
    assert not r["internally_consistent"]
    assert r["alpha_micro"] < 500_000


def test_bland_altman_coverage(spark):
    from python_tool_setup_spark.queries.batch168 import (
        q548_bland_altman,
    )

    r = q548_bland_altman(spark, SF_DIR).collect()[0]
    assert r["n_subjects"] > 0
    assert r["loa_half_width"] > 0
    assert 0 <= r["n_outside_loa"] <= r["n_subjects"]
    # ~5% fall outside 1.96-sd limits; allow sampling slack
    assert r["outside_ppm"] <= 120_000
    assert r["methods_agree"] == (r["outside_ppm"] < 80_000)
