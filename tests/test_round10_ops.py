"""Round-10 additions: corpus-prep v2 (span excision composed into the
funnel), the quality-classifier distillation family, and the
session-memoized shared index artifacts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_prepare_corpus_v2_identities(spark, sf_dir):
    """Per-language report: counts positive, token budget and attrition
    non-negative, avg_quality within the composite score's [0, 1]
    range, and the attrition is consistent with the standalone span
    slug (v2 excises over exact-dedup survivors only, so its removed
    mass is bounded by the full-corpus excision census)."""
    from mapreduce_rust_spark.operators.dedup import dedup_span_removal
    from mapreduce_rust_spark.plans.pipeline import pipeline_prepare_corpus_v2

    rows = pipeline_prepare_corpus_v2(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_docs"] >= 1
        assert r["total_tokens"] >= 0
        assert r["tokens_removed"] >= 0
        assert 0.0 < r["avg_quality"] <= 1.0 + 1e-9
    total_removed_v2 = sum(r["tokens_removed"] for r in rows)
    census = dedup_span_removal(spark, sf_dir).agg(
        F.sum("n_tokens_removed").alias("t")
    ).collect()[0]["t"]
    assert total_removed_v2 <= census


def test_quality_distill_model_identities(spark, sf_dir):
    """Fixed-size model: at most QC_BUCKETS+1 rows, intercept present,
    support counts consistent (positives never exceed support; support
    never exceeds the train-split size)."""
    from mapreduce_rust_spark.operators.cleaning import (
        QC_BUCKETS,
        QC_TRAIN_MOD,
        features_quality_distill,
    )
    from mapreduce_rust_spark.sources.tables import load_table

    rows = features_quality_distill(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 2 * QC_BUCKETS + 1
    by_bucket = {r["bucket"]: r for r in rows}
    assert -1 in by_bucket  # intercept trained on every doc
    n_train = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % QC_TRAIN_MOD) != 0)
        .count()
    )
    for r in rows:
        assert 0 <= r["n_pos_docs"] <= r["n_train_docs"] <= n_train
    assert by_bucket[-1]["n_train_docs"] == n_train


def test_quality_classifier_report_identities(spark, sf_dir):
    """Per-source rollup covers the whole scored corpus; every rate is
    a probability; agreement is consistent with the pos rates (perfect
    agreement iff the rates coincide on every source)."""
    from mapreduce_rust_spark.operators.cleaning import corpus_quality_classifier
    from mapreduce_rust_spark.sources.tables import load_table

    rows = corpus_quality_classifier(spark, sf_dir).collect()
    assert rows
    n_corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_corpus
    for r in rows:
        for c in ("mean_score", "student_pos_rate", "teacher_pos_rate", "agreement"):
            assert -1e-9 <= r[c] <= 1.0 + 1e-9
        # |student_pos - teacher_pos| <= disagreement mass
        assert (
            abs(r["student_pos_rate"] - r["teacher_pos_rate"])
            <= 1.0 - r["agreement"] + 1e-4
        )


def test_session_memoized_indexes_are_shared(spark, sf_dir):
    """The round's memoization work: repeated calls return the SAME
    cached frame object (one build per session per dataset)."""
    from mapreduce_rust_spark.operators.cleaning import qc_beta_index
    from mapreduce_rust_spark.operators.similarity import (
        ivf_assign_index,
        kmeans_centroids_index,
        pq_assignments_index,
    )

    for fn in (
        kmeans_centroids_index,
        ivf_assign_index,
        pq_assignments_index,
        qc_beta_index,
    ):
        assert fn(spark, sf_dir) is fn(spark, sf_dir), fn.__name__


def test_memoized_charges_nested_builds_self_time(monkeypatch):
    """An index built inside another index's build is charged to its
    own tag only: the outer build's seconds exclude the nested one."""
    import types

    from mapreduce_rust_spark.operators import dedup

    now = [0.0]
    monkeypatch.setattr(dedup, "time", types.SimpleNamespace(perf_counter=lambda: now[0]))
    monkeypatch.setattr(dedup, "INDEX_BUILD_SECONDS", {})

    class Frame:
        schema = None

        def localCheckpoint(self):
            return self

    def work(seconds):
        now[0] += seconds
        return Frame()

    cache: dict = {}

    def outer():
        work(1.0)
        dedup._memoized(cache, ("d", "inner"), lambda: work(2.0))
        return work(0.5)

    dedup._memoized(cache, ("d", "outer"), outer)
    assert dedup.INDEX_BUILD_SECONDS == {"outer": 1.5, "inner": 2.0}
    assert dedup._NESTED_BUILD_SECONDS == []


def test_kmeans_memoized_matches_inline_trace(spark, sf_dir):
    """Memoizing the Lloyd trace must not change any value: the cached
    centroid frame equals a fresh inline recomputation."""
    from mapreduce_rust_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_centroids,
        kmeans_centroids_index,
    )
    from mapreduce_rust_spark.sources.tables import load_table

    cached = {
        r["cid"]: r["cv"]
        for r in kmeans_centroids_index(spark, sf_dir).collect()
    }
    fresh = {
        r["cid"]: r["cv"]
        for r in kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"),
            "vec_id",
            "embedding",
            k=KMEANS_K,
            max_iter=KMEANS_ITERS,
        ).collect()
    }
    assert cached.keys() == fresh.keys()
    for cid, cv in fresh.items():
        assert cached[cid] == pytest.approx(cv, abs=1e-9)


def test_band_planner_midpoint_clamped(spark, sf_dir):
    """The r09 high-severity fix: the populated j=1.0 bucket must not
    mint out-of-range collision probabilities — every expected mass is
    non-negative and b=1 (rows=16) has near-zero FP by construction."""
    from mapreduce_rust_spark.operators.dedup import dedup_lsh_band_planner

    rows = {r["b"]: r for r in dedup_lsh_band_planner(spark, sf_dir).collect()}
    for r in rows.values():
        assert r["exp_fp_pairs"] >= 0.0
        assert r["exp_fn_pairs"] >= 0.0
    assert sum(r["is_best"] for r in rows.values()) == 1


# --- preference / pairwise-ranking family ---------------------------------


def test_duel_synthesis_deterministic_and_linear(spark, sf_dir):
    """The duel table is a pure function of the corpus: duel count is
    bounded by OFFSETS×RATERS per doc (linear, never all-pairs), every
    duel id is unique per rater, and a rebuild is bit-identical."""
    from mapreduce_rust_spark.operators.preference import (
        PREF_OFFSETS,
        PREF_RATERS,
        duel_index,
    )
    from mapreduce_rust_spark.sources.tables import load_table

    duels = duel_index(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    n = duels.count()
    assert 0 < n <= n_docs * PREF_OFFSETS * PREF_RATERS
    assert duels.select("did", "rater").distinct().count() == n
    raters = {r["rater"] for r in duels.select("rater").distinct().collect()}
    assert raters == set(range(PREF_RATERS))


def test_position_bias_flags_only_the_planted_rater(spark, sf_dir):
    """The audit's whole point: the rater with the planted first-
    position bonus trips the z-threshold; every honest rater does
    not (their position assignment is symmetric by construction)."""
    from mapreduce_rust_spark.operators.preference import (
        PREF_BIASED_RATER,
        pref_position_bias,
    )

    rows = {r["rater"]: r for r in pref_position_bias(spark, sf_dir).collect()}
    assert rows[PREF_BIASED_RATER]["biased"] == 1
    assert rows[PREF_BIASED_RATER]["first_win_rate"] > 0.5
    assert [r for k, r in rows.items() if k != PREF_BIASED_RATER]
    for k, r in rows.items():
        if k != PREF_BIASED_RATER:
            assert r["biased"] == 0


def test_bradley_terry_strengths_track_quality(spark, sf_dir):
    """The fit recovers the latent signal: leaderboard items must have
    won a majority of their duels, strengths are positive and ordered,
    and the floor guard means no NaN/Inf ever surfaces."""
    import math

    from mapreduce_rust_spark.operators.preference import (
        PREF_TOPK,
        pref_bradley_terry,
    )

    rows = pref_bradley_terry(spark, sf_dir).collect()
    assert 0 < len(rows) <= PREF_TOPK
    strengths = [r["strength"] for r in rows]
    assert strengths == sorted(strengths, reverse=True)
    for r in rows:
        assert math.isfinite(r["strength"]) and r["strength"] > 0
        assert r["n_wins"] * 2 >= r["n_duels"]  # top items win a majority


def test_rank_centrality_mass_is_conserved(spark, sf_dir):
    """The scaled power iterate is stochastic: the mean of the full
    rating vector stays 1 (mass conservation up to rounding), and the
    leaderboard is a strict subset ordered by score."""
    from mapreduce_rust_spark.operators.preference import (
        PREF_TOPK,
        pref_rank_centrality,
    )

    rows = pref_rank_centrality(spark, sf_dir).collect()
    assert 0 < len(rows) <= PREF_TOPK
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


def test_elo_batch_ratings_center_on_init(spark, sf_dir):
    """Batched Elo is zero-sum per pair up to the logistic asymmetry:
    leaderboard ratings sit above the 1500 start, and every top item
    won at least half its duels."""
    from mapreduce_rust_spark.operators.preference import (
        PREF_ELO_INIT,
        pref_elo_batch,
    )

    rows = pref_elo_batch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["rating"] > PREF_ELO_INIT
        assert r["n_wins"] * 2 >= r["n_duels"]


def test_rater_agreement_matrix_shape_and_bounds(spark, sf_dir):
    """R(R−1)/2 pairs, agreement rates in [0,1], kappa ≤ 1, and the
    biased rater agrees LESS with every honest rater than honest
    raters do with each other on average (its verdicts are partly
    position-driven)."""
    from mapreduce_rust_spark.operators.preference import (
        PREF_BIASED_RATER,
        PREF_RATERS,
        pref_rater_agreement,
    )

    rows = pref_rater_agreement(spark, sf_dir).collect()
    assert len(rows) == PREF_RATERS * (PREF_RATERS - 1) // 2
    with_biased, honest = [], []
    for r in rows:
        assert 0.0 <= r["agree_rate"] <= 1.0
        assert r["kappa"] <= 1.0
        if PREF_BIASED_RATER in (r["rater_a"], r["rater_b"]):
            with_biased.append(r["agree_rate"])
        else:
            honest.append(r["agree_rate"])
    assert sum(with_biased) / len(with_biased) < sum(honest) / len(honest)


def test_fleiss_kappa_consistent_with_pairwise(spark, sf_dir):
    """Fleiss' P-bar IS the mean pairwise agreement over all rater
    pairs weighted equally — cross-check the two slugs against each
    other (they share the duel table by construction)."""
    from mapreduce_rust_spark.operators.preference import (
        pref_fleiss_kappa,
        pref_rater_agreement,
    )

    f = pref_fleiss_kappa(spark, sf_dir).collect()[0]
    pair_rows = pref_rater_agreement(spark, sf_dir).collect()
    mean_po = sum(r["agree_rate"] for r in pair_rows) / len(pair_rows)
    assert abs(f["p_bar"] - mean_po) < 5e-3  # both rounded to 4 decimals
    assert -1.0 <= f["kappa"] <= 1.0


def test_bt_confidence_brackets_strength(spark, sf_dir):
    """The 95% CI must bracket the point estimate, se is positive and
    finite, and items with more duels get tighter LOG-scale intervals
    on average (information accumulates)."""
    import math

    from mapreduce_rust_spark.operators.preference import pref_bt_confidence

    rows = pref_bt_confidence(spark, sf_dir).collect()
    assert rows
    lo_n, hi_n = [], []
    med = sorted(r["n_duels"] for r in rows)[len(rows) // 2]
    for r in rows:
        assert math.isfinite(r["se_log"]) and r["se_log"] > 0
        assert r["ci_lo"] <= r["strength"] <= r["ci_hi"]
        (lo_n if r["n_duels"] <= med else hi_n).append(r["se_log"])
    if lo_n and hi_n:
        assert sum(hi_n) / len(hi_n) <= sum(lo_n) / len(lo_n) * 1.5


def test_duel_planner_prefers_undersampled_contested_pairs(spark, sf_dir):
    """Planner identities: scores are the stated closed form of
    (p_win, n_duels), every pair is ordered i<j, and no returned pair
    can be dominated by an unreturned pair with fewer duels and a
    more contested p (spot-check: scores are the top-K maxima, so the
    minimum returned score bounds the frame's K-th largest)."""
    from mapreduce_rust_spark.operators.preference import pref_duel_planner

    rows = pref_duel_planner(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["i"] < r["j"]
        assert 0.0 <= r["p_win_i"] <= 1.0
        assert r["gain_score"] > 0
    scores = [r["gain_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
