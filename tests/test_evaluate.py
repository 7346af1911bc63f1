"""Evaluation-metric operators (operators/evaluate.py) plus the
round-5 text/sampling/similarity additions — property tests against
hand-computable references, independent of the DuckDB oracle pairs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ROC-AUC (histogram-binned Mann-Whitney)
# ---------------------------------------------------------------------------


def _auc_of(spark, rows):
    from opl_spark.operators.evaluate import roc_auc_binned

    df = spark.createDataFrame(rows, "score double, y long")
    return roc_auc_binned(df, F.col("score"), F.col("y")).collect()[0]


def test_auc_perfect_separation(spark):
    rows = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    r = _auc_of(spark, rows)
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (50, 50, 1.0)


def test_auc_inverted_separation_is_zero(spark):
    rows = [(float(i), 0 if i >= 50 else 1) for i in range(100)]
    assert _auc_of(spark, rows)["auc"] == 0.0


def test_auc_ties_count_half(spark):
    # all scores identical: every pos/neg pair is a tie -> AUC = 0.5
    rows = [(1.0, i % 2) for i in range(40)]
    assert _auc_of(spark, rows)["auc"] == 0.5


def test_auc_matches_quadratic_reference(spark):
    # deterministic interleaved scores; reference = O(n^2) pair count
    rows = [(math.sin(i * 0.7) * 10, (i * 7) % 3 == 0) for i in range(200)]
    rows = [(s, 1 if y else 0) for s, y in rows]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    want = round(u / (len(pos) * len(neg)), 6)
    got = _auc_of(spark, rows)["auc"]
    assert abs(got - want) <= 2e-6, (got, want)


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------


def test_kappa_perfect_agreement(spark):
    from opl_spark.operators.evaluate import cohens_kappa

    df = spark.createDataFrame([(c, c) for c in "ababab"], "a string, b string")
    r = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert r["kappa"] == 1.0 and r["po"] == 1.0


def test_kappa_hand_example(spark):
    """Classic 2x2: a=yes/no rater pair with known kappa.
    conf = [[20, 5], [10, 15]]: po = 35/50, pe = (30*25 + 20*25)/2500,
    kappa = (po - pe) / (1 - pe) = 0.4."""
    from opl_spark.operators.evaluate import cohens_kappa

    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5 + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert r["n"] == 50 and r["n_agree"] == 35
    assert r["po"] == 0.7 and r["pe"] == 0.5 and r["kappa"] == 0.4


def test_kappa_chance_only_is_zero(spark):
    # rater b constant: pe == po -> kappa 0 (independence degenerate)
    from opl_spark.operators.evaluate import cohens_kappa

    rows = [("y", "y")] * 30 + [("n", "y")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    assert cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]["kappa"] == 0.0


def test_krippendorff_alpha_hand_example(spark):
    """4 units, 1 disagreement: pooled counts n_x=3, n_y=5 →
    Do = 2/8, De = 2·3·5/(8·7) = 30/56, alpha = 1 − 14/30."""
    from opl_spark.operators.evaluate import krippendorff_alpha

    rows = [("x", "x"), ("x", "y"), ("y", "y"), ("y", "y")]
    df = spark.createDataFrame(rows, "a string, b string")
    r = krippendorff_alpha(df, F.col("a"), F.col("b")).collect()[0]
    assert (r["n_units"], r["n_agree"]) == (4, 3)
    assert r["do_rate"] == 0.25
    assert r["de_rate"] == round(30 / 56, 6)
    assert r["alpha"] == round(1 - 14 / 30, 6)


def test_krippendorff_alpha_degenerate_and_perfect(spark):
    from opl_spark.operators.evaluate import krippendorff_alpha

    # constant label, full agreement: De = 0 -> defined as 1
    df = spark.createDataFrame([("y", "y")] * 5, "a string, b string")
    assert krippendorff_alpha(df, F.col("a"), F.col("b")).collect()[0]["alpha"] == 1.0
    # perfect two-label agreement: alpha 1 via the regular branch
    df2 = spark.createDataFrame(
        [("y", "y")] * 3 + [("n", "n")] * 3, "a string, b string"
    )
    assert krippendorff_alpha(df2, F.col("a"), F.col("b")).collect()[0]["alpha"] == 1.0


# ---------------------------------------------------------------------------
# retrieval eval (precision@k / nDCG@k)
# ---------------------------------------------------------------------------


def test_retrieval_eval_planted_clusters(spark):
    """Two orthogonal label clusters with tiny deterministic jitter:
    every neighbor shares the query's label -> precision = ndcg = 1."""
    from opl_spark.operators.evaluate import retrieval_eval

    rows = []
    for i in range(24):
        lab = i % 2
        base = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        rows.append((i, [base[0] + 0.001 * i, base[1] + 0.0005 * i, 0.01], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = retrieval_eval(df, "embedding", "vec_id", "label", n_queries=4, k=5)
    got = out.collect()
    assert len(got) == 4
    for r in got:
        assert r["n_hits"] == 5 and r["precision"] == 1.0 and r["ndcg"] == 1.0


def test_retrieval_eval_zero_hits_ndcg_zero(spark):
    from opl_spark.operators.evaluate import retrieval_eval

    # each label appears once: no neighbor can share the query label
    rows = [(i, [1.0, float(i) * 0.01], i) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = retrieval_eval(df, "embedding", "vec_id", "label", n_queries=3, k=4).collect()
    assert all(r["n_hits"] == 0 and r["ndcg"] == 0.0 for r in out)


def test_ndcg_weights_are_monotone_micro_units(spark):
    from opl_spark.operators.evaluate import ndcg_weight_micro

    ws = [ndcg_weight_micro(i) for i in range(1, 11)]
    assert ws[0] == 1_000_000  # log2(2) = 1
    assert all(a > b for a, b in zip(ws, ws[1:]))
    assert all(isinstance(w, int) for w in ws)


# ---------------------------------------------------------------------------
# readability / zipf / kneser-ney
# ---------------------------------------------------------------------------


def test_readability_hand_counts(spark):
    from opl_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "no sentence marker here")],
        "doc_id long, text string",
    )
    rows = {r["doc"]: r for r in readability_scores(df, "text", "doc_id").collect()}
    r1 = rows[1]
    # sentences: "The cat sat" / " The dog ran" ; words 6; syllables:
    # e|a|a|e|o|a vowel runs = 6
    assert r1["n_sentences"] == 2 and r1["n_words"] == 6 and r1["n_syllables"] == 6
    wps, spw = 6 / 2, 6 / 6
    assert r1["fre"] == round((206.835 - 1.015 * wps) - 84.6 * spw, 6)
    # doc 2 has one [.!?]-free "sentence" (whole text) and still emits
    assert rows[2]["n_sentences"] == 1


def test_zipf_slope_near_minus_one_on_zipf_corpus(spark):
    """Corpus drawn exactly from a Zipf distribution (freq_r = 120/r)
    must fit slope ~ -1; a uniform corpus must fit slope ~ 0."""
    from opl_spark.operators.text import zipf_slope

    zipf_words = []
    for r in range(1, 21):
        zipf_words += [f"w{r:02d}"] * (120 // r)
    uni_words = [f"u{r:02d}" for r in range(1, 21)] * 6
    df = spark.createDataFrame(
        [(1, "zipf", " ".join(zipf_words)), (2, "flat", " ".join(uni_words))],
        "doc_id long, source string, text string",
    )
    out = {r["grp"]: r for r in zipf_slope(df, "text", "source").collect()}
    assert abs(out["zipf"]["slope"] + 1.0) < 0.05, out["zipf"]["slope"]
    assert abs(out["flat"]["slope"]) < 0.01, out["flat"]["slope"]


def test_kneser_ney_matches_local_reference(spark):
    """Spark KN scores == a direct Python implementation of the same
    quantized formula on a hand corpus."""
    from opl_spark.operators.text import kneser_ney_logprob

    texts = {1: "a b a b a c", 2: "a b a b a b", 3: "c a b c"}
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    # local reference
    bigrams = []
    for doc, t in texts.items():
        w = t.split()
        bigrams += [(doc, (w[i - 1], w[i])) for i in range(1, len(w))]
    from collections import Counter

    c12 = Counter(b for _, b in bigrams)
    c1 = Counter()
    n1fw = Counter()
    n1bw = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1fw[w1] += 1
        n1bw[w2] += 1
    nb = len(c12)
    want = {}
    for doc, t in texts.items():
        qs = []
        for _, (w1, w2) in [x for x in bigrams if x[0] == doc]:
            t1 = (4 * c12[(w1, w2)] - 3) / (4 * c1[w1])
            t2 = (3 * n1fw[w1]) / (4 * c1[w1]) * (n1bw[w2] / nb)
            qs.append(math.floor(math.log(t1 + t2) * 1e6 + 0.5))
        want[doc] = (len(qs), -sum(qs))
    got = {
        r["doc"]: (r["n_bigrams"], r["sum_nll_micro"])
        for r in kneser_ney_logprob(df, "text", "doc_id").collect()
    }
    assert got == want


def test_kneser_ney_prefers_seen_transitions(spark):
    """A document of high-frequency transitions must score a lower
    avg_nll than one stitched from rare transitions."""
    from opl_spark.operators.text import kneser_ney_logprob

    common = "the cat sat on the mat " * 10
    df = spark.createDataFrame(
        [(1, common), (2, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    out = {r["doc"]: r["avg_nll"] for r in kneser_ney_logprob(df, "text", "doc_id").collect()}
    assert out[1] < out[2]


# ---------------------------------------------------------------------------
# curriculum interleave / embedding outliers
# ---------------------------------------------------------------------------


def test_curriculum_interleave_respects_weights(spark):
    """In any schedule prefix, a weight-w domain appears ~w times as
    often as a weight-1 domain; keys are exact integers and the op is
    deterministic."""
    from opl_spark.operators.sampling import curriculum_interleave

    rows = [(i, f"d{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curriculum_interleave(df, "doc_id", "source")
    got = out.orderBy("sched_key", "grp", "id").collect()
    assert len(got) == 300 and len({r["id"] for r in got}) == 300
    weights = {r["grp"]: r["weight"] for r in got}
    # prefix mixture: first 120 scheduled items per-domain counts track
    # the weight ratio within rounding
    prefix = got[:120]
    from collections import Counter

    cnt = Counter(r["grp"] for r in prefix)
    wsum = sum(weights.values())
    for g, w in weights.items():
        expect = 120 * w / wsum
        assert abs(cnt[g] - expect) <= 2, (g, cnt[g], expect, weights)
    # determinism
    again = curriculum_interleave(df, "doc_id", "source").orderBy(
        "sched_key", "grp", "id"
    ).collect()
    assert [r["id"] for r in again] == [r["id"] for r in got]


def test_label_centroid_outliers_finds_planted_outlier(spark):
    from opl_spark.operators.similarity import label_centroid_outliers

    rows = [(i, [0.1 + 0.001 * i, 0.2], 0) for i in range(10)]
    rows.append((99, [5.0, -5.0], 0))  # planted far point
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = label_centroid_outliers(df, "embedding", "vec_id", "label", topk=2).collect()
    top = [r for r in out if r["rank"] == 1][0]
    assert top["id"] == 99 and top["d2"] > 0


# ---------------------------------------------------------------------------
# MRR / ECE / PSI
# ---------------------------------------------------------------------------


def test_mrr_planted_clusters(spark):
    from opl_spark.operators.evaluate import mrr_eval

    rows = []
    for i in range(24):
        lab = i % 2
        base = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        rows.append((i, [base[0] + 0.001 * i, base[1] + 0.0005 * i, 0.01], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = mrr_eval(df, "embedding", "vec_id", "label", n_queries=4, k=5).collect()
    assert len(out) == 4
    # nearest neighbor always shares the cluster -> first hit at rank 1
    assert all(r["first_hit_rank"] == 1 and r["rr"] == 1.0 for r in out)


def test_mrr_miss_emits_zero(spark):
    from opl_spark.operators.evaluate import mrr_eval

    rows = [(i, [1.0, float(i) * 0.01], i) for i in range(8)]  # unique labels
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = mrr_eval(df, "embedding", "vec_id", "label", n_queries=3, k=4).collect()
    assert all(r["first_hit_rank"] == 0 and r["rr"] == 0.0 for r in out)


def test_ece_perfectly_calibrated_and_miscalibrated(spark):
    from opl_spark.operators.evaluate import ece_binned

    # prediction 0.75 in a bin where 75% of rows are positive -> gap 0
    rows = [(0.75, 1)] * 3 + [(0.75, 0)]
    df = spark.createDataFrame(rows, "p double, y long")
    r = ece_binned(df, F.col("p"), F.col("y")).collect()[0]
    assert r["n"] == 4 and r["ece"] == 0.0
    # prediction 0.9 but nothing positive -> ECE = 0.9
    df2 = spark.createDataFrame([(0.9, 0)] * 5, "p double, y long")
    r2 = ece_binned(df2, F.col("p"), F.col("y")).collect()[0]
    assert r2["ece"] == 0.9 and r2["worst_bin"] == 9


def test_psi_identical_distributions_near_zero(spark):
    from opl_spark.operators.evaluate import psi_drift

    rows = [(float(v), s) for v in range(0, 100, 5) for s in (0, 1)]
    df = spark.createDataFrame(rows, "value double, cur long")
    r = psi_drift(df, F.col("value"), F.col("cur") == 1, 25.0, 4).collect()[0]
    assert r["n_ref"] == r["n_cur"] == 20
    assert abs(r["psi"]) < 1e-9


def test_psi_shifted_distribution_is_positive(spark):
    from opl_spark.operators.evaluate import psi_drift

    ref = [(float(v % 50), 0) for v in range(100)]
    cur = [(float(50 + v % 50), 1) for v in range(100)]
    df = spark.createDataFrame(ref + cur, "value double, cur long")
    r = psi_drift(df, F.col("value"), F.col("cur") == 1, 25.0, 4).collect()[0]
    assert r["psi"] > 1.0  # full mass shift -> huge PSI


# ---------------------------------------------------------------------------
# feature hashing / held-out perplexity / label noise
# ---------------------------------------------------------------------------


def test_feature_hash_fixed_width_and_signed(spark):
    from opl_spark.operators.text import feature_hash

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma")], "doc_id long, text string"
    )
    rows = feature_hash(df, "text", "doc_id").collect()
    assert all(0 <= r["bucket"] < 64 for r in rows)
    # 'alpha' appears twice -> its bucket's |v| for doc 1 is 2 (same sign)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], []).append(abs(r["v"]))
    assert 2 in by_doc[1]
    # deterministic across calls
    again = feature_hash(df, "text", "doc_id").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_heldout_perplexity_scores_only_val_and_penalizes_unseen(spark):
    from opl_spark.operators.text import heldout_perplexity

    rows = [(i, "common words here") for i in range(8)]  # train: ids 0-7
    rows += [(8, "common words here"), (9, "xylophone quux")]  # val
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r for r in heldout_perplexity(df, "text", "doc_id").collect()}
    assert set(out) == {8, 9}
    assert out[8]["n_unseen"] == 0 and out[9]["n_unseen"] == 2
    # unseen-token doc must score strictly worse
    assert out[9]["avg_nll"] > out[8]["avg_nll"]


def test_label_noise_flags_planted_mislabel(spark):
    from opl_spark.operators.evaluate import label_noise

    rows = []
    for i in range(20):
        base = [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]
        lab = i % 2
        if i == 0:
            lab = 1  # planted wrong label inside cluster 0
        rows.append((i, [base[0] + 0.001 * i, base[1], 0.01], lab))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = label_noise(df, "embedding", "vec_id", "label")
    flagged = {r["vec_id"] for r in out.collect()}
    assert 0 in flagged
    # correctly-labeled cluster cores are not flagged
    assert 4 not in flagged and 5 not in flagged


# ---------------------------------------------------------------------------
# round-6 ADVICE guards: degenerate inputs and generic label types
# ---------------------------------------------------------------------------


def test_auc_single_class_emits_half_not_null(spark):
    # one-class scoring batch: Mann-Whitney denominator is zero; the
    # guard emits the defined chance value 0.5 instead of a silent NULL
    r = _auc_of(spark, [(float(i), 1) for i in range(10)])
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (10, 0, 0.5)
    r2 = _auc_of(spark, [(float(i), 0) for i in range(10)])
    assert (r2["n_pos"], r2["n_neg"], r2["auc"]) == (0, 10, 0.5)


def test_label_centroid_outliers_string_labels(spark):
    from opl_spark.operators.similarity import label_centroid_outliers

    rows = [(i, [0.1, 0.2], "en") for i in range(6)]
    rows += [(10 + i, [0.9, -0.3], "it") for i in range(6)]
    rows.append((99, [7.0, 7.0], "en"))  # planted outlier in class "en"
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = label_centroid_outliers(df, "embedding", "vec_id", "label", topk=1)
    got = {r["label"]: r["id"] for r in out.collect()}
    assert got["en"] == 99 and set(got) == {"en", "it"}


def test_ece_out_of_range_probability_clamps_to_edge_bins(spark):
    from opl_spark.operators.evaluate import ece_binned

    # p > 1 and p < 0 must land in bins 9 / 0, never outside [0, n_bins)
    rows = [(1.7, 1), (-0.4, 0), (0.5, 1), (0.5, 0)]
    df = spark.createDataFrame(rows, "p double, y long")
    r = ece_binned(df, F.col("p"), F.col("y")).collect()[0]
    assert r["n"] == 4 and 0 <= r["worst_bin"] <= 9


def test_psi_negative_values_clamp_to_bin_zero(spark):
    from opl_spark.operators.evaluate import psi_drift

    # identical ref/cur distributions that include negative values:
    # without the lower clamp these spawn bins below 0 and distort PSI;
    # with it they fold into bin 0 and PSI stays ~0
    rows = [(float(v), s) for v in range(-50, 50, 5) for s in (0, 1)]
    df = spark.createDataFrame(rows, "value double, cur long")
    r = psi_drift(df, F.col("value"), F.col("cur") == 1, 25.0, 4).collect()[0]
    assert r["n_ref"] == r["n_cur"] == 20
    assert abs(r["psi"]) < 1e-9


def test_heldout_perplexity_rejects_string_ids_loudly(spark):
    from opl_spark.operators.text import heldout_perplexity

    df = spark.createDataFrame(
        [("d1", "hello world"), ("d2", "more text")], "doc_id string, text string"
    )
    with pytest.raises(TypeError, match="numeric id_col"):
        heldout_perplexity(df, "text", "doc_id")


def test_mcnemar_hand_example_and_degenerates(spark):
    """10 units: A right/B wrong on 4, A wrong/B right on 1 →
    chi2 = (|4−1|−1)²/5 = 0.8; b == c clamps to 0 via the corrected
    max(|b−c|−1, 0); no discordant pairs → defined 0."""
    from opl_spark.operators.evaluate import mcnemar_test

    rows = (
        [("y", "y", "n")] * 4      # A right, B wrong
        + [("y", "n", "y")]        # A wrong, B right
        + [("y", "y", "y")] * 3    # both right
        + [("y", "n", "n")] * 2    # both wrong
    )
    df = spark.createDataFrame(rows, "t string, a string, b string")
    r = mcnemar_test(df, F.col("t"), F.col("a"), F.col("b")).collect()[0]
    assert (r["n"], r["n_b"], r["n_c"]) == (10, 4, 1)
    assert r["chi2"] == 0.8
    # b == c: corrected statistic clamps to exactly 0
    tie = spark.createDataFrame(
        [("y", "y", "n"), ("y", "n", "y")], "t string, a string, b string"
    )
    assert mcnemar_test(tie, F.col("t"), F.col("a"), F.col("b")).collect()[0]["chi2"] == 0.0
    # no discordant pairs at all
    conc = spark.createDataFrame([("y", "y", "y")] * 3, "t string, a string, b string")
    assert mcnemar_test(conc, F.col("t"), F.col("a"), F.col("b")).collect()[0]["chi2"] == 0.0


def test_chi2_independence_hand_computed(spark):
    """2x2 hand check: cells [[10, 20], [20, 10]] -> chi2 = 20/3,
    dof 1, V = sqrt(chi2/n); a perfectly independent table scores 0."""
    from opl_spark.operators.evaluate import chi2_independence
    from pyspark.sql import functions as F

    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, F.col("a"), F.col("b")).first()
    assert r["n"] == 60 and r["dof"] == 1
    assert abs(r["chi2"] - 20 / 3) < 1e-4  # micro-quantization <= n/1e9
    assert abs(r["cramers_v"] - (20 / 3 / 60) ** 0.5) < 1e-4
    # independence: equal proportions in every row -> chi2 == 0
    ind = spark.createDataFrame(
        [("x", "p")] * 6 + [("x", "q")] * 3 + [("y", "p")] * 4 + [("y", "q")] * 2,
        "a string, b string",
    )
    r0 = chi2_independence(ind, F.col("a"), F.col("b")).first()
    assert r0["chi2"] == 0.0 and r0["cramers_v"] == 0.0


def test_chi2_independence_null_is_a_level(spark):
    """NULL categories form a real level: nulls in column a must raise
    r_levels (and dof) in step with the cells they already contribute
    to n/margins/chi2 — the r9 ADVICE inconsistency where the null
    group counted in the statistic but not in the dof."""
    from opl_spark.operators.evaluate import chi2_independence
    from pyspark.sql import functions as F

    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
        + [(None, "p")] * 5 + [(None, "q")] * 5
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi2_independence(df, F.col("a"), F.col("b")).first()
    assert r["n"] == 70                      # null rows count
    assert r["r_levels"] == 3                # x, y, __null__
    assert r["dof"] == 2                     # (3-1)*(2-1)
    # the null row is perfectly balanced, so it adds ~0 to chi2
    assert abs(r["chi2"] - 20 / 3) < 1e-3
    # dropping the null rows reproduces the 2x2 hand check exactly
    r2 = chi2_independence(
        df.filter(F.col("a").isNotNull()), F.col("a"), F.col("b")
    ).first()
    assert r2["r_levels"] == 2 and r2["dof"] == 1


def test_chi2_independence_degenerate_single_level(spark):
    """A column with ONE level (dof = 0 — a realistic collapsed-drift
    input) is defined as chi2 = 0, cramers_v = 0 — not NULL (Spark's
    x/0) and not inf (DuckDB's), so both engines and downstream
    readers agree."""
    from opl_spark.operators.evaluate import chi2_independence
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("x", "only")] * 5 + [("y", "only")] * 7, "a string, b string"
    )
    r = chi2_independence(df, F.col("a"), F.col("b")).first()
    assert r["dof"] == 0 and r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_mutual_information_hand_computed(spark):
    """2x2 hand check on cells [[10, 20], [20, 10]]: MI =
    2*(10/60)ln(2/3) + 2*(20/60)ln(4/3) ~ 0.056633 nats; a perfectly
    independent table scores exactly 0; nulls form a real level
    (chi2's sentinel contract)."""
    from opl_spark.operators.evaluate import mutual_information
    from pyspark.sql import functions as F

    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, F.col("a"), F.col("b")).first()
    assert r["n"] == 60 and r["r_levels"] == 2 and r["c_levels"] == 2
    import math

    want = 2 * (10 / 60) * math.log(2 / 3) + 2 * (20 / 60) * math.log(4 / 3)
    assert abs(r["mi"] - want) < 1e-5
    # independence: n_ij * n == r_i * c_j in every cell -> MI == 0
    ind = spark.createDataFrame(
        [("x", "p")] * 6 + [("x", "q")] * 3 + [("y", "p")] * 4 + [("y", "q")] * 2,
        "a string, b string",
    )
    assert mutual_information(ind, F.col("a"), F.col("b")).first()["mi"] == 0.0
    # nulls are a level, consistent between the statistic and r_levels
    withnull = spark.createDataFrame(
        rows + [(None, "p")] * 5 + [(None, "q")] * 5, "a string, b string"
    )
    rn = mutual_information(withnull, F.col("a"), F.col("b")).first()
    assert rn["n"] == 70 and rn["r_levels"] == 3


def test_cuped_matches_naive_and_reduces_variance(spark):
    """CUPED against the straight per-unit formula: θ = cov/var, the
    adjusted arm means match the mean of ŷᵢ = yᵢ − θ(xᵢ − x̄), and the
    adjusted readout has lower within-arm variance when pre and post
    correlate."""
    import random

    from opl_spark.operators.evaluate import cuped_adjustment

    random.seed(19)
    rows = []
    for i in range(400):
        x = random.randint(0, 1000)
        lift = 40 if i % 2 else 0
        y = x + random.randint(-100, 100) + lift
        rows.append((i % 2, x, y))
    df = spark.createDataFrame(rows, "arm: long, x: long, y: long")
    got = {r["arm"]: r for r in cuped_adjustment(df, "x", "y", "arm").collect()}

    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n = len(rows)
    theta = (n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(a * a for a in xs) - sum(xs) ** 2
    )
    xbar = sum(xs) / n
    for arm in (0, 1):
        ax = [r[1] for r in rows if r[0] == arm]
        ay = [r[2] for r in rows if r[0] == arm]
        adj = [y - theta * (x - xbar) for x, y in zip(ax, ay)]
        assert got[arm]["n"] == len(ax)
        assert got[arm]["mean_raw"] == pytest.approx(
            sum(ay) / len(ay), abs=1e-4
        )
        assert got[arm]["mean_cuped"] == pytest.approx(
            sum(adj) / len(adj), abs=1e-4
        )
        assert got[arm]["theta"] == pytest.approx(theta, abs=1e-6)
    # the whole point: adjusted values vary less than raw ones
    def var(v):
        m = sum(v) / len(v)
        return sum((a - m) ** 2 for a in v) / len(v)

    raw = [r[2] for r in rows if r[0] == 0]
    adj0 = [y - theta * (x - xbar) for _, x, y in rows if _ == 0]
    assert var(adj0) < 0.5 * var(raw)


def test_cuped_zero_variance_covariate_is_unadjusted(spark):
    from opl_spark.operators.evaluate import cuped_adjustment

    df = spark.createDataFrame(
        [(0, 7, 10), (0, 7, 20), (1, 7, 30), (1, 7, 50)],
        "arm: long, x: long, y: long",
    )
    got = {r["arm"]: r for r in cuped_adjustment(df, "x", "y", "arm").collect()}
    assert got[0]["theta"] == 0.0
    assert got[0]["mean_cuped"] == got[0]["mean_raw"] == 15.0
    assert got[1]["mean_cuped"] == got[1]["mean_raw"] == 40.0
